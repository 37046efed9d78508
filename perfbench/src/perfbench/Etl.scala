package perfbench

import java.util.concurrent.{Callable, ExecutorService, TimeUnit}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.SchemaColumn
import graft.pipeline.Pipeline

/** One ETL source: a staged parquet table (the exporter's source
  * relation), its declared MySQL column types, its row count and the
  * NULLs injected per column.
  */
final case class Source(table: String, path: String, types: Seq[SchemaColumn], rows: Long, nulls: Map[String, Long])

/** One table's run inside a pass: seconds spent queued behind the other
  * tables, seconds of service, rows the load returned (-1 on error).
  */
final case class TableRun(table: String, queuedS: Double, serviceS: Double, loaded: Long)

/** Traced per-stage figures of one table: span seconds, bytes and files
  * the stage left on disk.
  */
final case class StageRun(stage: String, busyS: Double, bytes: Long, files: Long)

object Etl {

  val stages: Seq[String] = Seq("export", "clean_schema", "clean_data", "load")

  /** Declared MySQL types per column, as INFORMATION_SCHEMA would list them. */
  def mysqlTypes(schema: StructType): Seq[SchemaColumn] = schema.fields.toSeq.map { f =>
    SchemaColumn(f.name, f.dataType match {
      case LongType                        => "bigint"
      case IntegerType                     => "int"
      case DoubleType                      => "double"
      case TimestampType | TimestampNTZType => "datetime"
      case DateType                        => "date"
      case _                               => "varchar(64)"
    })
  }

  /** Stage the inputs: `copies` of each base table read from `input`,
    * each copy with its own seeded `nullRate` of non-key fields nulled,
    * written as one parquet file; rows and injected NULLs per column are
    * observed on that write (one job per copy).
    */
  def stage(spark: SparkSession, gen: Gen, input: String, bases: Seq[String], copies: Int, dir: String,
            nullRate: Double, pool: ExecutorService): Seq[Source] =
    parallel(pool, for (base <- bases; c <- 0 until copies) yield () => {
      val name = if (copies == 1) base else s"${base}_c$c"
      val path = s"$dir/$name.parquet"
      val df = gen.withNulls(spark.read.parquet(s"$input/$base.parquet"), Gen.keys(base), c, nullRate)
      val obs = Observation(name)
      df.observe(obs, count(lit(1)).as("rows"), df.columns.toIndexedSeq.map(n => count_if(col(s"`$n`").isNull).as(n)): _*)
        .coalesce(1).write.mode("overwrite").parquet(path)
      val m = obs.get
      Source(name, path, mysqlTypes(df.schema), m("rows").asInstanceOf[Long],
        df.columns.map(n => n -> m(n).asInstanceOf[Long]).toMap)
    })

  /** Row count and NULL count per column, in one job. */
  def nullCounts(df: DataFrame): (Long, Map[String, Long]) = {
    val r = df.agg(count(lit(1)), df.columns.toIndexedSeq.map(c => count_if(col(s"`$c`").isNull)): _*).head()
    (r.getLong(0), df.columns.zipWithIndex.map { case (c, i) => c -> r.getLong(i + 1) }.toMap)
  }

  /** Run `fs` on `pool`, returning results in order; rethrows the first failure. */
  def parallel[T](pool: ExecutorService, fs: Seq[() => T]): Seq[T] =
    fs.map(f => pool.submit(new Callable[T] { def call(): T = f() })).map(_.get(170, TimeUnit.SECONDS))

  /** One pass of the daily run: every table is queued at once and the
    * pool's workers each take the next table and call `Pipeline.runTable`
    * and then `.count()` the loaded table, as `PipelineMain` reports it.
    * With `spans` the worker instead calls the four stages that
    * `runTable` composes, in its order, each as its own span and job
    * group, and lists the files each stage wrote.
    */
  def pass(spark: SparkSession, srcs: Seq[Source], layout: Pipeline.Layout, pool: ExecutorService,
           spans: Option[(Spans, String)]): (Double, Seq[(TableRun, Seq[StageRun])]) = {
    val t0 = System.nanoTime()
    val runs = parallel(pool, srcs.map { s => () =>
      val queued = (System.nanoTime() - t0) / 1e9
      val start = System.nanoTime()
      val (loaded, stageRuns) =
        try spans match {
          case None =>
            (Pipeline.runTable(spark, spark.read.parquet(s.path), s.types, layout, s.table).count(), Nil)
          case Some((sp, passName)) => traced(spark, s, layout, sp, passName)
        } catch { case e: Exception => System.err.println(s"[perfbench] ${s.table} failed: $e"); (-1L, Nil) }
      (TableRun(s.table, queued, (System.nanoTime() - start) / 1e9, loaded), stageRuns)
    })
    ((System.nanoTime() - t0) / 1e9, runs)
  }

  private def traced(spark: SparkSession, s: Source, layout: Pipeline.Layout, sp: Spans,
                     passName: String): (Long, Seq[StageRun]) = {
    val parent = s"$passName/${s.table}"
    def run[T](stage: String, outputs: Seq[String])(f: => T): (T, StageRun) = {
      val (r, secs) = sp(s"$parent/$stage", Some(parent))(f)
      val (bytes, files) = outputs.map(disk).foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
      (r, StageRun(stage, secs, bytes, files))
    }
    sp(parent, Some(passName), group = false) {
      val (_, ex) = run("export", Seq(layout.dirtyCsv(s.table), layout.schemaFile(s.table))) {
        Pipeline.exportStage(spark, spark.read.parquet(s.path), s.types, layout, s.table)
      }
      val (_, cs) = run("clean_schema", Seq(layout.schemaJson(s.table)))(Pipeline.cleanSchemaStage(spark, layout, s.table))
      val (_, cd) = run("clean_data", Seq(layout.cleanCsv(s.table)))(Pipeline.cleanDataStage(spark, layout, s.table))
      val (n, ld) = run("load", Seq(layout.warehouse(s.table)))(Pipeline.loadStage(spark, layout, s.table).count())
      (n, Seq(ex, cs, cd, ld))
    }._1
  }

  /** Bytes and regular files under a local path (a file or a directory tree). */
  def disk(path: String): (Long, Long) = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else if (f.isFile) Seq(f) else Nil
    val fs = walk(new java.io.File(path))
    (fs.map(_.length()).sum, fs.size.toLong)
  }
}

/** `etl_many_small` and `etl_large`: `copies` of each base table of
  * `input` through the pipeline, `cores` tables at a time, in a
  * seed-permuted order each pass.
  */
final class EtlWorkload(spark: SparkSession, layers: Layers, seed: Long, work: String, cores: Int,
                        input: String, bases: Seq[String], copies: Int) extends Workload {
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
  private val layout = Pipeline.Layout(s"$work/etl", "2024-01-01")
  private var srcs: Seq[Source] = Nil
  val minPasses = 2

  def stage(): Unit = srcs = Etl.stage(spark, new Gen(seed), input, bases, copies, s"$work/src", Main.nullRate, pool)

  def pass(i: Int, spans: Option[Spans]): Pass = {
    val order = new scala.util.Random(seed * 1000003L + i).shuffle(srcs)
    val name = s"pass$i"
    val gc0 = Main.gcSeconds()
    if (spans.isDefined) layers.take(spark.sparkContext)
    val (wall, runs) = spans match {
      case None     => Etl.pass(spark, order, layout, pool, None)
      case Some(sp) => sp(name, None, group = false)(Etl.pass(spark, order, layout, pool, Some(sp -> name)))._1
    }
    val fails = runs.map(_._1).zip(order).collect {
      case (r, s) if r.loaded != s.rows => s"${r.table}: loaded ${r.loaded} of ${s.rows} rows"
    }
    val perLayer = spans.fold(Map.empty[String, Double]) { _ =>
      val counts = layers.take(spark.sparkContext)
      Etl.stages.flatMap { st =>
        val c = counts.collect { case (g, c) if g.endsWith(s"/$st") => c }.foldLeft(Counts.zero)(_ + _)
        val sr = runs.flatMap(_._2).filter(_.stage == st)
        Seq(s"pipeline.$st.busy_s" -> sr.map(_.busyS).sum, s"pipeline.$st.jobs" -> c.jobs.toDouble,
          s"pipeline.$st.tasks" -> c.tasks.toDouble, s"pipeline.$st.task_s" -> c.taskS,
          s"pipeline.$st.bytes_written" -> sr.map(_.bytes).sum.toDouble,
          s"pipeline.$st.files_written" -> sr.map(_.files).sum.toDouble)
      }.toMap ++
        Map("pipeline.table.queue_wait_s" -> Main.median(runs.map(_._1.queuedS))) ++
        Layer.spark(counts.values, wall, cores, Main.gcSeconds() - gc0)
    }
    Pass(wall, runs.map(r => r._1.table -> r._1.serviceS), runs.map(_._1.loaded.max(0L)).sum, fails, perLayer)
  }

  def bytesPerRow(shuffleBytes: Long, rows: Long): Double =
    Etl.disk(layout.root)._1.toDouble / srcs.map(_.rows).sum

  /** Every loaded table holds its source's rows, with exactly the NULLs
    * injected into each column.
    */
  def check(): Seq[String] = srcs.flatMap { s =>
    val (rows, nulls) = Etl.nullCounts(spark.read.parquet(layout.warehouse(s.table)))
    (if (rows != s.rows) Seq(s"${s.table}: warehouse holds $rows of ${s.rows} rows") else Nil) ++
      s.nulls.toSeq.sorted.collect {
        case (c, n) if !nulls.get(c).contains(n) => s"${s.table}.$c: ${nulls.get(c)} NULLs loaded, $n injected"
      }
  }

  override def close(): Unit = pool.shutdownNow()
}
