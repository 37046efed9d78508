package perfbench

import java.security.MessageDigest

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Row, SparkSession}

import graft.Registry

/** The read side: registered queries over the warehouse tables, each
  * written to the `noop` sink (every column materialized, nothing
  * collected), one query at a time.
  */
object Warehouse {

  /** Query → the tables it scans, for the rows-read figure. */
  val queries: Seq[(String, Seq[String])] = Seq(
    "q_join_star" -> Seq("lineitem", "orders", "customer", "nation", "region"),
    "q_agg_pricing" -> Seq("lineitem"),
    "q_sql_window" -> Seq("orders"),
    "q_session_window" -> Seq("events"),
    "q_funnel" -> Seq("events"),
    "q_topk_perkey" -> Seq("customer"),
    "q_dedup_minhash_pairs" -> Seq("documents"),
    "q_sim_bruteforce" -> Seq("embeddings"),
    "q_cc_converged" -> Seq("lineitem"),
    "q_label_prop" -> Seq("lineitem"))

  /** Rows of each table file in `dir`, read from its parquet footer (no Spark job). */
  def rows(spark: SparkSession, dir: String): Map[String, Long] = graft.core.Tables.all.map { t =>
    val in = HadoopInputFile.fromPath(new Path(s"$dir/$t.parquet"), spark.sparkContext.hadoopConfiguration)
    val r = ParquetFileReader.open(in)
    try t -> r.getRecordCount finally r.close()
  }.toMap

  /** One query end to end through the noop sink; returns seconds. */
  def run(spark: SparkSession, q: String, dir: String): Double = {
    val t0 = System.nanoTime()
    Registry.byName(q).run(spark, dir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Row count and an order-independent digest of a query's result:
    * the wrapping sum of per-row MD5 prefixes, floats rounded to six
    * significant digits.
    */
  def digest(spark: SparkSession, q: String, dir: String): (Long, String) = {
    val rows = Registry.byName(q).run(spark, dir).collect()
    val md = MessageDigest.getInstance("MD5")
    val sum = rows.foldLeft(0L) { (acc, r) =>
      val b = md.digest(canon(r).getBytes("UTF-8"))
      acc + java.nio.ByteBuffer.wrap(b).getLong
    }
    (rows.length.toLong, f"$sum%016x")
  }

  private def canon(v: Any): String = v match {
    case null                      => "∅"
    case d: Double                 => num(d)
    case f: Float                  => num(f.toDouble)
    case r: Row                    => r.toSeq.map(canon).mkString("(", "\u0001", ")")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", "\u0001", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", "\u0001", "}")
    case a: Array[_]               => canon(a.toSeq)
    case x                         => x.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else "%.5e".formatLocal(java.util.Locale.ROOT, if (d == 0.0) 0.0 else d)
}

/** `warehouse_queries`: one client runs [[Warehouse.queries]] over the
  * tables in `dir` one after another, in a seed-permuted order each pass.
  * The warm-up pass runs them with `collect` and checks each result
  * against `expectedFile`: a noop-sink pass leaves nothing to check
  * afterwards, and a separate check pass does not fit the run budget.
  */
final class QueryWorkload(spark: SparkSession, layers: Layers, seed: Long, dir: String, cores: Int,
                          expectedFile: String) extends Workload {
  private var rows: Map[String, Long] = Map.empty
  private val digests = scala.collection.mutable.LinkedHashMap.empty[String, (Long, String)]
  // a pass is ~12 s, longer than a run's `--seconds`
  val minPasses = 3

  def stage(): Unit = rows = Warehouse.rows(spark, dir)

  private def order(i: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + i).shuffle(Warehouse.queries.map(_._1))

  private def rowsRead: Long = Warehouse.queries.map { case (_, ts) => ts.map(rows).sum }.sum

  override def warm(i: Int): Pass = {
    val t0 = System.nanoTime()
    val secs = order(i).map { q =>
      val q0 = System.nanoTime()
      digests(q) = scala.util.Try(Warehouse.digest(spark, q, dir)).fold(e => (-1L, e.toString), identity)
      q -> (System.nanoTime() - q0) / 1e9
    }
    Pass((System.nanoTime() - t0) / 1e9, secs, rowsRead, Nil)
  }

  def pass(i: Int, spans: Option[Spans]): Pass = {
    val name = s"pass$i"
    val gc0 = Main.gcSeconds()
    if (spans.isDefined) layers.take(spark.sparkContext)
    def body(): Seq[(String, Double, Option[String])] = order(i).map { q =>
      try spans match {
        case None     => (q, Warehouse.run(spark, q, dir), None)
        case Some(sp) => (q, sp(s"$name/$q", Some(name))(Warehouse.run(spark, q, dir))._2, None)
      } catch { case e: Exception => (q, 0.0, Some(s"$q failed: $e")) }
    }
    val (runs, wall) = spans match {
      case None =>
        val t0 = System.nanoTime()
        val r = body()
        (r, (System.nanoTime() - t0) / 1e9)
      case Some(sp) => sp(name, None, group = false)(body())
    }
    val perLayer = spans.fold(Map.empty[String, Double]) { _ =>
      val counts = layers.take(spark.sparkContext)
      runs.flatMap { case (q, secs, _) =>
        val c = counts.getOrElse(s"$name/$q", Counts.zero)
        Seq(s"query.$q.s" -> secs, s"query.$q.jobs" -> c.jobs.toDouble, s"query.$q.tasks" -> c.tasks.toDouble,
          s"query.$q.task_s" -> c.taskS, s"query.$q.shuffle_bytes" -> c.shuffleBytes.toDouble)
      }.toMap ++ Layer.spark(counts.values, wall, cores, Main.gcSeconds() - gc0)
    }
    Pass(wall, runs.map(r => r._1 -> r._2), rowsRead, runs.flatMap(_._3), perLayer)
  }

  def bytesPerRow(shuffleBytes: Long, rowsRead: Long): Double = shuffleBytes.toDouble / rowsRead

  /** Each query's row count and digest, taken in the warm-up pass, equal the stored ones. */
  def check(): Seq[String] = {
    val src = scala.io.Source.fromFile(expectedFile, "UTF-8")
    val want = try src.getLines().map(_.split("\t")).map(a => a(0) -> (a(1).toLong, a(2))).toMap finally src.close()
    Warehouse.queries.map(_._1).flatMap { q =>
      val got = digests.getOrElse(q, (-1L, "not run"))
      if (want.get(q).contains(got)) None else Some(s"$q: got rows\t${got._1}\tdigest\t${got._2}, expected ${want.get(q)}")
    }
  }
}
