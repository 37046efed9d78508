package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession factory for the driver-run mains (Verify/Bench) and
  * tests: local[N] with N shuffle partitions (sized to the local core
  * count, not the 200 default — on a real cluster this is set per job),
  * AQE on, UTC session time, graft extensions registered.
  *
  * `file:` paths go through [[graft.core.NioLocalFileSystem]], and
  * `FileContext` (Structured Streaming's checkpoint and sink metadata)
  * through [[graft.core.NioLocalFs]]; both set permissions and read
  * symlinks without forking `chmod` or `readlink`. Hadoop caches the first
  * `file:` FileSystem a JVM creates, so build the session before touching a
  * local path through Hadoop.
  *
  * Spark's codegen cache holds 2048 generated classes instead of its
  * default 100. One pass of perfbench's ten-query warehouse mix compiles
  * 206 classes at sf0.01; Bench's main, ext and graph tiers compile 291,
  * 315 and 138, and all three in one pass 744. At 100 entries the
  * least-recently-used cache evicts every class of such a mix before its
  * next pass reuses it, so every pass compiled its whole working set again
  * through Janino; at 2048 a repeated pass compiles none. The setting is a static conf read once,
  * when the JVM first generates code: it takes effect only if this is the
  * JVM's first session.
  */
object Sessions {

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def build(appName: String, cores: String = cpus): SparkSession = {
    val s = SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$cores]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config(
        "spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      .config("spark.sql.adaptive.enabled", "true")
      // reclaim superseded reliable checkpoints (graft.core.Ckpt
      // retention note): with graft.checkpoint.dir set, every kernel
      // round writes a new checkpoint dir; this lets the
      // ContextCleaner delete a round's files once its RDD is GC'd —
      // reference-safe, unlike eager deletion (some kernels hold
      // earlier rounds alive). Must be a SparkConf at context build.
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.sql.codegen.cache.maxEntries", "2048")
      .config("spark.hadoop.fs.file.impl", classOf[graft.core.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.core.NioLocalFs].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // reliable-checkpoint seam (graft.core.Ckpt): set from the
    // environment so the mains (Stress/Bench/Verify) can run the
    // iterative kernels under fault-tolerant checkpointing without a
    // code fork — unset keeps localCheckpoint, the local-mode default
    sys.env.get("GRAFT_CHECKPOINT_DIR").filter(_.nonEmpty)
      .foreach(dir => s.conf.set(graft.core.Ckpt.DirKey, dir))
    s
  }
}
