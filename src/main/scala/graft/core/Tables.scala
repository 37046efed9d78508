package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Test-data table loader: one parquet per table under a scale-factor dir
  * (TESTDATA.md). Parquet scans get predicate pushdown + column pruning
  * from Catalyst for free; at cluster scale the same call fans out over
  * file splits with no driver involvement.
  *
  * Each table's schema is inferred once per JVM ([[schema]]) and every
  * read passes it to the reader. A bare `spark.read.parquet(path)` runs a
  * one-task Spark job to read the parquet footer each time it is called;
  * with a schema the relation resolves on the driver with no job, the
  * way a warehouse resolves a table from its catalog.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Cheap content fingerprint of a table's parquet — the key component
    * ([[ArtifactStore.corpusKey]]) that lets stored artifacts survive
    * fixture REBUILDS under the same path: a regenerated table changes
    * the key, so stale centroids, codebooks or indexes are never served
    * to a new corpus. Every file's (relative name, length, mtime) triple folds
    * into one order-independent digest — unlike the earlier
    * count+total-bytes+max-mtime summary, a rename, a same-total rewrite,
    * or a regeneration landing inside one mtime granule still changes
    * the key. Pure driver-side file metadata — no data read.
    */
  def fingerprint(sfDir: String, name: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val root = new java.io.File(s"$sfDir/$name.parquet")
    val md = java.security.MessageDigest.getInstance("MD5")
    walk(root)
      .map(f => s"${root.toPath.relativize(f.toPath)}|${f.length()}|${f.lastModified()}")
      .sorted
      .foreach(line => md.update(line.getBytes("UTF-8")))
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(md.digest())
  }

  /** The session confs that change what parquet schema inference returns. */
  private val InferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema")

  /** `name`'s inferred schema, memoized in [[ArtifactStore.memo]] under
    * the table's [[ArtifactStore.corpusKey]] plus this session's values
    * of [[InferenceConfs]]: a fixture rebuilt under the same path, or a
    * session with other inference settings, infers again. Only the first
    * call per key runs the footer-read job; an inference that throws (a
    * missing path) caches nothing. [[ArtifactStore.clearShared]] drops it.
    */
  private def schema(spark: SparkSession, sfDir: String, name: String): StructType = {
    val confs = InferenceConfs.map(k => spark.conf.getOption(k).getOrElse("")).mkString(",")
    ArtifactStore.memo(ArtifactStore.corpusKey(sfDir, name, s"schema|$confs"))(
      spark.read.parquet(s"$sfDir/$name.parquet").schema)
  }

  /** `name` under `sfDir`, read with its memoized [[schema]]. */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.schema(schema(spark, sfDir, name)).parquet(s"$sfDir/$name.parquet")
}
