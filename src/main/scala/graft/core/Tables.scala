package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-data table loader: one parquet per table under a scale-factor dir
  * (TESTDATA.md). Parquet scans get predicate pushdown + column pruning
  * from Catalyst for free; at cluster scale the same call fans out over
  * file splits with no driver involvement.
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

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")
}
