package graft

/** One process of the artifact-store restart contract
  * (`RestartContractSpec` forks it twice): against the artifact store
  * named by GRAFT_ARTIFACTS_DIR, serve every artifact-backed registry
  * and print the number of builds THIS process ran. On a fresh store
  * that count is the full build; on a store an earlier process filled it
  * must be exactly zero — a restarted driver loads slots, it never
  * re-trains. The served set is single-sourced in
  * [[ArtifactDrive.serveAll]].
  */
object RestartProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = Sessions.build("graft-restart-probe")
    ArtifactDrive.serveAll(spark, sfDir)
    // parseable one-liner the parent process greps; builds counts THIS
    // JVM's completed builds only (the parent's happened elsewhere)
    println(s"RESTART_PROBE_BUILDS=${core.ArtifactStore.builds.get()}")
    spark.stop()
  }
}

/** The one list of artifact-backed registries the restart contract
  * covers — every stored-artifact consumer a cold driver must serve
  * without a build: coarse quantizer, BM25 postings, sparse champion
  * lists, minhash band index, PQ codebooks + codes + wide ADC layout,
  * navigable graph + its waypoint layer.
  */
object ArtifactDrive {
  def serveAll(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    // ONE shared quantizer since round 19: serving rows AND blocked
    // builds all ride the corpus-adaptive k = ⌈√(n/8)⌉ (= 16 at
    // fixture scale, so the artifact key is the same one the old
    // fixed-k serving rows used)
    ext.Ivf.trainSharedAdaptive(s, d)
    ext.Ivf.trainShared(s, d, k = 8) // q_ivf_split's deliberately-coarse layer
    ext.SearchQueries.bm25IndexShared(s, d)
    ext.SearchQueries.sparseIndexShared(s, d)
    ext.Dedup.minhashIndexShared(s, d)
    ext.SearchQueries.pqTokenBooks(s, d)
    ext.SearchQueries.pqTokenCodes(s, d).count()
    ext.SearchQueries.pqTokenCodesWide(s, d).count()
    ext.SimilarityQueries.navGraphShared(s, d).count()
    ext.SimilarityQueries.waypointsShared(s, d).count()
    queries.Graph.storedBaseLabels(s, d).count() // q_cc_repair_served's snapshot
    ()
  }
}
