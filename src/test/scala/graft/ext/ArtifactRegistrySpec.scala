package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The stale-cache hazard the stored-artifact registry is keyed
  * against (round-14 advice): a per-JVM registry keyed only on (dir,
  * params) silently serves the OLD index after the fixture under `dir`
  * is regenerated. [[graft.core.ArtifactStore.shared]] is the one
  * per-JVM memo, and every artifact served through it ([[Pq.shared]],
  * [[Ivf.trainShared]], [[SearchQueries.sparseIndexShared]],
  * [[SearchQueries.bm25IndexShared]], [[Dedup.minhashIndexShared]],
  * the `sharedDf` codes, graphs and labels) is keyed by
  * `ArtifactStore.corpusKey`, which embeds `Tables.fingerprint` (a
  * digest of every file's name, length and mtime) — this spec REBUILDS a
  * corpus under one path mid-JVM and asserts the served artifacts
  * reflect the new rows, so the fingerprint keying is a gated contract,
  * not a comment. Since round 16 the registry also carries a DISK tier
  * ([[graft.core.ArtifactStore]]): the cold-JVM tests below gate the
  * restart half of train-once/serve-many, and the memo case gates its
  * nested, concurrent and failing calls.
  */
class ArtifactRegistrySpec extends SparkSpec {

  private def writeCorpus(dir: String, ids: Seq[Long], vocab: Seq[String]): Unit = {
    import spark.implicits._
    // every doc repeats vocab terms with a doc-specific skew so
    // signatures are non-trivial and corpora of different id ranges
    // produce different byte sizes (the fingerprint's b= component
    // changes even within one mtime granule)
    ids.map { id =>
      val words = (0 until 8).map(i => vocab(((id + i) % vocab.size).toInt))
      (id, words.mkString(" "))
    }.toDF("doc_id", "text")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("the registry memo runs each body once under nested, concurrent and failing calls") {
    import java.util.concurrent.atomic.AtomicInteger
    import graft.core.ArtifactStore
    val tag = java.util.UUID.randomUUID().toString
    val store = java.nio.file.Files.createTempDirectory("graft-artifact-memo").toString
    spark.conf.set("graft.artifacts.dir", store)
    try {
      // nested: each outer body resolves an inner key through the same
      // registry (memo for even i, a slot-backed shared for odd i), the
      // pqTokenCodes -> pqTokenBooks and navGraphShared -> adaptiveK
      // shape. "Aa" and "BB" have one String hash, so every inner key
      // lands in its outer key's map bin: a memo that ran bodies inside
      // computeIfAbsent throws "Recursive update" here.
      assert("Aa".hashCode == "BB".hashCode)
      val outerRuns = new AtomicInteger(0)
      val innerRuns = new AtomicInteger(0)
      def inner(i: Int): Int =
        if (i % 2 == 0) ArtifactStore.memo(s"$tag|$i|BB") { innerRuns.incrementAndGet(); i * 10 }
        else
          ArtifactStore.shared(spark, s"$tag|$i|BB") { w =>
            innerRuns.incrementAndGet(); w.text("p", (i * 10).toString)
          } { slot => slot.text("p").toInt }
      def outer(i: Int): Int =
        ArtifactStore.memo(s"$tag|$i|Aa") { outerRuns.incrementAndGet(); inner(i) + i }
      assert((0 until 64).map(outer) == (0 until 64).map(_ * 11))
      assert(outerRuns.get() == 64 && innerRuns.get() == 64)
      assert((0 until 64).map(outer) == (0 until 64).map(_ * 11))
      assert(outerRuns.get() == 64 && innerRuns.get() == 64, "a memoized body ran twice")

      // concurrent: 4 threads ask for one key; the body runs once and
      // every caller gets its value
      val runs = new AtomicInteger(0)
      val start = new java.util.concurrent.CountDownLatch(1)
      val got = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
      val threads = (0 until 4).map { _ =>
        val t = new Thread(() => {
          start.await()
          got.add(ArtifactStore.memo(s"$tag|concurrent") {
            runs.incrementAndGet(); Thread.sleep(200); Integer.valueOf(42)
          })
          ()
        })
        t.start(); t
      }
      start.countDown()
      threads.foreach(_.join(60000))
      assert(runs.get() == 1, s"concurrent callers ran the body ${runs.get()} times")
      assert(got.size == 4 && got.toArray.forall(_ == Integer.valueOf(42)))

      // failing: the exception reaches the caller, nothing is cached,
      // and the next call runs the body again
      val tries = new AtomicInteger(0)
      def flaky(): String = ArtifactStore.memo(s"$tag|flaky") {
        if (tries.incrementAndGet() == 1) throw new IllegalStateException("planted body failure")
        "ok"
      }
      assert(intercept[IllegalStateException](flaky()).getMessage == "planted body failure")
      assert(flaky() == "ok" && tries.get() == 2)
      assert(flaky() == "ok" && tries.get() == 2)
    } finally spark.conf.unset("graft.artifacts.dir")
  }

  test("sparse index registry rebuilds when the corpus under the same path is regenerated") {
    val dir = java.nio.file.Files.createTempDirectory("graft-artifact-reg").toString
    writeCorpus(dir, 0L until 20L, Seq("apple", "banana", "cherry", "date"))
    val first = SearchQueries.championServe(SearchQueries.sparseIndexShared(spark, dir))
      .select(col("a_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(first.nonEmpty && first.forall(_ < 20L))
    // regenerate the fixture under the SAME path: different ids, vocab, size
    writeCorpus(dir, 100L until 140L, Seq("dog", "elephant", "fox"))
    val second = SearchQueries.championServe(SearchQueries.sparseIndexShared(spark, dir))
      .select(col("a_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(second.nonEmpty && second.forall(_ >= 100L),
      s"registry served the stale pre-rebuild index: $second")
  }

  test("BM25 postings registry rebuilds when the corpus under the same path is regenerated") {
    val dir = java.nio.file.Files.createTempDirectory("graft-artifact-reg-bm25").toString
    writeCorpus(dir, 0L until 20L, Seq("apple", "banana", "cherry", "date"))
    val first = SearchQueries.bm25IndexShared(spark, dir)
    assert(first.nDocs == 20L && first.postings.count() > 0)
    writeCorpus(dir, 100L until 140L, Seq("dog", "elephant", "fox"))
    val second = SearchQueries.bm25IndexShared(spark, dir)
    assert(second.nDocs == 40L,
      s"registry served the stale postings artifact: nDocs=${second.nDocs}")
    assert(second.docLens.select(min(col("doc_id"))).collect().head.getLong(0) == 100L)
  }

  test("minhash band-index registry rebuilds when the corpus under the same path is regenerated") {
    val dir = java.nio.file.Files.createTempDirectory("graft-artifact-reg-mh").toString
    writeCorpus(dir, 0L until 20L, Seq("apple", "banana", "cherry", "date"))
    val first = Dedup.minhashIndexShared(spark, dir)
    // 8 bands per doc in the banded artifact
    assert(first.nDocs == 20L && first.banded.count() == 20L * 8)
    writeCorpus(dir, 100L until 140L, Seq("dog", "elephant", "fox"))
    val second = Dedup.minhashIndexShared(spark, dir)
    assert(second.nDocs == 40L,
      s"registry served the stale band index: nDocs=${second.nDocs}")
    assert(second.banded.select(min(col("id"))).collect().head.getLong(0) == 100L)
  }

  test("a cold JVM serves every registry from the persisted slot: no corpus scan, no rebuild") {
    // Round-15 verdict #2: "train-once/serve-many" must survive process
    // restarts. A true cold JVM can't run inside one suite, so this simulates
    // its observable state: the in-memory memo is EMPTY (clearShared)
    // while the ArtifactStore slots persist — exactly what a restarted
    // driver sees. Done-criteria asserted: (a) the second serve performs
    // ZERO builds (ArtifactStore.builds unchanged — nothing re-trained,
    // nothing re-encoded), (b) the served relations carry no
    // FileSourceScan at all (loaded slots re-checkpoint, so plans read
    // ExistingRDD — the corpus is untouched and the zero-scan pins keep
    // holding), and (c) the artifact content round-tripped exactly.
    val dir = java.nio.file.Files.createTempDirectory("graft-artifact-cold").toString
    val store = java.nio.file.Files.createTempDirectory("graft-artifact-store").toString
    spark.conf.set("graft.artifacts.dir", store)
    try {
      writeCorpus(dir, 0L until 25L, Seq("kiwi", "lemon", "mango", "nashi"))
      val warmMh = Dedup.minhashIndexShared(spark, dir)
      val warmBanded = warmMh.banded.orderBy("id", "band_idx")
        .select("id", "band_hash").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val warmBm = SearchQueries.bm25IndexShared(spark, dir)
      val warmPost = warmBm.postings.orderBy("term", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      val warmSparse = SearchQueries.championServe(SearchQueries.sparseIndexShared(spark, dir))
        .orderBy("a_id", "rnk").collect().map(_.toSeq).toSeq

      // "restart": drop all in-memory registries; the slots remain
      graft.core.ArtifactStore.clearShared()
      val buildsBefore = graft.core.ArtifactStore.builds.get()

      val coldMh = Dedup.minhashIndexShared(spark, dir)
      val coldBm = SearchQueries.bm25IndexShared(spark, dir)
      val coldSparse = SearchQueries.championServe(SearchQueries.sparseIndexShared(spark, dir))
      assert(graft.core.ArtifactStore.builds.get() == buildsBefore,
        "cold serve re-ran a build instead of loading the persisted slot")

      val coldBanded = coldMh.banded.orderBy("id", "band_idx")
        .select("id", "band_hash").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(coldBanded == warmBanded && coldMh.nDocs == warmMh.nDocs,
        "persisted band index diverged from the built one")
      val coldPost = coldBm.postings.orderBy("term", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(coldPost == warmPost && coldBm.nDocs == warmBm.nDocs
        && coldBm.totalTok == warmBm.totalTok,
        "persisted postings diverged from the built ones")
      assert(coldSparse.orderBy("a_id", "rnk").collect().map(_.toSeq).toSeq == warmSparse,
        "persisted sparse index changed the served ranking")

      // zero-scan: the loaded artifacts plan as ExistingRDD, no file scan
      for ((name, df) <- Seq(
          ("banded", coldMh.banded), ("postings", coldBm.postings))) {
        val scans = df.queryExecution.sparkPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec => s
        }
        assert(scans.isEmpty, s"cold-served $name plan scans files: $scans")
      }

      // the navigable-graph slot (the graph family's frozen base —
      // twin #13's insert walks and the serving/tombstone queries all
      // assume it survives a restart without an O(n²) rebuild)
      writeEmbeddings(dir, 0L until 40L)
      val warmGraph = SimilarityQueries.navGraphShared(spark, dir)
        .orderBy("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val warmCentroids = Ivf.trainSharedAdaptive(spark, dir)
      graft.core.ArtifactStore.clearShared()
      val graphBuildsBefore = graft.core.ArtifactStore.builds.get()
      val coldGraph = SimilarityQueries.navGraphShared(spark, dir)
      assert(graft.core.ArtifactStore.builds.get() == graphBuildsBefore,
        "cold nav-graph serve re-ran the kNN build instead of loading the slot")
      // the quantizer the graph build trained is its own slot: a cold
      // JVM serves it without re-running Lloyd
      assert(Ivf.trainSharedAdaptive(spark, dir) == warmCentroids)
      assert(graft.core.ArtifactStore.builds.get() == graphBuildsBefore,
        "cold quantizer serve re-trained the IVF centroids")
      assert(coldGraph.orderBy("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq == warmGraph,
        "persisted nav graph diverged from the built one")
      val graphScans = coldGraph.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(graphScans.isEmpty, s"cold-served nav graph plan scans files: $graphScans")
    } finally spark.conf.unset("graft.artifacts.dir")
  }

  private def writeEmbeddings(dir: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    // deterministic 16-d float vectors, id-skewed so the kNN structure
    // is non-trivial
    ids.map { id =>
      (id, (0 until 16).map(i => (((id * 7 + i * 13) % 29).toInt / 29.0f)), (id % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  test("PQ codebooks and codes survive the restart boundary bit-exactly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-artifact-cold-pq").toString
    val store = java.nio.file.Files.createTempDirectory("graft-artifact-store-pq").toString
    spark.conf.set("graft.artifacts.dir", store)
    try {
      writeCorpus(dir, 0L until 25L, Seq("kiwi", "lemon", "mango", "nashi"))
      val warmBooks = SearchQueries.pqTokenBooks(spark, dir)
      val warmCodes = SearchQueries.pqTokenCodes(spark, dir)
        .orderBy("vec_id", "m").collect().map(_.toSeq).toSeq
      graft.core.ArtifactStore.clearShared()
      val buildsBefore = graft.core.ArtifactStore.builds.get()
      val coldBooks = SearchQueries.pqTokenBooks(spark, dir)
      val coldCodes = SearchQueries.pqTokenCodes(spark, dir)
        .orderBy("vec_id", "m").collect().map(_.toSeq).toSeq
      assert(graft.core.ArtifactStore.builds.get() == buildsBefore,
        "cold PQ serve re-trained or re-encoded")
      // Double.toString round-trips the exact bits, so equality is BIT
      // equality, not approximate
      assert(coldBooks == warmBooks, "codebooks changed across the restart boundary")
      assert(coldCodes == warmCodes, "codes changed across the restart boundary")
    } finally spark.conf.unset("graft.artifacts.dir")
  }

  test("a corpus regenerated after a restart still forces a rebuild (fingerprint keys the slot)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-artifact-cold-rb").toString
    val store = java.nio.file.Files.createTempDirectory("graft-artifact-store-rb").toString
    spark.conf.set("graft.artifacts.dir", store)
    try {
      writeCorpus(dir, 0L until 20L, Seq("apple", "banana", "cherry"))
      Dedup.minhashIndexShared(spark, dir)
      // restart + regenerate: the persisted slot must NOT shadow the new corpus
      graft.core.ArtifactStore.clearShared()
      writeCorpus(dir, 300L until 350L, Seq("stoat", "weasel"))
      val buildsBefore = graft.core.ArtifactStore.builds.get()
      val after = Dedup.minhashIndexShared(spark, dir)
      assert(graft.core.ArtifactStore.builds.get() == buildsBefore + 1,
        "regenerated corpus did not trigger a rebuild")
      assert(after.nDocs == 50L
        && after.banded.select(min(col("id"))).collect().head.getLong(0) == 300L,
        "stale persisted index served after corpus regeneration")
    } finally spark.conf.unset("graft.artifacts.dir")
  }

  test("retention sweep removes only stale slots and a live serve is unaffected") {
    // Round-16 verdict #4: slots accumulate forever (every corpus
    // fingerprint change strands the old slot). The sweep's contract:
    // last-USE drives expiry (loadOrBuild touches _OK on every serve),
    // fresh slots survive, swept keys rebuild cleanly on next demand.
    val store = java.nio.file.Files.createTempDirectory("graft-artifact-sweep").toString
    spark.conf.set("graft.artifacts.dir", store)
    try {
      import graft.core.ArtifactStore
      def put(key: String, payload: String): String =
        ArtifactStore.loadOrBuild(spark, key) { w => w.text("p", payload) } { s => s.text("p") }
      assert(put("sweep-stale", "old") == "old")
      assert(put("sweep-live", "live") == "live")
      // plant age: the stale slot was last used 40 days ago
      val slots = new java.io.File(store).listFiles().filter(_.isDirectory)
      assert(slots.length == 2)
      val staleDir = slots.find(d =>
        new String(java.nio.file.Files.readAllBytes(
          new java.io.File(d, "key.txt").toPath)) == "sweep-stale").get
      val past = System.currentTimeMillis() - 40L * 24 * 3600 * 1000
      assert(new java.io.File(staleDir, "_OK").setLastModified(past))
      // plus an orphaned .tmp-* partial from a crashed foreign process
      val orphan = new java.io.File(store, "deadbeef.tmp-99999-7")
      orphan.mkdirs()
      assert(orphan.setLastModified(past))
      val swept = ArtifactStore.retentionSweep(spark, maxAgeDays = 32)
      assert(swept.toSet == Set(staleDir.getName, orphan.getName),
        s"sweep removed the wrong slots: $swept")
      // the live slot still serves with ZERO builds...
      val buildsBefore = ArtifactStore.builds.get()
      assert(put("sweep-live", "MUST-NOT-RUN") == "live")
      assert(ArtifactStore.builds.get() == buildsBefore,
        "sweep disturbed a live slot: the serve re-built")
      // ...and the swept key rebuilds on next demand
      assert(put("sweep-stale", "new") == "new")
      assert(ArtifactStore.builds.get() == buildsBefore + 1)
    } finally spark.conf.unset("graft.artifacts.dir")
  }

  test("a corrupt _OK-marked slot is quarantined and rebuilt, and a failed build leaves no tmp dir") {
    // ADVICE round 16: _OK proves a build completed, not that the parts
    // are intact — and a builder that throws must not strand its
    // process-unique .tmp dir forever.
    val store = java.nio.file.Files.createTempDirectory("graft-artifact-corrupt").toString
    spark.conf.set("graft.artifacts.dir", store)
    try {
      import graft.core.ArtifactStore
      def put(key: String, payload: String): String =
        ArtifactStore.loadOrBuild(spark, key) { w => w.text("p", payload) } { s => s.text("p") }
      assert(put("corrupt-me", "v1") == "v1")
      // corrupt the slot out-of-band: delete the part, keep _OK
      val slot = new java.io.File(store).listFiles().filter(_.isDirectory).head
      assert(new java.io.File(slot, "p.txt").delete())
      val buildsBefore = ArtifactStore.builds.get()
      assert(put("corrupt-me", "v2") == "v2",
        "corrupt slot was served instead of quarantined")
      assert(ArtifactStore.builds.get() == buildsBefore + 1)
      // failed build: thrown through, and no .tmp-* partial remains
      intercept[RuntimeException] {
        ArtifactStore.loadOrBuild(spark, "always-fails") { _ =>
          throw new RuntimeException("planted build failure")
        } { s => s.text("p") }
      }
      val leaked = new java.io.File(store).listFiles().filter(_.getName.contains(".tmp-"))
      assert(leaked.isEmpty, s"failed build leaked tmp dirs: ${leaked.mkString(",")}")
    } finally spark.conf.unset("graft.artifacts.dir")
  }

  test("a slot swept between the completed() check and load() is rebuilt, not a serve failure") {
    // ADVICE round 17 (medium): the corrupt-slot retry was gated on a
    // stale _OK still existing — a slot DELETED in the window between
    // completed() and load() (a concurrent retentionSweep racing a
    // server against the same root) propagated the load failure for a
    // self-healable condition. The retry is now unconditional on slot
    // state; a second failure still propagates.
    val store = java.nio.file.Files.createTempDirectory("graft-artifact-race").toString
    spark.conf.set("graft.artifacts.dir", store)
    try {
      import graft.core.ArtifactStore
      assert(ArtifactStore.loadOrBuild(spark, "race-key") { w =>
        w.text("p", "v1")
      } { s => s.text("p") } == "v1")
      val slot = new java.io.File(store).listFiles().filter(_.isDirectory).head
      // simulate the sweep firing mid-serve: the FIRST load sees the
      // slot vanish under it; the retry must rebuild and serve
      var loads = 0
      val buildsBefore = ArtifactStore.builds.get()
      val got = ArtifactStore.loadOrBuild(spark, "race-key") { w =>
        w.text("p", "v2")
      } { s =>
        loads += 1
        if (loads == 1) {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
            f.delete(); ()
          }
          rm(slot)
        }
        s.text("p")
      }
      assert(got == "v2", s"race retry served '$got' instead of rebuilding")
      assert(loads == 2, "retry path did not re-load after the rebuild")
      assert(ArtifactStore.builds.get() == buildsBefore + 1)
    } finally spark.conf.unset("graft.artifacts.dir")
  }

  test("a _USED sidecar keeps a slot alive when _OK's mtime cannot advance") {
    // ADVICE round 17 (low): where setLastModified silently fails (slot
    // owned by another user under a shared root), touch() falls back to
    // (re)writing a _USED sidecar — and the sweep reads the NEWEST of
    // _OK/_USED, so a daily-served slot with a frozen _OK survives.
    val store = java.nio.file.Files.createTempDirectory("graft-artifact-used").toString
    spark.conf.set("graft.artifacts.dir", store)
    try {
      import graft.core.ArtifactStore
      def put(payload: String): String =
        ArtifactStore.loadOrBuild(spark, "used-key") { w => w.text("p", payload) } { s => s.text("p") }
      assert(put("v1") == "v1")
      val slot = new java.io.File(store).listFiles().filter(_.isDirectory).head
      // plant: _OK frozen 40 days in the past, _USED stamped fresh (what
      // the touch fallback writes when the mtime update is rejected)
      val past = System.currentTimeMillis() - 40L * 24 * 3600 * 1000
      assert(new java.io.File(slot, "_OK").setLastModified(past))
      java.nio.file.Files.write(
        new java.io.File(slot, "_USED").toPath, Array.emptyByteArray)
      assert(ArtifactStore.retentionSweep(spark, maxAgeDays = 32).isEmpty,
        "sweep deleted a slot whose _USED sidecar proves recent serves")
      // with BOTH signals stale the slot ages out as before
      assert(new java.io.File(slot, "_USED").setLastModified(past))
      assert(ArtifactStore.retentionSweep(spark, maxAgeDays = 32) == Seq(slot.getName))
    } finally spark.conf.unset("graft.artifacts.dir")
  }

  test("a per-user marker under the store root keeps a foreign-owned slot alive") {
    // ADVICE round 18 (low): when the slot dir itself is unwritable
    // (another user's slot under a shared root), BOTH the _OK mtime
    // update and the in-slot _USED write fail — touch() then stamps
    // `<root>/_used-<user>/<slotName>`, and the sweep reads the newest
    // of all three signals. Planted directly (we can't drop privileges
    // in-test): _OK 40 days stale, no _USED, fresh per-user marker.
    val store = java.nio.file.Files.createTempDirectory("graft-artifact-marker").toString
    spark.conf.set("graft.artifacts.dir", store)
    try {
      import graft.core.ArtifactStore
      def put(payload: String): String =
        ArtifactStore.loadOrBuild(spark, "marker-key") { w => w.text("p", payload) } { s => s.text("p") }
      assert(put("v1") == "v1")
      val slot = new java.io.File(store).listFiles().filter(_.isDirectory).head
      val past = System.currentTimeMillis() - 40L * 24 * 3600 * 1000
      assert(new java.io.File(slot, "_OK").setLastModified(past))
      val markerDir = new java.io.File(
        store, "_used-" + System.getProperty("user.name", "unknown")
          .replaceAll("[^A-Za-z0-9._-]", "_"))
      assert(markerDir.mkdirs() || markerDir.isDirectory)
      java.nio.file.Files.write(
        new java.io.File(markerDir, slot.getName).toPath, Array.emptyByteArray)
      assert(ArtifactStore.retentionSweep(spark, maxAgeDays = 32).isEmpty,
        "sweep deleted a slot whose per-user marker proves recent serves")
      // the marker dir itself must never be treated as a slot candidate
      // even when stale, and a stale marker no longer protects the slot
      assert(new java.io.File(markerDir, slot.getName).setLastModified(past))
      val swept = ArtifactStore.retentionSweep(spark, maxAgeDays = 32)
      assert(swept == Seq(slot.getName), s"expected only the slot swept, got $swept")
      assert(markerDir.isDirectory, "sweep must not delete per-user marker dirs")
      assert(!new java.io.File(markerDir, slot.getName).exists(),
        "the swept slot's own-user marker should be dropped with it")
    } finally spark.conf.unset("graft.artifacts.dir")
  }

  test("PQ codes registry rebuilds when the corpus under the same path is regenerated") {
    val dir = java.nio.file.Files.createTempDirectory("graft-artifact-reg-pq").toString
    writeCorpus(dir, 0L until 20L, Seq("apple", "banana", "cherry", "date"))
    val firstRows = SearchQueries.pqTokenCodes(spark, dir).count()
    // codes = m=4 rows per surviving token vector
    val expectFirst = 4L * SearchQueries.tokenVecs(
      spark.read.parquet(s"$dir/documents.parquet")).count()
    assert(firstRows == expectFirst)
    writeCorpus(dir, 100L until 140L, Seq("dog", "elephant", "fox"))
    val secondRows = SearchQueries.pqTokenCodes(spark, dir).count()
    val expectSecond = 4L * SearchQueries.tokenVecs(
      spark.read.parquet(s"$dir/documents.parquet")).count()
    assert(secondRows == expectSecond && secondRows != firstRows,
      s"registry served stale codes: $secondRows (want $expectSecond, old $firstRows)")
  }
}
