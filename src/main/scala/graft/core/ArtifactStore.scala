package graft.core

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The stored-artifact registry — TRAIN-ONCE / SERVE-MANY across
  * PROCESS RESTARTS (round-15 verdict #2).
  *
  * [[shared]] is the one per-JVM memo in front of the disk tier: every
  * trained or materialized artifact (IVF centroids, PQ codebooks and
  * codes, the sparse and BM25 indexes, the minhash band index, the
  * navigable graphs, the stored CC labels) is a key built by
  * [[corpusKey]] plus a build/load pair passed to it. Before the disk
  * tier, "train-once" meant "per driver lifetime": a restarted driver
  * silently retrained every codebook and index. This store completes the
  * production lifecycle (FAISS index files, ColBERTv2 residual stores,
  * Lucene segments — the artifact LIVES in storage, keyed by what built
  * it): each registry key hashes to a slot directory holding the
  * artifact's parquet parts and a small metadata file; a cold JVM whose
  * key hashes to a complete slot loads the parts — never touching the
  * corpus — and a changed corpus fingerprint hashes to a NEW slot, so
  * staleness is structurally impossible rather than evicted.
  *
  * Layout per slot: `<root>/<urlsafe-md5(key)>/` containing `key.txt`
  * (the clear-text key, for operators), `meta.properties` (scalar
  * sidecars), one parquet dir per relation part, and `_OK` written LAST
  * — a slot without `_OK` (a crashed build) is ignored and rebuilt.
  * Builds go to a process-unique `.tmp` sibling and rename in, so
  * concurrent builders race benignly (one rename wins; the loser serves
  * the winner's slot — both built the same bytes from the same key).
  *
  * Root resolution: spark conf `graft.artifacts.dir`, else env
  * `GRAFT_ARTIFACTS_DIR`, else `<java.io.tmpdir>/graft-artifacts-<user>`
  * (per-user — a shared default root would let checkouts of different
  * users serve each other's slots on multi-user boxes). Slot names fold
  * in [[FormatVersion]], every serve touches `_OK` (last-used signal),
  * and [[retentionSweep]] ages out slots a corpus regeneration
  * stranded. Setting conf `graft.artifacts.persist=false` bypasses the
  * disk tier entirely (build in memory) — the bench's cold-build
  * timings use this so "index build cost" keeps measuring the build,
  * not a disk load.
  *
  * Loaded relations are eagerly re-materialized (`localCheckpoint`) so a
  * serving plan scans the executor blocks (`ExistingRDD`), keeping every
  * zero-corpus-scan PlanAuditSpec pin intact; the one artifact-file read
  * happens at load time, exactly once per process.
  */
object ArtifactStore {

  /** Total completed builds this JVM — lets specs assert that a
    * registry served from the persisted slot (counter unchanged) vs
    * rebuilt (counter bumped).
    */
  val builds = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Artifact FORMAT VERSION, folded into every slot name. Bump on ANY
    * change to a registry's build logic or part encoding whose KEY
    * STRING doesn't change (the CmsSketch-modulus class of edit): old
    * slots then hash elsewhere and rebuild instead of silently serving
    * bytes an older algorithm wrote. A `_OK` mark proves a build
    * COMPLETED, not that today's code produced it — the version is what
    * carries that second claim. History: (unversioned) rounds 15–16;
    * fmt2 round 17 (versioned slots, per-user default root, IVF-blocked
    * nav-graph build).
    */
  private[graft] val FormatVersion = "fmt2"

  private def persistEnabled(spark: SparkSession): Boolean =
    spark.conf.get("graft.artifacts.persist", "true").toBoolean

  private def rootDir(spark: SparkSession): File = {
    // default root is PER-USER: a shared world-writable <tmpdir>/
    // graft-artifacts would let checkouts of different users serve (and
    // poison) each other's slots on multi-user/CI boxes
    val user = sys.props.getOrElse("user.name", "anon").replaceAll("[^A-Za-z0-9._-]", "_")
    val p = spark.conf.getOption("graft.artifacts.dir")
      .orElse(sys.env.get("GRAFT_ARTIFACTS_DIR"))
      .getOrElse(sys.props("java.io.tmpdir") + s"/graft-artifacts-$user")
    new File(p)
  }

  private def slotName(key: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    java.util.Base64.getUrlEncoder.withoutPadding
      .encodeToString(md.digest(s"$FormatVersion|$key".getBytes(StandardCharsets.UTF_8)))
  }

  /** Read-side view of a completed slot — disk-backed normally, or the
    * builder's in-memory parts when persistence is off.
    */
  final class Slot private[ArtifactStore] (
      dir: Option[File],
      spark: SparkSession,
      mem: Option[SlotWriter]) {
    /** Load a relation part, eagerly re-materialized so downstream plans
      * stay zero-scan (`ExistingRDD`, no FileSourceScan).
      */
    def df(part: String): DataFrame = dir match {
      case Some(d) => spark.read.parquet(new File(d, part).getPath).localCheckpoint(true)
      case None => mem.get.memDfs(part)
    }

    /** Load a text part (codebook codecs etc.). */
    def text(part: String): String = dir match {
      case Some(d) =>
        new String(Files.readAllBytes(new File(d, part + ".txt").toPath), StandardCharsets.UTF_8)
      case None => mem.get.memTexts(part)
    }

    lazy val meta: Map[String, String] = dir match {
      case Some(d) =>
        val props = new java.util.Properties()
        val in = Files.newInputStream(new File(d, "meta.properties").toPath)
        try props.load(in) finally in.close()
        import scala.jdk.CollectionConverters._
        props.asScala.toMap
      case None => mem.get.metaMap.toMap
    }
  }

  /** Write-side handle passed to builders. With a backing dir, parts go
    * to disk (parquet round-trips every engine type, incl. double bits
    * and arrays, exactly); with none — the `graft.artifacts.persist=
    * false` path the bench's cold-BUILD timings use — relation parts are
    * checkpointed in memory and nothing touches storage, so the timed
    * cost stays the build itself (the frozen v9 metric), not an
    * artifact write+readback.
    */
  final class SlotWriter private[ArtifactStore] (dir: Option[File]) {
    private[ArtifactStore] val metaMap = scala.collection.mutable.Map[String, String]()
    private[ArtifactStore] val memDfs = scala.collection.mutable.Map[String, DataFrame]()
    private[ArtifactStore] val memTexts = scala.collection.mutable.Map[String, String]()
    def df(part: String, d: DataFrame): Unit = dir match {
      case Some(d0) => d.write.mode("overwrite").parquet(new File(d0, part).getPath)
      case None =>
        // builders that already checkpointed the part (root is a
        // LogicalRDD) are stored as-is — a second materialization would
        // inflate exactly the build cost this mode exists to measure
        memDfs(part) = d.queryExecution.analyzed match {
          case _: org.apache.spark.sql.execution.LogicalRDD => d
          case _ => d.localCheckpoint(true)
        }
    }
    def meta(kv: (String, String)*): Unit = metaMap ++= kv
    def text(part: String, content: String): Unit = dir match {
      case Some(d0) =>
        Files.write(
          new File(d0, part + ".txt").toPath, content.getBytes(StandardCharsets.UTF_8)); ()
      case None => memTexts(part) = content
    }
  }

  /** Once-holder: the body runs on first `value`, outside any map
    * compute, so a body may itself call [[memo]] for another key.
    */
  private final class Once(body: => Any) { lazy val value: Any = body }

  private val registry = new java.util.concurrent.ConcurrentHashMap[String, Once]()

  /** Per-JVM memo with no slot: `f` runs at most once per `key` (also
    * under concurrent callers, which wait for the first); a body that
    * throws caches nothing, so the next call runs it again.
    */
  def memo[A](key: String)(f: => A): A = {
    val once = registry.computeIfAbsent(key, _ => new Once(f))
    try once.value.asInstanceOf[A]
    catch { case e: Throwable => registry.remove(key, once); throw e }
  }

  /** The per-JVM artifact registry: [[memo]] in front of [[loadOrBuild]],
    * keyed on the slot key itself. `key` must embed the corpus content
    * fingerprint ([[corpusKey]]) and every build parameter, so a fixture
    * regenerated under the same path keys a fresh build instead of
    * serving a stale artifact. Building is deterministic on a fixed
    * corpus, so sharing changes no output — it removes repeated
    * identical Lloyd runs, encodes and index builds from Verify/Bench
    * sessions. Served relations hold executor-block references, valid
    * only within the SparkSession that built them: single-session mains
    * and specs fit; call [[clearShared]] on session change, to time a
    * cold build, or to simulate a restarted driver (slots persist).
    */
  def shared[A](spark: SparkSession, key: String)(build: SlotWriter => Unit)(
      load: Slot => A): A =
    memo(key)(loadOrBuild(spark, key)(build)(load))

  /** A one-relation [[shared]] artifact. `df` should be eagerly
    * materialized (`localCheckpoint(true)`) so the cost is paid at
    * registration.
    */
  def sharedDf(spark: SparkSession, key: String)(df: => DataFrame): DataFrame =
    shared(spark, key)(_.df("codes", df))(_.df("codes"))

  /** The registry key of an artifact built from `table` under `dir`:
    * the dir, the table's content fingerprint, then `spec` (the
    * artifact's name and every build parameter).
    */
  def corpusKey(dir: String, table: String, spec: String): String =
    s"$dir|${Tables.fingerprint(dir, table)}|$spec"

  /** Drop every memoized artifact; the disk slots stay. */
  def clearShared(): Unit = registry.clear()

  /** Serve `key`'s artifact from a completed slot, or run `build` and
    * persist what it writes. `load` turns a completed slot back into the
    * registry's artifact type; it runs for fresh builds too (after the
    * rename), so both paths serve byte-identical, slot-backed relations.
    */
  private[graft] def loadOrBuild[A](spark: SparkSession, key: String)(build: SlotWriter => Unit)(
      load: Slot => A): A = {
    if (!persistEnabled(spark)) {
      // memory-only lifecycle (the bench's cold-build timing path): the
      // builder's parts stay as checkpointed in-memory relations
      val w = new SlotWriter(None)
      build(w)
      builds.incrementAndGet()
      return load(new Slot(None, spark, Some(w)))
    }
    val root = rootDir(spark)
    root.mkdirs()
    val slot = new File(root, slotName(key))
    def buildSlot(): Unit = {
      val tmp = new File(root, slotName(key) + s".tmp-${java.lang.ProcessHandle.current.pid}-${Thread.currentThread().getId}")
      deleteRec(tmp)
      tmp.mkdirs()
      // A FAILED build must not strand its partial tmp dir: the
      // pre-build deleteRec above only ever matches this process's own
      // pid+tid name, which no future process reproduces — without the
      // catch, every crashed build leaks a partial slot forever.
      try {
        val w = new SlotWriter(Some(tmp))
        build(w)
        Files.write(new File(tmp, "key.txt").toPath, key.getBytes(StandardCharsets.UTF_8))
        w.metaMap("__format") = FormatVersion
        writeMeta(tmp, w.metaMap)
        Files.write(new File(tmp, "_OK").toPath, Array.emptyByteArray)
      } catch { case e: Throwable => deleteRec(tmp); throw e }
      builds.incrementAndGet()
      if (!completed(slot)) {
        deleteRec(slot)
        try Files.move(tmp.toPath, slot.toPath, StandardCopyOption.ATOMIC_MOVE)
        catch {
          case _: java.nio.file.FileSystemException if completed(slot) =>
            deleteRec(tmp) // concurrent builder won the rename; serve its slot
        }
      } else deleteRec(tmp)
    }
    if (!completed(slot)) buildSlot()
    // serve-time touch: _OK's mtime becomes "last used", the signal
    // retentionSweep ages out — a slot served daily never expires, a
    // stranded one (corpus fingerprint moved on) does
    touch(slot)
    try load(new Slot(Some(slot), spark, None))
    catch {
      // NonFatal ONLY (round-18 ADVICE): an OutOfMemoryError or an
      // interrupt is not slot corruption — quarantine-deleting a
      // healthy slot and re-running the build under the same fatal
      // condition amplifies the fault and swallows interrupt status.
      // Fatals and interrupts propagate; decode/IO failures retry.
      case scala.util.control.NonFatal(_) =>
        // `_OK` proves the build COMPLETED, not that the parts are
        // intact — a part deleted or truncated out-of-band otherwise
        // poisons the key forever. The retry is unconditional on the
        // slot's state: a slot REMOVED between the completed() check
        // and load() (a concurrent retentionSweep racing a server is
        // exactly this window) is as self-healable as a corrupt one,
        // and gating on a stale `_OK` would propagate that race as a
        // serve failure. Quarantine-delete and rebuild ONCE; a second
        // failure propagates (the fault isn't the slot).
        deleteRec(slot)
        buildSlot()
        load(new Slot(Some(slot), spark, None))
    }
  }

  /** Storage-lifecycle sweep — the stored-artifact twin of
    * [[graft.pipeline.Pipeline.retentionSweep]] (the reference's 32-day
    * bucket lifecycle, main.tf:72-79). Slots accumulate forever
    * otherwise: every corpus regeneration re-fingerprints its keys and
    * strands the old slots on disk. Deletes (a) completed slots whose
    * `_OK` was last TOUCHED (served or built — [[loadOrBuild]] touches
    * on every serve) before the cutoff, (b) orphaned `.tmp-*` partials
    * and never-completed slot dirs older than the cutoff (crashed
    * builders from processes that won't return). Returns deleted dir
    * names. `now` is injected so specs can plant ages without sleeping.
    */
  def retentionSweep(
      spark: SparkSession,
      maxAgeDays: Int = 32,
      now: java.time.Instant = java.time.Instant.now()): Seq[String] = {
    val root = rootDir(spark)
    if (!root.isDirectory) return Seq.empty
    val cutoff = now.minus(java.time.Duration.ofDays(maxAgeDays.toLong)).toEpochMilli
    val all = Option(root.listFiles()).getOrElse(Array.empty[File]).toSeq
    // every user's marker dirs (touch()'s foreign-owner fallback) —
    // NOT slot candidates themselves
    val markerDirs = all.filter(d => d.isDirectory && d.getName.startsWith("_used-"))
    def newestMarker(slotName: String): Long =
      markerDirs.map { md =>
        val f = new File(md, slotName)
        if (f.isFile) f.lastModified() else 0L
      }.foldLeft(0L)(math.max)
    all
      .filter(d => d.isDirectory && !d.getName.startsWith("_used-"))
      .filter { d =>
        val ok = new File(d, "_OK")
        val used = new File(d, "_USED") // touch()'s mtime-rejected fallback
        val lastUsed =
          if (ok.isFile)
            math.max(
              math.max(ok.lastModified(), if (used.isFile) used.lastModified() else 0L),
              newestMarker(d.getName))
          else d.lastModified()
        lastUsed < cutoff
      }
      .map { d =>
        deleteRec(d)
        // drop this user's stale marker with the slot (other users'
        // dirs may be unwritable — best-effort)
        try Files.deleteIfExists(new File(userMarkerDir(root), d.getName).toPath)
        catch { case _: java.io.IOException => () }
        d.getName
      }
  }

  /** Per-user last-used sidecar directory under the store root —
    * `_used-<user>/<slotName>` marker files. The THIRD touch signal:
    * when a slot is owned by another user under a shared
    * GRAFT_ARTIFACTS_DIR, BOTH the `_OK` mtime update AND a `_USED`
    * write INSIDE the slot are typically rejected (the slot dir itself
    * is unwritable) — the round-18 ADVICE gap. The store root, by
    * contrast, is shared-writable in that deployment (every user
    * builds slots into it), so a per-user subdirectory is always
    * writable by its owner; [[retentionSweep]] reads the newest of
    * `_OK`/`_USED`/every user's marker for the slot name.
    */
  private def userMarkerDir(root: File): File =
    new File(root, "_used-" +
      System.getProperty("user.name", "unknown").replaceAll("[^A-Za-z0-9._-]", "_"))

  private def touch(slot: File): Unit = {
    val ok = new File(slot, "_OK")
    // setLastModified returns false where the filesystem (or another
    // user's ownership of the slot under a shared GRAFT_ARTIFACTS_DIR)
    // rejects mtime updates — silently losing the last-used signal
    // would let retentionSweep delete actively-served slots. Fallback
    // chain: (1) a `_USED` sidecar inside the slot (fresh write stamps
    // its own mtime); (2) if the slot dir itself is unwritable — the
    // foreign-owner case, where (1) fails for the same reason the
    // mtime update did — a marker in the CURRENT USER's sidecar dir
    // under the store root ([[userMarkerDir]]). Only when all three
    // fail is the signal lost, and that is logged rather than
    // swallowed. Best-effort throughout (a slot swept mid-touch must
    // not fail the serve — the load-retry above handles it).
    try {
      if (ok.isFile && !ok.setLastModified(System.currentTimeMillis())) {
        try {
          Files.write(new File(slot, "_USED").toPath, Array.emptyByteArray)
          ()
        } catch {
          case _: java.io.IOException =>
            val dir = userMarkerDir(slot.getParentFile)
            dir.mkdirs()
            Files.write(new File(dir, slot.getName).toPath, Array.emptyByteArray)
            ()
        }
      }
    } catch {
      case e: java.io.IOException =>
        // every signal path failed: say so — a silent miss here is a
        // slot retentionSweep may reap while it is actively served
        System.err.println(
          s"[graft] WARN: could not record last-used for artifact slot " +
            s"${slot.getName} (${e.getMessage}) — retention may age it out")
    }
  }

  private def completed(slot: File): Boolean = new File(slot, "_OK").isFile

  private def writeMeta(dir: File, m: scala.collection.Map[String, String]): Unit = {
    val props = new java.util.Properties()
    m.foreach { case (k, v) => props.setProperty(k, v) }
    val out = Files.newOutputStream(new File(dir, "meta.properties").toPath)
    try props.store(out, null) finally out.close()
  }

  private def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteRec)
    Files.deleteIfExists(f.toPath); ()
  }

  // ---- scalar codebook codec -------------------------------------------
  // Nested Seq[Seq[Seq[Double]]] (PQ: subspace → centroid → dims) and
  // Seq[Seq[Double]] (IVF: centroid → dims) as line-oriented text.
  // Double.toString emits the shortest representation that parses back
  // to the SAME bits (Java spec), so the round trip is exact.

  private[graft] def encodeBooks(books: Seq[Seq[Seq[Double]]]): String =
    books.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (cent, c) =>
        s"$j\t$c\t${cent.map(_.toString).mkString(",")}"
      }
    }.mkString("\n")

  private[graft] def decodeBooks(s: String): Seq[Seq[Seq[Double]]] = {
    if (s.isEmpty) return Seq.empty
    val rows = s.split("\n").toSeq.map { line =>
      val Array(j, c, vs) = line.split("\t", 3)
      (j.toInt, c.toInt, if (vs.isEmpty) Seq.empty[Double] else vs.split(",").toSeq.map(_.toDouble))
    }
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, g) => g.sortBy(_._2).map(_._3) }
  }
}
