package graft.ext

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q
import graft.core.Tables

/** Temporal segmentation of multimodal payloads — the clip-extraction
  * preprocessing step of a video/audio training-data pipeline:
  *
  *   - video: shot-boundary (scene-cut) detection — per-frame luma dHash
  *     over real Y4M parsing, a cut wherever consecutive frames' hashes
  *     sit ≥ 16 hamming bits apart, scenes = runs between cuts;
  *   - audio: activity segmentation — per-window peak amplitude over
  *     real 16-bit PCM parsing, active/silent runs rolled up to segments
  *     (the voice-activity-detection shape: training pipelines cut
  *     speech corpora on silence).
  *
  * Both follow the multimodal fixture discipline ([[MultimodalQueries]],
  * [[MediaCodec]]): payloads are spec-valid containers whose SEGMENT
  * STRUCTURE is an arithmetic function of doc_id, the Spark side decodes
  * the actual bytes (builder and parser must agree on the container
  * layout), and the oracle re-derives the planted structure — so the
  * row/hash differential covers decode, hashing/peak extraction, and
  * the run-length segmentation end-to-end. Detection is EXACT by
  * construction, not statistically: within a shot the only variation is
  * a uniform brightness jitter dHash is provably invariant to (hamming
  * 0), across a boundary the ramp direction flips every pooled
  * comparison (hamming 64); audio amplitudes sit 10× apart across the
  * activity threshold ([[MediaSegSpec]] measures both margins on the
  * real fixture).
  *
  * Scale shape: decode + hash/peak is a narrow per-row kernel inside
  * mapPartitions (the codec tier's justified imperative island); the
  * lag/running-sum windows partition on the media id — frame and window
  * counts per item are container-bounded, so no partition outgrows an
  * executor at any corpus size — and the segment rollup is an ordinary
  * hash aggregate on (id, segment). The documented path past the
  * per-item bound (hour-long videos, where one id's frames would no
  * longer fit a partition): range-partition on (id, frame_bucket) with
  * each bucket's first frame duplicated into its predecessor bucket, so
  * every consecutive-frame comparison is local to exactly one bucket
  * and the running cut-count becomes the two-pass prefix-sum
  * `core/Ranks.globalIndex` already implements for dictionary ranks.
  */
object MediaSegQueries {

  /** The raw shot-structured payload for video `id`: 2 + id%4 shots,
    * shot s running 2 + (id+s)%3 frames — the planted geometry the
    * fixture, the streaming-twin staging and q_scene_cuts' oracle SQL
    * share.
    */
  private[graft] def videoPayload(id: Long): Array[Byte] = {
    val nShots = 2 + (id % 4).toInt
    MediaCodec.buildShotY4m(
      16 + (id % 4).toInt * 8,
      8 + (id % 2).toInt * 8,
      (0 until nShots).map(sh => 2 + ((id + sh) % 3).toInt),
      id)
  }

  /** (vid, payload) rows for the sf corpus's video items — what an
    * ingest pipeline's arrivals look like ([[graft.streaming.MediaSegStream]]
    * stages these as its stream source).
    */
  def videoPayloads(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Tables(s, d, "documents")
      .select(col("doc_id")).filter(col("doc_id") % 3 === 2).as[Long]
      .mapPartitions(_.map(id => (id, videoPayload(id))))
      .toDF("vid", "payload")
  }

  /** Per-frame luma hashes for the planted shot fixture. With 16× the
    * frames per video the scene chain ran 29.8 → 233 kframes/s: it is
    * job-fixed-cost bound, not window bound (PLANS.md, "Media tier scale
    * row").
    */
  def frameHashes(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val vids = Tables(s, d, "documents")
      .select(col("doc_id")).filter(col("doc_id") % 3 === 2).as[Long]
    vids.mapPartitions { it =>
      it.flatMap { id =>
        // build → parse real bytes: the differential pins the round-trip
        val (pw, ph, frames) =
          MediaCodec.lumaFrames(videoPayload(id)).get
        frames.iterator.zipWithIndex.map { case (luma, f) =>
          (id, f, Phash.dHashLuma(pw, ph, luma))
        }
      }
    }.toDF("vid", "frame_idx", "fhash")
  }

  /** Cut detection + run-length scene rollup over (vid, frame_idx,
    * fhash) rows.
    */
  def sceneChain(hashed: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val byFrame = Window.partitionBy(col("vid")).orderBy(col("frame_idx"))
    hashed
      .withColumn("prev", lag(col("fhash"), 1).over(byFrame))
      .withColumn(
        "is_cut",
        (col("prev").isNotNull && expr("bit_count(fhash ^ prev)") >= 16).cast("int"))
      .withColumn("scene_id", sum(col("is_cut")).over(byFrame).cast("int"))
      .groupBy(col("vid"), col("scene_id"))
      .agg(
        min(col("frame_idx")).cast("int").as("start_frame"),
        count(lit(1)).as("n_frames"))
      .orderBy("vid", "scene_id")
  }

  /** The raw activity-structured payload for audio item `id`. */
  private[graft] def audioPayload(id: Long): Array[Byte] = {
    val lens = (0 until 3 + (id % 3).toInt).map(sc => 2 + ((id + sc) % 3).toInt)
    MediaCodec.buildActivityWav(lens, 160, 16000, id)
  }

  /** (aid, payload) rows for the sf corpus's audio items — the audio
    * staging source for [[graft.streaming.MediaSegStream]].
    */
  def audioPayloads(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Tables(s, d, "documents")
      .select(col("doc_id")).filter(col("doc_id") % 3 === 1).as[Long]
      .mapPartitions(_.map(id => (id, audioPayload(id))))
      .toDF("aid", "payload")
  }

  /** Per-window PCM peaks for the planted activity fixture. */
  def windowPeaks(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val auds = Tables(s, d, "documents")
      .select(col("doc_id")).filter(col("doc_id") % 3 === 1).as[Long]
    auds.mapPartitions { it =>
      it.flatMap { id =>
        val pcm = MediaCodec.pcmSamples(audioPayload(id)).get
        (0 until pcm.length / 160).iterator.map { wi =>
          var p = 0
          var i = wi * 160
          while (i < (wi + 1) * 160) {
            val a = math.abs(pcm(i).toInt)
            if (a > p) p = a
            i += 1
          }
          (id, wi, p)
        }
      }
    }.toDF("aid", "w_idx", "peak")
  }

  /** Threshold + contiguous-run segment rollup over (aid, w_idx, peak)
    * rows.
    */
  def activityChain(peaks: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val byWindow = Window.partitionBy(col("aid")).orderBy(col("w_idx"))
    peaks
      .withColumn("is_active", col("peak") >= 1000)
      .withColumn(
        "is_new",
        (coalesce(lag(col("is_active"), 1).over(byWindow), col("is_active"))
          =!= col("is_active")).cast("int"))
      .withColumn("seg_id", sum(col("is_new")).over(byWindow).cast("int"))
      .groupBy(col("aid"), col("seg_id"))
      .agg(
        first(col("is_active")).as("is_active"),
        min(col("w_idx")).cast("int").as("start_window"),
        count(lit(1)).as("n_windows"),
        max(col("peak")).as("peak"))
      .orderBy("aid", "seg_id")
  }

  val queries: Seq[Q] = Seq(
    Q(
      "q_scene_cuts",
      (s, d) => sceneChain(frameHashes(s, d)),
      // Re-derives the planted shot arithmetic: nShots = 2 + id%4, shot s
      // runs 2 + (id+s)%3 frames; starts = prefix sums. An exact match
      // means every planted boundary was detected and nothing else was.
      Some(
        "WITH v AS (SELECT doc_id AS vid, 2 + CAST(doc_id % 4 AS INTEGER) AS ns " +
          "FROM documents WHERE doc_id % 3 = 2), " +
          "u AS (SELECT vid, CAST(unnest(generate_series(0, ns - 1)) AS INTEGER) AS scene_id FROM v), " +
          "s AS (SELECT vid, scene_id, 2 + CAST((vid + scene_id) % 3 AS INTEGER) AS len FROM u), " +
          "o AS (SELECT vid, scene_id, len, CAST(COALESCE(SUM(len) OVER (PARTITION BY vid " +
          "ORDER BY scene_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INTEGER) AS start_frame FROM s) " +
          "SELECT vid, scene_id, start_frame, CAST(len AS BIGINT) AS n_frames " +
          "FROM o ORDER BY vid, scene_id")
    ),
    Q(
      "q_audio_activity",
      (s, d) => activityChain(windowPeaks(s, d)),
      // Sections alternate active/silent starting active; the per-section
      // amplitude IS each window's exact peak, so the peak column pins
      // the 16-bit little-endian PCM decode bit-for-bit.
      Some(
        "WITH a AS (SELECT doc_id AS aid, 3 + CAST(doc_id % 3 AS INTEGER) AS ns " +
          "FROM documents WHERE doc_id % 3 = 1), " +
          "u AS (SELECT aid, CAST(unnest(generate_series(0, ns - 1)) AS INTEGER) AS seg_id FROM a), " +
          "s AS (SELECT aid, seg_id, 2 + CAST((aid + seg_id) % 3 AS INTEGER) AS len, " +
          "seg_id % 2 = 0 AS is_active, " +
          "CAST(CASE WHEN seg_id % 2 = 0 THEN 2000 + (aid + seg_id) * 37 % 1000 " +
          "ELSE (aid + seg_id) * 13 % 200 END AS INTEGER) AS peak FROM u), " +
          "o AS (SELECT aid, seg_id, is_active, len, peak, " +
          "CAST(COALESCE(SUM(len) OVER (PARTITION BY aid ORDER BY seg_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INTEGER) AS start_window FROM s) " +
          "SELECT aid, seg_id, is_active, start_window, CAST(len AS BIGINT) AS n_windows, peak " +
          "FROM o ORDER BY aid, seg_id")
    )
  )
}
