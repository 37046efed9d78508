package graft

import org.scalatest.funsuite.AnyFunSuite

/** The hot-box criterion arithmetic (round-19 verdict #1: the gate
  * must be unit-tested, not just exercised — BENCH_r19's CPU-only
  * criterion stamped a 2.13× contended run quiet while its own
  * probe_mem spread read 555×). Fixtures below replay the two measured
  * regimes: the quiet closing snapshots (probe_mem 0.017–0.083) and
  * the contended official run (probe_mem up to 9.439).
  */
class BenchGateSpec extends AnyFunSuite with org.scalactic.Tolerance {

  // a quiet 32-core box: p32 ≈ p1, io page-cached ms, mem tens of ms
  private val quietP1 = Seq(0.10, 0.10, 0.11)
  private val quietP32 = Seq(0.11, 0.12, 0.11)
  private val quietIo = Seq(0.004, 0.006, 0.009)
  private val quietMem = Seq(0.017, 0.045, 0.083)

  test("quiet run: every pass quiet, box_hot false, drift false for any min placement") {
    val q = BenchGate.quietFlags(quietP1, quietP32, quietIo, quietMem)
    assert(q == Seq(true, true, true))
    assert(!BenchGate.boxHot(q))
    assert(!BenchGate.drift(Seq(0, 1, 2, 0), q))
  }

  test("r19-shaped run: quiet CPU probes, one mem-burst pass — that pass reads non-quiet") {
    // the official r19 artifact: probe32 under the CPU ceiling on every
    // pass, probe_mem [0.017, ..., 9.439] — the old criterion saw nothing
    val pMem = Seq(0.017, 9.439, 0.4)
    val q = BenchGate.quietFlags(quietP1, quietP32, quietIo, pMem)
    assert(q(0), "the mem-quiet pass stays quiet")
    assert(!q(1), "the 555x-spread pass must read non-quiet")
    assert(!q(2), "0.4 s is over 8 x max(0.017, floor 0.02) = 0.16")
    assert(!BenchGate.boxHot(q), "a quiet pass exists, so the box was not ALWAYS hot")
    // a query whose min landed in the burst pass drifts; one that took
    // its min in the quiet pass does not
    assert(BenchGate.drift(Seq(0, 1), q))
    assert(!BenchGate.drift(Seq(0, 0), q))
  }

  test("uniform mem starvation: spread ~1 but the absolute ceiling trips every pass") {
    val pMem = Seq(9.0, 9.2, 9.4) // spread 1.04 — a spread-only criterion passes this
    val q = BenchGate.quietFlags(quietP1, quietP32, quietIo, pMem)
    assert(q == Seq(false, false, false))
    assert(BenchGate.boxHot(q))
  }

  test("CPU criterion unchanged: probe32 over 1.6 x probe1_min is hot") {
    val q = BenchGate.quietFlags(quietP1, Seq(0.3, 0.35, 0.4), quietIo, quietMem)
    assert(BenchGate.boxHot(q))
  }

  test("io spread: floored denominator ignores page-cache jitter, catches real bursts") {
    // ms-scale jitter under the 0.05 s floor: 0.003 vs 0.04 is a 13x raw
    // spread but both are page-cache noise — all quiet
    val q1 = BenchGate.quietFlags(quietP1, quietP32, Seq(0.003, 0.04, 0.01), quietMem)
    assert(q1 == Seq(true, true, true))
    // a genuine read-path burst: 3.2 s > 8 x max(0.01, 0.05) = 0.4
    val q2 = BenchGate.quietFlags(quietP1, quietP32, Seq(0.01, 3.2, 0.02), quietMem)
    assert(q2 == Seq(true, false, true))
  }

  test("ceiling arithmetic: floors and the mem absolute cap") {
    assert(BenchGate.cpuCeiling(0.10) === 0.16 +- 1e-12)
    assert(BenchGate.memCeiling(0.017) === 0.16 +- 1e-12) // floored at 0.02
    assert(BenchGate.memCeiling(0.5) === 1.0 +- 1e-12) // capped absolutely
    assert(BenchGate.ioCeiling(0.004) === 0.4 +- 1e-12) // floored at 0.05
    assert(BenchGate.ioCeiling(0.2) === 1.6 +- 1e-12)
  }

  test("degenerate inputs: empty run is hot; out-of-range pass index drifts") {
    assert(BenchGate.boxHot(Seq.empty))
    assert(BenchGate.quietFlags(Nil, Nil, Nil, Nil).isEmpty)
    assert(BenchGate.drift(Seq(5), Seq(true, true)))
    assert(BenchGate.drift(Seq(-1), Seq(true)))
  }

  // the frozen v9 stdout line and the detail-only keys after it, in order
  private val V9Keys = Seq(
    "metric", "value", "unit", "samples", "rescue_passes", "protocol",
    "box_hot", "box_drift", "drift_ext", "drift_graph", "drift_split",
    "hot_retry_passes", "ext_retry_passes", "graph_retry_passes", "split_retry_passes",
    "probe_ceiling", "io_ceiling", "mem_ceiling", "probe1_min",
    "probe32_min", "probe32_max", "probe_io_min", "probe_io_max",
    "probe_mem_min", "probe_mem_max", "queries", "total_median", "total_probe_norm",
    "queries_ext", "total_ext", "ext_passes", "queries_graph", "total_graph", "graph_passes",
    "pq_train_sec", "pq_encode_sec", "pq_wide_sec", "sparse_index_sec",
    "split_files", "split_passes", "total_split", "total_split_probe_norm",
    "detail_file", "errors", "sf")
  private val DetailKeys = Seq(
    "note", "probe1_sec", "probe32_sec", "pass_quiet", "probe_io_sec", "probe_mem_sec",
    "queries_median", "mrows_per_sec_split", "queries_probe_norm", "queries_ext_probe_norm",
    "queries_graph_probe_norm", "queries_split_probe_norm", "queries_all", "queries_split",
    "queries_split_all", "queries_ext_all", "queries_graph_all")

  test("render: v9 stdout keys in order, detail = stdout + detail keys, missing build cost is null") {
    import scala.collection.mutable
    import scala.jdk.CollectionConverters._
    def tier(kvs: (String, List[(Double, Int)])*): Bench.Tier = mutable.LinkedHashMap(kvs: _*)
    val msg = "bad \"quote\"\nsecond line"
    val run = Bench.Run(
      sfDir = "/data/sf0.01", detailFile = "detail.json",
      main = tier("q_agg_pricing" -> List((0.5, 0), (0.4, 1), (0.45, 2)), "q_topk" -> List((1.0, 0))),
      split = tier("q_agg_pricing" -> List((0.2, 4)), "q_topk" -> List((0.3, 3), (0.25, 4))),
      ext = tier("q_bm25" -> List((0.6, 5)), "q_gd_train" -> List((0.7, 5))),
      graph = tier("q_kcore" -> List((0.8, 6)), "q_cc_star" -> List((0.9, 6))),
      splitRows = Map("lineitem" -> 400000L, "orders" -> 100000L),
      errors = mutable.LinkedHashMap("ext:q_sparse_cosine" -> msg),
      p1 = Seq(0.10, 0.10, 0.11, 0.10, 0.12, 0.10, 0.11),
      p32 = Seq(0.11, 0.12, 0.11, 0.30, 0.11, 0.12, 0.11),
      pIo = Seq.fill(7)(0.005), pMem = Seq.fill(7)(0.03),
      rescuePasses = 1, hotRetryPasses = 0, splitRetryPasses = 1,
      extRetryPasses = 0, graphRetryPasses = 0,
      pqTrainSec = None, pqEncodeSec = Some(0.25), pqWideSec = Some(0.125),
      sparseIndexSec = Some(1.5))
    val (head, detail) = Bench.render(run)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    def keys(line: String): Seq[String] =
      json.readTree(line).properties().iterator().asScala.map(_.getKey).toList

    assert(!head.contains("\n") && !detail.contains("\n"), "each is ONE line")
    assert(keys(head) == V9Keys)
    assert(detail.startsWith(head.dropRight(1) + ",\"note\":"))
    assert(keys(detail) == V9Keys ++ DetailKeys)
    assert(head.contains("\"pq_train_sec\":null,\"pq_encode_sec\":0.250,"))
    val h = json.readTree(head)
    assert(h.get("pq_train_sec").isNull)
    assert(h.get("errors").get("ext:q_sparse_cosine").asText == msg)
    assert(h.get("protocol").asText == "interleaved-passes-v9")
    assert(head.contains("\"value\":1.400,")) // sum of per-query mins: 0.4 + 1.0
    assert(!h.get("drift_split").asBoolean, "pass 3's probe32 0.30 is hot, but every split min is from pass 4")
    val d = json.readTree(detail)
    assert(d.get("pass_quiet").toString == "[true,true,true,false,true,true,true]")
    assert(d.get("mrows_per_sec_split").get("q_agg_pricing").asDouble == 2.0) // 0.4M rows / 0.2 s
  }
}
