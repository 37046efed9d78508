package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.SimHash
import org.apache.spark.unsafe.types.UTF8String

/** MinHash-LSH recall vs exact Jaccard, SimHash properties, and the custom
  * simhash64 Catalyst expression (interpreted + codegen paths).
  */
class DedupSpec extends SparkSpec {

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat sleeps on the warm mat near the door"

  private def corpus = {
    import spark.implicits._
    Seq(
      (0L, base),
      (1L, base.replace("warm", "cold")), // near-dup of 0
      (2L, base), // exact dup of 0
      (3L, "completely different text about spark query engines and shuffles"),
      (4L, "another unrelated document mentioning parquet files and predicate pushdown"))
      .toDF("doc_id", "text")
  }

  test("line-dedup packed keep-order ids cannot collide: seg counts sit far under the stride") {
    // mirror of ChunkSpec's chunk-id gate: q_line_dedup's min() runs over
    // doc_id·2^SegIdxBits + seg_idx, so a doc approaching 2^SegIdxBits
    // segments would silently corrupt first-occurrence attribution. 16×
    // headroom trips this test before any silent wraparound.
    val maxSegs = graft.core.Tables(spark, sf(), "documents")
      .select(expr("greatest(CAST(ceil(size(split(text, ' ')) / 5.0) AS INT), 1)").as("m"))
      .agg(max(col("m"))).head().getInt(0).toLong
    assert(maxSegs * 16 < (1L << DedupQueries.SegIdxBits),
      s"max segment count $maxSegs approaches the 2^${DedupQueries.SegIdxBits} seg-idx stride")
  }

  test("minhashPairs finds exact and near dups, not unrelated pairs") {
    val pairs = Dedup
      .minhashPairs(corpus, "doc_id", "text", minJaccard = 0.4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs.contains((0L, 2L)), "exact dup must collide in every band")
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 2L)), "near dup should collide")
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(3L) || Set(a, b).contains(4L) },
      "unrelated docs must not pair")
  }

  test("exact duplicate has estimated jaccard 1.0") {
    val est = Dedup
      .minhashPairs(corpus, "doc_id", "text")
      .filter(col("a_id") === 0 && col("b_id") === 2)
      .select("est_jaccard")
      .collect()
    assert(est.nonEmpty && est.head.getDouble(0) == 1.0)
  }

  test("ngramJaccardExpr: identical → 1.0, disjoint → 0.0") {
    import spark.implicits._
    val df = Seq(("abcabc", "abcabc"), ("aaaa", "zzzz")).toDF("a_text", "b_text")
    val jacs = df.select(Dedup.ngramJaccardExpr(3, "a_text", "b_text").as("j"))
      .collect().map(_.getDouble(0)).toSeq
    assert(jacs == Seq(1.0, 0.0))
  }

  test("SimHash: equal texts → equal fingerprints; near texts → small hamming") {
    val a = SimHash.compute(UTF8String.fromString(base))
    val a2 = SimHash.compute(UTF8String.fromString(base))
    val near = SimHash.compute(UTF8String.fromString(base.replace("warm", "cold")))
    val far = SimHash.compute(UTF8String.fromString("totally different words entirely unrelated"))
    assert(a == a2)
    assert(SimHash.hamming(a, near) <= 16)
    assert(SimHash.hamming(a, far) > 16)
  }

  test("simhash64 expression (codegen path) matches the Scala function") {
    import spark.implicits._
    val texts = Seq(base, "one two three", "", "  spaced   out  ")
    val viaExpr = texts.toDF("text")
      .select(expr("simhash64(text)").as("h"))
      .collect().map(_.getLong(0)).toSeq
    assert(viaExpr == texts.map(t => SimHash.compute(UTF8String.fromString(t))))
  }

  test("connectedComponents: chain merges transitively, singleton stays own label") {
    import spark.implicits._
    // 1-2-3 is a path (merges to 1 only via transitive propagation),
    // 4-5 a pair, 6 a singleton.
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val comp = Dedup.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("connectedComponents star delegation is label-equal to the hash-min baseline") {
    // star contraction and min-label propagation compute the same
    // deterministic component-minimum labeling, pinned here on a
    // deliberately awkward graph: a 20-link chain (the diameter shape
    // star contraction exists for), a clique, a pair sharing ids across
    // decades, and singletons.
    import spark.implicits._
    val chain = (100L until 120L).map(i => (i, i + 1))
    val clique = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val edges = (chain ++ clique ++ Seq((50L, 70L))).toDF("a", "b")
    val nodes = ((0L to 3L) ++ (100L to 120L) ++ Seq(50L, 70L, 999L)).toDF("id")
    val star = Dedup.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ccConverged propagates src → dst only: symmetrize the pairs
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))
    val (labels, _, _, converged) =
      graft.queries.Graph.ccConverged(nodes.select(col("id").as("pk")), sym)
    assert(converged)
    val hm = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == hm, "star kernel diverged from the hash-min baseline")
    assert((100L to 120L).forall(star(_) == 100L) && star(999L) == 999L && star(70L) == 50L)
  }

  test("minhash LSH recall vs exact 3-gram jaccard on real documents (sf0.001)") {
    val docs = graft.core.Tables(spark, sf(), "documents").select("doc_id", "text")
    // ground truth: exact jaccard >= 0.6 among prefix-blocked candidates
    val blocked = docs.withColumn("blk", substring(col("text"), 1, 30))
    val a = blocked.select(col("doc_id").as("a_id"), col("blk"), col("text").as("a_text"))
    val b = blocked.select(col("doc_id").as("b_id"), col("blk"), col("text").as("b_text"))
    val truth = a.join(b, "blk")
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), Dedup.ngramJaccardExpr(3, "a_text", "b_text").as("j"))
      .filter(col("j") >= 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.minhashPairs(docs, "doc_id", "text", minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (truth.nonEmpty) {
      val recall = truth.count(found.contains).toDouble / truth.size
      assert(recall >= 0.5, s"recall $recall over ${truth.size} true pairs")
    }
  }

  test("served minhash pair set equals the inline build exactly across the registry boundary") {
    // same deterministic hash family on both sides, so the stored-artifact
    // sweep must reproduce minhashPairs SET-EXACTLY, est_jaccard doubles
    // included — a stale or mis-keyed registry is a red assert here, not
    // a silent drift (the q_bm25_served cross-check pattern).
    val docs = graft.core.Tables(spark, sf(), "documents").select("doc_id", "text")
    val inline = Dedup.minhashPairs(docs, "doc_id", "text", minJaccard = 0.3)
    val served =
      Dedup.minhashPairsServed(Dedup.minhashIndexShared(spark, sf()), minJaccard = 0.3)
    assert(served.count() > 0, "served sweep returned no pairs — fixture degenerate?")
    assert(inline.exceptAll(served).count() == 0 && served.exceptAll(inline).count() == 0,
      "served pair set diverged from the inline build")
  }

  test("pair gate flags a degenerate all-pairs candidate generator") {
    import spark.implicits._
    // 30 docs → all-pairs = 435 > 10×30: perfect recall, but the
    // sub-quadratic ceiling must flip — this is what stops a collapsed
    // LSH (everything collides) from sailing through the recall floor
    val ids = (1L to 30L)
    val truth = Seq((1L, 2L), (3L, 4L)).toDF("a_id", "b_id")
    val allPairs = (for (a <- ids; b <- ids if a < b) yield (a, b)).toDF("a_id", "b_id")
    val docs = ids.toDF("doc_id")
    val degenerate = DedupQueries.pairRecallGate(truth, allPairs, docs, 0.5).collect().head
    assert(degenerate.getAs[Boolean]("recall_ge_floor"))
    assert(!degenerate.getAs[Boolean]("candidates_subquadratic"),
      "all-pairs candidates were not flagged")
    // a healthy banded generator (the truth itself) passes both flags
    val healthy = DedupQueries.pairRecallGate(truth, truth, docs, 0.5).collect().head
    assert(healthy.getAs[Boolean]("recall_ge_floor") &&
      healthy.getAs[Boolean]("candidates_subquadratic"))
  }

  test("graft_minhash expression signatures are BIT-IDENTICAL to the explode→agg plan") {
    // The serving path switched to the custom codegen expression; every
    // downstream band hash and recall gate assumes the signatures did not
    // change. Compare both paths on real documents, element by element.
    val docs = graft.core.Tables(spark, sf(), "documents").select("doc_id", "text")
    def sigs(useExpr: Boolean) = {
      spark.conf.set("graft.minhash.expr", useExpr.toString)
      try Dedup.minhashSignatures(docs, "doc_id", "text", shingleK = 5, nHashes = 32)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      finally spark.conf.unset("graft.minhash.expr")
    }
    val viaExpr = sigs(useExpr = true)
    val viaAgg = sigs(useExpr = false)
    assert(viaExpr.keySet == viaAgg.keySet)
    viaAgg.foreach { case (id, sig) =>
      assert(viaExpr(id) == sig, s"signature mismatch for doc $id")
    }
    // empty shingle array → null signature (mirrors explode dropping the doc)
    import spark.implicits._
    val empty = Seq(Seq.empty[String]).toDF("arr")
      .select(expr("graft_minhash(arr, 4)").as("sig")).collect()
    assert(empty.head.isNullAt(0))
  }

  test("null-text docs are dropped identically by both signature paths") {
    // Pre-round-9 the expr path emitted a null-sig row for null text while
    // the agg path kept a degenerate one — and null sigs band to identical
    // hashes, piling every null doc into one quadratic LSH bucket. Both
    // paths must now drop them, row-identically.
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, null.asInstanceOf[String]),
      (3L, "the quick brown fox jumps over the lazy dog"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    def sigs(useExpr: Boolean) = {
      spark.conf.set("graft.minhash.expr", useExpr.toString)
      try Dedup.minhashSignatures(docs, "doc_id", "text", shingleK = 5, nHashes = 8)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      finally spark.conf.unset("graft.minhash.expr")
    }
    val viaExpr = sigs(useExpr = true)
    val viaAgg = sigs(useExpr = false)
    assert(viaExpr.keySet == Set(1L, 3L), s"expr path kept ${viaExpr.keySet}")
    assert(viaExpr == viaAgg, "paths diverged on a null-text corpus")
    // and the pair generator emits no null-bucket pairs
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", minJaccard = 0.3)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 3L)), s"unexpected pairs $pairs")
  }

  test("prefixJaccardPairs is COMPLETE vs brute-force all-pairs (sf0.001)") {
    // The prefix filter's whole claim is zero missed pairs — check it
    // against an independent Spark brute force (ngramJaccardExpr over the
    // full cross product), not just the DuckDB oracle. 500 docs → 124k
    // pairs, fine at test scale; the prefix path never materializes them.
    val docs = graft.core.Tables(spark, sf(), "documents").select(col("doc_id"), col("text"))
    val got = Dedup.prefixJaccardPairs(docs, "doc_id", "text", k = 5, tauNum = 3, tauDen = 5)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = docs.select(col("doc_id").as("a_id"), col("text").as("a_t"))
    val b = docs.select(col("doc_id").as("b_id"), col("text").as("b_t"))
    val want = a.crossJoin(b)
      .filter(col("a_id") < col("b_id"))
      .filter(Dedup.ngramJaccardExpr(5, "a_t", "b_t") >= 0.6)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    assert(want.nonEmpty, "fixture should contain planted near-dup pairs")
  }

  test("prefixJaccardPairs completeness holds on adversarial random corpora") {
    // Seeded-random corpora from a 4-letter alphabet: almost every gram
    // collides, lengths vary below/around the shingle size, and many
    // pairs sit exactly at the threshold — the regime where the length
    // bound, the positional filter's pre-match term, and the rational
    // prefix ceiling would each leak pairs if they were one off.
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val alphabet = "abcd "
    for (trial <- 0 until 3; (tn, td) <- Seq((1, 2), (3, 5))) {
      val docs = (0 until 40).map { i =>
        val len = 2 + rnd.nextInt(25)
        (i.toLong, (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
      }
      // plant exact dups and one-char edits on top of the noise
      val planted = docs.take(5).map { case (id, t) => (id + 1000L, t) } ++
        docs.slice(5, 10).map { case (id, t) => (id + 2000L, t + "a") }
      val df = (docs ++ planted).toDF("doc_id", "text")
      val got = Dedup.prefixJaccardPairs(df, "doc_id", "text", k = 3, tauNum = tn, tauDen = td)
        .select(col("a_id"), col("b_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val a = df.select(col("doc_id").as("a_id"), col("text").as("a_t"))
      val b = df.select(col("doc_id").as("b_id"), col("text").as("b_t"))
      val want = a.crossJoin(b)
        .filter(col("a_id") < col("b_id"))
        .filter(Dedup.ngramJaccardExpr(3, "a_t", "b_t") >= lit(tn.toDouble / td))
        .select(col("a_id"), col("b_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want,
        s"trial=$trial tau=$tn/$td missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
      assert(want.nonEmpty, s"trial=$trial tau=$tn/$td produced no true pairs to check")
    }
  }

  test("prefix-family hybrid is COMPLETE under every df-cap regime (pure cheap / mixed / pure pool)") {
    // graft.prefix.dfcap forces the round-9 two-path split: a huge cap
    // empties the pool (pure PPJoin), cap=0 pools every doc (pure
    // size-bucketed fallback), and a small cap exercises the union +
    // cheap/pool disjointness argument. All three must equal the brute
    // force EXACTLY, for both the Jaccard and the containment operator —
    // the completeness proof is per-path, so a leak in either path or in
    // the pooled-pair exclusion shows here.
    import spark.implicits._
    def gramsSql(k: Int, c: String) =
      s"array_distinct(transform(sequence(1, greatest(1, length($c) - ${k - 1})), i -> substring($c, i, $k)))"
    val rnd = new scala.util.Random(7)
    val alphabet = "abcd "
    val docs = (0 until 50).map { i =>
      val len = 2 + rnd.nextInt(30)
      (i.toLong, (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    } ++ (0 until 5).map(i => (1000L + i, "abcab dabcd abc"))
    val df = docs.toDF("doc_id", "text")
    val a = df.select(col("doc_id").as("a_id"), col("text").as("a_t"))
    val b = df.select(col("doc_id").as("b_id"), col("text").as("b_t"))
    val wantJac = a.crossJoin(b)
      .filter(col("a_id") < col("b_id"))
      .filter(Dedup.ngramJaccardExpr(3, "a_t", "b_t") >= lit(0.6))
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val inter = expr(
      "size(array_intersect(" + gramsSql(3, "a_t") + ", " + gramsSql(3, "b_t") + "))")
    val wantCon = a.crossJoin(b)
      .filter(col("a_id") =!= col("b_id"))
      .filter(inter * 5 >= expr("size(" + gramsSql(3, "a_t") + ")") * 4)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wantJac.nonEmpty && wantCon.nonEmpty)
    for (cap <- Seq("1000000", "0", "3")) {
      spark.conf.set("graft.prefix.dfcap", cap)
      try {
        val gotJac = Dedup.prefixJaccardPairs(df, "doc_id", "text", k = 3, tauNum = 3, tauDen = 5)
          .select(col("a_id"), col("b_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(gotJac == wantJac,
          s"cap=$cap jaccard missed=${(wantJac -- gotJac).take(5)} extra=${(gotJac -- wantJac).take(5)}")
        val gotCon = Dedup.containmentPairs(df, "doc_id", "text", k = 3, tauNum = 4, tauDen = 5)
          .select(col("a_id"), col("b_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(gotCon == wantCon,
          s"cap=$cap containment missed=${(wantCon -- gotCon).take(5)} extra=${(gotCon -- wantCon).take(5)}")
      } finally spark.conf.unset("graft.prefix.dfcap")
    }
  }

  test("exact-substr spans: planted 30-token slices come back as single maximal spans") {
    val rows = graft.Registry.byName("q_exact_substr_spans").run(spark, sf()).collect()
    val planted = rows.filter(r =>
      r.getAs[Long]("b_id") == r.getAs[Long]("a_id") + 3000000L && r.getAs[Long]("a_id") % 7 == 0)
    assert(planted.nonEmpty, "no planted clone pairs surfaced")
    // a full-length planted slice is tokens 4..33 of its source: ONE
    // maximal span, 30 tokens, at source offset 3 / clone offset 0 —
    // run-merging must not fragment it and must not extend it
    val full = planted.filter(_.getAs[Long]("span_tokens") == 30L)
    assert(full.nonEmpty, "no full 30-token planted span found")
    full.foreach { r =>
      assert(r.getAs[Long]("start_a") == 3L && r.getAs[Long]("start_b") == 0L,
        s"span misplaced: $r")
    }
    // maximality: no planted pair may report two spans on the same diagonal
    val frag = planted.groupBy(r => (r.getAs[Long]("a_id"),
      r.getAs[Long]("start_a") - r.getAs[Long]("start_b")))
      .filter(_._2.length > 1)
    assert(frag.isEmpty, s"fragmented diagonals: ${frag.keys.take(3)}")
  }

  test("incremental LSH banding is lossless on random corpora") {
    // The q_dedup_incremental invariant, swept beyond the fixture: on
    // seeded-random corpora with planted dups, delta-only banding probed
    // against the full index must find EXACTLY the full recompute's
    // delta-involving pairs — any probe/normalization/threshold slip
    // shows up as set inequality.
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val alphabet = "abcdef "
    for (trial <- 0 until 3) {
      val docs = (0 until 60).map { i =>
        val len = 8 + rnd.nextInt(40)
        (i.toLong, (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
      }
      val planted = docs.take(8).map { case (id, t) => (id + 1000L, t) }
      val df = (docs ++ planted).toDF("doc_id", "text")
      val isDelta = col("doc_id") % 3 === 0
      val incr = Dedup
        .incrementalMinhashPairs(df, "doc_id", "text", isDelta, minJaccard = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val full = Dedup.minhashPairs(df, "doc_id", "text", minJaccard = 0.3)
        .filter(col("a_id") % 3 === 0 || col("b_id") % 3 === 0)
        .select(col("a_id"), col("b_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(incr == full,
        s"trial=$trial missed=${(full -- incr).take(5)} extra=${(incr -- full).take(5)}")
      assert(full.nonEmpty, s"trial=$trial produced no delta pairs to check")
    }
  }

  // |grams(a) ∩ grams(b)| / |grams(a)| as a raw expression — the brute-force
  // truth the asymmetric prefix filter must reproduce exactly
  private def containmentExpr(k: Int, a: String, b: String) = {
    def grams(c: String) =
      s"array_distinct(transform(sequence(1, greatest(1, length($c) - ${k - 1})), i -> substring($c, i, $k)))"
    expr(
      s"CAST(size(array_intersect(${grams(a)}, ${grams(b)})) AS DOUBLE) / size(${grams(a)})")
  }

  test("containmentPairs is COMPLETE vs brute-force directional all-pairs (sf0.001)") {
    val docs = graft.core.Tables(spark, sf(), "documents").select(col("doc_id"), col("text"))
    val got = Dedup.containmentPairs(docs, "doc_id", "text", k = 5, tauNum = 4, tauDen = 5)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = docs.select(col("doc_id").as("a_id"), col("text").as("a_t"))
    val b = docs.select(col("doc_id").as("b_id"), col("text").as("b_t"))
    val want = a.crossJoin(b)
      .filter(col("a_id") =!= col("b_id"))
      .filter(containmentExpr(5, "a_t", "b_t") >= 0.8)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    assert(want.nonEmpty, "fixture should contain planted containment pairs")
  }

  test("containmentPairs finds the snippet-inside-superset pairs Jaccard misses") {
    // The operator's reason to exist: a short doc embedded verbatim in a
    // much longer one has high containment but low Jaccard. Also the
    // adversarial-random sweep from the Jaccard test, run directionally.
    import spark.implicits._
    val long = base + " and then a very long appendix about storage formats " +
      "row groups page indexes bloom filters and dictionary encodings"
    val snip = Seq((0L, base), (1L, long)).toDF("doc_id", "text")
    val dirs = Dedup.containmentPairs(snip, "doc_id", "text", k = 5, tauNum = 4, tauDen = 5)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dirs.contains((0L, 1L)), "snippet→superset containment missed")
    assert(!dirs.contains((1L, 0L)), "superset is not contained in the snippet")
    val rnd = new scala.util.Random(7)
    val alphabet = "abcd "
    for (trial <- 0 until 2) {
      val docs = (0 until 40).map { i =>
        val len = 2 + rnd.nextInt(25)
        (i.toLong, (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
      }
      val planted = docs.take(5).map { case (id, t) => (id + 1000L, t + " xyz") }
      val df = (docs ++ planted).toDF("doc_id", "text")
      val got = Dedup.containmentPairs(df, "doc_id", "text", k = 3, tauNum = 3, tauDen = 4)
        .select(col("a_id"), col("b_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val a = df.select(col("doc_id").as("a_id"), col("text").as("a_t"))
      val b = df.select(col("doc_id").as("b_id"), col("text").as("b_t"))
      val want = a.crossJoin(b)
        .filter(col("a_id") =!= col("b_id"))
        .filter(containmentExpr(3, "a_t", "b_t") >= lit(3.0 / 4))
        .select(col("a_id"), col("b_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want,
        s"trial=$trial missed=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
      assert(want.nonEmpty, s"trial=$trial produced no true pairs to check")
    }
  }
}
