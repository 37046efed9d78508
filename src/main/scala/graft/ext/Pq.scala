package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.ArtifactStore
import graft.plans.TopKPerKey

/** Product quantization (PQ, Jégou et al. 2011 "Product Quantization for
  * Nearest Neighbor Search" shape): split each embedding into M contiguous
  * subvectors and learn an independent k-entry codebook per subspace; a
  * vector is then stored as M small codes (M bytes at k ≤ 256) instead of
  * dim floats — the compression step between int8 scalar quantization
  * ([[EmbedQueries]] q_quantize_embed) and a serving ANN index.
  *
  * Codebooks reuse [[Ivf.train]]'s deterministic k-means (seeded picks,
  * fixed Lloyd rounds), run once per subspace on the sliced corpus. Scale
  * shape: training collects only M×k centroid rows to the driver; encoding
  * is a pure per-row expression against codebook literals (no shuffle);
  * the audit is one tiny hash-agg keyed on subspace id.
  */
object Pq {

  /** Train M codebooks of k entries each over dim/M-sized subvectors.
    * `iters` Lloyd rounds per sub-quantizer (more rounds than the coarse
    * IVF default: sub-codebook quality directly bounds ADC recall).
    *
    * FUSED (round 14): all M sub-quantizers advance together — ONE scan
    * per Lloyd round computes every subspace's assignments and means
    * (the q_kmeans_fused trick applied per subspace), vs the sequential
    * form's M separate Ivf.train loops (M·(iters+1) driver-scheduled
    * jobs; measured ~50 Lloyd jobs ≈ 49 s of fixed cost for the
    * late-interaction PQ path at sf0.1). The per-subspace math is
    * UNCHANGED: same lowest-xxhash64 init picks (the hash is on vec_id,
    * so all M subspaces pick slices of the same k vectors — exactly what
    * the sequential form did), same argmin-first tie-break, same
    * empty-bucket keep-old rule; only the scheduling is fused. The
    * sliced (vec_id, j, subvector) relation is checkpointed once because
    * `corpus` is often a DERIVED relation (tokenVecs → distinct in
    * q_late_interaction_pq) that must not be re-derived every round.
    */
  def train(spark: SparkSession, corpus: DataFrame, m: Int, k: Int, iters: Int = 3): Seq[Seq[Seq[Double]]] = {
    // Materialize the (vec_id, v) relation ONCE (round 22, guide §5):
    // `corpus` is often a derived relation (tokenVecs → distinct for the
    // token books) and three consumers read it — the dim probe, the
    // sliced subRows build, and the init picks — so the un-checkpointed
    // form re-derived the corpus three times per training run.
    val vecs = corpus.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .localCheckpoint(true)
    val dim = vecs
      .select(size(col("v")).as("d")).limit(1).collect().head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val subRows = vecs
      .select(
        col("vec_id"),
        posexplode(array((0 until m).map(j => slice(col("v"), j * sub + 1, sub)): _*))
          .as(Seq("j", "sv")))
      .localCheckpoint(true)
    val initRows = vecs.orderBy(xxhash64(col("vec_id"))).limit(k).collect()
    var books: IndexedSeq[IndexedSeq[Seq[Double]]] = (0 until m).map { j =>
      initRows.map(_.getSeq[Double](1).slice(j * sub, (j + 1) * sub).toIndexedSeq).toIndexedSeq
    }
    for (_ <- 0 until iters) {
      // per-subspace assignment through the codegen argmin kernel (the
      // j-dispatch is an m-way CASE over constant codebooks — same
      // distances, fold order, and first-wins tie-break as the HOF form)
      val bucket = coalesce(books.zipWithIndex.map { case (cb, j) =>
        when(col("j") === j, Ivf.assignExpr(col("sv"), cb))
      }: _*)
      // collect the per-(j, bucket, pos) means THIN (m·k·sub bounded
      // rows — same driver-state class) and assemble the vectors on
      // the driver: the old shape paid a second exchange + aggregate
      // per round just to pivot them into maps (round 22, guide §1.2 —
      // same avg values, one stage fewer per Lloyd round)
      val means = subRows
        .withColumn("bucket", bucket)
        .select(col("j"), col("bucket"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy(col("j"), col("bucket"), col("pos"))
        .agg(avg(col("x")).as("mn"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getInt(1)))
        .map { case (jb, rows) =>
          val byPos = rows.map(r => r.getInt(2) -> r.getDouble(3)).toMap
          jb -> (0 until byPos.size).map(byPos).toIndexedSeq
        }
      // books(j) can hold FEWER than k entries when the corpus has fewer
      // than k vectors (init degrades to one centroid per vector, as the
      // sequential per-subspace form did) — iterate the actual size, not k
      books = (0 until m).map(j =>
        books(j).indices.map(c => means.getOrElse((j, c), books(j)(c))).toIndexedSeq)
    }
    books.map(_.map(_.toSeq).toSeq)
  }

  /** The codebook codec over [[graft.core.ArtifactStore.shared]]: PQ
    * codebooks as a stored artifact (the production PQ shape, e.g.
    * ColBERTv2: codebooks are trained out-of-band and every serving
    * query scores against the stored artifact; round-14 verdict #2).
    * `key` embeds every training hyperparameter (m, k, iters,
    * raw-vs-residual). The books persist as exact-roundtrip text.
    */
  def shared(spark: SparkSession, key: String)(
      trainOnce: => Seq[Seq[Seq[Double]]]): Seq[Seq[Seq[Double]]] =
    ArtifactStore.shared(spark, key) { w =>
      w.text("books", ArtifactStore.encodeBooks(trainOnce))
    } { slot =>
      ArtifactStore.decodeBooks(slot.text("books"))
    }

  /** Encode: one row per (vec_id, subspace) with the assigned code and its
    * exact squared reconstruction error.
    */
  def encode(corpus: DataFrame, books: Seq[Seq[Seq[Double]]]): DataFrame = {
    val dim = books.map(_.head.size).sum
    val sub = dim / books.size
    val v = col("embedding").cast("array<double>")
    // err2 is the squared L2 to the ASSIGNED (= nearest) entry, so the
    // min-distance kernel computes it directly — same fold order as the
    // old select-then-refold form, one pass instead of two
    val perM = books.zipWithIndex.map { case (cb, j) =>
      val subv = slice(col("v"), j * sub + 1, sub)
      struct(
        lit(j).as("m"),
        Ivf.assignExpr(subv, cb).as("code"),
        Ivf.minDist2(subv, cb).as("err2"))
    }
    corpus
      .select(col("vec_id"), v.as("v"))
      .select(col("vec_id"), explode(array(perM: _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.code").as("code"), col("s.err2").as("err2"))
  }

  /** ADC (asymmetric distance computation) top-k — the IVF-PQ serving
    * path: each query precomputes, per subspace, the 16 squared distances
    * from its own subvector to every codebook entry (the "distance
    * table"); a corpus vector's approximate distance is then just M table
    * lookups summed over its stored codes — the original floats are never
    * touched. Plan: queries (with their tables) BROADCAST against the
    * (vec_id, m, code) code table, one lookup expression per row, one
    * (q_id, vec_id) hash-agg, one per-query top-k window. The corpus side
    * carries only codes — at 100 TB that is the entire point of PQ.
    */
  def adcTopK(queries: DataFrame, encoded: DataFrame, books: Seq[Seq[Seq[Double]]], k: Int): DataFrame = {
    val dim = books.map(_.head.size).sum
    val sub = dim / books.size
    val v = col("embedding").cast("array<double>")
    // tables: array over m of array over code of ||q_m - book_m[code]||²
    val tables = array(books.zipWithIndex.map { case (cb, j) =>
      Ivf.dists2All(slice(col("qv"), j * sub + 1, sub), cb)
    }: _*)
    val q = queries
      .select(col("vec_id").as("q_id"), v.as("qv"))
      .withColumn("tables", tables)
      .select(col("q_id"), col("tables"))
    val adist = broadcast(q)
      .join(encoded, col("q_id") =!= col("vec_id"))
      .select(
        col("q_id"), col("vec_id"),
        element_at(element_at(col("tables"), col("m") + 1), col("code") + 1).as("term"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("term")).as("adist2"))
    TopKPerKey.topK(adist, Seq(col("q_id")), Seq(col("adist2").asc, col("vec_id").asc), k, "rank")
      .select(col("q_id"), col("rank"), col("vec_id"), col("adist2"))
  }

  /** Exact L2 re-rank of a (q_id, vec_id) candidate shortlist: joins ONLY
    * the shortlisted pairs back to the original vectors — the exact pass
    * reads |queries| × shortlist vectors, independent of corpus size.
    * Exact distance uses the sequential-fold kernel (graft_dot), so the
    * re-ranked order is deterministic across partitionings.
    */
  def exactRerank(
      cand: DataFrame,
      queries: DataFrame,
      corpus: DataFrame,
      k: Int): DataFrame = {
    val v = col("embedding").cast("array<double>")
    val q = queries.select(col("vec_id").as("q_id"), v.as("qv"))
    val c = corpus.select(col("vec_id"), v.as("cv"))
    // ||q-c||² = q·q + c·c − 2 q·c, all three via the deterministic fold
    val d2 =
      Similarity.dot(col("qv"), col("qv")) + Similarity.dot(col("cv"), col("cv")) -
        lit(2.0) * Similarity.dot(col("qv"), col("cv"))
    val scored = cand
      .select(col("q_id"), col("vec_id"))
      .join(c, Seq("vec_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("vec_id"), d2.as("d2"))
    TopKPerKey.topK(scored, Seq(col("q_id")), Seq(col("d2").asc, col("vec_id").asc), k, "rank")
      .select(col("q_id"), col("rank"), col("vec_id"), col("d2"))
  }

  /** ADC-shortlist → exact re-rank: the serving-quality upgrade over pure
    * ADC. Stage 1 runs [[adcTopK]] for a `shortlist` much larger than k —
    * still codes-only, so the 100 TB corpus scan never touches floats;
    * stage 2 is [[exactRerank]] over the shortlisted pairs only — which is
    * why FAISS-style deployments always re-rank a PQ shortlist. This form
    * still SCANS every stored code per query (corpus-linear); the serving
    * layout that scans only probed cells is [[adcCandidatesIvf]].
    */
  def adcRerankTopK(
      queries: DataFrame,
      encoded: DataFrame,
      books: Seq[Seq[Seq[Double]]],
      corpus: DataFrame,
      k: Int,
      shortlist: Int): DataFrame =
    exactRerank(adcTopK(queries, encoded, books, shortlist), queries, corpus, k)

  /** The IVFPQ storage table (Jégou et al. 2011 §IV; FAISS IVFPQ layout,
    * `by_residual=false` flavor): each vector's coarse IVF cell AND its M
    * PQ codes, computed in ONE narrow map over the corpus — no shuffle,
    * no second scan. Rows are (vec_id, bucket, m, code): the inverted
    * list a query probes, holding codes instead of floats. At 100 TB this
    * table IS the index — partition/cluster it by `bucket` on write and a
    * query's scan touches only its nprobe cells' files.
    */
  def encodeCells(
      corpus: DataFrame,
      books: Seq[Seq[Seq[Double]]],
      coarse: Seq[Seq[Double]]): DataFrame = {
    val dim = books.map(_.head.size).sum
    val sub = dim / books.size
    val v = col("embedding").cast("array<double>")
    val perM = books.zipWithIndex.map { case (cb, j) =>
      val subv = slice(col("v"), j * sub + 1, sub)
      struct(lit(j).as("m"), Ivf.assignExpr(subv, cb).as("code"))
    }
    corpus
      .select(col("vec_id"), v.as("v"))
      .withColumn("bucket", Ivf.assignExpr(col("v"), coarse))
      .select(col("vec_id"), col("bucket"), explode(array(perM: _*)).as("s"))
      .select(col("vec_id"), col("bucket"), col("s.m").as("m"), col("s.code").as("code"))
  }

  /** Residuals vs the assigned coarse cell: (vec_id, bucket, embedding =
    * x − centroid(bucket)) — the input space of FAISS's default
    * `by_residual=true` IVFPQ. Residual magnitudes are the within-cell
    * spread, much smaller than raw coordinates, so the same M×k codebook
    * budget quantizes them with less error — the standard recall lift
    * residual encoding buys (measured in EmbedSpec).
    */
  def residuals(corpus: DataFrame, coarse: Seq[Seq[Double]]): DataFrame = {
    val centLit = array(coarse.map(c => array(c.map(lit): _*)): _*)
    corpus
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("bucket", Ivf.assignExpr(col("v"), coarse))
      .select(
        col("vec_id"), col("bucket"),
        zip_with(col("v"), element_at(centLit, col("bucket") + 1), (a, b) => a - b)
          .as("embedding"))
  }

  /** Train the M sub-codebooks on RESIDUAL space (the `by_residual=true`
    * companion of [[train]]): same deterministic per-subspace k-means,
    * run over [[residuals]] of the corpus under the stored coarse
    * quantizer.
    */
  def trainResidual(
      spark: SparkSession,
      corpus: DataFrame,
      coarse: Seq[Seq[Double]],
      m: Int,
      k: Int,
      iters: Int = 3): Seq[Seq[Seq[Double]]] =
    // materialize the residual corpus once — otherwise every Lloyd round
    // of every sub-quantizer re-derives the assign+subtract map (M·iters
    // replays of the residual plan; measured 46 s → 17 s at sf0.01)
    train(
      spark,
      residuals(corpus, coarse).select(col("vec_id"), col("embedding")).localCheckpoint(true),
      m, k, iters)

  /** The residual-encoded IVFPQ storage table (`by_residual=true`): same
    * (vec_id, bucket, m, code) layout as [[encodeCells]], but codes
    * quantize x − centroid(bucket). Still ONE narrow map — the residual
    * subtraction is a zip_with against the broadcast centroid literals.
    */
  def encodeCellsResidual(
      corpus: DataFrame,
      books: Seq[Seq[Seq[Double]]],
      coarse: Seq[Seq[Double]]): DataFrame = {
    val dim = books.map(_.head.size).sum
    val sub = dim / books.size
    val perM = books.zipWithIndex.map { case (cb, j) =>
      val subv = slice(col("embedding"), j * sub + 1, sub)
      struct(lit(j).as("m"), Ivf.assignExpr(subv, cb).as("code"))
    }
    residuals(corpus, coarse)
      .select(col("vec_id"), col("bucket"), explode(array(perM: _*)).as("s"))
      .select(col("vec_id"), col("bucket"), col("s.m").as("m"), col("s.code").as("code"))
  }

  /** Residual-space ADC candidates: as [[adcCandidatesIvf]], except the
    * distance table is built per (query, probed cell) over the QUERY'S
    * residual to that cell (qr = q − centroid(cell)) — nprobe small
    * tables per query instead of one, still query-side-tiny, and the
    * codes-only equi-join/scan shape is unchanged. This is the exact
    * approximation FAISS serves by default: ‖q − (c + r̂)‖² =
    * ‖(q − c) − r̂‖² with r̂ the de-quantized residual code.
    */
  def adcCandidatesIvfResidual(
      queries: DataFrame,
      encodedCells: DataFrame,
      books: Seq[Seq[Seq[Double]]],
      coarse: Seq[Seq[Double]],
      nprobe: Int): DataFrame = {
    val dim = books.map(_.head.size).sum
    val sub = dim / books.size
    val v = col("embedding").cast("array<double>")
    val centLit = array(coarse.map(c => array(c.map(lit): _*)): _*)
    val coarseDists = Ivf.dists2All(col("qv"), coarse)
    val tables = array(books.zipWithIndex.map { case (cb, j) =>
      Ivf.dists2All(slice(col("qrv"), j * sub + 1, sub), cb)
    }: _*)
    val probes = TopKPerKey.topK(
      queries
        .select(col("vec_id").as("q_id"), v.as("qv"))
        .select(col("q_id"), col("qv"), posexplode(coarseDists).as(Seq("bucket", "cd2"))),
      Seq(col("q_id")), Seq(col("cd2"), col("bucket")), nprobe, "probe_rank")
      .withColumn(
        "qrv",
        zip_with(col("qv"), element_at(centLit, col("bucket") + 1), (a, b) => a - b))
      .withColumn("tables", tables)
      .select(col("q_id"), col("tables"), col("bucket"))
    broadcast(probes)
      .join(encodedCells, Seq("bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(
        col("q_id"), col("vec_id"),
        element_at(element_at(col("tables"), col("m") + 1), col("code") + 1).as("term"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("term")).as("adist2"))
  }

  /** IVF×PQ candidate generation — the composed serving path (round-12
    * verdict #1): each query builds its ADC distance table ONCE, probes
    * its `nprobe` nearest coarse cells, and ADC-scores ONLY the codes
    * stored in those cells — per-query work is nprobe/k_coarse of the
    * corpus's codes instead of all of them ([[adcTopK]]'s corpus-linear
    * scan). Plan shape: the query side (tables + probe rows) is tiny and
    * broadcast; the join is an EQUI join on the cell id against the
    * [[encodeCells]] table, then one (q_id, vec_id) hash-agg sums the M
    * table lookups. Returns every scored candidate (q_id, vec_id,
    * adist2) so gates can assert the sub-linear candidate volume
    * directly.
    */
  def adcCandidatesIvf(
      queries: DataFrame,
      encodedCells: DataFrame,
      books: Seq[Seq[Seq[Double]]],
      coarse: Seq[Seq[Double]],
      nprobe: Int): DataFrame = {
    val dim = books.map(_.head.size).sum
    val sub = dim / books.size
    val v = col("embedding").cast("array<double>")
    val tables = array(books.zipWithIndex.map { case (cb, j) =>
      Ivf.dists2All(slice(col("qv"), j * sub + 1, sub), cb)
    }: _*)
    val coarseDists = Ivf.dists2All(col("qv"), coarse)
    val probes = TopKPerKey.topK(
      queries
        .select(col("vec_id").as("q_id"), v.as("qv"))
        .withColumn("tables", tables)
        .select(col("q_id"), col("tables"), posexplode(coarseDists).as(Seq("bucket", "cd2"))),
      Seq(col("q_id")), Seq(col("cd2"), col("bucket")), nprobe, "probe_rank")
      .select(col("q_id"), col("tables"), col("bucket"))
    broadcast(probes)
      .join(encodedCells, Seq("bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(
        col("q_id"), col("vec_id"),
        element_at(element_at(col("tables"), col("m") + 1), col("code") + 1).as("term"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("term")).as("adist2"))
  }

  /** Shortlist the `shortlist` best ADC candidates per query, then exact
    * re-rank to top-k — the full FAISS-style IVFPQ serving pipeline:
    * probe → codes-only ADC within probed cells → float re-rank of a
    * corpus-size-independent shortlist.
    */
  def adcRerankTopKIvf(
      queries: DataFrame,
      encodedCells: DataFrame,
      books: Seq[Seq[Seq[Double]]],
      coarse: Seq[Seq[Double]],
      corpus: DataFrame,
      k: Int,
      shortlist: Int,
      nprobe: Int): DataFrame =
    exactRerank(
      shortlistTopK(
        adcCandidatesIvf(queries, encodedCells, books, coarse, nprobe), shortlist),
      queries, corpus, k)

  /** Per-query best-`shortlist` selection over scored ADC candidates. */
  def shortlistTopK(cand: DataFrame, shortlist: Int): DataFrame =
    TopKPerKey.topK(cand, Seq(col("q_id")), Seq(col("adist2").asc, col("vec_id").asc), shortlist, "rank")
      .select(col("q_id"), col("vec_id"))

  /** De-quantize an encoded (vec_id, m, code) table back to approximate
    * vectors: each code row looks its sub-vector up in the codebook
    * literals, and the M subs concatenate in subspace order — the
    * reconstruction half every compressed-serving path (e.g. ColBERTv2's
    * compressed maxsim stage) scores against. Pure expressions against
    * broadcast literals: no shuffle beyond the per-vector regroup.
    */
  def decode(encoded: DataFrame, books: Seq[Seq[Seq[Double]]]): DataFrame = {
    val cbLit = array(books.map(cb => array(cb.map(c => array(c.map(lit): _*)): _*)): _*)
    encoded
      .select(
        col("vec_id"), col("m"),
        element_at(element_at(cbLit, col("m") + 1), (col("code") + 1).cast("int")).as("sub"))
      .groupBy(col("vec_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("m"), col("sub")))), e => e("sub")))
        .as("embedding"))
  }

  /** Per-subspace audit rollup (small, stable output for the rows-only
    * gate): vectors encoded, codebook entries actually used, mean/max
    * squared reconstruction error.
    */
  def audit(encoded: DataFrame): DataFrame =
    encoded
      .groupBy(col("m"))
      .agg(
        count(lit(1)).as("n_vecs"),
        countDistinct(col("code")).as("codes_used"),
        avg(col("err2")).as("mse"),
        max(col("err2")).as("max_err2"))
      .orderBy("m")
}
