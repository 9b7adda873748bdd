package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  * brute-force top-k as the exact baseline, an LSH-bucketed
  * (random-hyperplane) multi-probe approximate variant as the top-k scale
  * path, and multi-table banded LSH for near-duplicate pair mining.
  *
  * Scoring and bucketing are INTEGER arithmetic throughout (quantized
  * components, integer plane weights): bit-exact across engines — every op
  * here is DuckDB-oracle-checkable — and across parallelism. The hot paths
  * use native codegen'd Catalyst expressions (`graft_qdot`,
  * `graft_lshsig`); portable HOF formulations are kept as parity
  * references.
  *
  * Scale design (10^9+ vectors): the query side is small and explicitly
  * `broadcast()`; brute force is a broadcast nested loop (embarrassingly
  * parallel, no corpus shuffle); ANN replaces the full scan with an
  * equi-join on a bucket signature so the corpus shuffles once by bucket;
  * near-dup banding shuffles slim (table, sig, id) tuples, never
  * embeddings, with a candidate re-join for exact verification.
  */
object Similarity {

  /** Exact double-precision dot product (index order — deterministic). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")), lit(0.0), (s, v) => s + v)

  /** Quantized integer dot product: components floored to 1/scale grid,
    * accumulated in Long — bit-exact across engines (oracle-checkable),
    * and a faithful stand-in for int8-quantized ANN scoring.
    */
  def dotQuantized(a: Column, b: Column, scale: Int = 1000): Column =
    aggregate(
      zip_with(a, b, (x, y) =>
        floor(x.cast("double") * scale).cast("long") * floor(y.cast("double") * scale).cast("long")),
      lit(0L), (s, v) => s + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Codegen'd quantized dot via the native `graft_qdot` expression
    * (scale fixed at 1000) — semantics identical to [[dotQuantized]]; the
    * interpreted HOF is prohibitive at pairwise-join row counts.
    */
  def qdotNative(df: DataFrame)(a: Column, b: Column): Column = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    call_function(graft.functions.GraftFunctions.QDotName, a, b)
  }

  /** Quantized cosine: qdot(a,b) / √(qdot(a,a)·qdot(b,b)), every step an
    * IEEE-754 single-rounding on exactly-representable integers (qdot
    * products stay < 2^52), so the resulting DOUBLE is bit-identical in
    * any IEEE engine — unlike float-accumulated cosine, whose
    * summation-order sensitivity defies cross-engine hash checks.
    */
  def cosineQ(df: DataFrame)(a: Column, b: Column): Column = {
    val qd = qdotNative(df) _
    qd(a, b).cast("double") / sqrt((qd(a, a) * qd(b, b)).cast("double"))
  }

  // ------------------------------------------------------------ signatures

  /** Integer hyperplane weight — see [[graft.functions.LshSig.weight]]. */
  def planeWeight(p: Int, j: Int): Long = graft.functions.LshSig.weight(p.toLong, j.toLong)

  /** Portable HOF formulation of the integer sign-bucket signature: bit p
    * set iff Σ_j floor(e_j·1000)·w(planeOffset+p, j) > 0. Parity reference
    * for [[lshSigNative]] (LshSigExpressionSpec proves bit-equality); use
    * the native expression in real plans — this one runs interpreted.
    */
  def lshSignatureInt(e: Column, numPlanes: Int, planeOffset: Int = 0, dim: Int = 64): Column =
    (0 until numPlanes).map { p =>
      val weights = array((0 until dim).map(j => lit(planeWeight(planeOffset + p, j))): _*)
      val idot = aggregate(
        zip_with(e, weights, (x, w) => floor(x.cast("double") * 1000).cast("long") * w),
        lit(0L), (s, v) => s + v)
      when(idot > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Codegen'd signature via the native `graft_lshsig` expression. */
  def lshSigNative(df: DataFrame)(e: Column, numPlanes: Int, planeOffset: Int = 0): Column = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    call_function(graft.functions.GraftFunctions.LshSigName, e, lit(numPlanes), lit(planeOffset))
  }

  /** Bucket-count heuristic: planes ≈ log2(corpus / targetBucketSize),
    * clamped to [4, 20]. At 10^9 vectors and a 10^4-row target bucket this
    * gives 17 planes (~130k buckets) — the signature must GROW with the
    * corpus or every bucket becomes a mega-hot join key.
    *
    * INTEGER arithmetic throughout (ceil-divide, then smallest p with
    * 2^p ≥ ratio): the driver's oracle recomputes this in SQL from
    * count(*), and a float log2 at an exact power of two could round to
    * different plane counts in different engines.
    */
  def planesFor(corpusSize: Long, targetBucketSize: Long = 10000L): Int = {
    val t = math.max(1L, targetBucketSize)
    val c = math.max(0L, corpusSize)
    // overflow-safe ceil-divide (c + t - 1 wraps at Long.MaxValue)
    val ratioCeil = math.max(2L, c / t + (if (c % t > 0) 1L else 0L))
    val p = (1 to 62).find(p => (1L << p) >= ratioCeil).getOrElse(62)
    math.min(20, math.max(4, p))
  }

  // -------------------------------------------------------------- brute force

  /** Brute-force top-k by `scoreFn` for each query vector: broadcast the
    * (small) query side, score the corpus in place, keep k per query via a
    * window. Ties break on vid — fully deterministic.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      scoreFn: (Column, Column) => Column = dotQuantized(_, _)
  ): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("qid"), col("embedding").as("qe")))
    val v = corpus.select(col("vec_id").as("vid"), col("embedding").as("ve"))
    val scored = v.join(q, col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"), scoreFn(col("qe"), col("ve")).as("score"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("vid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Recall@k of an approximate top-k (`approx`) against the exact one
    * (`exact`, [[bruteForceTopK]] under the scoring the approximation
    * ranks by): the share of exact (qid, vid) pairs `approx` also returns.
    * Driver-side sizes only (k × #queries pairs).
    */
  def recallAtK(exact: DataFrame, approx: DataFrame): Double = {
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairs(exact)
    if (truth.isEmpty) 1.0 else (pairs(approx) & truth).size.toDouble / truth.size
  }

  // ---------------------------------------------------------------- near-dup

  /** Embedding near-duplicate pairs (the embedding-cosine dedup op): all
    * pairs (id1 < id2) whose QUANTIZED dot product reaches `minQDot`.
    * Inputs are unit-norm embeddings, so quantized-dot ≈ cosine × scale².
    * Integer scoring keeps the op oracle-exact across engines. This is the
    * exact O(n²) baseline — at corpus scale generate candidates with
    * [[nearDupPairsLsh]] instead of the full self-join.
    */
  def nearDupPairs(corpus: DataFrame, minQDot: Long): DataFrame = {
    val qdot = qdotNative(corpus) _
    val a = corpus.select(col("vec_id").as("id1"), col("embedding").as("e1"))
    val b = corpus.select(col("vec_id").as("id2"), col("embedding").as("e2"))
    a.join(b, col("id1") < col("id2"))
      .select(col("id1"), col("id2"), qdot(col("e1"), col("e2")).as("qdot"))
      .filter(col("qdot") >= minQDot)
  }

  /** Exact quantized-dot verification of candidate `(id1, id2)` pairs:
    * re-join embeddings by id and keep pairs clearing `minQDot`. Candidate
    * generators emit slim id pairs; embeddings move only here, keyed by id.
    */
  def verifyPairs(corpus: DataFrame, pairs: DataFrame, minQDot: Long): DataFrame = {
    val qdot = qdotNative(corpus) _
    val e = corpus.select(col("vec_id"), col("embedding"))
    pairs
      .join(e.select(col("vec_id").as("id1"), col("embedding").as("e1")), "id1")
      .join(e.select(col("vec_id").as("id2"), col("embedding").as("e2")), "id2")
      .select(col("id1"), col("id2"), qdot(col("e1"), col("e2")).as("qdot"))
      .filter(col("qdot") >= minQDot)
  }

  /** Scale path for [[nearDupPairs]]: MULTI-TABLE banded LSH candidates,
    * then exact quantized-dot verification — same output contract, but the
    * quadratic self-join is replaced by `numTables` equi-joins on
    * (table, signature), the cosine analog of MinHash bands
    * ([[graft.dedup.Dedup.lshBands]]). Recall for pairs at cosine c is
    * 1 − (1 − p^b)^L with p = 1 − arccos(c)/π, b planes per table, L
    * tables: the defaults (12 tables × 4 planes) give ~0.87 at the gated
    * threshold c = 0.4 (p = 0.63 — LOW thresholds are the hard LSH regime;
    * measured 0.87 on the sf0.01 corpus, SimilaritySpec) and ~1.0 at
    * c ≥ 0.9. At billion-vector scale raise `planesPerTable` (smaller
    * buckets) and `numTables` together — recall holds while per-bucket
    * candidate counts shrink. The band join
    * shuffles slim (table, sig, id) tuples — embeddings move once, in the
    * verification re-join. Candidate multiplicity across tables is removed
    * by `distinct` BEFORE verification (never score a pair twice).
    * Approximate: a pair in no shared bucket is missed (measured in
    * SimilarityRecallSpec; recall floor asserted).
    */
  def nearDupPairsLsh(
      corpus: DataFrame, minQDot: Long,
      numTables: Int = 12, planesPerTable: Int = 4
  ): DataFrame = {
    val sigOf = lshSigNative(corpus) _
    val banded = corpus.select(
      col("vec_id").as("id"),
      explode(array((0 until numTables).map { t =>
        struct(lit(t).as("tbl"), sigOf(col("embedding"), planesPerTable, t * planesPerTable).as("sig"))
      }: _*)).as("bd"))
      .select(col("id"), col("bd.tbl").as("tbl"), col("bd.sig").as("sig"))
    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.sig") === col("b.sig") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    verifyPairs(corpus, candidates, minQDot)
  }

  // --------------------------------------------------------------------- IVF

  /** IVF cell-count heuristic: √corpus cells — the classic IVF balance
    * point (cell size ≈ centroid-scan length ≈ √n, so per-query work is
    * O(√n · nprobe) instead of O(n)). EXACT integer sqrt (double sqrt
    * then a ±1 integer fix-up, so engines can never disagree at a
    * boundary), clamped to [4, 65536].
    */
  def cellsFor(corpusSize: Long): Int = {
    val n = math.max(0L, corpusSize)
    val c0 = math.sqrt(n.toDouble).toLong
    val c = if ((c0 + 1) * (c0 + 1) <= n) c0 + 1 else if (c0 * c0 > n) c0 - 1 else c0
    math.min(65536L, math.max(4L, c)).toInt
  }

  /** IVF (inverted-file) approximate top-k — the coarse-quantizer
    * alternative to [[annTopK]]'s hyperplane buckets: partition the
    * corpus into `numCells` cells by nearest centroid, probe only the
    * `nProbe` cells whose centroids score highest for each query, and
    * exact-rank (quantized cosine) inside the probed cells.
    *
    * The coarse quantizer is DETERMINISTIC: the `numCells` smallest-id
    * corpus vectors are the seed centroids (a `TakeOrdered`, never a
    * global sort), and assignment is argmax of the quantized integer dot
    * with ties to the smallest centroid id — every step bit-exact across
    * engines, so the whole operator is DuckDB-oracle-checkable.
    * `lloydRounds` runs that many Lloyd refinement rounds, and each IS
    * the same shapes as the seed pass plus one slim mean: members
    * posexplode into (cell, dim, component) triples, a map-side-partial
    * aggregation computes the per-cell INTEGER mean of the quantized
    * components (bias-shifted before the `DIV` so truncation == floor on
    * both engines for negative sums), the ≤ numCells × dim result pivots
    * back into centroid vectors (stored as exact small-integer floats, so
    * the unchanged quantized dot scores against them as a ×1000-scaled —
    * argmax-equivalent — integer), and assignment re-runs. Cells that
    * lose every member simply drop out on both engines. Embeddings still
    * move exactly once (the final label join); refinement itself touches
    * only slim triples — the scaladoc claim the gated `s_ivf_topk`
    * (lloydRounds = 1, value-exact DuckDB oracle) now proves.
    *
    * Scale design (10^9+ vectors): centroids are broadcast (≤ 65536 ×
    * 64 floats ≈ 16 MB); assignment scores are SLIM (vid, cid, score)
    * triples reduced by a map-side-partial argmax, and embeddings move
    * exactly once — the keyed join that attaches the cell label. The
    * probe join is a broadcast hash join on cell id (the query side
    * carries nProbe rows per query). Unlike the LSH path a vector lives
    * in exactly ONE cell: candidates need no dedup before ranking, and
    * cell sizes are load-balanced by the quantizer rather than by hash
    * luck. `nProbe` is the recall/cost knob (fraction of corpus scanned
    * ≈ nProbe/numCells): measured recall@5 0.90–0.98 at nProbe=4 on the
    * test corpora (SimilaritySpec floor 0.6; BENCH reports it per run).
    *
    * Measured refinement behavior (BASELINE.md, IVF recall, sf0.1
    * synthetic embeddings): recall@5 at nProbe=4 is 0.98 / 0.94 / 0.86 at
    * 0 / 1 / 2 Lloyd rounds, while cell balance is IDENTICAL across
    * rounds (top-4-cell mass 0.112/0.111/0.110) and probing by float
    * cosine instead of the quantized dot reproduces the exact same
    * numbers — so neither skew nor probe-metric bias explains it. What
    * changes is the PARTITION: on an unclustered corpus, seed centroids
    * (actual data points) anchor cosine neighborhoods better than cell
    * means, which drift toward the global mean and scatter neighbor
    * pairs across cell boundaries. On genuinely clustered embeddings the
    * refinement helps; on near-uniform ones `lloydRounds = 0` is the
    * better default and `nProbe` buys the recall back (0.98 at nProbe=8,
    * rounds=1). The gated `s_ivf_topk` runs 1 round to keep the
    * refinement machinery value-exact under oracle.
    */
  /** Bias added before the integer mean's `DIV`: quantized components lie
    * in ±1000 × max|component|, far under this, so the shifted sum is
    * non-negative and truncating division equals floor division on BOTH
    * engines (they disagree on negative operands).
    */
  val LloydMeanBias: Long = 1L << 20

  /** The IVF index-build step on its own: seed centroids (smallest-id
    * vectors), `lloydRounds` refinement rounds, and the final per-vector
    * cell assignment. Returns (centroids `(cid, ce)` — broadcast-tagged,
    * assignments `(vid, cell)`). [[ivfTopK]] composes this with the
    * probe; exposing it separately lets a pipeline BUILD the index once
    * (persist the assignments next to the corpus) and probe many times,
    * and makes cell-balance diagnostics first-class.
    */
  def ivfAssign(corpus: DataFrame, numCells: Int,
      lloydRounds: Int = 0): (DataFrame, DataFrame) = {
    val qd = qdotNative(corpus) _
    val v = corpus.select(col("vec_id").as("vid"), col("embedding").as("ve"))
    def assign(cent: DataFrame): DataFrame =
      v.crossJoin(cent)
        .select(col("vid"), col("cid"), qd(col("ve"), col("ce")).as("cs"))
        .groupBy("vid")
        .agg(max_by(col("cid"), struct(col("cs"), (-col("cid")).as("nc"))).as("cell"))
    var cent = broadcast(
      corpus.select(col("vec_id").as("cid"), col("embedding").as("ce"))
        .orderBy(col("cid")).limit(numCells))
    var asn = assign(cent)
    for (_ <- 1 to lloydRounds) {
      // per-cell integer mean of the quantized components: slim
      // (cell, dim, component) triples with map-side partials; the pivot
      // back to vectors touches ≤ numCells × dim rows (the HOF there runs
      // on the centroid side only, never the corpus)
      val perDim = v.join(asn, "vid")
        .select(col("cell"), posexplode(col("ve")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim"))
        .agg(sum(floor(col("x").cast("double") * 1000).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .select(col("cell"), col("dim"),
          (expr(s"(s + n * ${LloydMeanBias}L) DIV n") - LloydMeanBias).as("q"))
      cent = broadcast(perDim
        .groupBy(col("cell"))
        .agg(sort_array(collect_list(struct(col("dim"), col("q")))).as("dq"))
        .select(col("cell").as("cid"),
          // small integers stored as exact floats: the unchanged quantized
          // dot then scores floor(q·1000) = q×1000 — a constant scaling,
          // argmax- and tie-equivalent to the true integer mean dot
          expr("transform(dq, p -> CAST(p.q AS FLOAT))").as("ce")))
      asn = assign(cent)
    }
    (cent, asn)
  }

  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      numCells: Int, nProbe: Int = 4, lloydRounds: Int = 0
  ): DataFrame = {
    val cq = cosineQ(corpus) _
    val qd = qdotNative(corpus) _
    val v = corpus.select(col("vec_id").as("vid"), col("embedding").as("ve"))
    val (cent, asn) = ivfAssign(corpus, numCells, lloydRounds)
    val assigned = v.join(asn, "vid")
    val qw = Window.partitionBy("qid").orderBy(col("cs").desc, col("cid"))
    val qp = broadcast(
      queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .crossJoin(cent)
        .select(col("qid"), col("qe"), col("cid"), qd(col("qe"), col("ce")).as("cs"))
        .withColumn("rn", row_number().over(qw)).filter(col("rn") <= nProbe)
        .select(col("qid"), col("qe"), col("cid").as("cell")))
    val scored = assigned.join(qp, "cell").filter(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"), cq(col("qe"), col("ve")).as("score"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("vid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  // ---------------------------------------------------------------------- PQ

  /** Stride separating subspace ids in the flattened LUT key: supports
    * codebooks up to 4096 codewords per subspace (PQ convention is ≤ 256).
    */
  val PqCidStride: Long = 4096L

  /** Product-quantization codebooks: split the `dim`-dimensional space
    * into `m` subspaces of `dim/m` components; per subspace, seed `ks`
    * codewords from the `ks` smallest-id corpus vectors' subvectors
    * (codeword ids 0..ks−1 in seed order), run ONE Lloyd round (integer
    * mean of the quantized components, [[LloydMeanBias]]-shifted so
    * truncation == floor on both engines), and return the refined
    * codebooks as slim `(s, cid, ce: array<long>)` rows — quantized
    * integer codewords, ≤ m·ks of them (codewords that lose every member
    * drop out, as in [[ivfAssign]]). Assignment metric is integer L2 on
    * the quantized subvectors (ties → smallest cid): exact, engine-
    * portable, and the textbook PQ quantizer (Jégou et al. 2011).
    *
    * Scale shape: seeds are a TakeOrdered(ks); the subvector explode is
    * map-side (m slim rows per vector, total payload = one corpus
    * width); assignment scores against the BROADCAST codebook reduce to
    * (vid, s, cid) triples via a map-side-partial min-struct argmin; the
    * Lloyd mean runs on slim (s, cid, dim, component) quadruples.
    * Vectors never shuffle.
    */
  def pqCodebooks(corpus: DataFrame, m: Int, ks: Int, dim: Int = 64): DataFrame =
    pqCodebooksQ(
      corpus.select(col("vec_id").as("vid"), quantizeFull(col("embedding")).as("vq")),
      m, ks, dim)

  /** [[pqCodebooks]] over PRE-QUANTIZED full-length integer vectors
    * `(vid, vq: array<long>)` — the shared core that lets the SAME
    * seed + one-Lloyd-round trainer run on raw quantized vectors (flat
    * PQ) or on coarse-cell RESIDUALS (IVF-PQ): seeds are the `ks`
    * smallest-vid rows (TakeOrdered, never a global sort), assignment is
    * integer L2 argmin against the broadcast codebook, the refinement
    * mean runs on slim (s, cid, dim, component) quadruples. Values are
    * identical to the float-input path (quantization commutes with the
    * subspace slice).
    */
  def pqCodebooksQ(rows: DataFrame, m: Int, ks: Int, dim: Int = 64): DataFrame = {
    require(m >= 1 && dim % m == 0, s"m=$m must divide dim=$dim")
    require(ks >= 1 && ks <= PqCidStride, s"ks=$ks out of range")
    val d = dim / m
    val seeds = rows.orderBy(col("vid")).limit(ks)
      .withColumn("cid",
        (row_number().over(Window.orderBy(col("vid"))) - 1).cast("long"))
    val cb0 = seeds.select(explode(array((0 until m).map(s =>
        struct(lit(s.toLong).as("s"), col("cid"),
          slice(col("vq"), s * d + 1, d).as("ce"))): _*)).as("e"))
      .select(col("e.s").as("s"), col("e.cid").as("cid"), col("e.ce").as("ce"))
    val subs = subVectorsQ(rows, m, d)
    val asn0 = pqAssign(subs, cb0)
    val perDim = subs.join(asn0, Seq("vid", "s"))
      .select(col("s"), col("cid"), posexplode(col("vq")).as(Seq("dim", "x")))
      .groupBy(col("s"), col("cid"), col("dim"))
      .agg(sum(col("x")).as("sm"), count(lit(1)).as("n"))
      .select(col("s"), col("cid"), col("dim"),
        (expr(s"(sm + n * ${LloydMeanBias}L) DIV n") - LloydMeanBias).as("q"))
    perDim.groupBy(col("s"), col("cid"))
      .agg(sort_array(collect_list(struct(col("dim"), col("q")))).as("dq"))
      .select(col("s"), col("cid"), expr("transform(dq, p -> p.q)").as("ce"))
  }

  /** Whole-vector quantization to the 1/1000 integer grid — the single
    * map-only step every PQ path shares; slicing it per subspace equals
    * quantizing each subvector directly.
    */
  def quantizeFull(e: Column): Column =
    transform(e, x => floor(x.cast("double") * 1000).cast("long"))

  /** (vid, s, vq) integer subvector rows from full-length quantized
    * vectors — map-only explode, total payload = one corpus width.
    */
  private def subVectorsQ(rows: DataFrame, m: Int, d: Int): DataFrame =
    rows.select(col("vid"), explode(array((0 until m).map(s =>
        struct(lit(s.toLong).as("s"), slice(col("vq"), s * d + 1, d).as("vq"))): _*)).as("e"))
      .select(col("vid"), col("e.s").as("s"), col("e.vq").as("vq"))

  /** Nearest codeword per (vector, subspace) by integer L2, ties to the
    * smallest cid — ONE row per (vid, s) through the native codegen'd
    * [[graft.functions.PqArgminExpression]]: the subspace's codebook
    * rides the broadcast join as a flattened `array<long>` (ascending-
    * cid blocks) + cid list, and the argmin is a tight two-level loop
    * in whole-stage codegen. Same arithmetic as the min-struct form it
    * replaces (`ssq(c) − 2·⟨v,c⟩` — argmin- and tie-equivalent to plain
    * L2 since `ssq(v)` is constant per row; ascending-cid strict-`<`
    * keeps the smallest cid on ties), at 1/ks of the join rows and with
    * NO post-join aggregate — the join-explode form pushed n·m·ks rows
    * through the exchange-side partial min and dominated the benched
    * codebook-build cost.
    */
  private def pqAssign(subs: DataFrame, cb: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(subs.sparkSession)
    val cbFlat = broadcast(cb
      .groupBy(col("s"))
      .agg(sort_array(collect_list(struct(col("cid"), col("ce")))).as("cw"))
      .select(col("s"),
        expr("transform(cw, p -> p.cid)").as("cids"),
        flatten(expr("transform(cw, p -> p.ce)")).as("cbflat")))
    subs.join(cbFlat, Seq("s"))
      .select(col("vid"), col("s"),
        call_function(graft.functions.GraftFunctions.PqArgminName,
          col("vq"), col("cbflat"), col("cids")).as("cid"))
  }

  /** Encode the corpus against `cb`: one `codes` array per vector
    * (`codes[s]` = codeword id of subspace s). THE point of PQ at corpus
    * scale: m codes of log2(ks) bits replace dim floats — 8 bytes/vector
    * at the faiss-conventional m=8, ks=256 vs 256 bytes raw, so 10^9
    * encoded vectors fit in ~8 GB and the ADC scan runs memory-resident
    * where the exact scan pages through 100× the bytes.
    */
  def pqEncode(corpus: DataFrame, cb: DataFrame, m: Int, dim: Int = 64): DataFrame =
    pqEncodeQ(
      corpus.select(col("vec_id").as("vid"), quantizeFull(col("embedding")).as("vq")),
      cb, m, dim)

  /** [[pqEncode]] over pre-quantized integer rows `(vid, vq)` — shared by
    * the flat and residual paths.
    */
  def pqEncodeQ(rows: DataFrame, cb: DataFrame, m: Int, dim: Int = 64): DataFrame =
    pqAssign(subVectorsQ(rows, m, dim / m), cb)
      .groupBy(col("vid"))
      .agg(sort_array(collect_list(struct(col("s"), col("cid")))).as("sc"))
      .select(col("vid"), expr("transform(sc, p -> p.cid)").as("codes"))

  /** PQ approximate top-k by ASYMMETRIC DISTANCE (ADC): per query,
    * precompute the m×ks lookup table of exact partial dots between the
    * query's quantized subvectors and every codeword, then score each
    * encoded vector as the sum of m table lookups — `score(q, v) =
    * Σ_s ⟨q_s, cb[s][codes_v[s]]⟩`, the inner-product ADC of Jégou et
    * al. All arithmetic is exact integers (quantized components), so the
    * DuckDB oracle replays it value-exactly.
    *
    * Scale shape: codebooks and the per-query LUTs are tiny broadcast
    * relations (m·ks partial dots per query); scoring is MAP-ONLY over
    * the encoded corpus (codes never shuffle; the only exchange after
    * encoding is the per-query top-k window on slim (qid, vid, score)
    * survivors). Encoding happens once and persists next to the corpus
    * in a real deployment; the scan cost is the 8-byte codes, not the
    * embeddings. Recall is bounded by quantization distortion — measured
    * recall@5 on the near-uniform test corpus: 0.36 at the GATED m=16,
    * ks=64 (sf0.1, BENCH_r05), but only 0.30 at this method's m=8, ks=16
    * defaults (sf0.01; finer subspaces beat more codewords there — 8-dim
    * random cells quantize poorly at any ks; full sweep in SimilaritySpec).
    * Size m/ks to the corpus; ks=256 is the faiss-conventional production
    * knob.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 8, ks: Int = 16, dim: Int = 64): DataFrame = {
    val cb = pqCodebooks(corpus, m, ks, dim)
    val codes = pqEncode(corpus, cb, m, dim)
    val lut = adcLut(querySubsQ(queries, m, dim / m), cb)
    val scored = codes.crossJoin(broadcast(lut))
      .filter(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"), adcSum(m).as("score"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("vid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Query-side integer subvector rows `(qid, s, qq)`. */
  private def querySubsQ(queries: DataFrame, m: Int, d: Int): DataFrame =
    queries.select(col("vec_id").as("qid"), quantizeFull(col("embedding")).as("fq"))
      .select(col("qid"), explode(array((0 until m).map(s =>
        struct(lit(s.toLong).as("s"), slice(col("fq"), s * d + 1, d).as("qq"))): _*)).as("e"))
      .select(col("qid"), col("e.s").as("s"), col("e.qq").as("qq"))

  /** Per-query ADC lookup table: the m×ks exact partial dots between the
    * query's integer subvectors and every codeword, packed into one map
    * column keyed `s·stride + cid` — tiny, broadcast at the consumer.
    */
  private def adcLut(qsubs: DataFrame, cb: DataFrame): DataFrame =
    qsubs.join(broadcast(cb), Seq("s"))
      .select(col("qid"), (col("s") * lit(PqCidStride) + col("cid")).as("key"),
        call_function(graft.functions.GraftFunctions.LDotName, col("qq"), col("ce"))
          .as("pdot"))
      .groupBy(col("qid"))
      .agg(map_from_entries(collect_list(struct(col("key"), col("pdot")))).as("lut"))

  /** The ADC sum `Σ_s lut[s][codes_v[s]]` over a `codes` column and a
    * joined-in `lut` map column.
    */
  private def adcSum(m: Int): Column =
    expr(s"aggregate(sequence(0, ${m - 1}), 0L, (acc, s) -> " +
      s"acc + element_at(lut, s * ${PqCidStride}L + element_at(codes, CAST(s + 1 AS INT))))")

  /** IVF-PQ approximate top-k — the composition billion-scale indexes
    * actually ship (faiss `IVFxx,PQyy`; Jégou et al. 2011 §V): the coarse
    * quantizer ([[ivfAssign]]) prunes the corpus to `nProbe` cells per
    * query, and the CANDIDATES are ranked by PQ asymmetric distance over
    * RESIDUAL codes — so the probe touches only cell-pruned codes (bytes
    * per vector), never the embeddings.
    *
    * `residual = true` (the published design, §V's IVFADC): each vector
    * is PQ-encoded as `v − centroid(cell(v))` in the integer domain
    * (quantized components, exact subtraction), and the ADC score is
    * `⟨q, c⟩ + Σ_s lut[s][codes_v[s]]` — the per-(query, cell) coarse
    * dot the probe ALREADY computes, plus the residual ADC sum against
    * ONE global residual codebook (faiss's default: codebooks shared
    * across cells, so the LUT stays m·ks per query, not per cell). The
    * coarse term is EXACT, so the ADC error reduces to the RESIDUAL's
    * quantization error — zero when cells are tight (every vector its
    * own centroid ⇒ score == exact quantized dot, recall 1.0,
    * spec-pinned; near-duplicate clusters approach it), which is the
    * regime a 10^9-vector corpus under √n cells actually sits in.
    *
    * MEASURED HONESTLY on the sandbox's near-uniform synthetic
    * embeddings (sf0.1, 2000 vectors, 44 cells — the ANTI-regime:
    * nearest-centroid cosine ≈ 0.3-0.4, so the residual's norm EXCEEDS
    * the vector's and quantizes no finer): recall@5 at (m=16, ks=64,
    * nProbe=4) is 0.34 residual vs 0.38 raw — residual encoding buys
    * nothing here, exactly as the repo's earlier Lloyd-refinement
    * finding (BASELINE.md) predicts for unclustered data. The recall
    * path at production knobs is therefore the REFINE stage
    * ([[ivfPqRerankTopK]], faiss IndexRefineFlat): ADC shortlist +
    * exact rerank holds 0.94-0.98 at sf0.1 (gated `s_ivfpq_rerank`;
    * Bench reports it per run next to the flat-PQ and composite
    * numbers). `residual = false` keeps the raw-encoding variant as
    * the measured comparison baseline.
    *
    * Scale shape: union of the parents' — centroids, codebooks, and
    * per-query LUTs broadcast (LUT: m·ks longs per query; coarse terms:
    * nProbe per query); assignment and encoding reduce to slim triples;
    * the probe join is a broadcast hash join on cell id over
    * (vid, cell, codes) rows; embeddings move exactly once (the
    * cell-label join that forms residuals). All integer, value-exact
    * under the DuckDB oracle.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                numCells: Int, nProbe: Int = 4,
                m: Int = 16, ks: Int = 64, dim: Int = 64,
                residual: Boolean = true): DataFrame = {
    val qd = qdotNative(corpus) _
    val (cent, asn) = ivfAssign(corpus, numCells, lloydRounds = 0)
    val vq = corpus.select(col("vec_id").as("vid"), quantizeFull(col("embedding")).as("vq"))
    val rows =
      if (residual) {
        val centQ = broadcast(
          cent.select(col("cid").as("cell"), quantizeFull(col("ce")).as("cq")))
        vq.join(asn, "vid").join(centQ, "cell")
          .select(col("vid"), zip_with(col("vq"), col("cq"), (a, b) => a - b).as("vq"))
      } else vq
    val cb = pqCodebooksQ(rows, m, ks, dim)
    val codes = pqEncodeQ(rows, cb, m, dim)
      .join(asn.withColumnRenamed("vid", "vid2"), col("vid") === col("vid2")).drop("vid2")
    val lut = adcLut(querySubsQ(queries, m, dim / m), cb)
    val qw = Window.partitionBy("qid").orderBy(col("cs").desc, col("cid"))
    val qp = broadcast(
      queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .crossJoin(cent)
        .select(col("qid"), col("cid"), qd(col("qe"), col("ce")).as("cs"))
        .withColumn("rn", row_number().over(qw)).filter(col("rn") <= nProbe)
        .select(col("qid"), col("cid").as("cell"), col("cs"))
        .join(lut, Seq("qid")))
    val scored = codes.join(qp, "cell").filter(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"),
        (if (residual) col("cs") + adcSum(m) else adcSum(m)).as("score"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("vid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** IVF-PQ with a REFINE stage — the recall-recovery pattern production
    * indexes ship around PQ's quantization floor (faiss
    * `IndexRefineFlat`): the ADC scan shortlists `shortlist` candidates
    * per query, then the shortlist is re-ranked by the EXACT quantized
    * dot. ADC only has to keep true neighbors inside the shortlist
    * (easy: `shortlist` ≫ k absorbs the quantization noise band), and
    * the exact pass restores their order — so recall converges to the
    * IVF cell-recall ceiling (what nProbe covers) instead of the ADC
    * distortion floor.
    *
    * Scale shape: the shortlist is k'·|queries| slim (qid, vid) rows;
    * the refine join fetches exactly those vectors BY ID — the "read the
    * full vectors for the candidates" lookup every refine stage does,
    * nProbe·shortlist rows per query instead of the scan the exact path
    * would need. Everything else inherits [[ivfPqTopK]]'s shapes. All
    * integer, value-exact under the DuckDB oracle.
    */
  def ivfPqRerankTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                      numCells: Int, nProbe: Int = 8,
                      m: Int = 16, ks: Int = 64, dim: Int = 64,
                      shortlist: Int = 25,
                      residual: Boolean = true): DataFrame = {
    require(shortlist >= k, s"shortlist=$shortlist must be >= k=$k")
    val qd = qdotNative(corpus) _
    val short = ivfPqTopK(corpus, queries, shortlist, numCells, nProbe,
        m, ks, dim, residual)
      .select(col("qid"), col("vid"))
    val e = corpus.select(col("vec_id").as("vid"), col("embedding").as("ve"))
    val q = broadcast(
      queries.select(col("vec_id").as("qid"), col("embedding").as("qe")))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("vid"))
    short.join(e, "vid").join(q, "qid")
      .select(col("qid"), col("vid"), qd(col("qe"), col("ve")).as("score"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    * embeddings with the coarse quantizer, then find near-duplicate
    * PAIRS only WITHIN each cluster (quantized dot ≥ `minQDot`) and keep
    * one document per connected component. The published recipe's point
    * is exactly this scoping: the all-pairs scan is O(n²), but pairing
    * within √n-sized k-means cells is O(n·√n) total — same budget as the
    * IVF assignment that produces the cells — at the accepted cost of
    * missing near-dup pairs that straddle a cell boundary (the paper's
    * own trade; the LSH family here catches those when completeness
    * matters). Returns the surviving `vec_id`s.
    *
    * Scale shape: cells from [[ivfAssign]] (broadcast centroids, slim
    * argmax triples); the pair join is cell-keyed — each cell's members
    * self-join locally, hot cells are ordinary skewed join keys (AQE
    * splits); the survivor fixpoint is
    * [[graft.dedup.Dedup.connectedComponents]] over the sparse verified
    * pairs. Embeddings move once (the cell-label join).
    */
  def semDedup(corpus: DataFrame, numCells: Int, minQDot: Long): DataFrame = {
    val qd = qdotNative(corpus) _
    val (_, asn) = ivfAssign(corpus, numCells, lloydRounds = 0)
    val assigned = corpus.select(col("vec_id").as("vid"), col("embedding").as("ve"))
      .join(asn, "vid")
    val pairs = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("id1"), col("b.vid").as("id2"),
        qd(col("a.ve"), col("b.ve")).as("q"))
      .filter(col("q") >= minQDot)
      .select(col("id1"), col("id2"))
    val drops = graft.dedup.Dedup.connectedComponents(pairs)
      .filter(col("id") =!= col("label")).select(col("id").as("vec_id"))
    corpus.join(drops, Seq("vec_id"), "left_anti").select(col("vec_id"))
  }

  // --------------------------------------------------------------------- ANN

  /** LSH-bucketed approximate top-k with MULTI-PROBE and MULTI-TABLE:
    *
    *  - multi-probe: each query probes every bucket within Hamming
    *    distance `probeHamming` of its own (bit flips of the plane signs
    *    most likely to disagree near the neighbor boundary) — probing is
    *    exploded on the small broadcast query side, so recall rises at
    *    zero extra corpus cost;
    *  - multi-table: `numTables` independent signatures (disjoint plane
    *    ranges via the offset argument); a neighbor is found if ANY table
    *    buckets it with the query. Recall = 1 − (1 − P_table)^L compounds
    *    fast: measured 0.24 → 0.72 @ recall@5 (sf0.1) going from 1 table
    *    probe-2 to 4 tables probe-1. Corpus cost: each vector carries L
    *    signatures through the bucket join (slim (table, sig, id, vec)
    *    tuples); duplicates collapse before ranking.
    *
    * Candidates are ranked by exact quantized cosine. At corpus scale the
    * signatures are computed in the scan projection (native expression,
    * codegen) and the bucket join shuffles each vector L times; skewed
    * buckets are ordinary hot join keys (AQE skew-split applies). Size
    * `numPlanes` with [[planesFor]] — more planes = smaller buckets =
    * cheaper scoring, lower per-table recall (recovered by probes/tables).
    */
  def annTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      numPlanes: Int = 8, probeHamming: Int = 1, numTables: Int = 4
  ): DataFrame = {
    val sigOf = lshSigNative(corpus) _
    val cq = cosineQ(corpus) _
    val masks = probeMasks(numPlanes, probeHamming)
    // (table, probe-signature) keys for the query side: per table, the
    // query's own bucket plus its Hamming-ball probes
    val qKeys = (0 until numTables).flatMap { t =>
      val sig = sigOf(col("embedding"), numPlanes, t * numPlanes)
      masks.map(m => struct(lit(t).as("tbl"), sig.bitwiseXOR(lit(m)).as("sig")))
    }
    val q = broadcast(
      queries.select(col("vec_id").as("qid"), col("embedding").as("qe"),
        explode(array(qKeys: _*)).as("k"))
        .select(col("qid"), col("qe"), col("k.tbl").as("tbl"), col("k.sig").as("sig")))
    val vKeys = (0 until numTables).map { t =>
      struct(lit(t).as("tbl"), sigOf(col("embedding"), numPlanes, t * numPlanes).as("sig"))
    }
    val v = corpus.select(col("vec_id").as("vid"), col("embedding").as("ve"),
      explode(array(vKeys: _*)).as("k"))
      .select(col("vid"), col("ve"), col("k.tbl").as("tbl"), col("k.sig").as("sig"))
    // within one table a (qid, vid) pair survives at most one probe (the
    // corpus signature is unique, probe signatures are distinct), but the
    // SAME pair can collide in several tables — collapse before ranking
    // (max = the identical score; grouping is the dedup)
    val scored = v.join(q, Seq("tbl", "sig")).filter(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"), cq(col("qe"), col("ve")).as("score"))
      .groupBy(col("qid"), col("vid")).agg(max(col("score")).as("score"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("vid"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Recall@k of [[annTopK]] against [[bruteForceTopK]] with the same
    * quantized-cosine scoring: |ann ∩ brute| / |brute|. Driver-side sizes
    * only (k × #queries pairs).
    */
  /** All XOR masks of Hamming weight ≤ `radius` over `numPlanes` bits
    * (weight-0 mask first — the query's own bucket).
    */
  def probeMasks(numPlanes: Int, radius: Int): Seq[Long] = {
    def combos(weight: Int): Seq[Long] =
      (0 until numPlanes).combinations(weight).map(_.foldLeft(0L)((m, i) => m | (1L << i))).toSeq
    (0 to math.max(0, math.min(radius, numPlanes))).flatMap(combos)
  }

  // ------------------------------------------------------- bitext mining

  /** Margin-based bitext candidate mining (Artetxe & Schwenk 2019, the
    * CCMatrix / WikiMatrix alignment rule): a (src, tgt) sentence pair is
    * a translation candidate when its similarity stands out RELATIVE to
    * each side's nearest-neighbor neighborhood — absolute cosine
    * thresholds fail because cosine scales drift per language / register.
    * The ratio margin for a scored pair:
    *
    *   margin(x,y) = cos(x,y) / ((avg_{z∈NNk(x)} cos(x,z)
    *                            + avg_{z∈NNk(y)} cos(y,z)) / 2)
    *
    * computed here in exact integer arithmetic: quantized cosines
    * (floor(cosQ·10^9) — single-rounding doubles, bit-exact cross-engine),
    * neighborhood SUMS of those longs, and margin_ppm by long cross
    * multiplication and positive integer division, so the result is
    * DuckDB-oracle-checkable. Pairs with a non-positive score or
    * neighborhood sum are dropped (the margin is meaningless there and
    * trunc-vs-floor division would diverge on negatives).
    *
    * `scored` carries one row per candidate (sid, tid, sq); candidates
    * serve BOTH directions: forward top-k per sid and backward top-k per
    * tid are windows over the same pair set, so the expensive scoring
    * join runs once. Emitted pairs are the forward top-k rows that clear
    * `minMarginPpm`; partial neighborhoods (< k members, possible on the
    * ANN path) use their actual counts in the averages.
    *
    * Scale shape: two slim windows + two (id, sum, cnt) aggregates over
    * slim triples; embeddings are gone before any shuffle.
    */
  private def marginPairs(scored: DataFrame, k: Int, minMarginPpm: Long): DataFrame = {
    val fw = Window.partitionBy("sid").orderBy(col("sq").desc, col("tid"))
    val bw = Window.partitionBy("tid").orderBy(col("sq").desc, col("sid"))
    val ranked = scored
      .withColumn("frn", row_number().over(fw))
      .withColumn("brn", row_number().over(bw))
    val fwd = ranked.filter(col("frn") <= k).groupBy("sid")
      .agg(sum(col("sq")).as("fsum"), count(lit(1)).as("fcnt"))
    val bwd = ranked.filter(col("brn") <= k).groupBy("tid")
      .agg(sum(col("sq")).as("bsum"), count(lit(1)).as("bcnt"))
    // margin_ppm = sq·2·10^6·fcnt·bcnt div (fsum·bcnt + bsum·fcnt):
    // the exact-rational form of sq / ((fsum/fcnt + bsum/bcnt)/2) in ppm.
    // Bounds: sq ≤ 10^9, fcnt·bcnt ≤ k² — k ≤ 64 keeps the numerator
    // under 2^63 (10^9 · 2·10^6 · 4096 ≈ 8.2·10^18 only at k=64; use
    // k ≤ 22 for a 10^18 ceiling; typical mining k is 4–16).
    val num = col("sq") * lit(2L * 1000000L) * col("fcnt") * col("bcnt")
    val den = col("fsum") * col("bcnt") + col("bsum") * col("fcnt")
    ranked.filter(col("frn") <= k && col("sq") > 0)
      .join(fwd, "sid").join(bwd, "tid")
      .filter(col("fsum") > 0 && col("bsum") > 0)
      .withColumn("num_c", num).withColumn("den_c", den)
      .withColumn("margin_ppm", expr("num_c div den_c"))
      .filter(col("margin_ppm") >= minMarginPpm)
      .select(col("sid"), col("tid"), col("sq").as("score_q"),
        col("margin_ppm"), col("frn").cast("long").as("rn"))
  }

  /** Exact-scoring bitext mining baseline: every (src, tgt) pair scored
    * by the quantized cosine — a broadcast-nested-loop at capped sizes,
    * the verification twin of [[bitextMineLsh]]. src and tgt must have
    * disjoint `vec_id` spaces (two languages ⇒ two corpora).
    */
  def bitextMine(src: DataFrame, tgt: DataFrame, k: Int, minMarginPpm: Long): DataFrame = {
    val cq = cosineQ(src) _
    val scored = src.select(col("vec_id").as("sid"), col("embedding").as("se"))
      .crossJoin(tgt.select(col("vec_id").as("tid"), col("embedding").as("te")))
      .select(col("sid"), col("tid"),
        floor(cq(col("se"), col("te")) * lit(1e9)).cast("long").as("sq"))
    marginPairs(scored, k, minMarginPpm)
  }

  /** Scale path: candidates from a multi-table hyperplane-LSH bucket
    * equi-join instead of the all-pairs product. Unlike [[annTopK]] the
    * query side is NOT broadcast — in alignment mining both sides are
    * corpus-sized, so both shuffle once on the (table, signature) key and
    * collide in buckets (Hamming-ball probes expanded on the src side
    * only; a ≤h probe from either side finds the same collisions).
    * Neighborhood sums are computed over the SAME candidate set in both
    * directions, so missed neighbors weaken both numerator and
    * denominator coherently (the standard FAISS-mined-kNN margin).
    */
  def bitextMineLsh(
      src: DataFrame, tgt: DataFrame, k: Int, minMarginPpm: Long,
      numPlanes: Int = 8, probeHamming: Int = 1, numTables: Int = 4
  ): DataFrame = {
    val sigOf = lshSigNative(src) _
    val cq = cosineQ(src) _
    val masks = probeMasks(numPlanes, probeHamming)
    val sKeys = (0 until numTables).flatMap { t =>
      val sig = sigOf(col("embedding"), numPlanes, t * numPlanes)
      masks.map(m => struct(lit(t).as("tbl"), sig.bitwiseXOR(lit(m)).as("sig")))
    }
    val sSide = src.select(col("vec_id").as("sid"), col("embedding").as("se"),
      explode(array(sKeys: _*)).as("k"))
      .select(col("sid"), col("se"), col("k.tbl").as("tbl"), col("k.sig").as("sig"))
    val tKeys = (0 until numTables).map { t =>
      struct(lit(t).as("tbl"), sigOf(col("embedding"), numPlanes, t * numPlanes).as("sig"))
    }
    val tSide = tgt.select(col("vec_id").as("tid"), col("embedding").as("te"),
      explode(array(tKeys: _*)).as("k"))
      .select(col("tid"), col("te"), col("k.tbl").as("tbl"), col("k.sig").as("sig"))
    val scored = sSide.join(tSide, Seq("tbl", "sig"))
      .select(col("sid"), col("tid"),
        floor(cq(col("se"), col("te")) * lit(1e9)).cast("long").as("sq"))
      .groupBy("sid", "tid").agg(max(col("sq")).as("sq"))
    marginPairs(scored, k, minMarginPpm)
  }
}
