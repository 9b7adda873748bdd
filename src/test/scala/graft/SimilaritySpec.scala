package graft

import graft.sim.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** Exact top-k the approximations are scored against: under quantized
    * cosine (LSH, IVF) or the quantized dot (PQ ADC and its composites).
    */
  private def exactCos(e: DataFrame, q: DataFrame, k: Int): DataFrame =
    Similarity.bruteForceTopK(e, q, k, Similarity.cosineQ(e))
  private def exactDot(e: DataFrame, q: DataFrame, k: Int): DataFrame =
    Similarity.bruteForceTopK(e, q, k)

  private def vecs(rows: (Long, Seq[Float])*): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  // 4-dim corpus: v1 near v0, v2 orthogonal-ish, v3 opposite
  private val corpus = vecs(
    0L -> Seq(1f, 0f, 0f, 0f),
    1L -> Seq(0.9f, 0.1f, 0f, 0f),
    2L -> Seq(0f, 1f, 0f, 0f),
    3L -> Seq(-1f, 0f, 0f, 0f)
  )

  test("dotQuantized: exact integer arithmetic") {
    import spark.implicits._
    val d = Seq((Seq(0.5f, -0.25f), Seq(2f, 4f))).toDF("a", "b")
      .select(Similarity.dotQuantized(col("a"), col("b")).as("s")).collect()(0).getLong(0)
    // floor(0.5*1000)*floor(2*1000) + floor(-0.25*1000)*floor(4*1000) = 500*2000 + (-250)*4000
    assert(d == 500L * 2000 - 250L * 4000)
  }

  test("cosine ranks neighbors correctly") {
    val top = Similarity.bruteForceTopK(corpus, corpus.filter(col("vec_id") === 0), 3, Similarity.cosine(_, _))
      .orderBy("rn").collect().map(_.getLong(1))
    assert(top.toSeq == Seq(1L, 2L, 3L))
  }

  test("bruteForceTopK excludes the query itself and respects k") {
    val rows = Similarity.bruteForceTopK(corpus, corpus.filter(col("vec_id") === 0), 2).collect()
    assert(rows.length == 2)
    assert(!rows.map(_.getLong(1)).contains(0L))
  }

  test("annTopK: identical-vector duplicate lands in the same bucket at rank 1") {
    val withDup = vecs(
      0L -> Seq(1f, 0f, 0f, 0f),
      10L -> Seq(1f, 0f, 0f, 0f), // exact duplicate of the query
      2L -> Seq(0f, 1f, 0f, 0f),
      3L -> Seq(-1f, 0f, 0f, 0f)
    )
    val got = Similarity.annTopK(withDup, withDup.filter(col("vec_id") === 0), 3, numPlanes = 4)
      .orderBy("rn").collect()
    assert(got.nonEmpty)
    assert(got.head.getLong(1) == 10L) // the duplicate, cosine 1.0
  }

  test("nearDupPairs: exact quantized threshold; LSH variant ⊆ exact with same scores") {
    val withDup = vecs(
      0L -> Seq(1f, 0f, 0f, 0f),
      1L -> Seq(0.99f, 0.05f, 0f, 0f), // near-dup of 0
      2L -> Seq(0f, 1f, 0f, 0f),
      3L -> Seq(-1f, 0f, 0f, 0f)
    )
    val exact = Similarity.nearDupPairs(withDup, 900000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(exact.keySet == Set((0L, 1L))) // only the near-dup pair clears 0.9
    val lsh = Similarity.nearDupPairsLsh(withDup, 900000L, numTables = 2, planesPerTable = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(lsh.keySet.subsetOf(exact.keySet))
    lsh.foreach { case (k, v) => assert(exact(k) == v) }
    assert(lsh.contains((0L, 1L))) // near-identical vectors share all sign buckets
  }

  test("planeWeight is deterministic, bounded, and sign-balanced") {
    val ws = for (p <- 0 until 16; j <- 0 until 64) yield Similarity.planeWeight(p, j)
    assert(ws == (for (p <- 0 until 16; j <- 0 until 64) yield Similarity.planeWeight(p, j)))
    assert(ws.forall(w => w >= -500001L && w <= 500001L))
    val pos = ws.count(_ > 0).toDouble / ws.size
    assert(pos > 0.4 && pos < 0.6) // roughly balanced signs → unbiased planes
  }

  test("native graft_lshsig is bit-exact with the portable HOF signature") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for ((planes, offset) <- Seq((8, 0), (6, 12), (4, 36))) {
      val mismatches = e.select(
        Similarity.lshSigNative(e)(col("embedding"), planes, offset).as("native"),
        Similarity.lshSignatureInt(col("embedding"), planes, offset, 64).as("hof")
      ).filter(col("native") =!= col("hof")).count()
      assert(mismatches == 0, s"planes=$planes offset=$offset")
    }
  }

  test("ann results are a subset of brute-force candidates scored identically") {
    val cq = Similarity.cosineQ(corpus) _
    val brute = Similarity.bruteForceTopK(corpus, corpus.filter(col("vec_id") === 0), 3, cq)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    val ann = Similarity.annTopK(corpus, corpus.filter(col("vec_id") === 0), 3, numPlanes = 4)
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(ann.nonEmpty)
    ann.foreach { case (vid, score) => assert(brute(vid) == score) } // identical quantized scoring
  }

  test("recall: multi-probe ANN@5 against brute force on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
    // the gated configuration (4 tables × planesFor(count) planes,
    // Hamming-2 probes) — the same derivation SparkEntry/Bench use.
    // NB this corpus is a WORST CASE for hyperplane LSH: brute-force top-5
    // neighbors sit at cosine ≈ 0.3 (near-random vectors), where per-plane
    // agreement is barely above chance — recall here is the stress floor,
    // not the typical-corpus figure (at cosine ≥ 0.9 the same config
    // measures ≈ 1.0: see the duplicate-vector test above).
    val planes = Similarity.planesFor(e.count())
    val recallFull = Similarity.recallAtK(exactCos(e, q, 5),
      Similarity.annTopK(e, q, 5, numPlanes = planes, probeHamming = 2, numTables = 4))
    val recallOneTable = Similarity.recallAtK(exactCos(e, q, 5),
      Similarity.annTopK(e, q, 5, numPlanes = planes, probeHamming = 2, numTables = 1))
    info(s"recall@5 (planes=$planes): 4tables+probe2=$recallFull 1table+probe2=$recallOneTable")
    assert(recallFull >= recallOneTable) // extra tables never hurt
    assert(recallFull >= 0.5, s"recall@5 with 4 tables + probe 2 was $recallFull")
  }

  test("recall: the gated ANN configuration clears 0.5 at the BENCHED sf (0.1)") {
    // the sf the committed BENCH quality block publishes — the floor is
    // asserted where the artifact measures, not only at the smaller sf
    val e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
    val planes = Similarity.planesFor(e.count())
    val recall = Similarity.recallAtK(exactCos(e, q, 5),
      Similarity.annTopK(e, q, 5, numPlanes = planes, probeHamming = 2, numTables = 4))
    info(s"recall@5 at sf0.1 (planes=$planes): $recall")
    assert(recall >= 0.5, s"recall@5 at sf0.1 with the gated config was $recall")
  }

  test("recall: multi-table near-dup LSH against the exact baseline on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val exact = Similarity.nearDupPairs(e, 400000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val lsh = Similarity.nearDupPairsLsh(e, 400000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(lsh.keySet.subsetOf(exact.keySet))
    lsh.foreach { case (k, v) => assert(exact(k) == v) }
    val recall = if (exact.isEmpty) 1.0 else lsh.size.toDouble / exact.size
    info(s"near-dup LSH recall=$recall over ${exact.size} exact pairs")
    assert(recall >= 0.6, s"near-dup LSH recall was $recall over ${exact.size} exact pairs")
  }

  test("graft_lshsig rejects out-of-range plane args at analysis time") {
    graft.functions.GraftFunctions.register(spark)
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // 1L << 64 wraps — must fail loudly, not alias bit positions
    intercept[Exception] { e.select(expr("graft_lshsig(embedding, 64, 0)")).collect() }
    intercept[Exception] { e.select(expr("graft_lshsig(embedding, 0, 0)")).collect() }
    intercept[Exception] { e.select(expr("graft_lshsig(embedding, 8, -1)")).collect() }
    // in-range still works
    assert(e.select(expr("graft_lshsig(embedding, 8, 0)")).limit(1).collect().nonEmpty)
  }

  test("cellsFor is the exact integer sqrt, clamped") {
    assert(Similarity.cellsFor(500L) == 22)   // 22² = 484 ≤ 500 < 529
    assert(Similarity.cellsFor(484L) == 22)   // perfect square boundary
    assert(Similarity.cellsFor(483L) == 21)
    assert(Similarity.cellsFor(10000L) == 100)
    assert(Similarity.cellsFor(0L) == 4)      // clamp floor
    assert(Similarity.cellsFor(8L) == 4)
    assert(Similarity.cellsFor(Long.MaxValue / 4) == 65536) // clamp cap
  }

  test("ivfTopK: probes only the requested cells; probed results score identically to brute force") {
    // centroids = two smallest ids (0, 1). Assignment by integer dot:
    // v0,v1 → cell 0 (qdot(v1,c0)=900k > qdot(v1,c1)=820k), v2,v3 → cell 1
    // (0 vs 100k, -1000k vs -900k). Query v0 ranks cell 0 first.
    val one = Similarity.ivfTopK(corpus, corpus.filter(col("vec_id") === 0), 3, numCells = 2, nProbe = 1)
      .orderBy("rn").collect()
    assert(one.map(_.getLong(1)).toSeq == Seq(1L)) // only cell 0's other member
    val cq = Similarity.cosineQ(corpus) _
    val brute = Similarity.bruteForceTopK(corpus, corpus.filter(col("vec_id") === 0), 3, cq)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    val all = Similarity.ivfTopK(corpus, corpus.filter(col("vec_id") === 0), 3, numCells = 2, nProbe = 2)
      .orderBy("rn").collect()
    assert(all.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L)) // full probe = brute order
    all.foreach(r => assert(brute(r.getLong(1)) == r.getDouble(2))) // identical quantized scoring
  }

  test("ivfTopK: identical-vector duplicate is assigned to the query's cell and ranks 1") {
    val withDup = vecs(
      0L -> Seq(1f, 0f, 0f, 0f),
      10L -> Seq(1f, 0f, 0f, 0f), // exact duplicate of the query
      2L -> Seq(0f, 1f, 0f, 0f),
      3L -> Seq(-1f, 0f, 0f, 0f)
    )
    val got = Similarity.ivfTopK(withDup, withDup.filter(col("vec_id") === 0), 3,
      numCells = 2, nProbe = 1).orderBy("rn").collect()
    assert(got.nonEmpty)
    assert(got.head.getLong(1) == 10L)
  }

  test("recall: IVF@5 with the gated configuration (√n cells, 4 probes) on real embeddings") {
    // same derivation SparkEntry/Bench use; measured 0.90 (sf0.01) and
    // 0.98 (sf0.1) — the coarse quantizer tracks cosine structure even on
    // this near-random corpus, unlike fixed hyperplanes
    for (sf <- Seq("sf0.01", "sf0.1")) {
      val e = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
      val q = e.filter(col("vec_id") < 10)
      val cells = Similarity.cellsFor(e.count())
      val recall = Similarity.recallAtK(exactCos(e, q, 5),
        Similarity.ivfTopK(e, q, 5, numCells = cells, nProbe = 4))
      info(s"IVF recall@5 at $sf (cells=$cells): $recall")
      assert(recall >= 0.6, s"IVF recall@5 at $sf (cells=$cells) was $recall")
      // one Lloyd round (the gated s_ivf_topk config) must hold the same
      // floor — refinement tightens cells, it must never wreck them
      val refined = Similarity.recallAtK(exactCos(e, q, 5),
        Similarity.ivfTopK(e, q, 5, numCells = cells, nProbe = 4, lloydRounds = 1))
      info(s"IVF recall@5 at $sf with 1 Lloyd round: $refined")
      assert(refined >= 0.6, s"refined IVF recall@5 at $sf was $refined")
    }
  }

  test("pq: codes are m-long with cid < ks; identical vectors encode identically") {
    val dup = vecs(
      0L -> Seq(1f, 0f, 0f, 0f),
      1L -> Seq(1f, 0f, 0f, 0f),   // exact duplicate of 0
      2L -> Seq(0f, 1f, 0f, 0f),
      3L -> Seq(-1f, 0f, 0.5f, 0f))
    val cb = Similarity.pqCodebooks(dup, m = 2, ks = 4, dim = 4)
    val codes = Similarity.pqEncode(dup, cb, m = 2, dim = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes.size == 4 && codes.values.forall(c => c.length == 2 && c.forall(x => x >= 0 && x < 4)))
    assert(codes(0L) == codes(1L), s"duplicates must share codes: $codes")
    assert(codes(0L) != codes(3L), s"opposite vector must differ: $codes")
  }

  test("pq ADC is EXACT when every vector is a codeword (clusters of identical members)") {
    // 4 distinct vectors, each duplicated: after one Lloyd round every
    // codeword is the mean of identical members == the vector itself, so
    // ADC == exact quantized dot for every (query, vector) pair
    val base = Seq(
      Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f),
      Seq(0f, 0f, 1f, 0f), Seq(-0.5f, 0.5f, 0f, 0.7f))
    val dup = vecs((0L until 8L).map(i => i -> base((i % 4).toInt)): _*)
    val q = dup.filter(col("vec_id") === 0)
    val pq = Similarity.pqTopK(dup, q, 7, m = 2, ks = 4, dim = 4)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    val brute = Similarity.bruteForceTopK(dup, q, 7)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(pq == brute, s"ADC must equal exact qdot on codeword-exact corpus:\n$pq\n$brute")
  }

  test("recall: PQ ADC@5 on real embeddings — gated m=16, ks=64 holds the floor") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
    // measured 0.30 / 0.32 / 0.64 at (8,16) / (16,16) / (16,64): on this
    // near-uniform corpus FINER SUBSPACES beat more codewords (8-dim
    // random cells quantize poorly at any ks); the gated config is the
    // one that holds recall
    for ((m, ks) <- Seq((8, 16), (16, 16))) {
      info(s"PQ recall@5 at sf0.01 (m=$m, ks=$ks): " +
        Similarity.recallAtK(exactDot(e, q, 5), Similarity.pqTopK(e, q, 5, m = m, ks = ks)))
    }
    val gated = Similarity.recallAtK(exactDot(e, q, 5), Similarity.pqTopK(e, q, 5, m = 16, ks = 64))
    info(s"PQ recall@5 at sf0.01 (m=16, ks=64, the gated config): $gated")
    assert(gated >= 0.5, s"gated PQ recall@5 was $gated")
  }

  test("ivfPqTopK: raw-encoding full probe equals the exhaustive PQ ADC scan; pruned residual probe holds recall") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
    val cells = Similarity.cellsFor(e.count())
    // with every cell probed and RAW encoding the candidate set is the
    // whole corpus under the same global codebooks, so the composite
    // must reproduce pqTopK's ranking bit-for-bit
    val full = Similarity.ivfPqTopK(e, q, 5, numCells = cells, nProbe = cells,
        m = 16, ks = 64, residual = false)
      .select("qid", "vid", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val pq = Similarity.pqTopK(e, q, 5, m = 16, ks = 64)
      .select("qid", "vid", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full == pq, "full-probe raw IVF-PQ must equal exhaustive ADC")
    // the gated pruned config (residual encoding): recall compounds the
    // approximations — report it with a collapse floor
    val brute = Similarity.bruteForceTopK(e, q, 5)
      .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pruned = Similarity.ivfPqTopK(e, q, 5, numCells = cells, nProbe = 4,
        m = 16, ks = 64)
      .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (pruned & brute).size.toDouble / brute.size
    info(s"residual IVF-PQ recall@5 at sf0.01 (cells=$cells, nProbe=4, m=16, ks=64): $recall")
    assert(recall >= 0.3, s"composite recall collapsed: $recall")
  }

  test("residual IVF-PQ is EXACT in the tight-cell regime; raw encoding is not") {
    // 8 near-identical cluster centers (common base + one boosted
    // component) each duplicated 3×: with numCells = 8 every member's
    // centroid IS its vector, residuals are exactly zero, and the ADC
    // score degenerates to the exact coarse dot — recall 1.0 with
    // bit-identical scores. Raw encoding at ks=4 must fold 8 clusters
    // onto 4 codewords and misrank — the measurable gap that makes
    // residuals the published design's recall half (in the regime it
    // assumes: tight cells, which 10^9 vectors under √n cells give).
    val base = Array.tabulate(64)(i => (i + 1) / 100.0f)
    def cvec(j: Int): Seq[Float] = {
      val raw = Array.tabulate(64)(i => base(i) + (if (i == j) 0.15f else 0f))
      val n = math.sqrt(raw.map(x => x.toDouble * x).sum).toFloat
      raw.map(_ / n).toSeq
    }
    val rows = (0 until 8).map(j => j.toLong -> cvec(j)) ++
      (0 until 8).map(j => (10 + j).toLong -> cvec(j)) ++
      (0 until 8).map(j => (20 + j).toLong -> cvec(j))
    val dup = vecs(rows: _*)
    val q = dup.filter(col("vec_id") < 2)
    val brute = Similarity.bruteForceTopK(dup, q, 5)
      .select("qid", "vid", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val res = Similarity.ivfPqTopK(dup, q, 5, numCells = 8, nProbe = 8,
        m = 16, ks = 4, residual = true)
      .select("qid", "vid", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(res == brute,
      s"zero residuals must reproduce the exact ranking AND scores:\n$res\n$brute")
    val rawTop = Similarity.ivfPqTopK(dup, q, 5, numCells = 8, nProbe = 8,
        m = 16, ks = 4, residual = false)
      .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bruteIds = brute.map(t => (t._1, t._2))
    val rawRecall = (rawTop & bruteIds).size.toDouble / bruteIds.size
    info(s"raw-encoding recall on the clustered corpus (ks=4): $rawRecall")
    assert(rawRecall < 1.0,
      "raw encoding at ks=4 cannot be exact on 8 distinct clusters — " +
        "if it is, this corpus no longer demonstrates the residual gap")
  }

  test("recall at sf0.1: residual vs raw measured honestly; the refine stage holds >= 0.9") {
    val e = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
    val cells = Similarity.cellsFor(e.count())
    // the near-uniform corpus is the residual ANTI-regime (nearest
    // centroid at cos ≈ 0.3-0.4 ⇒ residual norm exceeds vector norm):
    // measured 0.34 residual vs 0.38 raw at the gated knobs — recorded
    // as info, floored against collapse, NOT claimed as a residual win
    val exact = exactDot(e, q, 5)
    val res = Similarity.recallAtK(exact, Similarity.ivfPqTopK(e, q, 5, cells, 4, 16, 64, residual = true))
    val raw = Similarity.recallAtK(exact, Similarity.ivfPqTopK(e, q, 5, cells, 4, 16, 64, residual = false))
    info(s"sf0.1 IVF-PQ recall@5 (cells=$cells, nProbe=4, m=16, ks=64): residual=$res raw=$raw")
    assert(res >= 0.25 && raw >= 0.25, s"composite recall collapsed: res=$res raw=$raw")
    // the production-recall path (gated s_ivfpq_rerank): ADC shortlist
    // of 50 at nProbe=8 + exact integer rerank — measured 0.98
    val rr = Similarity.recallAtK(exact, Similarity.ivfPqRerankTopK(e, q, 5, cells, 8, 16, 64,
      shortlist = 50))
    info(s"sf0.1 IVF-PQ rerank recall@5 (nProbe=8, shortlist=50): $rr")
    assert(rr >= 0.9, s"refine stage must hold >= 0.9, got $rr")
  }

  test("residual IVF-PQ and the rerank are deterministic across corpus partitioning") {
    // the 1000-executor invariant: seeds are TakeOrdered on unique ids,
    // every argmin/argmax breaks ties on the smaller id, every window
    // orders with a full tiebreak — so nothing may depend on which
    // partition a vector happens to land in
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = e.filter(col("vec_id") < 5)
    val cells = Similarity.cellsFor(e.count())
    def run(df: org.apache.spark.sql.DataFrame) = Similarity
      .ivfPqRerankTopK(df, q, 3, cells, nProbe = 4, m = 8, ks = 8, shortlist = 6)
      .select("qid", "vid", "score", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val r1 = run(e.repartition(1))
    val r7 = run(e.repartition(7))
    assert(r1 == r7, s"partitioning changed the result:\n$r1\n$r7")
  }

  test("semDedup: within-cell duplicates collapse to the min id; distinct clusters untouched") {
    // v0 == v10 (exact duplicates → same cell, qdot 10^6 ≥ threshold);
    // v2 and v3 are far from everything — all three survivors expected
    val dup = vecs(
      0L -> Seq(1f, 0f, 0f, 0f),
      10L -> Seq(1f, 0f, 0f, 0f),
      2L -> Seq(0f, 1f, 0f, 0f),
      3L -> Seq(0f, 0f, 1f, 0f))
    val kept = Similarity.semDedup(dup, numCells = 2, minQDot = 400000L)
      .collect().map(_.getLong(0)).toSet
    assert(kept.contains(0L) && !kept.contains(10L), s"duplicate must collapse to min id: $kept")
    assert(kept.contains(2L) && kept.contains(3L), s"distinct vectors survive: $kept")
  }

  test("semDedup: a hot cell of 60 identical vectors collapses to one survivor") {
    // the skew case — one cell holds a mass-duplicate cluster whose
    // local self-join is quadratic (1770 pairs) and whose component must
    // still converge to the single min-id survivor
    val many = vecs((0L until 60L).map(i => i -> Seq(1f, 0f, 0f, 0f)) ++
      Seq(100L -> Seq(0f, 1f, 0f, 0f), 101L -> Seq(0f, 0f, 1f, 0f)): _*)
    val kept = Similarity.semDedup(many, numCells = 3, minQDot = 400000L)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 100L, 101L), s"got $kept")
  }

  test("planesFor grows the signature with the corpus") {
    assert(Similarity.planesFor(1000L) == 4)
    assert(Similarity.planesFor(1000000000L, 10000L) == 17)
    assert(Similarity.planesFor(Long.MaxValue) == 20)
  }

  test("bitextMine: a mutual translation pair out-margins a hubby near-cluster") {
    // src 0 ↔ tgt 101 are each other's clear best match (margin ≫ 1);
    // src 2/4 and tgt 103/105 form a tight cluster where every cosine is
    // close to the neighborhood average (margin ≈ 1) — the hubness case
    // absolute-threshold mining gets wrong and margin mining exists for.
    val src = vecs(
      0L -> Seq(1f, 0f, 0f, 0f),
      2L -> Seq(0f, 1f, 0.1f, 0f),
      4L -> Seq(0f, 1f, 0.12f, 0f))
    val tgt = vecs(
      101L -> Seq(0.99f, 0.05f, 0f, 0f),
      103L -> Seq(0f, 1f, 0.11f, 0f),
      105L -> Seq(0f, 0.98f, 0.1f, 0f))
    val out = Similarity.bitextMine(src, tgt, k = 2, minMarginPpm = 0L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3))).toMap
    assert(out((0L, 101L)) > 1400000L, s"aligned pair margin was ${out((0L, 101L))}")
    // cluster pairs hover at margin ≈ 1 (ppm ≈ 1e6): within 5%
    Seq((2L, 103L), (4L, 103L)).foreach { p =>
      assert(math.abs(out(p) - 1000000L) < 50000L, s"$p margin ${out(p)}")
    }
    // thresholding at 1.4 keeps only the true pair's rank-1 row
    val mined = Similarity.bitextMine(src, tgt, k = 2, minMarginPpm = 1400000L)
      .select("sid", "tid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(mined.toSeq == Seq((0L, 101L)))
  }

  test("bitextMine: LSH candidates are a subset of exact with identical scores and sane margins") {
    val sf = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val src = e.filter(col("vec_id") % 2 === 0)
    val tgt = e.filter(col("vec_id") % 2 === 1)
    val exact = Similarity.bitextMine(src, tgt, 4, 1000000L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val lsh = Similarity.bitextMineLsh(src, tgt, 4, 1000000L,
      numPlanes = 4, probeHamming = 1, numTables = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2), r.getLong(3)))
    assert(exact.nonEmpty && lsh.nonEmpty)
    // every LSH-mined pair that the exact path also mined carries the
    // IDENTICAL quantized score (margins differ by construction: the
    // denominator neighborhoods are the mined candidate sets)
    lsh.foreach { case (pair, sq, margin) =>
      exact.get(pair).foreach(esq => assert(esq == sq, s"$pair score $sq vs exact $esq"))
      assert(margin >= 1000000L)
    }
  }
}
