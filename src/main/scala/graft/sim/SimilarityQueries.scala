package graft.sim

import graft.Fixtures._
import graft.Gated
import graft.dedup.Dedup
import org.apache.spark.sql.functions._

/** Gated queries over the embedding operators (`s_`): exact and
  * approximate top-k (LSH, IVF, PQ), near-duplicate embeddings and bitext
  * mining.
  */
object SimilarityQueries {

  /** SQL twin of the native `graft_qdot` (scale 1000, 64-dim). */
  private def qdotSql(a: String, b: String): String =
    s"""list_sum(list_transform(generate_series(1, 64), i ->
       |    CAST(floor(CAST($a[i] AS DOUBLE) * 1000) AS BIGINT) *
       |    CAST(floor(CAST($b[i] AS DOUBLE) * 1000) AS BIGINT)))""".stripMargin

  /** SQL twin of [[Similarity.cosineQ]] — bit-identical DOUBLE (every step
    * one IEEE rounding on exact integers; qdot products < 2^52).
    */
  private def cosQSql(a: String, b: String): String =
    s"CAST(${qdotSql(a, b)} AS DOUBLE) / sqrt(CAST(${qdotSql(a, a)} * ${qdotSql(b, b)} AS DOUBLE))"

  /** SQL twin of the native `graft_lshsig(e, planes, offset)`; both
    * `planesExpr` and `offsetExpr` may be arbitrary SQL (multi-table
    * banding uses `t * planes`; the ANN oracle derives planes from
    * count(*) exactly like [[Similarity.planesFor]]).
    */
  private def lshSigSql(e: String, planesExpr: String, offsetExpr: String): String =
    s"""list_sum(list_transform(generate_series(0, ($planesExpr) - 1), p ->
       |  CASE WHEN list_sum(list_transform(generate_series(1, 64), j ->
       |    CAST(floor(CAST($e[j] AS DOUBLE) * 1000) AS BIGINT) *
       |    (((CAST(($offsetExpr) + p AS BIGINT) * 1315423911 + CAST(j - 1 AS BIGINT) * 2654435761 + 97531) % 1000003) - 500001)))
       |  > 0 THEN CAST(1 AS BIGINT) << p ELSE CAST(0 AS BIGINT) END))""".stripMargin

  /** SQL twin of [[Similarity.planesFor]] (integer ceil-divide + smallest
    * p with 2^p ≥ ratio, clamped to [4, 20]) over `embeddings`' count.
    */
  private val planesForSql: String =
    """pl AS (
      |  SELECT least(20, greatest(4,
      |    (SELECT min(p) FROM (SELECT unnest(generate_series(1, 20)) AS p)
      |     WHERE (CAST(1 AS BIGINT) << p) >= rc))) AS p
      |  FROM (SELECT greatest(2, (count(*) + 9999) // 10000) AS rc FROM embeddings))""".stripMargin

  /** Parameterized SQL twin of [[Similarity.ivfPqTopK]]: the s_ivf_topk
    * coarse chain (no Lloyd) feeding the PQ seed/Lloyd/assignment chain —
    * over RESIDUALS `fq[i] − centroid[i]` when `residual` (the published
    * IVFADC design; the ADC score then adds the probe's exact coarse dot
    * `cs`), over raw quantized vectors otherwise. One template serves
    * every gated (m, ks, nProbe) config — identical integers step for
    * step with the Spark path.
    */
  private def ivfPqSql(m: Int, ks: Int, nProbe: Int, residual: Boolean,
                       k: Int = 5): String = {
    val d = 64 / m
    val rv =
      if (residual)
        s"""cq AS (SELECT ccid, list_transform(generate_series(1, 64), i ->
           |  CAST(floor(CAST(cce[i] AS DOUBLE) * 1000) AS BIGINT)) AS cv FROM cent),
           |rv AS (SELECT fq.vid, list_transform(generate_series(1, 64), i -> fv[i] - cv[i]) AS rq
           |  FROM fq JOIN cellasn ON cellasn.avid = fq.vid JOIN cq ON cq.ccid = cellasn.cell)""".stripMargin
      else "rv AS (SELECT vid, fv AS rq FROM fq)"
    val scoreExpr =
      if (residual) "CAST(qp.cs + sum(l.pdot) AS BIGINT)"
      else "CAST(sum(l.pdot) AS BIGINT)"
    s"""WITH cl AS (
       |  SELECT least(65536, greatest(4,
       |    CASE WHEN (c0+1)*(c0+1) <= n THEN c0+1 WHEN c0*c0 > n THEN c0-1 ELSE c0 END)) AS c
       |  FROM (SELECT count(*) AS n, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS c0 FROM embeddings)),
       |cent AS (SELECT vec_id AS ccid, embedding AS cce FROM embeddings, cl
       |         QUALIFY row_number() OVER (ORDER BY vec_id) <= c),
       |v AS (SELECT vec_id AS vid, embedding AS ve FROM embeddings),
       |vsc AS (SELECT vid, ccid, ${qdotSql("ve", "cce")} AS cs FROM v, cent),
       |cellasn AS (SELECT avid, ccid AS cell FROM (
       |  SELECT vid AS avid, ccid, row_number() OVER (PARTITION BY vid ORDER BY cs DESC, ccid) AS rn FROM vsc) WHERE rn = 1),
       |fq AS (SELECT vid, list_transform(generate_series(1, 64), i ->
       |  CAST(floor(CAST(ve[i] AS DOUBLE) * 1000) AS BIGINT)) AS fv FROM v),
       |$rv,
       |ss AS (SELECT unnest(generate_series(0, ${m - 1})) AS s),
       |vs AS (SELECT vid, ss.s, list_transform(generate_series(1, $d), i -> rq[ss.s * $d + i]) AS vq FROM rv, ss),
       |seeds AS (SELECT vid, rq FROM rv QUALIFY row_number() OVER (ORDER BY vid) <= $ks),
       |sd AS (SELECT row_number() OVER (ORDER BY vid) - 1 AS cid, rq AS e FROM seeds),
       |cb0 AS (SELECT ss.s, sd.cid, list_transform(generate_series(1, $d), i -> e[ss.s * $d + i]) AS ce FROM sd, ss),
       |d0 AS (SELECT vid, vs.s, cid,
       |  list_sum(list_transform(generate_series(1, $d), i -> (vq[i] - ce[i]) * (vq[i] - ce[i]))) AS dist
       |  FROM vs JOIN cb0 ON cb0.s = vs.s),
       |a0 AS (SELECT vid, s, cid FROM (SELECT vid, s, cid,
       |  row_number() OVER (PARTITION BY vid, s ORDER BY dist, cid) AS rn FROM d0) WHERE rn = 1),
       |pm AS (SELECT vs.s, a0.cid, g.i AS dim,
       |  CAST((sum(vq[g.i]) + count(*) * 1048576) // count(*) - 1048576 AS BIGINT) AS q
       |  FROM vs JOIN a0 ON a0.vid = vs.vid AND a0.s = vs.s,
       |       (SELECT unnest(generate_series(1, $d)) AS i) g
       |  GROUP BY vs.s, a0.cid, g.i),
       |cb AS (SELECT s, cid, list(q ORDER BY dim) AS ce FROM pm GROUP BY s, cid),
       |d1 AS (SELECT vid, vs.s, cid,
       |  list_sum(list_transform(generate_series(1, $d), i -> (vq[i] - ce[i]) * (vq[i] - ce[i]))) AS dist
       |  FROM vs JOIN cb ON cb.s = vs.s),
       |pqasn AS (SELECT vid, s, cid FROM (SELECT vid, s, cid,
       |  row_number() OVER (PARTITION BY vid, s ORDER BY dist, cid) AS rn FROM d1) WHERE rn = 1),
       |q0 AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
       |qs AS (SELECT qid, ss.s, list_transform(generate_series(1, $d), i ->
       |  CAST(floor(CAST(qe[ss.s * $d + i] AS DOUBLE) * 1000) AS BIGINT)) AS qq FROM q0, ss),
       |lut AS (SELECT qid, cb.s, cb.cid,
       |  CAST(list_sum(list_transform(generate_series(1, $d), i -> qq[i] * ce[i])) AS BIGINT) AS pdot
       |  FROM qs JOIN cb ON cb.s = qs.s),
       |qsc AS (SELECT qid, ccid, ${qdotSql("qe", "cce")} AS cs FROM q0, cent),
       |qp AS (SELECT qid, ccid AS cell, cs FROM (
       |  SELECT qid, ccid, cs, row_number() OVER (PARTITION BY qid ORDER BY cs DESC, ccid) AS rn FROM qsc) WHERE rn <= $nProbe),
       |sc AS (SELECT qp.qid, ca.avid AS vid, $scoreExpr AS score
       |  FROM qp JOIN cellasn ca ON ca.cell = qp.cell
       |  JOIN pqasn p ON p.vid = ca.avid
       |  JOIN lut l ON l.qid = qp.qid AND l.s = p.s AND l.cid = p.cid
       |  WHERE qp.qid <> ca.avid GROUP BY qp.qid, ca.avid, qp.cs)
       |SELECT qid, vid, score, rn FROM (SELECT qid, vid, score,
       |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, vid) AS rn FROM sc)
       |WHERE rn <= $k""".stripMargin
  }

  /** Top-k window wrapper shared by the similarity oracles. */
  private def topkSql(scoredCte: String): String =
    s"""$scoredCte
       |SELECT qid, vid, CAST(floor(score * 1000000000.0) AS BIGINT) AS score_q, rn FROM (
       |  SELECT qid, vid, score,
       |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, vid) AS rn
       |  FROM s) WHERE rn <= 5""".stripMargin

  /** Shared margin tail for the bitext oracles: forward/backward kNN
    * windows over the candidate CTE `sc(sid, tid, sq)`, neighborhood
    * sum+count aggregates, and the exact-rational margin_ppm — the SQL
    * twin of `Similarity.marginPairs` line by line.
    */
  private def bitextMarginSql(scoredCte: String, k: Int, minMarginPpm: Long): String =
    s"""$scoredCte,
       |r AS (SELECT sid, tid, sq,
       |  row_number() OVER (PARTITION BY sid ORDER BY sq DESC, tid) AS frn,
       |  row_number() OVER (PARTITION BY tid ORDER BY sq DESC, sid) AS brn FROM sc),
       |f AS (SELECT sid, sum(sq) AS fsum, count(*) AS fcnt FROM r WHERE frn <= $k GROUP BY sid),
       |b AS (SELECT tid, sum(sq) AS bsum, count(*) AS bcnt FROM r WHERE brn <= $k GROUP BY tid),
       |mg AS (SELECT sid, tid, sq, frn,
       |  CAST((sq * 2000000 * fcnt * bcnt) // (fsum * bcnt + bsum * fcnt) AS BIGINT) AS margin_ppm
       |  FROM r JOIN f USING (sid) JOIN b USING (tid)
       |  WHERE frn <= $k AND sq > 0 AND fsum > 0 AND bsum > 0)
       |SELECT sid AS src_id, tid AS tgt_id, sq AS score_q, margin_ppm,
       |  CAST(frn AS BIGINT) AS rn
       |FROM mg WHERE margin_ppm >= $minMarginPpm""".stripMargin

  val all: Seq[Gated] = Seq(
    Gated("s_dot_topk", (s, dir) => {
      val e = embs(s, dir)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), 5)
        .select(col("qid"), col("vid"), col("score").cast("long").as("score"), col("rn").cast("long").as("rn"))
    }, Some(
      """WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |v AS (SELECT vec_id AS vid, embedding AS ve FROM embeddings),
        |s AS (SELECT qid, vid,
        |  CAST(list_sum(list_transform(generate_series(1, 64), i ->
        |    CAST(floor(CAST(qe[i] AS DOUBLE) * 1000) AS BIGINT) *
        |    CAST(floor(CAST(ve[i] AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS score
        |  FROM q, v WHERE qid <> vid)
        |SELECT qid, vid, score, rn FROM (
        |  SELECT qid, vid, score,
        |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, vid) AS rn
        |  FROM s) WHERE rn <= 5""".stripMargin)),
    // quantized cosine: every arithmetic step is a single IEEE rounding on
    // exactly-representable integers, so the DOUBLE score — and its rank
    // order — is bit-identical in DuckDB; output quantized to a long so
    // the oracle compare's value hash sees integers only
    Gated("s_cosine_topk", (s, dir) => {
      val e = embs(s, dir)
      val cq = Similarity.cosineQ(e) _
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), 5, cq)
        .select(col("qid"), col("vid"),
          floor(col("score") * lit(1e9)).cast("long").as("score_q"), col("rn").cast("long").as("rn"))
    }, Some(topkSql(
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
         |v AS (SELECT vec_id AS vid, embedding AS ve FROM embeddings),
         |s AS (SELECT qid, vid, ${cosQSql("qe", "ve")} AS score FROM q, v WHERE qid <> vid)""".stripMargin))),
    // planes come from the same integer planesFor heuristic the Spark
    // path uses (derived from count(*)); probe masks (Hamming ≤ 2) are
    // generated in SQL over the derived width
    Gated("s_ann_topk", (s, dir) => {
      val e = embs(s, dir)
      // signature width derived from the corpus count (parquet footer
      // metadata — no scan), NOT hardcoded: at 10^9+ vectors a fixed
      // 8-plane signature is 256 buckets per table — mega-hot join keys.
      // The oracle recomputes the same integer heuristic from count(*).
      val planes = Similarity.planesFor(e.count())
      Similarity.annTopK(e, e.filter(col("vec_id") < 10), 5,
        numPlanes = planes, probeHamming = 2, numTables = 4)
        .select(col("qid"), col("vid"),
          floor(col("score") * lit(1e9)).cast("long").as("score_q"), col("rn").cast("long").as("rn"))
    }, Some(topkSql(
      s"""WITH $planesForSql,
         |tt AS (SELECT unnest(generate_series(0, 3)) AS t),
         |bits AS (SELECT unnest(generate_series(0, pl.p - 1)) AS i FROM pl),
         |mm AS (SELECT CAST(0 AS BIGINT) AS m
         |       UNION ALL SELECT (CAST(1 AS BIGINT) << i) FROM bits
         |       UNION ALL SELECT (CAST(1 AS BIGINT) << a.i) | (CAST(1 AS BIGINT) << b.i)
         |                 FROM bits a, bits b WHERE a.i < b.i),
         |q0 AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
         |qs AS (SELECT qid, qe, tt.t AS tbl, ${lshSigSql("qe", "pl.p", "tt.t * pl.p")} AS sig FROM q0, tt, pl),
         |q AS (SELECT qid, qe, tbl, xor(sig, m) AS sig FROM qs, mm),
         |v0 AS (SELECT vec_id AS vid, embedding AS ve FROM embeddings),
         |v AS (SELECT vid, ve, tt.t AS tbl, ${lshSigSql("ve", "pl.p", "tt.t * pl.p")} AS sig FROM v0, tt, pl),
         |s AS (SELECT qid, vid, max(${cosQSql("qe", "ve")}) AS score
         |      FROM q JOIN v USING (tbl, sig) WHERE qid <> vid GROUP BY qid, vid)""".stripMargin))),
    // IVF variant of the same ANN op: coarse-quantizer cells instead of
    // hyperplane buckets — cells derived √n from the footer count, ONE
    // Lloyd refinement round (integer per-cell means, slim triples —
    // proving the "refinement is the same shapes" claim value-exactly),
    // probe the 4 best cells per query, exact re-rank inside them
    // cells = exact integer √count (double sqrt + ±1 integer fix-up,
    // clamped [4, 65536]) — the SQL twin of Similarity.cellsFor;
    // assignment/probe ranking and scoring mirror the Spark path step by
    // step in integer space
    Gated("s_ivf_topk", (s, dir) => {
      val e = embs(s, dir)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 10), 5,
        numCells = Similarity.cellsFor(e.count()), nProbe = 4, lloydRounds = 1)
        .select(col("qid"), col("vid"),
          floor(col("score") * lit(1e9)).cast("long").as("score_q"), col("rn").cast("long").as("rn"))
    }, Some(topkSql(
      s"""WITH cl AS (
         |  SELECT least(65536, greatest(4,
         |    CASE WHEN (c0+1)*(c0+1) <= n THEN c0+1 WHEN c0*c0 > n THEN c0-1 ELSE c0 END)) AS c
         |  FROM (SELECT count(*) AS n, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS c0 FROM embeddings)),
         |cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings, cl
         |         QUALIFY row_number() OVER (ORDER BY vec_id) <= c),
         |v AS (SELECT vec_id AS vid, embedding AS ve FROM embeddings),
         |vsc AS (SELECT vid, cid, ${qdotSql("ve", "ce")} AS cs FROM v, cent),
         |asn0 AS (SELECT avid, cid AS cell FROM (
         |  SELECT vid AS avid, cid, row_number() OVER (PARTITION BY vid ORDER BY cs DESC, cid) AS rn FROM vsc) WHERE rn = 1),
         |-- one Lloyd round: per-cell integer mean of the quantized
         |-- components (bias-shifted so // == DIV on negative sums),
         |-- pivoted back to small-integer float centroids
         |cm AS (SELECT cell, g.i AS dim,
         |    CAST((sum(CAST(floor(CAST(ve[g.i] AS DOUBLE) * 1000) AS BIGINT)) + count(*) * 1048576) // count(*) - 1048576 AS BIGINT) AS mq
         |  FROM asn0 JOIN v ON asn0.avid = v.vid, (SELECT unnest(generate_series(1, 64)) AS i) g
         |  GROUP BY cell, g.i),
         |cent2 AS (SELECT cell AS cid, list_transform(list(mq ORDER BY dim), x -> CAST(x AS FLOAT)) AS ce FROM cm GROUP BY cell),
         |vsc2 AS (SELECT vid, cid, ${qdotSql("ve", "ce")} AS cs FROM v, cent2),
         |asn AS (SELECT avid, cid AS cell FROM (
         |  SELECT vid AS avid, cid, row_number() OVER (PARTITION BY vid ORDER BY cs DESC, cid) AS rn FROM vsc2) WHERE rn = 1),
         |q0 AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
         |qsc AS (SELECT qid, qe, cid, ${qdotSql("qe", "ce")} AS cs FROM q0, cent2),
         |qp AS (SELECT qid, qe, cid AS cell FROM (
         |  SELECT qid, qe, cid, row_number() OVER (PARTITION BY qid ORDER BY cs DESC, cid) AS rn FROM qsc) WHERE rn <= 4),
         |s AS (SELECT qid, vid, ${cosQSql("qe", "ve")} AS score
         |      FROM qp JOIN asn ON qp.cell = asn.cell JOIN v ON asn.avid = v.vid WHERE qid <> vid)""".stripMargin))),
    // product quantization (Jégou et al.): m=16 subspaces × ks=64 integer
    // codewords (seed + one Lloyd round; the config that holds recall on
    // this near-uniform corpus — finer subspaces beat more codewords),
    // ADC scoring = 16 LUT lookups per vector over the broadcast
    // per-query tables — codes never shuffle, and the encoded corpus is
    // bytes-per-vector, the memory-resident scan PQ exists for
    // PQ twin: same seed/Lloyd/assignment chain per subspace (integer L2,
    // min-cid ties), LUT join + sum instead of the broadcast map probe —
    // different shape, identical integers
    Gated("s_pq_topk", (s, dir) => {
      val e = embs(s, dir)
      Similarity.pqTopK(e, e.filter(col("vec_id") < 10), 5, m = 16, ks = 64)
        .select(col("qid"), col("vid"), col("score"), col("rn").cast("long").as("rn"))
    }, Some(
      """WITH seeds AS (SELECT vec_id, embedding FROM embeddings
        |  QUALIFY row_number() OVER (ORDER BY vec_id) <= 64),
        |sd AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS e FROM seeds),
        |ss AS (SELECT unnest(generate_series(0, 15)) AS s),
        |cb0 AS (SELECT ss.s, sd.cid, list_transform(generate_series(1, 4), i ->
        |  CAST(floor(CAST(e[ss.s * 4 + i] AS DOUBLE) * 1000) AS BIGINT)) AS ce FROM sd, ss),
        |v AS (SELECT vec_id AS vid, embedding AS ve FROM embeddings),
        |vs AS (SELECT vid, ss.s, list_transform(generate_series(1, 4), i ->
        |  CAST(floor(CAST(ve[ss.s * 4 + i] AS DOUBLE) * 1000) AS BIGINT)) AS vq FROM v, ss),
        |d0 AS (SELECT vid, vs.s, cid,
        |  list_sum(list_transform(generate_series(1, 4), i -> (vq[i] - ce[i]) * (vq[i] - ce[i]))) AS dist
        |  FROM vs JOIN cb0 ON cb0.s = vs.s),
        |a0 AS (SELECT vid, s, cid FROM (SELECT vid, s, cid,
        |  row_number() OVER (PARTITION BY vid, s ORDER BY dist, cid) AS rn FROM d0) WHERE rn = 1),
        |pm AS (SELECT vs.s, a0.cid, g.i AS dim,
        |  CAST((sum(vq[g.i]) + count(*) * 1048576) // count(*) - 1048576 AS BIGINT) AS q
        |  FROM vs JOIN a0 ON a0.vid = vs.vid AND a0.s = vs.s,
        |       (SELECT unnest(generate_series(1, 4)) AS i) g
        |  GROUP BY vs.s, a0.cid, g.i),
        |cb AS (SELECT s, cid, list(q ORDER BY dim) AS ce FROM pm GROUP BY s, cid),
        |d1 AS (SELECT vid, vs.s, cid,
        |  list_sum(list_transform(generate_series(1, 4), i -> (vq[i] - ce[i]) * (vq[i] - ce[i]))) AS dist
        |  FROM vs JOIN cb ON cb.s = vs.s),
        |asn AS (SELECT vid, s, cid FROM (SELECT vid, s, cid,
        |  row_number() OVER (PARTITION BY vid, s ORDER BY dist, cid) AS rn FROM d1) WHERE rn = 1),
        |q0 AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
        |qs AS (SELECT qid, ss.s, list_transform(generate_series(1, 4), i ->
        |  CAST(floor(CAST(qe[ss.s * 4 + i] AS DOUBLE) * 1000) AS BIGINT)) AS qq FROM q0, ss),
        |lut AS (SELECT qid, cb.s, cb.cid,
        |  CAST(list_sum(list_transform(generate_series(1, 4), i -> qq[i] * ce[i])) AS BIGINT) AS pdot
        |  FROM qs JOIN cb ON cb.s = qs.s),
        |sc AS (SELECT lut.qid, asn.vid, CAST(sum(pdot) AS BIGINT) AS score
        |  FROM asn JOIN lut ON lut.s = asn.s AND lut.cid = asn.cid
        |  WHERE lut.qid <> asn.vid GROUP BY 1, 2)
        |SELECT qid, vid, score, rn FROM (SELECT qid, vid, score,
        |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, vid) AS rn FROM sc)
        |WHERE rn <= 5""".stripMargin)),
    // IVF-PQ: the composition billion-scale indexes ship — coarse cells
    // prune candidates, PQ ADC ranks the survivors from bytes-per-vector
    // RESIDUAL codes (y − centroid(cell(y)), the Jégou §V/faiss IVFADC
    // design) plus the probe's exact coarse dot; embeddings never enter
    // the probe
    // IVF-PQ twin: the s_ivf_topk coarse chain (no Lloyd) feeding the
    // PQ codebook/LUT chain over RESIDUALS, ADC sum + exact coarse dot —
    // one template ([[ivfPqSql]]) serves both gated configs
    Gated("s_ivfpq_topk", (s, dir) => {
      val e = embs(s, dir)
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 10), 5,
        numCells = Similarity.cellsFor(e.count()), nProbe = 4, m = 16, ks = 64)
        .select(col("qid"), col("vid"), col("score"), col("rn").cast("long").as("rn"))
    }, Some(ivfPqSql(m = 16, ks = 64, nProbe = 4, residual = true))),
    // the production-recall config: ADC shortlist (nProbe=8, 50 per
    // query) + EXACT integer rerank — the faiss IndexRefineFlat pattern;
    // holds recall@5 ≈ 0.98 at sf0.1 where every plain quantized config
    // stays ≤ 0.84 (measured per-run by Bench next to the flat-PQ number
    // so the quantization/rerank trade is visible)
    // refine-stage twin: the same template shortlists 50 per query
    // (nested CTE), then the exact integer rerank — faiss RefineFlat
    Gated("s_ivfpq_rerank", (s, dir) => {
      val e = embs(s, dir)
      Similarity.ivfPqRerankTopK(e, e.filter(col("vec_id") < 10), 5,
        numCells = Similarity.cellsFor(e.count()), nProbe = 8, m = 16, ks = 64,
        shortlist = 50)
        .select(col("qid"), col("vid"), col("score"), col("rn").cast("long").as("rn"))
    }, Some(
      s"""WITH base AS (${ivfPqSql(m = 16, ks = 64, nProbe = 8, residual = true, k = 50)}),
         |e AS (SELECT vec_id AS vid, embedding AS ve FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
         |rr AS (SELECT base.qid, base.vid, CAST(${qdotSql("qe", "ve")} AS BIGINT) AS score
         |       FROM base JOIN e ON e.vid = base.vid JOIN q ON q.qid = base.qid)
         |SELECT qid, vid, score, rn FROM (SELECT qid, vid, score,
         |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, vid) AS rn FROM rr)
         |WHERE rn <= 5""".stripMargin)),
    Gated("s_embed_neardup", (s, dir) =>
      // vec_id cap bounds the exact self-join at bench scale; the sf0.01
      // correctness table has 500 vectors, all under the cap
      Similarity.nearDupPairs(embs(s, dir).filter(col("vec_id") < 1000), 400000L), Some(
      """WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 1000),
        |scored AS (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2,
        |    CAST(list_sum(list_transform(generate_series(1, 64), i ->
        |      CAST(floor(CAST(a.embedding[i] AS DOUBLE) * 1000) AS BIGINT) *
        |      CAST(floor(CAST(b.embedding[i] AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS qdot
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
        |SELECT id1, id2, qdot FROM scored WHERE qdot >= 400000""".stripMargin)),
    // the scale path for the same op: multi-table banded LSH candidates +
    // exact verify (slim id pairs shuffle, embeddings move once)
    Gated("s_embed_neardup_lsh", (s, dir) =>
      Similarity.nearDupPairsLsh(embs(s, dir).filter(col("vec_id") < 1000), 400000L), Some(
      s"""WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 1000),
         |bands AS (SELECT vec_id, tt.t AS t, ${lshSigSql("embedding", "4", "tt.t * 4")} AS sig
         |          FROM v, (SELECT unnest(generate_series(0, 11)) AS t) tt),
         |cand AS (SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
         |         FROM bands a JOIN bands b ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id),
         |scored AS (SELECT id1, id2, CAST(${qdotSql("va.embedding", "vb.embedding")} AS BIGINT) AS qdot
         |           FROM cand JOIN v va ON id1 = va.vec_id JOIN v vb ON id2 = vb.vec_id)
         |SELECT id1, id2, qdot FROM scored WHERE qdot >= 400000""".stripMargin)),
    // embedding-level dedup with the CC survivor policy: the exact pair
    // set (capped baseline) feeds the same min-label propagation the
    // document path uses — one survivor per near-duplicate CLUSTER
    // SemDeDup (Abbas et al. 2023): near-dup pairs scoped WITHIN coarse
    // cells — O(n·√n) instead of the all-pairs scan; one survivor per
    // component; cross-cell pairs missed by the published design
    // SemDeDup twin: the no-Lloyd coarse assignment scopes the pair
    // join to cells; the reach/label tail is the usual CC oracle
    Gated("s_semdedup", (s, dir) => {
      val e = embs(s, dir).filter(col("vec_id") < 1000)
      Similarity.semDedup(e, numCells = Similarity.cellsFor(e.count()),
        minQDot = 400000L)
    }, Some(
      s"""WITH RECURSIVE v AS (SELECT vec_id AS vid, embedding AS ve FROM embeddings WHERE vec_id < 1000),
         |cl AS (
         |  SELECT least(65536, greatest(4,
         |    CASE WHEN (c0+1)*(c0+1) <= n THEN c0+1 WHEN c0*c0 > n THEN c0-1 ELSE c0 END)) AS c
         |  FROM (SELECT count(*) AS n, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS c0 FROM v)),
         |cent AS (SELECT vid AS cid, ve AS ce FROM v, cl
         |         QUALIFY row_number() OVER (ORDER BY vid) <= c),
         |vsc AS (SELECT vid, cid, ${qdotSql("ve", "ce")} AS cs FROM v, cent),
         |asn AS (SELECT avid, cid AS cell FROM (
         |  SELECT vid AS avid, cid, row_number() OVER (PARTITION BY vid ORDER BY cs DESC, cid) AS rn FROM vsc) WHERE rn = 1),
         |vp AS (SELECT a.avid AS id1, b.avid AS id2
         |  FROM asn a JOIN asn b ON a.cell = b.cell AND a.avid < b.avid
         |  JOIN v va ON va.vid = a.avid JOIN v vb ON vb.vid = b.avid
         |  WHERE ${qdotSql("va.ve", "vb.ve")} >= 400000),
         |e AS (SELECT id1 AS src, id2 AS dst FROM vp UNION SELECT id2 AS src, id1 AS dst FROM vp),
         |reach(id, r) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
         |lab AS (SELECT id, min(r) AS label FROM reach GROUP BY id)
         |SELECT vid AS vec_id FROM v
         |WHERE vid NOT IN (SELECT id FROM lab WHERE id <> label)""".stripMargin)),
    // same recursive-CTE reachability as d_drop_neardup_cc, over the
    // exact embedding pair set
    Gated("s_embed_drop_cc", (s, dir) => {
      val e = embs(s, dir).filter(col("vec_id") < 1000)
      val pairs = Similarity.nearDupPairs(e, 400000L).select(col("id1"), col("id2"))
      val drops = Dedup.connectedComponents(pairs)
        .filter(col("id") =!= col("label")).select(col("id").as("vec_id"))
      e.join(drops, Seq("vec_id"), "left_anti").select(col("vec_id"))
    }, Some(
      s"""WITH RECURSIVE v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 1000),
         |vp AS (
         |  SELECT a.vec_id AS id1, b.vec_id AS id2
         |  FROM v a JOIN v b ON a.vec_id < b.vec_id
         |  WHERE ${qdotSql("a.embedding", "b.embedding")} >= 400000),
         |e AS (SELECT id1 AS src, id2 AS dst FROM vp UNION SELECT id2 AS src, id1 AS dst FROM vp),
         |reach(id, r) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
         |lab AS (SELECT id, min(r) AS label FROM reach GROUP BY id)
         |SELECT vec_id FROM v
         |WHERE vec_id NOT IN (SELECT id FROM lab WHERE id <> label)""".stripMargin)),
    // margin-based bitext mining (Artetxe & Schwenk 2019): translation
    // candidates by cosine RELATIVE to each side's kNN neighborhood, not
    // an absolute threshold. Two-language split synthesized by vec_id
    // parity; exact all-pairs scoring is the capped verification baseline
    // bitext margin twins: same quantized-cosine longs, same windowed
    // neighborhood sums, same exact-rational ppm division (// == div on
    // the positive-guarded operands)
    Gated("s_bitext_mine", (s, dir) => {
      val e = embs(s, dir).filter(col("vec_id") < 1000)
      Similarity.bitextMine(
        e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1),
        4, 1000000L)
        .select(col("sid").as("src_id"), col("tid").as("tgt_id"),
          col("score_q"), col("margin_ppm"), col("rn"))
    }, Some(bitextMarginSql(
      s"""WITH sx AS (SELECT vec_id AS sid, embedding AS se FROM embeddings WHERE vec_id % 2 = 0 AND vec_id < 1000),
         |tx AS (SELECT vec_id AS tid, embedding AS te FROM embeddings WHERE vec_id % 2 = 1 AND vec_id < 1000),
         |sc AS (SELECT sid, tid, CAST(floor(${cosQSql("se", "te")} * 1000000000.0) AS BIGINT) AS sq FROM sx, tx)""".stripMargin,
      4, 1000000L))),
    // the scale path: candidates from the multi-table LSH bucket
    // equi-join — BOTH sides corpus-sized, neither broadcast; uncapped
    // LSH twin: planes from the shared planesFor heuristic; Hamming-≤1
    // probe masks on the src side; per-pair max across tables = the
    // identical score (grouping is the cross-table dedup)
    Gated("s_bitext_mine_lsh", (s, dir) => {
      val e = embs(s, dir)
      val planes = Similarity.planesFor(e.count())
      Similarity.bitextMineLsh(
        e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1),
        4, 1000000L, numPlanes = planes, probeHamming = 1, numTables = 4)
        .select(col("sid").as("src_id"), col("tid").as("tgt_id"),
          col("score_q"), col("margin_ppm"), col("rn"))
    }, Some(bitextMarginSql(
      s"""WITH $planesForSql,
         |tt AS (SELECT unnest(generate_series(0, 3)) AS t),
         |bits AS (SELECT unnest(generate_series(0, pl.p - 1)) AS i FROM pl),
         |mm AS (SELECT CAST(0 AS BIGINT) AS m UNION ALL SELECT (CAST(1 AS BIGINT) << i) FROM bits),
         |s0 AS (SELECT vec_id AS sid, embedding AS se FROM embeddings WHERE vec_id % 2 = 0),
         |ss AS (SELECT sid, se, tt.t AS tbl, xor(${lshSigSql("se", "pl.p", "tt.t * pl.p")}, m) AS sig FROM s0, tt, pl, mm),
         |t0 AS (SELECT vec_id AS tid, embedding AS te FROM embeddings WHERE vec_id % 2 = 1),
         |tv AS (SELECT tid, te, tt.t AS tbl, ${lshSigSql("te", "pl.p", "tt.t * pl.p")} AS sig FROM t0, tt, pl),
         |sc AS (SELECT sid, tid, max(CAST(floor(${cosQSql("se", "te")} * 1000000000.0) AS BIGINT)) AS sq
         |       FROM ss JOIN tv USING (tbl, sig) GROUP BY sid, tid)""".stripMargin,
      4, 1000000L)))
  )
}
