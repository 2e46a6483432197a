package graft.registry

import graft.dedup.Dedup
import graft.functions.Fx
import graft.multimodal.Multimodal
import graft.operators.Analytics
import graft.similarity.{IvfCodec, Similarity}
import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.registry.RegistryBase._

/** Embedding / ANN / multimodal similarity queries — query builders plus their DuckDB oracles.
  * Conventions: see [[graft.SparkEntry]]. Split from the original
  * single-file registry; member bodies are unchanged.
  */
private[graft] object SimilarityRegistry {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q105_ann_int8" -> (annInt8 _),
    "q112_ann_pq" -> (annPq _),
    "q113_ann_ivfpq" -> (annIvfPq _),
    "q116_ann_ivfrpq" -> (annIvfRpq _),
    "q117_ann_recall_audit" -> (annRecallAuditQ _),
    "q123_srp_neardup" -> (srpNearDupPairs _),
    "q127_srp_dedup_incremental" -> (srpDedupIncremental _),
    "q138_ann_recall_audit_sampled" -> (annRecallAuditSampledQ _),
    "q139_index_lifecycle" -> (indexLifecycleQ _),
    "q141_hard_negatives" -> (hardNegativesQ _),
    "q144_semantic_decontamination" -> (semanticDecontamination _),
    "q146_corpus_cluster_map" -> (corpusClusterMap _),
    "q159_kcenter_select" -> (kcenterSelectQ _),
    "q173_mmr_rerank" -> (mmrRerankQ _),
    "q175_retrieval_pipeline" -> (retrievalPipelineQ _),
    "q223_label_noise" -> (labelNoiseQ _),
    "q242_embedding_gram" -> (embeddingGramQ _),
    "q353_embedding_cka" -> (embeddingCkaQ _),
    "q243_centroid_silhouette" -> (centroidSilhouetteQ _),
    "q253_embedding_anisotropy" -> (anisotropyQ _),
    "q27_embedding_neardup" -> (embeddingNeardup _),
    "q207_matryoshka_audit" -> (matryoshkaAuditQ _),
    "q210_ivf_balance" -> (ivfBalanceQ _),
    "q28_ann_bruteforce" -> (annBruteForce _),
    "q272_rank_agreement" -> (rankAgreementQ _),
    "q29_ann_ivf" -> (annIvf _),
    "q40_ann_kmedians" -> (annIvfKmedians _),
    "q72_semantic_dedup" -> (semanticDedupCensus _),
    "q78_centroid_drift" -> (labelCentroidDrift _),
    "q90_hybrid_rank_fusion" -> (hybridRankFusion _),
    "q375_grid_dbscan" -> (gridDbscanQ _),
    "q376_knn_shapley" -> (knnShapleyQ _),
  )

  def oracleSql: Map[String, String] = Map(
    // exact BIGINT squared-L2 over micro-quantized elements (rid
    // tie-break); each recurrence term divides the POSITIVE 1e9
    // magnitude first (// == div) then applies the ±1 sign; the
    // suffix window IS the Jia et al. recurrence
    "q376_knn_shapley" ->
      """WITH pts AS (
           SELECT vec_id, label,
             list_transform(embedding, x ->
               CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
               AS qv
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) > 0
             AND label IS NOT NULL),
         tst AS (SELECT vec_id AS tid, label AS ty, qv AS tv
                 FROM pts WHERE vec_id % 10 = 0),
         trn AS (SELECT vec_id AS rid, label AS ry, qv AS rv
                 FROM pts WHERE vec_id % 10 <> 0),
         pairs AS (
           SELECT tid, ty, rid, ry,
             list_sum(list_transform(range(1, len(tv) + 1),
               i -> (tv[i] - rv[i]) * (tv[i] - rv[i]))) AS d2
           FROM tst CROSS JOIN trn),
         rk AS (
           SELECT tid, ty, rid, ry,
             row_number() OVER (PARTITION BY tid ORDER BY d2, rid)
               AS rk,
             count(*) OVER (PARTITION BY tid) AS nt
           FROM pairs),
         c AS (
           SELECT tid, rid, rk,
             CASE WHEN rk = nt
               THEN (CASE WHEN ry = ty THEN 1 ELSE 0 END)
                 * (1000000000 // nt)
               ELSE ((CASE WHEN ry = ty THEN 1 ELSE 0 END)
                   - (CASE WHEN lead(ry) OVER (PARTITION BY tid
                       ORDER BY rk) = ty THEN 1 ELSE 0 END))
                 * (1000000000 // greatest(5, rk)) END AS cterm
           FROM rk),
         s AS (
           SELECT tid, rid,
             CAST(sum(cterm) OVER (PARTITION BY tid ORDER BY rk
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS BIGINT) AS s_nano
           FROM c),
         agg AS (
           SELECT rid AS vec_id, CAST(count(*) AS BIGINT) AS n_tests,
             CAST(sum(s_nano) AS BIGINT) AS shap_sum_nano
           FROM s GROUP BY 1)
         SELECT vec_id, n_tests, shap_sum_nano,
           round(CAST(shap_sum_nano AS DOUBLE)
             / (CAST(n_tests AS DOUBLE) * 1000000000.0), 6) + 0.0
             AS shap
         FROM agg ORDER BY vec_id""",
    // micro-quantized coordinates, sign-correct floor-div cell ids,
    // exact BIGINT eps-ball test; components by recursive reach over
    // the (small, density-bounded) core–core edge list, labels = min
    // member id — the engine's min-label fixpoint
    "q375_grid_dbscan" ->
      """WITH RECURSIVE pts AS (
           SELECT vec_id AS id,
             CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000.0)
               AS BIGINT) AS qx,
             CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000000.0)
               AS BIGINT) AS qy
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) >= 2),
         ep AS (
           SELECT 352000 // CAST(floor(sqrt(CAST(count(*) AS DOUBLE)))
             AS BIGINT) AS e
           FROM pts),
         cl AS (
           SELECT pts.*, e,
             CAST((qx - ((qx % e) + e) % e) / e AS BIGINT) AS cx,
             CAST((qy - ((qy % e) + e) % e) / e AS BIGINT) AS cy
           FROM pts CROSS JOIN ep),
         nb AS (
           SELECT a.id AS ia, b.id AS ib
           FROM cl a JOIN cl b
             ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
               AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
           WHERE (a.qx - b.qx) * (a.qx - b.qx)
               + (a.qy - b.qy) * (a.qy - b.qy) <= a.e * a.e),
         deg AS (
           SELECT ia AS id, CAST(count(*) AS BIGINT) AS n_neighbors
           FROM nb GROUP BY 1),
         core AS (SELECT id FROM deg WHERE n_neighbors >= 5),
         ce AS (
           SELECT ia, ib FROM nb
           JOIN core c1 ON c1.id = ia
           JOIN core c2 ON c2.id = ib
           WHERE ia < ib),
         e2 AS (SELECT ia AS a, ib AS b FROM ce
                UNION SELECT ib, ia FROM ce),
         reach(a, b) AS (
           SELECT a, b FROM e2
           UNION
           SELECT r.a, e.b FROM reach r JOIN e2 e ON r.b = e.a),
         cmin AS (SELECT a AS id, min(b) AS mb FROM reach GROUP BY 1),
         clab AS (
           SELECT core.id,
             least(coalesce(cmin.mb, core.id), core.id) AS cluster
           FROM core LEFT JOIN cmin ON cmin.id = core.id),
         blab AS (
           SELECT nb.ia AS id, min(clab.cluster) AS cluster
           FROM nb JOIN clab ON clab.id = nb.ib
           WHERE nb.ia NOT IN (SELECT id FROM core)
           GROUP BY 1),
         lab AS (SELECT * FROM clab UNION ALL SELECT * FROM blab)
         SELECT deg.id AS vec_id, deg.n_neighbors,
           CASE WHEN core.id IS NOT NULL THEN 1 ELSE 0 END AS is_core,
           coalesce(lab.cluster, -1) AS cluster
         FROM deg
         LEFT JOIN core ON core.id = deg.id
         LEFT JOIN lab ON lab.id = deg.id
         ORDER BY vec_id""",
    // micro-quantized components, HUGEINT-exact moment sums, one
    // double division per reported cell (positions 0-based like
    // posexplode)
    "q242_embedding_gram" ->
      """WITH q AS (
           SELECT list_transform(embedding, x ->
             CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
             AS qs
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) > 0),
         cells AS (
           SELECT CAST(a.i - 1 AS INT) AS i, CAST(b.j - 1 AS INT) AS j,
             qs[a.i] AS qi, qs[b.j] AS qj
           FROM q,
             LATERAL (SELECT unnest(generate_series(1, len(qs))) AS i) a,
             LATERAL (SELECT unnest(generate_series(1, len(qs))) AS j) b
           WHERE b.j >= a.i),
         g AS (
           SELECT i, j, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(qi AS HUGEINT) * qj) AS sij,
             sum(CAST(qi AS HUGEINT)) AS si,
             sum(CAST(qj AS HUGEINT)) AS sj
           FROM cells GROUP BY 1, 2)
         SELECT i, j, n,
           round(CAST(sij AS DOUBLE)
             / (CAST(n AS DOUBLE) * 1e12), 6) + 0.0 AS gram,
           round(CAST(CAST(n AS HUGEINT) * sij - si * sj AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1e12), 6) + 0.0
             AS cov
         FROM g ORDER BY i, j""",
    // the q242 cell machinery at MILLI quantization over z = x ++ y:
    // centered cells n·Σqq − Σq·Σq exact HUGEINT, block sums of
    // their squares (upper-tri off-diagonals doubled), one mirrored
    // Sxy/(√Sxx·√Syy); run per synthetic version and unioned
    "q353_embedding_cka" -> {
      def one(label: String, yExpr: String): String =
        s"""SELECT '$label' AS version, n, d_x, d_y, cka FROM (
           WITH base AS (
             SELECT list_transform(embedding, v ->
                 CAST(floor(CAST(v AS DOUBLE) * 1000.0) AS BIGINT))
                 AS qx,
               list_transform(range(1, len(embedding) + 1), j ->
                 CAST(floor(CAST(($yExpr) AS DOUBLE) * 1000.0)
                   AS BIGINT)) AS qy,
               len(embedding) AS dx
             FROM embeddings
             WHERE embedding IS NOT NULL AND len(embedding) > 0),
           zz AS (
             SELECT list_concat(qx, qy) AS z, dx, len(qy) AS dy
             FROM base),
           cells AS (
             SELECT CAST(a.i - 1 AS INT) AS i,
               CAST(b.j - 1 AS INT) AS j,
               z[a.i] AS qi, z[b.j] AS qj, dx, dy
             FROM zz,
               LATERAL (SELECT unnest(generate_series(1, len(z)))
                 AS i) a,
               LATERAL (SELECT unnest(generate_series(1, len(z)))
                 AS j) b
             WHERE b.j >= a.i),
           g AS (
             SELECT i, j, CAST(count(*) AS BIGINT) AS n,
               max(dx) AS dx, max(dy) AS dy,
               sum(CAST(qi AS HUGEINT) * qj) AS sij,
               sum(CAST(qi AS HUGEINT)) AS si,
               sum(CAST(qj AS HUGEINT)) AS sj
             FROM cells GROUP BY 1, 2),
           c AS (
             SELECT *, CAST(n AS HUGEINT) * sij - si * sj AS cij
             FROM g),
           blocks AS (
             SELECT max(n) AS n, max(dx) AS d_x, max(dy) AS d_y,
               sum(CASE WHEN j < dx THEN cij * cij
                 * (CASE WHEN i = j THEN 1 ELSE 2 END)
                 ELSE 0 END) AS sxx,
               sum(CASE WHEN i < dx AND j >= dx THEN cij * cij
                 ELSE 0 END) AS sxy,
               sum(CASE WHEN i >= dx THEN cij * cij
                 * (CASE WHEN i = j THEN 1 ELSE 2 END)
                 ELSE 0 END) AS syy
             FROM c)
           SELECT n, CAST(d_x AS INT) AS d_x, CAST(d_y AS INT) AS d_y,
             round(CASE WHEN sxx > 0 AND syy > 0 THEN
               CAST(sxy AS DOUBLE) / (sqrt(CAST(sxx AS DOUBLE))
                 * sqrt(CAST(syy AS DOUBLE))) END, 6) AS cka
           FROM blocks)"""
      val rotY = "CASE WHEN (j - 1) % 2 = 0 " +
        "THEN embedding[len(embedding) - j + 1] " +
        "ELSE -embedding[len(embedding) - j + 1] END"
      val cutY = "CASE WHEN j - 1 < 32 THEN embedding[j] " +
        "ELSE CAST(0.0 AS FLOAT) END"
      one("orthogonal", rotY) + "\n         UNION ALL\n         " +
        one("truncated32", cutY) + "\n         ORDER BY version"
    },
    // the sum-vector identity through HUGEINT: mean pairwise dot =
    // (||S||^2 - sum ||v||^2) / (n(n-1)), one double division
    "q253_embedding_anisotropy" ->
      """WITH me AS MATERIALIZED (
           SELECT CAST(label AS VARCHAR) AS g,
             list_transform(embedding, x ->
               CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
               AS q
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) > 0
             AND label IS NOT NULL),
         rws AS MATERIALIZED (
           SELECT g, q,
             CAST(list_aggregate(list_transform(q, x -> x * x), 'sum')
               AS BIGINT) AS nsq
           FROM me),
         rws2 AS MATERIALIZED (
           SELECT g, q, nsq,
             CAST(floor(sqrt(CAST(nsq AS DOUBLE))) AS BIGINT) AS nm
           FROM rws),
         cells AS (
           SELECT g, t.i, sum(CAST(q[t.i] AS HUGEINT)) AS sv
           FROM rws2,
             LATERAL (SELECT unnest(generate_series(1, len(q))) AS i) t
           GROUP BY 1, 2),
         ssq AS (SELECT g, sum(sv * sv) AS ssq FROM cells GROUP BY 1),
         ragg AS (
           SELECT g, CAST(count(*) AS BIGINT) AS n,
             sum(CAST(nsq AS HUGEINT)) AS snsq,
             CAST(sum(nm) AS BIGINT) AS snorm
           FROM rws2 GROUP BY 1),
         cellsa AS (
           SELECT t.i, sum(CAST(q[t.i] AS HUGEINT)) AS sv
           FROM rws2,
             LATERAL (SELECT unnest(generate_series(1, len(q))) AS i) t
           GROUP BY 1),
         ssqa AS (SELECT sum(sv * sv) AS ssq FROM cellsa),
         ragga AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
             sum(CAST(nsq AS HUGEINT)) AS snsq,
             CAST(sum(nm) AS BIGINT) AS snorm
           FROM rws2),
         u AS (
           SELECT r.g AS label, r.n, r.snsq, r.snorm, s.ssq
           FROM ragg r JOIN ssq s ON s.g = r.g
           UNION ALL
           SELECT '__all__', n, snsq, snorm,
             (SELECT ssq FROM ssqa)
           FROM ragga)
         SELECT label, n,
           round((CAST(snorm AS DOUBLE) / 1000000.0)
             / CAST(n AS DOUBLE), 6) AS mean_norm,
           round(CASE WHEN n > 1 THEN
             CAST(ssq - snsq AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE) / 1e12
             END, 6) AS mean_pairwise_dot,
           round(CASE WHEN n > 1 THEN
             (CAST(ssq - snsq AS DOUBLE)
               / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE) / 1e12)
             / (((CAST(snorm AS DOUBLE) / 1000000.0)
               / CAST(n AS DOUBLE))
               * ((CAST(snorm AS DOUBLE) / 1000000.0)
                 / CAST(n AS DOUBLE)))
             END, 6) AS mean_cos
         FROM u ORDER BY label""",
    // the labelNoiseScreen offset-integer scheme; distances are
    // order-free integer sums, then two correctly-rounded sqrts and
    // one mirrored s-formula per row, µ-floored before the label sum
    "q243_centroid_silhouette" ->
      """WITH me AS MATERIALIZED (
           SELECT label, vec_id AS id,
             list_transform(embedding, x ->
               CAST(floor(CAST(x AS DOUBLE) * 10000.0) AS BIGINT)
                 + 16777216) AS m
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) > 0
             AND label IS NOT NULL),
         mc AS (
           SELECT label, id, t.i, m[t.i] AS mv FROM me,
             LATERAL (SELECT unnest(generate_series(1, len(m))) AS i) t),
         cent AS (
           SELECT label, i, sum(mv) // count(*) AS c
           FROM mc GROUP BY 1, 2),
         d2 AS (
           SELECT mc.label, mc.id, cent.label AS cand,
             sum((mc.mv - cent.c) * (mc.mv - cent.c)) AS sq
           FROM mc JOIN cent ON cent.i = mc.i
           GROUP BY 1, 2, 3),
         pr AS (
           SELECT label, id,
             max(CASE WHEN cand = label THEN sq END) AS a2,
             min(CASE WHEN cand <> label THEN sq END) AS b2
           FROM d2 GROUP BY 1, 2),
         sc AS (
           SELECT label,
             CASE WHEN b2 IS NULL THEN NULL
               WHEN greatest(sqrt(CAST(a2 AS DOUBLE)),
                 sqrt(CAST(b2 AS DOUBLE))) = 0.0 THEN
                 CAST(0 AS BIGINT)
               ELSE CAST(floor(
                 (sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))
                   / greatest(sqrt(CAST(a2 AS DOUBLE)),
                     sqrt(CAST(b2 AS DOUBLE)))
                 * 1000000.0) AS BIGINT) END AS s_micro,
             a2
           FROM pr)
         SELECT label, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(a2) // count(*) AS BIGINT) AS mean_sq_own,
           CAST(sum(s_micro) AS BIGINT) AS silhouette_micro_sum,
           round((CAST(sum(s_micro) AS DOUBLE) / 1000000.0)
             / CAST(count(*) AS DOUBLE), 6) + 0.0 AS mean_silhouette
         FROM sc GROUP BY 1 ORDER BY label""",
    // replays labelNoiseScreen's offset-integer arithmetic: elements
    // quantize to floor(x·1e4)+2^24 (positive sums → `//` == engine
    // `div`), centroids/means/ratios are BIGINT floor divisions
    "q223_label_noise" ->
      """WITH e AS (
           SELECT vec_id, label,
             list_transform(embedding::DOUBLE[],
               x -> CAST(floor(x * 10000.0) AS BIGINT) + 16777216)
               AS m
           FROM embeddings
           WHERE embedding IS NOT NULL AND len(embedding) > 0
             AND label IS NOT NULL),
         el AS (
           SELECT vec_id, label, i AS pos, m[i] AS v
           FROM e, LATERAL (
             SELECT unnest(generate_series(1, len(m))) AS i) t),
         cent AS (
           SELECT label, pos,
             CAST(sum(v) AS BIGINT) // count(*) AS c
           FROM el GROUP BY 1, 2),
         d AS (
           SELECT el.vec_id, el.label,
             CAST(sum((el.v - c.c) * (el.v - c.c)) AS BIGINT)
               AS sq_dist
           FROM el JOIN cent c USING (label, pos)
           GROUP BY 1, 2),
         mn AS (
           SELECT label,
             CAST(sum(sq_dist) AS BIGINT) // count(*) AS label_mean_sq
           FROM d GROUP BY 1),
         r AS (
           SELECT d.label, d.vec_id AS id, sq_dist, label_mean_sq,
             CASE WHEN label_mean_sq = 0 THEN NULL
               ELSE (sq_dist * 1000000) // label_mean_sq END
               AS ratio_micro,
             CAST(row_number() OVER (
               PARTITION BY d.label
               ORDER BY sq_dist DESC, d.vec_id ASC) AS INT) AS rank
           FROM d JOIN mn USING (label))
         SELECT label, id, sq_dist, label_mean_sq, ratio_micro, rank
         FROM r WHERE rank <= 5 ORDER BY label, rank""",
    // replays quantizeInt8's exact arithmetic: q_i = round(x_i /
    // (max|x|/127)); codes are small exact integers, so the cosine —
    // scales cancel — matches the Spark side bit-for-bit at 4 decimals
    // the q28 + q105 ranking chains joined on (query, neighbor);
    // RBO terms are integral divisions of exact HUGEINT products —
    // c_d = 9^(d-1)·10^(10-d), D = 10^10 − 9^10 — matching the
    // operator's DECIMAL(38,0) arithmetic bit-for-bit
    "q272_rank_agreement" -> {
      def pow(b: Long, e: Int): Long =
        (1 to e).foldLeft(1L)((acc, _) => acc * b)
      val cs = (1 to 10).map(d => pow(9, d - 1) * pow(10, 10 - d))
      val dBig = pow(10, 10) - pow(9, 10)
      s"""WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
         s AS (
           SELECT qid, e.vec_id AS nid, ${oracleCos("qv", "e.v")} AS sim
           FROM q CROSS JOIN e WHERE qid <> e.vec_id),
         fa AS (
           SELECT qid, nid, rank FROM (
             SELECT qid, nid, CAST(row_number() OVER (
               PARTITION BY qid ORDER BY sim DESC, nid ASC) AS INT)
               AS rank
             FROM s) WHERE rank <= 10),
         qz AS (
           SELECT vec_id,
             CASE WHEN coalesce(
                 list_max(list_transform(v, x -> abs(x))), 0.0) = 0.0
               THEN list_transform(v, x -> 0.0)
               ELSE list_transform(v, x -> round(x /
                 (list_max(list_transform(v, y -> abs(y))) / 127.0)))
             END AS qv
           FROM e),
         q2 AS (SELECT vec_id AS qid, qv FROM qz WHERE vec_id < 10),
         s2 AS (
           SELECT qid, z.vec_id AS nid,
             ${oracleCos("q2.qv", "z.qv")} AS sim
           FROM q2 CROSS JOIN qz z WHERE qid <> z.vec_id),
         fb AS (
           SELECT qid, nid, rank FROM (
             SELECT qid, nid, CAST(row_number() OVER (
               PARTITION BY qid ORDER BY sim DESC, nid ASC) AS INT)
               AS rank
             FROM s2) WHERE rank <= 10),
         m AS (
           SELECT fa.qid, greatest(fa.rank, fb.rank) AS mr
           FROM fa JOIN fb ON fb.qid = fa.qid AND fb.nid = fa.nid),
         dd AS (SELECT qid, unnest(generate_series(mr, 10)) AS d
                FROM m),
         xd AS (SELECT qid, d, CAST(count(*) AS BIGINT) AS x
                FROM dd GROUP BY 1, 2),
         tt AS (
           SELECT qid,
             (CAST(x AS HUGEINT)
               * ([${cs.mkString(",")}])[CAST(d AS INT)]
               * 1000000000) // (CAST(d AS HUGEINT) * $dBig) AS t,
             CASE WHEN d = 10 THEN x END AS nc
           FROM xd),
         agg AS (SELECT qid, CAST(sum(t) AS BIGINT) AS s1,
                 max(nc) AS nc FROM tt GROUP BY qid),
         dom AS (SELECT DISTINCT qid FROM fa
                 UNION SELECT DISTINCT qid FROM fb)
         SELECT dom.qid AS query_id,
           CAST(coalesce(agg.nc, 0) AS BIGINT) AS n_common,
           round(CAST(coalesce(agg.s1, 0) AS DOUBLE) / 1000000000.0, 6)
             AS rbo
         FROM dom LEFT JOIN agg ON agg.qid = dom.qid
         ORDER BY query_id"""
    },
    "q105_ann_int8" ->
      s"""WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         qz AS (
           SELECT vec_id,
             CASE WHEN coalesce(
                 list_max(list_transform(v, x -> abs(x))), 0.0) = 0.0
               THEN list_transform(v, x -> 0.0)
               ELSE list_transform(v, x -> round(x /
                 (list_max(list_transform(v, y -> abs(y))) / 127.0)))
             END AS qv
           FROM e),
         q AS (SELECT vec_id AS qid, qv FROM qz WHERE vec_id < 10),
         s AS (
           SELECT qid, z.vec_id AS nid, ${oracleCos("q.qv", "z.qv")} AS sim
           FROM q CROSS JOIN qz z WHERE qid <> z.vec_id),
         r AS (
           SELECT qid, nid, sim, CAST(row_number() OVER (
             PARTITION BY qid ORDER BY sim DESC, nid ASC) AS INT) AS rank
           FROM s)
         SELECT qid AS query_id, nid AS neighbor_id, sim, rank
         FROM r WHERE rank <= 10 ORDER BY query_id, rank""",
    // full PQ replay: per-block training chains (hash-init k-medians,
    // the q40 treatment ×4 sub-spaces), L2-argmin codes, then ADC —
    // dot and norm² reassembled from per-block codeword lookups
    "q112_ann_pq" ->
      s"""WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         ${(0 until 4).map(b => oraclePqBlock(b, 16, 16)).mkString(",\n")},
         ncodes AS (
           SELECT e.vec_id, enc0.code AS k0, enc1.code AS k1,
             enc2.code AS k2, enc3.code AS k3
           FROM e
           JOIN enc0 ON enc0.vec_id = e.vec_id
           JOIN enc1 ON enc1.vec_id = e.vec_id
           JOIN enc2 ON enc2.vec_id = e.vec_id
           JOIN enc3 ON enc3.vec_id = e.vec_id),
         q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
         s AS (
           SELECT q.vec_id AS qid, n.vec_id AS nid,
             round((list_dot_product(q.v[1:16], b0.cv)
                 + list_dot_product(q.v[17:32], b1.cv)
                 + list_dot_product(q.v[33:48], b2.cv)
                 + list_dot_product(q.v[49:64], b3.cv))
               / nullif(sqrt(list_dot_product(q.v, q.v))
                 * sqrt(list_dot_product(b0.cv, b0.cv)
                   + list_dot_product(b1.cv, b1.cv)
                   + list_dot_product(b2.cv, b2.cv)
                   + list_dot_product(b3.cv, b3.cv)), 0.0), 4) AS sim
           FROM q CROSS JOIN ncodes n
           JOIN cb0 b0 ON b0.code = n.k0
           JOIN cb1 b1 ON b1.code = n.k1
           JOIN cb2 b2 ON b2.code = n.k2
           JOIN cb3 b3 ON b3.code = n.k3
           WHERE n.vec_id <> q.vec_id),
         r AS (
           SELECT qid, nid, sim, CAST(row_number() OVER (
             PARTITION BY qid ORDER BY sim DESC, nid ASC) AS INT) AS rank
           FROM s)
         SELECT qid AS query_id, nid AS neighbor_id, sim, rank
         FROM r WHERE rank <= 10 ORDER BY query_id, rank""",
    "q113_ann_ivfpq" ->
      s"""WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         ${(0 until 4).map(b => oraclePqBlock(b, 16, 16)).mkString(",\n")},
         ncodes AS (
           SELECT e.vec_id, enc0.code AS k0, enc1.code AS k1,
             enc2.code AS k2, enc3.code AS k3
           FROM e
           JOIN enc0 ON enc0.vec_id = e.vec_id
           JOIN enc1 ON enc1.vec_id = e.vec_id
           JOIN enc2 ON enc2.vec_id = e.vec_id
           JOIN enc3 ON enc3.vec_id = e.vec_id),
         ccents AS (
           SELECT vec_id AS ccid, v AS ccv FROM e
           ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
           LIMIT 16),
         cassign AS (
           SELECT vec_id, ccid FROM (
             SELECT e.vec_id, c.ccid, row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY ${oracleCos("e.v", "c.ccv")} DESC, c.ccid ASC)
               AS rn
             FROM e CROSS JOIN ccents c) WHERE rn = 1),
         q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
         probes AS (
           SELECT qid, ccid FROM (
             SELECT q.vec_id AS qid, c.ccid, row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY ${oracleCos("q.v", "c.ccv")} DESC, c.ccid ASC)
               AS rn
             FROM q CROSS JOIN ccents c) WHERE rn <= 3),
         s AS (
           SELECT q.vec_id AS qid, n.vec_id AS nid,
             round((list_dot_product(q.v[1:16], b0.cv)
                 + list_dot_product(q.v[17:32], b1.cv)
                 + list_dot_product(q.v[33:48], b2.cv)
                 + list_dot_product(q.v[49:64], b3.cv))
               / nullif(sqrt(list_dot_product(q.v, q.v))
                 * sqrt(list_dot_product(b0.cv, b0.cv)
                   + list_dot_product(b1.cv, b1.cv)
                   + list_dot_product(b2.cv, b2.cv)
                   + list_dot_product(b3.cv, b3.cv)), 0.0), 4) AS sim
           FROM q
           JOIN probes p ON p.qid = q.vec_id
           JOIN cassign ca ON ca.ccid = p.ccid
           JOIN ncodes n ON n.vec_id = ca.vec_id
           JOIN cb0 b0 ON b0.code = n.k0
           JOIN cb1 b1 ON b1.code = n.k1
           JOIN cb2 b2 ON b2.code = n.k2
           JOIN cb3 b3 ON b3.code = n.k3
           WHERE n.vec_id <> q.vec_id),
         r AS (
           SELECT qid, nid, sim, CAST(row_number() OVER (
             PARTITION BY qid ORDER BY sim DESC, nid ASC) AS INT) AS rank
           FROM s)
         SELECT qid AS query_id, nid AS neighbor_id, sim, rank
         FROM r WHERE rank <= 10 ORDER BY query_id, rank""",
    // residual IVF-PQ replay: q113's coarse assignment, then the PQ
    // chains train/encode over the RESIDUAL x − c (CTE r), and ADC
    // reassembles cosine(q, c + r̂) from per-block lookups — all sums
    // in the engine's block order (left-assoc from 0.0)
    "q116_ann_ivfrpq" ->
      s"""WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         ccents AS (
           SELECT vec_id AS ccid, v AS ccv FROM e
           ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
           LIMIT 16),
         cassign AS (
           SELECT vec_id, ccid FROM (
             SELECT e.vec_id, c.ccid, row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY ${oracleCos("e.v", "c.ccv")} DESC, c.ccid ASC)
               AS rn
             FROM e CROSS JOIN ccents c) WHERE rn = 1),
         res AS (
           SELECT e.vec_id,
             list_transform(generate_series(1, 64),
               i -> e.v[i] - c.ccv[i]) AS v
           FROM e
           JOIN cassign ca ON ca.vec_id = e.vec_id
           JOIN ccents c ON c.ccid = ca.ccid),
         ${(0 until 4).map(b => oraclePqBlock(b, 16, 16, src = "res"))
            .mkString(",\n")},
         ncodes AS (
           SELECT e.vec_id, enc0.code AS k0, enc1.code AS k1,
             enc2.code AS k2, enc3.code AS k3
           FROM e
           JOIN enc0 ON enc0.vec_id = e.vec_id
           JOIN enc1 ON enc1.vec_id = e.vec_id
           JOIN enc2 ON enc2.vec_id = e.vec_id
           JOIN enc3 ON enc3.vec_id = e.vec_id),
         q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
         probes AS (
           SELECT qid, ccid FROM (
             SELECT q.vec_id AS qid, c.ccid, row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY ${oracleCos("q.v", "c.ccv")} DESC, c.ccid ASC)
               AS rn
             FROM q CROSS JOIN ccents c) WHERE rn <= 3),
         s AS (
           SELECT q.vec_id AS qid, n.vec_id AS nid,
             round((list_dot_product(q.v, c.ccv)
                 + (0.0 + list_dot_product(q.v[1:16], b0.cv)
                     + list_dot_product(q.v[17:32], b1.cv)
                     + list_dot_product(q.v[33:48], b2.cv)
                     + list_dot_product(q.v[49:64], b3.cv)))
               / nullif(sqrt(list_dot_product(q.v, q.v))
                 * sqrt(list_dot_product(c.ccv, c.ccv)
                   + 2.0 * (0.0
                     + list_dot_product(c.ccv[1:16], b0.cv)
                     + list_dot_product(c.ccv[17:32], b1.cv)
                     + list_dot_product(c.ccv[33:48], b2.cv)
                     + list_dot_product(c.ccv[49:64], b3.cv))
                   + (0.0 + list_dot_product(b0.cv, b0.cv)
                     + list_dot_product(b1.cv, b1.cv)
                     + list_dot_product(b2.cv, b2.cv)
                     + list_dot_product(b3.cv, b3.cv))), 0.0), 4) AS sim
           FROM q
           JOIN probes p ON p.qid = q.vec_id
           JOIN ccents c ON c.ccid = p.ccid
           JOIN cassign ca ON ca.ccid = p.ccid
           JOIN ncodes n ON n.vec_id = ca.vec_id
           JOIN cb0 b0 ON b0.code = n.k0
           JOIN cb1 b1 ON b1.code = n.k1
           JOIN cb2 b2 ON b2.code = n.k2
           JOIN cb3 b3 ON b3.code = n.k3
           WHERE n.vec_id <> q.vec_id),
         rk AS (
           SELECT qid, nid, sim, CAST(row_number() OVER (
             PARTITION BY qid ORDER BY sim DESC, nid ASC) AS INT) AS rank
           FROM s)
         SELECT qid AS query_id, nid AS neighbor_id, sim, rank
         FROM rk WHERE rank <= 10 ORDER BY query_id, rank""",
    // recall audit: q28's exact top-10 LEFT JOIN q29's routed top-10
    // per query — misses lower recall, approx-side false positives
    // don't (the audit measures what routing LOSES)
    "q117_ann_recall_audit" ->
      s"""WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
         bs AS (
           SELECT qid, e.vec_id AS nid, ${oracleCos("qv", "e.v")} AS sim
           FROM q CROSS JOIN e WHERE qid <> e.vec_id),
         br AS (
           SELECT qid, nid FROM (
             SELECT qid, nid, row_number() OVER (
               PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rank
             FROM bs) WHERE rank <= 10),
         cents AS (SELECT vec_id AS cid, v AS cv FROM e
                   ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
                   LIMIT 16),
         assign AS (
           SELECT vec_id, v, cid FROM (
             SELECT e.vec_id, e.v, c.cid, row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY ${oracleCos("e.v", "c.cv")} DESC, c.cid ASC) AS rn
             FROM e CROSS JOIN cents c) WHERE rn = 1),
         probes AS (
           SELECT qid, qv, cid FROM (
             SELECT q.qid, q.qv, c.cid, row_number() OVER (
               PARTITION BY q.qid
               ORDER BY ${oracleCos("q.qv", "c.cv")} DESC, c.cid ASC) AS rn
             FROM q CROSS JOIN cents c) WHERE rn <= 3),
         vs AS (
           SELECT qid, a.vec_id AS nid, ${oracleCos("qv", "a.v")} AS sim
           FROM probes p JOIN assign a ON a.cid = p.cid
           WHERE a.vec_id <> qid),
         vr AS (
           SELECT qid, nid FROM (
             SELECT qid, nid, row_number() OVER (
               PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rank
             FROM vs) WHERE rank <= 10)
         SELECT br.qid AS query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(vr.nid) AS BIGINT) AS n_hit,
           round(CAST(count(vr.nid) AS DOUBLE) / count(*), 4) AS recall
         FROM br LEFT JOIN vr ON vr.qid = br.qid AND vr.nid = br.nid
         GROUP BY br.qid ORDER BY query_id""",
    // full SRP replay: perturb, quantize (the q105 CTE), project onto
    // 64 md5-derived sign rows (integer-valued terms -> exact sums),
    // pack bits, score batch-vs-corpus at hamming <= 3, verify cosine
    "q123_srp_neardup" ->
      s"""WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         b AS (
           SELECT vec_id, list_transform(range(len(v)), d ->
             v[d+1] + 0.01 * CAST((vec_id*7 + d) % 5 - 2 AS DOUBLE)) AS v
           FROM e WHERE vec_id % 10 = 0),
         allv AS (
           SELECT vec_id AS id, v FROM e
           UNION ALL SELECT vec_id + 1000000 AS id, v FROM b),
         $oracleSrpCtes,
         pr AS (
           SELECT a.id AS corpus_id, z.id - 1000000 AS batch_src,
             CAST(bit_count(xor(a.hi, z.hi))
               + bit_count(xor(a.lo, z.lo)) AS INT) AS hamming
           FROM hs a JOIN hs z ON a.id < 1000000 AND z.id >= 1000000
           WHERE bit_count(xor(a.hi, z.hi))
             + bit_count(xor(a.lo, z.lo)) <= 3)
         SELECT corpus_id, batch_src, hamming,
           ${oracleCos("e.v", "b.v")} AS cos
         FROM pr JOIN e ON e.vec_id = corpus_id
           JOIN b ON b.vec_id = batch_src
         ORDER BY corpus_id, batch_src""",
    // the q123 sketch replay, asymmetric: light perturbations
    // (vec_id%10=0) should match and drop, heavy ones (novel) survive;
    // survivors = batch minus (hamming<=3 AND unrounded cos>=0.98)
    "q127_srp_dedup_incremental" ->
      s"""WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         b AS (
           SELECT vec_id, list_transform(range(len(v)), d ->
             v[d+1] + (CASE WHEN vec_id % 10 = 0 THEN 0.01 ELSE 0.3 END)
               * CAST((vec_id*7 + d) % 5 - 2 AS DOUBLE)) AS v
           FROM e WHERE vec_id % 5 = 0),
         allv AS (
           SELECT vec_id AS id, v FROM e
           UNION ALL SELECT vec_id + 1000000 AS id, v FROM b),
         $oracleSrpCtes,
         matched AS (
           SELECT DISTINCT z.id - 1000000 AS vec_id
           FROM hs a JOIN hs z ON a.id < 1000000 AND z.id >= 1000000
           JOIN e ON e.vec_id = a.id
           JOIN b b2 ON b2.vec_id = z.id - 1000000
           WHERE bit_count(xor(a.hi, z.hi))
               + bit_count(xor(a.lo, z.lo)) <= 3
             AND ${oracleCosRaw("e.v", "b2.v")} >= 0.98)
         SELECT vec_id FROM b
         WHERE vec_id NOT IN (SELECT vec_id FROM matched)
         ORDER BY vec_id""",
    // q117 with the query leg hash-sampled at 10 % (salt "audit") —
    // the standing scheduled-audit form
    "q138_ann_recall_audit_sampled" ->
      s"""WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM e
           WHERE CAST(('0x' || substr(
               md5('audit' || CAST(vec_id AS VARCHAR)), 1, 8))
             AS BIGINT) / 4294967296.0 < 0.10),
         bs AS (
           SELECT qid, e.vec_id AS nid, ${oracleCos("qv", "e.v")} AS sim
           FROM q CROSS JOIN e WHERE qid <> e.vec_id),
         br AS (
           SELECT qid, nid FROM (
             SELECT qid, nid, row_number() OVER (
               PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rank
             FROM bs) WHERE rank <= 10),
         cents AS (SELECT vec_id AS cid, v AS cv FROM e
                   ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
                   LIMIT 16),
         assign AS (
           SELECT vec_id, v, cid FROM (
             SELECT e.vec_id, e.v, c.cid, row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY ${oracleCos("e.v", "c.cv")} DESC, c.cid ASC) AS rn
             FROM e CROSS JOIN cents c) WHERE rn = 1),
         probes AS (
           SELECT qid, qv, cid FROM (
             SELECT q.qid, q.qv, c.cid, row_number() OVER (
               PARTITION BY q.qid
               ORDER BY ${oracleCos("q.qv", "c.cv")} DESC, c.cid ASC) AS rn
             FROM q CROSS JOIN cents c) WHERE rn <= 3),
         vs AS (
           SELECT qid, a.vec_id AS nid, ${oracleCos("qv", "a.v")} AS sim
           FROM probes p JOIN assign a ON a.cid = p.cid
           WHERE a.vec_id <> qid),
         vr AS (
           SELECT qid, nid FROM (
             SELECT qid, nid, row_number() OVER (
               PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rank
             FROM vs) WHERE rank <= 10)
         SELECT br.qid AS query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(vr.nid) AS BIGINT) AS n_hit,
           round(CAST(count(vr.nid) AS DOUBLE) / count(*), 4) AS recall
         FROM br LEFT JOIN vr ON vr.qid = br.qid AND vr.nid = br.nid
         GROUP BY br.qid ORDER BY query_id""",
    // index lifecycle: codebooks + coarse centroids train on the
    // initial corpus (vec_id % 4 <> 0), ALL rows encode with them
    // (the append), drift = per-bucket mean-vector cosine vs its
    // centroid, audit = q138's sampled recall over the PQ-routed
    // search, rolled up to the query's assigned bucket
    "q139_index_lifecycle" ->
      s"""WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         ei AS (SELECT vec_id, v FROM e WHERE vec_id % 4 <> 0),
         ${(0 until 4).map(b =>
             oraclePqBlock(b, 16, 16, "ei", "e")).mkString(",\n")},
         ncodes AS (
           SELECT e.vec_id, enc0.code AS k0, enc1.code AS k1,
             enc2.code AS k2, enc3.code AS k3
           FROM e
           JOIN enc0 ON enc0.vec_id = e.vec_id
           JOIN enc1 ON enc1.vec_id = e.vec_id
           JOIN enc2 ON enc2.vec_id = e.vec_id
           JOIN enc3 ON enc3.vec_id = e.vec_id),
         ccents AS (SELECT vec_id AS ccid, v AS ccv FROM ei
                    ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC,
                      vec_id ASC
                    LIMIT 16),
         cassign AS (
           SELECT vec_id, ccid FROM (
             SELECT e.vec_id, c.ccid, row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY ${oracleCos("e.v", "c.ccv")} DESC, c.ccid ASC)
               AS rn
             FROM e CROSS JOIN ccents c) WHERE rn = 1),
         dims AS (SELECT unnest(range(1, 65)) AS pos),
         dmean AS (
           SELECT ca.ccid, d.pos, round(avg(e.v[d.pos]), 6) AS m,
             count(*) AS nn
           FROM cassign ca JOIN e ON e.vec_id = ca.vec_id
             CROSS JOIN dims d
           GROUP BY ca.ccid, d.pos),
         mv AS (SELECT ccid, list(m ORDER BY pos) AS mvec,
             max(nn) AS n
           FROM dmean GROUP BY ccid),
         drift AS (
           SELECT mv.ccid, mv.n,
             ${oracleCos("mv.mvec", "c.ccv")} AS mean_sim
           FROM mv JOIN ccents c ON c.ccid = mv.ccid),
         q AS (SELECT vec_id, v FROM e
           WHERE CAST(('0x' || substr(
               md5('audit' || CAST(vec_id AS VARCHAR)), 1, 8))
             AS BIGINT) / 4294967296.0 < 0.10),
         probes AS (
           SELECT qid, ccid FROM (
             SELECT q.vec_id AS qid, c.ccid, row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY ${oracleCos("q.v", "c.ccv")} DESC, c.ccid ASC)
               AS rn
             FROM q CROSS JOIN ccents c) WHERE rn <= 3),
         s AS (
           SELECT q.vec_id AS qid, n.vec_id AS nid,
             round((list_dot_product(q.v[1:16], b0.cv)
                 + list_dot_product(q.v[17:32], b1.cv)
                 + list_dot_product(q.v[33:48], b2.cv)
                 + list_dot_product(q.v[49:64], b3.cv))
               / nullif(sqrt(list_dot_product(q.v, q.v))
                 * sqrt(list_dot_product(b0.cv, b0.cv)
                   + list_dot_product(b1.cv, b1.cv)
                   + list_dot_product(b2.cv, b2.cv)
                   + list_dot_product(b3.cv, b3.cv)), 0.0), 4) AS sim
           FROM q
           JOIN probes p ON p.qid = q.vec_id
           JOIN cassign ca ON ca.ccid = p.ccid
           JOIN ncodes n ON n.vec_id = ca.vec_id
           JOIN cb0 b0 ON b0.code = n.k0
           JOIN cb1 b1 ON b1.code = n.k1
           JOIN cb2 b2 ON b2.code = n.k2
           JOIN cb3 b3 ON b3.code = n.k3
           WHERE n.vec_id <> q.vec_id),
         vr AS (
           SELECT qid, nid FROM (
             SELECT qid, nid, row_number() OVER (
               PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rank
             FROM s) WHERE rank <= 10),
         bs AS (
           SELECT qq.qid, e.vec_id AS nid,
             ${oracleCos("qq.qv", "e.v")} AS sim
           FROM (SELECT vec_id AS qid, v AS qv FROM q) qq
           CROSS JOIN e WHERE qq.qid <> e.vec_id),
         br AS (
           SELECT qid, nid FROM (
             SELECT qid, nid, row_number() OVER (
               PARTITION BY qid ORDER BY sim DESC, nid ASC) AS rank
             FROM bs) WHERE rank <= 10),
         rec AS (
           SELECT br.qid,
             round(CAST(count(vr.nid) AS DOUBLE) / count(*), 4)
               AS recall
           FROM br LEFT JOIN vr ON vr.qid = br.qid AND vr.nid = br.nid
           GROUP BY br.qid),
         pa AS (
           SELECT ca.ccid, CAST(count(*) AS BIGINT) AS n_audit,
             avg(recall) AS avg_recall
           FROM rec JOIN cassign ca ON ca.vec_id = rec.qid
           GROUP BY ca.ccid)
         SELECT d.ccid AS centroid_id, CAST(d.n AS BIGINT) AS n,
           d.mean_sim AS mean_sim,
           d.mean_sim < 0.98 AS recenter_advised,
           coalesce(pa.n_audit, 0) AS n_audit,
           pa.avg_recall AS avg_recall
         FROM drift d LEFT JOIN pa ON pa.ccid = d.ccid
         ORDER BY centroid_id""",
    // q117's routing with the wrong-label filter inside the probed
    // buckets, before ranking
    "q141_hard_negatives" ->
      s"""WITH e AS (
           SELECT vec_id, label, embedding::DOUBLE[] AS v
           FROM embeddings),
         cents AS (SELECT vec_id AS cid, v AS cv FROM e
                   ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
                   LIMIT 16),
         assign AS (
           SELECT vec_id, label, v, cid FROM (
             SELECT e.vec_id, e.label, e.v, c.cid, row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY ${oracleCos("e.v", "c.cv")} DESC, c.cid ASC) AS rn
             FROM e CROSS JOIN cents c) WHERE rn = 1),
         q AS (SELECT vec_id AS qid, label AS ql, v AS qv FROM e
               WHERE vec_id < 10),
         probes AS (
           SELECT qid, ql, qv, cid FROM (
             SELECT q.qid, q.ql, q.qv, c.cid, row_number() OVER (
               PARTITION BY q.qid
               ORDER BY ${oracleCos("q.qv", "c.cv")} DESC, c.cid ASC)
               AS rn
             FROM q CROSS JOIN cents c) WHERE rn <= 3),
         vs AS (
           SELECT qid, ql, a.vec_id AS nid, a.label AS nl,
             ${oracleCos("qv", "a.v")} AS sim
           FROM probes p JOIN assign a ON a.cid = p.cid
           WHERE a.vec_id <> p.qid AND a.label <> p.ql),
         r AS (
           SELECT qid, ql, nid, nl, sim, CAST(row_number() OVER (
             PARTITION BY qid ORDER BY sim DESC, nid ASC) AS INT)
             AS rank
           FROM vs)
         SELECT qid AS query_id, ql AS query_label,
           nid AS neighbor_id, nl AS neighbor_label, sim, rank
         FROM r WHERE rank <= 5 ORDER BY query_id, rank""",
    // q127's construction, but the output is the contamination REPORT
    // (matched pairs + distance/similarity), not the survivors
    "q144_semantic_decontamination" ->
      s"""WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         b AS (
           SELECT vec_id, list_transform(range(len(v)), d ->
             v[d+1] + (CASE WHEN vec_id % 10 = 0 THEN 0.01 ELSE 0.3 END)
               * CAST((vec_id*7 + d) % 5 - 2 AS DOUBLE)) AS v
           FROM e WHERE vec_id % 5 = 0),
         allv AS (
           SELECT vec_id AS id, v FROM e
           UNION ALL SELECT vec_id + 1000000 AS id, v FROM b),
         $oracleSrpCtes
         SELECT z.id - 1000000 AS eval_id, a.id AS corpus_id,
           CAST(bit_count(xor(a.hi, z.hi))
             + bit_count(xor(a.lo, z.lo)) AS INT) AS hamming,
           round(${oracleCosRaw("e.v", "b2.v")}, 4) AS cos
         FROM hs a JOIN hs z ON a.id < 1000000 AND z.id >= 1000000
         JOIN e ON e.vec_id = a.id
         JOIN b b2 ON b2.vec_id = z.id - 1000000
         WHERE bit_count(xor(a.hi, z.hi))
             + bit_count(xor(a.lo, z.lo)) <= 3
           AND ${oracleCosRaw("e.v", "b2.v")} >= 0.98
         ORDER BY eval_id, corpus_id""",
    // embedding clusters (q117's cents/assign CTEs) joined to the
    // documents table on the shared id
    "q146_corpus_cluster_map" ->
      s"""WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cents AS (SELECT vec_id AS cid, v AS cv FROM e
                   ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
                   LIMIT 16),
         assign AS (
           SELECT vec_id, cid FROM (
             SELECT e.vec_id, c.cid, row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY ${oracleCos("e.v", "c.cv")} DESC, c.cid ASC)
               AS rn
             FROM e CROSS JOIN cents c) WHERE rn = 1),
         base AS (
           SELECT a.cid AS centroid_id, d.doc_id, d.lang,
             len($oracleWords) AS nt
           FROM assign a JOIN documents d ON d.doc_id = a.vec_id),
         agg AS (
           SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS sum_tokens,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
           FROM base GROUP BY 1),
         lcnt AS (SELECT centroid_id, lang, count(*) AS c FROM base
                  WHERE lang IS NOT NULL GROUP BY 1, 2),
         top AS (
           SELECT centroid_id, lang AS top_lang,
             CAST(c AS BIGINT) AS top_lang_docs
           FROM (SELECT *, row_number() OVER (
               PARTITION BY centroid_id ORDER BY c DESC, lang ASC)
               AS rn FROM lcnt)
           WHERE rn = 1)
         SELECT agg.centroid_id, n_docs, sum_tokens, n_langs,
           top.top_lang, top.top_lang_docs
         FROM agg LEFT JOIN top USING (centroid_id)
         ORDER BY centroid_id""",
    // int8 quantization (the q105 CTE) then 7 unrolled farthest-point
    // rounds in exact BIGINT squared-L2; MATERIALIZED per round (each
    // step is referenced twice — plain CTEs would inline the whole
    // prefix exponentially)
    "q159_kcenter_select" -> {
      def d2(a: String, b: String): String =
        s"""CAST(list_sum(list_transform(
           generate_series(1, len($a)),
           i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))) AS BIGINT)"""
      def step(k: Int): String = {
        val prev = if (k == 2) "m1" else s"m${k - 1}"
        s"""c$k AS MATERIALIZED (
             SELECT vec_id, q, mind FROM $prev
             ORDER BY mind DESC, vec_id ASC LIMIT 1),
           m$k AS MATERIALIZED (
             SELECT m.vec_id, m.q,
               least(m.mind, ${d2("m.q", "c.q")}) AS mind
             FROM $prev m, c$k c WHERE m.vec_id <> c.vec_id)"""
      }
      s"""WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE embedding IS NOT NULL),
         qz AS (
           SELECT vec_id,
             CASE WHEN coalesce(
                 list_max(list_transform(v, x -> abs(x))), 0.0) = 0.0
               THEN list_transform(v, x -> 0.0)
               ELSE list_transform(v, x -> round(x /
                 (list_max(list_transform(v, y -> abs(y))) / 127.0)))
             END AS qv
           FROM e),
         qi AS MATERIALIZED (
           SELECT vec_id,
             list_transform(qv, x -> CAST(x AS BIGINT)) AS q
           FROM qz),
         c1 AS MATERIALIZED (
           SELECT vec_id, q FROM qi ORDER BY vec_id ASC LIMIT 1),
         m1 AS MATERIALIZED (
           SELECT p.vec_id, p.q, ${d2("p.q", "c.q")} AS mind
           FROM qi p, c1 c WHERE p.vec_id <> c.vec_id),
         ${(2 to 8).map(step).mkString(",\n         ")}
         SELECT CAST(1 AS INT) AS round, vec_id,
           CAST(NULL AS BIGINT) AS d2_at_selection FROM c1
         ${(2 to 8).map(k =>
            s"UNION ALL SELECT CAST($k AS INT), vec_id, mind FROM c$k")
            .mkString("\n         ")}
         ORDER BY round"""
    },
    // 8 unrolled greedy rounds: argmax of the micro-quantized
    // objective, running max-cosine updated against each new pick
    "q173_mmr_rerank" -> {
      def objSel(src: String) =
        s"""SELECT vec_id, v, rel, mc,
           CAST(floor((CAST(0.7 AS DOUBLE) * rel
             - CAST(0.3 AS DOUBLE) * mc) * 1000000) AS BIGINT) AS obj
           FROM $src"""
      def step(r: Int): String = {
        val prev = if (r == 1) "base" else s"m${r - 1}"
        val pick =
          s"""c$r AS MATERIALIZED (
             ${objSel(prev)}
             ORDER BY obj DESC, vec_id ASC LIMIT 1)"""
        if (r == 8) pick
        else pick + s""",
           m$r AS MATERIALIZED (
             SELECT p.vec_id, p.v, p.rel,
               greatest(p.mc, ${oracleCosRaw("p.v", "c.v")}) AS mc
             FROM $prev p, c$r c WHERE p.vec_id <> c.vec_id)"""
      }
      s"""WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT v AS qv FROM e ORDER BY vec_id ASC LIMIT 1),
         sc AS (
           SELECT vec_id, v, ${oracleCosRaw("v", "qv")} AS rel
           FROM e, q WHERE vec_id <> 0),
         cand AS MATERIALIZED (
           SELECT vec_id, v, rel FROM sc
           ORDER BY rel DESC, vec_id ASC LIMIT 20),
         base AS (
           SELECT vec_id, v, rel, CAST(0.0 AS DOUBLE) AS mc
           FROM cand),
         ${(1 to 8).map(step).mkString(",\n         ")}
         SELECT rank, vec_id, round(rel, 6) AS rel,
           round(mc, 6) AS max_cos_prior, obj AS obj_micro
         FROM (${(1 to 8).map(r =>
            s"SELECT CAST($r AS INT) AS rank, vec_id, rel, mc, obj FROM c$r")
            .mkString("\n           UNION ALL ")})
         ORDER BY rank"""
    },
    // full pipeline replay: q61's chunk CTEs -> feature-hash embed ->
    // q113's PQ-train/encode/route/ADC over the chunk vectors + q171's
    // BM25 over the chunk tokens -> q90's RRF -> q173's unrolled MMR
    // generalized per query (the argmax is a per-qid window, the
    // max-cos update joins on qid)
    "q175_retrieval_pipeline" -> {
      def hashEmbed(toks: String) =
        s"""list_transform(generate_series(0, 15), j ->
             CAST(len(list_filter($toks, tk ->
               CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT) % 16
                 = j)) AS DOUBLE))"""
      def mmrStep(r: Int): String = {
        val prev = if (r == 1) "mbase" else s"mm${r - 1}"
        val pick =
          s"""mc$r AS MATERIALIZED (
             SELECT qid, chunk_id, v, rel, mc, obj FROM (
               SELECT qid, chunk_id, v, rel, mc, obj,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY obj DESC, chunk_id ASC) AS rn
               FROM (
                 SELECT qid, chunk_id, v, rel, mc,
                   CAST(floor((CAST(0.7 AS DOUBLE) * rel
                     - CAST(0.3 AS DOUBLE) * mc) * 1000000) AS BIGINT)
                     AS obj
                 FROM $prev)) WHERE rn = 1)"""
        if (r == 5) pick
        else pick + s""",
           mm$r AS MATERIALIZED (
             SELECT p.qid, p.chunk_id, p.v, p.rel,
               greatest(p.mc, ${oracleCosRaw("p.v", "c.v")}) AS mc
             FROM $prev p JOIN mc$r c ON c.qid = p.qid
             WHERE p.chunk_id <> c.chunk_id)"""
      }
      s"""WITH dd AS (
           SELECT doc_id, $oracleWords AS ws FROM documents),
         nn AS (
           SELECT doc_id, ws, len(ws) AS t FROM dd WHERE len(ws) > 0),
         cgen AS (
           SELECT doc_id, ws,
             unnest(generate_series(0,
               greatest(0, CAST(ceil((t - 64) / 56.0) AS BIGINT))))
               AS chunk_idx
           FROM nn),
         ch AS (
           SELECT (doc_id + 1) * 1000 + chunk_idx AS chunk_id,
             ws[chunk_idx * 56 + 1 : chunk_idx * 56 + 64] AS chunk
           FROM cgen),
         cv AS (
           SELECT chunk_id AS vec_id, ${hashEmbed("chunk")} AS v
           FROM ch),
         qdocs AS (
           SELECT doc_id AS qid, $oracleWords AS qws
           FROM documents WHERE doc_id < 5),
         qv AS (
           SELECT qid, ${hashEmbed("qws")} AS v FROM qdocs),
         ${(0 until 4).map(b => oraclePqBlock(b, 4, 16, "cv"))
            .mkString(",\n")},
         ncodes AS (
           SELECT cv.vec_id, enc0.code AS k0, enc1.code AS k1,
             enc2.code AS k2, enc3.code AS k3
           FROM cv
           JOIN enc0 ON enc0.vec_id = cv.vec_id
           JOIN enc1 ON enc1.vec_id = cv.vec_id
           JOIN enc2 ON enc2.vec_id = cv.vec_id
           JOIN enc3 ON enc3.vec_id = cv.vec_id),
         ccents AS (
           SELECT vec_id AS ccid, v AS ccv FROM cv
           ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
           LIMIT 16),
         cassign AS (
           SELECT vec_id, ccid FROM (
             SELECT cv.vec_id, c.ccid, row_number() OVER (
               PARTITION BY cv.vec_id
               ORDER BY ${oracleCos("cv.v", "c.ccv")} DESC, c.ccid ASC)
               AS rn
             FROM cv CROSS JOIN ccents c) WHERE rn = 1),
         probes AS (
           SELECT qid, ccid FROM (
             SELECT q.qid, c.ccid, row_number() OVER (
               PARTITION BY q.qid
               ORDER BY ${oracleCos("q.v", "c.ccv")} DESC, c.ccid ASC)
               AS rn
             FROM qv q CROSS JOIN ccents c) WHERE rn <= 3),
         sden AS (
           SELECT q.qid, nx.vec_id AS nid,
             round((list_dot_product(q.v[1:4], b0.cv)
                 + list_dot_product(q.v[5:8], b1.cv)
                 + list_dot_product(q.v[9:12], b2.cv)
                 + list_dot_product(q.v[13:16], b3.cv))
               / nullif(sqrt(list_dot_product(q.v, q.v))
                 * sqrt(list_dot_product(b0.cv, b0.cv)
                   + list_dot_product(b1.cv, b1.cv)
                   + list_dot_product(b2.cv, b2.cv)
                   + list_dot_product(b3.cv, b3.cv)), 0.0), 4) AS sim
           FROM qv q
           JOIN probes p ON p.qid = q.qid
           JOIN cassign ca ON ca.ccid = p.ccid
           JOIN ncodes nx ON nx.vec_id = ca.vec_id
           JOIN cb0 b0 ON b0.code = nx.k0
           JOIN cb1 b1 ON b1.code = nx.k1
           JOIN cb2 b2 ON b2.code = nx.k2
           JOIN cb3 b3 ON b3.code = nx.k3
           WHERE nx.vec_id <> q.qid),
         dense AS (
           SELECT qid, nid, rank FROM (
             SELECT qid, nid, CAST(row_number() OVER (
               PARTITION BY qid ORDER BY sim DESC, nid ASC) AS INT)
               AS rank
             FROM sden) WHERE rank <= 10),
         ctf AS (
           SELECT chunk_id, tk AS token, count(*) AS tf FROM (
             SELECT chunk_id, unnest(chunk) AS tk FROM ch)
           GROUP BY 1, 2),
         clens AS (SELECT chunk_id, len(chunk) AS len FROM ch),
         cstats AS (
           SELECT count(*) AS n,
             CAST(sum(len) AS DOUBLE) / count(*) AS avgdl
           FROM clens),
         cdfq AS (
           SELECT token, count(*) AS df FROM ctf
           GROUP BY token HAVING count(*) <= 400),
         bqt AS (
           SELECT qid, unnest(list_distinct(qws)) AS token FROM qdocs),
         bsc AS (
           SELECT qid, ctf.chunk_id,
             CAST(floor(
               ln(CAST(1 AS DOUBLE) + (n - df + CAST(0.5 AS DOUBLE))
                 / (df + CAST(0.5 AS DOUBLE)))
               * (tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
               / (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
                 + CAST(0.75 AS DOUBLE) * len / avgdl))
               * 1000000000) AS BIGINT) AS tm
           FROM bqt
           JOIN ctf USING (token) JOIN cdfq USING (token)
           JOIN clens ON clens.chunk_id = ctf.chunk_id, cstats),
         bagg AS (
           SELECT qid, chunk_id, sum(tm) AS score_micro
           FROM bsc GROUP BY 1, 2),
         bm25 AS (
           SELECT qid, nid, rank FROM (
             SELECT qid, chunk_id AS nid, CAST(row_number() OVER (
               PARTITION BY qid ORDER BY score_micro DESC, chunk_id ASC)
               AS INT) AS rank
             FROM bagg) WHERE rank <= 10),
         u AS (
           SELECT qid, nid,
             1.0 / (60.0 + CAST(rank AS DOUBLE)) AS sc FROM dense
           UNION ALL
           SELECT qid, nid,
             1.0 / (60.0 + CAST(rank AS DOUBLE)) FROM bm25),
         f AS (
           SELECT qid, nid, sum(sc) AS fused FROM u GROUP BY qid, nid),
         cand AS MATERIALIZED (
           SELECT qid, nid AS chunk_id, round(fused, 6) AS rel FROM (
             SELECT qid, nid, fused, row_number() OVER (
               PARTITION BY qid ORDER BY fused DESC, nid ASC) AS fr
             FROM f) WHERE fr <= 10),
         mbase AS MATERIALIZED (
           SELECT c.qid, c.chunk_id, v.v, c.rel,
             CAST(0.0 AS DOUBLE) AS mc
           FROM cand c JOIN cv v ON v.vec_id = c.chunk_id),
         ${(1 to 5).map(mmrStep).mkString(",\n         ")}
         SELECT qid AS query_id, rank, chunk_id,
           chunk_id // 1000 - 1 AS doc_id,
           CAST(chunk_id % 1000 AS INT) AS chunk_idx,
           round(rel, 6) AS rel, obj AS obj_micro
         FROM (${(1 to 5).map(r =>
            s"SELECT CAST($r AS INT) AS rank, qid, chunk_id, rel, obj FROM mc$r")
            .mkString("\n           UNION ALL ")})
         ORDER BY query_id, rank"""
    },
    "q27_embedding_neardup" ->
      s"""WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cents AS (SELECT vec_id AS cid, v AS cv FROM e
                   ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
                   LIMIT 32),
         assign AS (
           SELECT vec_id, cid FROM (
             SELECT e.vec_id, c.cid, row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY ${oracleCos("e.v", "c.cv")} DESC, c.cid ASC) AS rn
             FROM e CROSS JOIN cents c) WHERE rn <= 3),
         cands AS (
           SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
           FROM assign a JOIN assign b
             ON a.cid = b.cid AND a.vec_id < b.vec_id)
         SELECT ida AS id_a, idb AS id_b,
           ${oracleCos("a.v", "b.v")} AS sim
         FROM cands JOIN e a ON a.vec_id = ida JOIN e b ON b.vec_id = idb
         WHERE ${oracleCos("a.v", "b.v")} >= 0.45
         ORDER BY id_a, id_b""",
    // the q29 assignment replayed; empty buckets densify via the
    // left join FROM the bounded centroid table
    "q210_ivf_balance" ->
      s"""WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cents AS (SELECT vec_id AS cid, v AS cv FROM e
                   ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC,
                     vec_id ASC LIMIT 16),
         assign AS (
           SELECT vec_id, cid FROM (
             SELECT e.vec_id, c.cid, row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY ${oracleCos("e.v", "c.cv")} DESC, c.cid ASC)
               AS rn
             FROM e CROSS JOIN cents c) WHERE rn = 1),
         counts AS (SELECT cid, count(*) AS n FROM assign GROUP BY cid),
         dense AS (SELECT cents.cid,
                   CAST(coalesce(counts.n, 0) AS BIGINT) AS n
                   FROM cents LEFT JOIN counts USING (cid)),
         tt AS (SELECT CAST(sum(n) AS BIGINT) AS t, count(*) AS k,
                CAST(max(n) AS BIGINT) AS mx FROM dense)
         SELECT cid AS centroid_id, n AS n_vectors,
           round(CAST(n AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share,
           round(CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
             / CAST(t AS DOUBLE), 4) AS imbalance,
           k AS nlist,
           round(CAST(mx AS DOUBLE) * CAST(k AS DOUBLE)
             / CAST(t AS DOUBLE), 4) AS max_imbalance
         FROM dense CROSS JOIN tt ORDER BY centroid_id""",
    // both legs replay the q28 brute-force shape; the prefix leg
    // slices the DOUBLE-cast list (float→double then slice commutes)
    "q207_matryoshka_audit" ->
      s"""WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
         sf AS (
           SELECT qid, e.vec_id AS nid, ${oracleCos("qv", "e.v")} AS sim
           FROM q CROSS JOIN e WHERE qid <> e.vec_id),
         rf AS (
           SELECT qid, nid FROM (
             SELECT qid, nid, row_number() OVER (PARTITION BY qid
               ORDER BY sim DESC, nid ASC) AS rk FROM sf)
           WHERE rk <= 10),
         ep AS (SELECT vec_id, v[1:16] AS v FROM e),
         qp AS (SELECT vec_id AS qid, v AS qv FROM ep
                WHERE vec_id < 10),
         sp AS (
           SELECT qid, ep.vec_id AS nid,
             ${oracleCos("qv", "ep.v")} AS sim
           FROM qp CROSS JOIN ep WHERE qid <> ep.vec_id),
         rp AS (
           SELECT qid, nid FROM (
             SELECT qid, nid, row_number() OVER (PARTITION BY qid
               ORDER BY sim DESC, nid ASC) AS rk FROM sp)
           WHERE rk <= 10),
         cm AS (SELECT rf.qid, count(*) AS n_common
                FROM rf JOIN rp ON rf.qid = rp.qid AND rf.nid = rp.nid
                GROUP BY 1)
         SELECT ql.qid AS query_id, CAST(ql.k AS BIGINT) AS k,
           CAST(coalesce(cm.n_common, 0) AS BIGINT) AS n_common,
           round(CAST(coalesce(cm.n_common, 0) AS DOUBLE)
             / CAST(ql.k AS DOUBLE), 4) AS overlap_at_k
         FROM (SELECT qid, count(*) AS k FROM rf GROUP BY 1) ql
         LEFT JOIN cm USING (qid) ORDER BY 1""",
    "q28_ann_bruteforce" ->
      s"""WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
         s AS (
           SELECT qid, e.vec_id AS nid, ${oracleCos("qv", "e.v")} AS sim
           FROM q CROSS JOIN e WHERE qid <> e.vec_id),
         r AS (
           SELECT qid, nid, sim, CAST(row_number() OVER (
             PARTITION BY qid ORDER BY sim DESC, nid ASC) AS INT) AS rank
           FROM s)
         SELECT qid AS query_id, nid AS neighbor_id, sim, rank
         FROM r WHERE rank <= 10 ORDER BY query_id, rank""",
    "q29_ann_ivf" ->
      s"""WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cents AS (SELECT vec_id AS cid, v AS cv FROM e
                   ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
                   LIMIT 16),
         assign AS (
           SELECT vec_id, v, cid FROM (
             SELECT e.vec_id, e.v, c.cid, row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY ${oracleCos("e.v", "c.cv")} DESC, c.cid ASC) AS rn
             FROM e CROSS JOIN cents c) WHERE rn = 1),
         q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
         probes AS (
           SELECT qid, qv, cid FROM (
             SELECT q.qid, q.qv, c.cid, row_number() OVER (
               PARTITION BY q.qid
               ORDER BY ${oracleCos("q.qv", "c.cv")} DESC, c.cid ASC) AS rn
             FROM q CROSS JOIN cents c) WHERE rn <= 3),
         s AS (
           SELECT qid, a.vec_id AS nid, ${oracleCos("qv", "a.v")} AS sim
           FROM probes p JOIN assign a ON a.cid = p.cid
           WHERE a.vec_id <> qid),
         r AS (
           SELECT qid, nid, sim, CAST(row_number() OVER (
             PARTITION BY qid ORDER BY sim DESC, nid ASC) AS INT) AS rank
           FROM s)
         SELECT qid AS query_id, nid AS neighbor_id, sim, rank
         FROM r WHERE rank <= 10 ORDER BY query_id, rank""",
    "q40_ann_kmedians" ->
      s"""WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         dims AS (
           SELECT unnest(range(1, 1 + (SELECT max(len(v)) FROM e)))
             AS pos),
         c0 AS (SELECT vec_id AS cid, v AS cv FROM e
                ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
                LIMIT 16),
         a1 AS (
           SELECT vec_id, v, cid FROM (
             SELECT e.vec_id, e.v, c.cid, row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY ${oracleCos("e.v", "c.cv")} DESC, c.cid ASC) AS rn
             FROM e CROSS JOIN c0 c) WHERE rn = 1),
         m1 AS (
           SELECT cid, pos, round(median(v[pos]), 6) AS m
           FROM a1 CROSS JOIN dims GROUP BY cid, pos),
         c1 AS (SELECT cid, list(m ORDER BY pos) AS cv FROM m1
                GROUP BY cid),
         a2 AS (
           SELECT vec_id, v, cid FROM (
             SELECT e.vec_id, e.v, c.cid, row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY ${oracleCos("e.v", "c.cv")} DESC, c.cid ASC) AS rn
             FROM e CROSS JOIN c1 c) WHERE rn = 1),
         m2 AS (
           SELECT cid, pos, round(median(v[pos]), 6) AS m
           FROM a2 CROSS JOIN dims GROUP BY cid, pos),
         c2 AS (SELECT cid, list(m ORDER BY pos) AS cv FROM m2
                GROUP BY cid),
         assign AS (
           SELECT vec_id, v, cid FROM (
             SELECT e.vec_id, e.v, c.cid, row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY ${oracleCos("e.v", "c.cv")} DESC, c.cid ASC) AS rn
             FROM e CROSS JOIN c2 c) WHERE rn = 1),
         q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
         probes AS (
           SELECT qid, qv, cid FROM (
             SELECT q.qid, q.qv, c.cid, row_number() OVER (
               PARTITION BY q.qid
               ORDER BY ${oracleCos("q.qv", "c.cv")} DESC, c.cid ASC) AS rn
             FROM q CROSS JOIN c2 c) WHERE rn <= 3),
         s AS (
           SELECT qid, a.vec_id AS nid, ${oracleCos("qv", "a.v")} AS sim
           FROM probes p JOIN assign a ON a.cid = p.cid
           WHERE a.vec_id <> qid),
         r AS (
           SELECT qid, nid, sim, CAST(row_number() OVER (
             PARTITION BY qid ORDER BY sim DESC, nid ASC) AS INT) AS rank
           FROM s)
         SELECT qid AS query_id, nid AS neighbor_id, sim, rank
         FROM r WHERE rank <= 10 ORDER BY query_id, rank""",
    "q72_semantic_dedup" ->
      s"""WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         cnt AS (SELECT greatest(1, CAST(round(sqrt(count(*)), 0) AS INT))
                 AS nlist FROM e),
         rc AS (SELECT vec_id AS cid, v AS cv, row_number() OVER (
                  ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC)
                  AS rk FROM e),
         cents AS (SELECT cid, cv FROM rc, cnt WHERE rk <= nlist),
         assign AS (
           SELECT vec_id, v, cid FROM (
             SELECT e.vec_id, e.v, c.cid, row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY ${oracleCos("e.v", "c.cv")} DESC, c.cid ASC) AS rn
             FROM e CROSS JOIN cents c) WHERE rn = 1),
         drops AS (
           SELECT DISTINCT b.vec_id FROM assign a JOIN assign b
             ON a.cid = b.cid AND a.vec_id < b.vec_id
           WHERE ${oracleCos("a.v", "b.v")} >= 0.45)
         SELECT cid AS centroid_id, count(*) AS n_vecs,
           CAST(sum(CASE WHEN vec_id IN (SELECT vec_id FROM drops)
             THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
         FROM assign GROUP BY cid ORDER BY cid""",
    "q78_centroid_drift" ->
      s"""WITH e AS (
           SELECT label, embedding::DOUBLE[] AS v FROM embeddings
           WHERE embedding IS NOT NULL),
         ex AS (
           SELECT label, i, v[i] AS x FROM e,
           LATERAL (SELECT unnest(generate_series(1, len(v))) AS i) t),
         cent AS (
           SELECT label, i, round(avg(x), 6) AS m FROM ex GROUP BY 1, 2),
         cv AS (SELECT label, list(m ORDER BY i) AS c FROM cent
                GROUP BY label),
         cnt AS (SELECT label, count(*) AS n FROM e GROUP BY label)
         SELECT a.label AS group_a, b.label AS group_b,
           ca.n AS n_a, cb.n AS n_b,
           ${oracleCos("a.c", "b.c")} AS sim
         FROM cv a JOIN cv b ON a.label < b.label
         JOIN cnt ca ON ca.label = a.label
         JOIN cnt cb ON cb.label = b.label
         ORDER BY group_a, group_b""",
    "q90_hybrid_rank_fusion" ->
      s"""WITH e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
         s AS (
           SELECT qid, e.vec_id AS nid, ${oracleCos("qv", "e.v")} AS sim
           FROM q CROSS JOIN e WHERE qid <> e.vec_id),
         r AS (
           SELECT qid, nid, CAST(row_number() OVER (
             PARTITION BY qid ORDER BY sim DESC, nid ASC) AS INT)
             AS rank
           FROM s),
         cos AS (SELECT qid, nid, rank FROM r WHERE rank <= 20),
         rec AS (
           SELECT qid, nid, CAST(row_number() OVER (
             PARTITION BY qid ORDER BY nid DESC) AS INT) AS rank
           FROM cos),
         u AS (
           SELECT qid, nid,
             1.0 / (60.0 + CAST(rank AS DOUBLE)) AS sc FROM cos
           UNION ALL
           SELECT qid, nid,
             1.0 / (60.0 + CAST(rank AS DOUBLE)) FROM rec),
         f AS (
           SELECT qid, nid, sum(sc) AS fused, count(*) AS n_rankings
           FROM u GROUP BY qid, nid),
         t2 AS (
           SELECT qid, nid, fused, n_rankings,
             CAST(row_number() OVER (PARTITION BY qid
               ORDER BY fused DESC, nid ASC) AS INT) AS fused_rank
           FROM f)
         SELECT qid AS query_id, nid AS neighbor_id, fused_rank,
           n_rankings, round(fused, 6) AS fused_score
         FROM t2 WHERE fused_rank <= 5
         ORDER BY query_id, fused_rank""",
  )

  private[graft] def emb(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")

  /** Embedding cosine near-duplicate pairs via centroid blocking —
    * candidates share one of their 2 nearest centroids, then one exact
    * dot product per candidate (no all-pairs work; the brute-force
    * [[Similarity.nearDupPairs]] is demoted to the spec oracle).
    */
  private[graft] def embeddingNeardup(s: SparkSession, dir: String): DataFrame =
    // nlist ≈ √n (Similarity.sqrtNlist guidance, pinned to a literal
    // for the oracle): bucket size stays ~√n as the corpus grows, so
    // Σ(bucket²) candidate work is O(n^1.5), not O(n²); measured at
    // sf0.001/0.01/0.1 this equals or beats the recall of the smaller
    // nlist with ~30% fewer candidates
    Similarity.nearDupPairsBlocked(emb(s, dir), "vec_id", "embedding",
        threshold = 0.45, nlist = 32, nprobe = 3)
      .orderBy("id_a", "id_b")

  /** Brute-force cosine top-10 neighbors for the first 10 vectors —
    * ranked by the bounded-heap top-k aggregate (shuffle carries k per
    * (query, partition), not every scored candidate); result-identical
    * to the window form, which the spec asserts.
    */

  /** Matryoshka truncation audit: top-10 cosine neighbors computed on
    * the FULL 64-dim embeddings vs the first-16-dims prefix — the
    * overlap@k that tells a retrieval stack whether prefix-truncated
    * vectors (4× less memory/bandwidth, the MRL deployment trick) can
    * serve first-stage recall. Same ≤10-row broadcast audit-query leg
    * as q28 (allowlisted NLJ pattern); zero-overlap queries survive
    * the left join.
    */
  private[graft] def matryoshkaAuditQ(
      s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val pref = e.select(col("vec_id"),
      slice(col("embedding"), 1, 16).as("embedding"))
    def ids(d: DataFrame) = Similarity.bruteForceTopKAgg(
        d.where(col("vec_id") < 10), d, "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("neighbor_id"))
    val full = ids(e).transform(graft.core.CacheScope.disk)
    val common = full.join(ids(pref), Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("__common"))
    full.groupBy("query_id").agg(count(lit(1)).as("__k"))
      .join(common, Seq("query_id"), "left")
      .select(col("query_id"), col("__k").as("k"),
        coalesce(col("__common"), lit(0L)).as("n_common"),
        round(coalesce(col("__common"), lit(0L)).cast("double")
          / col("__k").cast("double"), 4).as("overlap_at_k"))
      .orderBy("query_id")
  }

  /** IVF bucket-balance audit ([[Similarity.ivfBalanceReport]]): the
    * q29 index's per-centroid population, share and imbalance factor
    * — the skew diagnostic that decides re-train vs raise-nlist
    * before an index ships.
    */
  private[graft] def ivfBalanceQ(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfBalanceReport(emb(s, dir), "vec_id", "embedding",
        nlist = 16)
      .orderBy("centroid_id")

  private[graft] def annBruteForce(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.bruteForceTopKAgg(
        e.where(col("vec_id") < 10), e, "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("neighbor_id"), col("sim"),
        col("rank").cast("int").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** Int8-quantized brute-force cosine top-10
    * ([[Similarity.quantizeInt8]]): the corpus is quantized to
    * per-vector-scaled tinyint codes (4× less storage/shuffle than
    * float32) and the search runs DIRECTLY on the codes — per-vector
    * scales cancel in the cosine, no dequantize. The oracle replays
    * the exact quantization arithmetic, so ranks, ties and rounded
    * sims are engine-identical.
    */

  /** Rank-biased overlap ([[Similarity.rankBiasedOverlap]], RBO@10,
    * p = 9/10) between q28's full-precision cosine top-10 and q105's
    * int8-quantized top-10 per query — quantization fidelity in RANK
    * space: the recall audits say whether the right neighbors
    * survive; RBO says whether they survive in the right ORDER, and
    * weights the top of the list where a reranker's candidates come
    * from. Exact rational weights, integral-division terms — no
    * float anywhere before the final /1e9.
    */
  private[graft] def rankAgreementQ(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val full = Similarity.bruteForceTopKAgg(
      e.where(col("vec_id") < 10), e, "vec_id", "embedding", k = 10)
    val q8 = Similarity.quantizeInt8(e, "embedding")
      .select(col("vec_id"), col("embedding_q"))
    val int8 = Similarity.bruteForceTopKAgg(
      q8.where(col("vec_id") < 10), q8, "vec_id", "embedding_q",
      k = 10)
    Similarity.rankBiasedOverlap(full, int8, "query_id",
        "neighbor_id", "rank", k = 10)
      .orderBy("query_id")
  }

  private[graft] def annInt8(s: SparkSession, dir: String): DataFrame = {
    val q = Similarity.quantizeInt8(emb(s, dir), "embedding")
      .select(col("vec_id"), col("embedding_q"))
    Similarity.bruteForceTopKAgg(
        q.where(col("vec_id") < 10), q, "vec_id", "embedding_q", k = 10)
      .select(col("query_id"), col("neighbor_id"), col("sim"),
        col("rank").cast("int").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** IVF (bucketed) top-10 — the scale path for similarity search.
    * Fixed nlist=16 ([[Similarity.hashKCentroids]]): centroid count —
    * and with it the broadcast table and O(n·nlist) assignment cost —
    * stays constant as the corpus grows.
    */
  private[graft] def annIvf(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val cents = Similarity.hashKCentroids(e, "vec_id", "embedding", 16)
    Similarity.ivfTopK(e.where(col("vec_id") < 10),
        Similarity.annIndexRows(e, "vec_id", "embedding", cents), cents,
        "vec_id", "embedding", k = 10, nprobe = 3)
      .select(col("query_id"), col("neighbor_id"), col("sim"),
        col("rank").cast("int").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** IVF over k-MEDIANS-refined centroids — same search path as q29
    * with the index "training" swapped in: FIXED-k hash init (nlist
    * independent of corpus size, so the broadcast centroid table and
    * the O(n·k) assignment cost hold at any scale), two refinement
    * iterations, exact per-dimension medians (selection-based order
    * statistics, so centroids reproduce bit-for-bit across engines —
    * a mean would inherit summation-order noise).
    */
  private[graft] def annIvfKmedians(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    // exactMedian pinned: the oracle replays DuckDB's midpoint median
    // bit-for-bit; the engine DEFAULT is the bounded percentile_approx
    val cents = Similarity.kMediansCentroids(
      e, "vec_id", "embedding", k = 16, iters = 2, exactMedian = true)
    Similarity.ivfTopK(e.where(col("vec_id") < 10),
        Similarity.annIndexRows(e, "vec_id", "embedding", cents), cents,
        "vec_id", "embedding", k = 10, nprobe = 3)
      .select(col("query_id"), col("neighbor_id"), col("sim"),
        col("rank").cast("int").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** Product-quantized ANN ([[Similarity.pqTrainCodebooks]] /
    * [[Similarity.pqEncode]] / [[Similarity.pqTopK]]): 4 blocks × 16
    * codewords over the 64-dim embeddings — each corpus vector
    * becomes 4 codes (64× smaller than float32), and search is ADC
    * over the code table. Fully deterministic (hash-init k-medians
    * training, L2 per-block encode, code-ascending ties), so the
    * oracle replays training, encoding AND the ADC scoring.
    */
  private[graft] def annPq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    // exactMedian pinned for the cross-engine oracle replay; the
    // engine default is the bounded percentile_approx re-center
    val books = Similarity.pqTrainCodebooks(e, "vec_id", "embedding",
      m = 4, k = 16, iters = 2, exactMedian = true)
    val enc = Similarity.pqEncode(e, "vec_id", "embedding", books)
    Similarity.pqTopK(e.where(col("vec_id") < 10), enc, books,
        "vec_id", "embedding", k = 10)
      .select(col("query_id"), col("neighbor_id"), col("sim"),
        col("rank").cast("int").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** IVF-PQ ANN ([[Similarity.annIndexRows]] / [[Similarity.ivfTopK]]
    * with [[IvfCodec.Pq]]): q112's PQ codes behind q29's coarse
    * routing — each query probes its 3 nearest of 16 hash-init
    * centroids and ADC-scores ONLY those buckets' codes, so the
    * scored-row count is Σ(probed bucket sizes), ~nprobe/nlist of
    * the corpus, instead of corpus × queries. The 100 TB search
    * shape: the index rows carry 4 codes, never vectors. Fully
    * deterministic, so the oracle replays training, encoding,
    * routing AND the routed ADC scoring.
    */
  private[graft] def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val books = Similarity.pqTrainCodebooks(e, "vec_id", "embedding",
      m = 4, k = 16, iters = 2, exactMedian = true)
    val cents = Similarity.hashKCentroids(e, "vec_id", "embedding", 16)
    val codec = IvfCodec.Pq(books)
    val index = Similarity.annIndexRows(
      e, "vec_id", "embedding", cents, codec)
    Similarity.ivfTopK(e.where(col("vec_id") < 10), index, cents,
        "vec_id", "embedding", k = 10, nprobe = 3, codec = codec)
      .select(col("query_id"), col("neighbor_id"), col("sim"),
        col("rank").cast("int").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** RESIDUAL IVF-PQ ANN ([[Similarity.ivfRpqTrainCodebooks]], then
    * [[Similarity.annIndexRows]] / [[Similarity.ivfTopK]] with
    * [[IvfCodec.ResidualPq]]):
    * q113's coarse routing, but the PQ codebooks train on and encode
    * the residual x − c against each vector's assigned centroid — the
    * published IVF-ADC construction that spends the code budget on
    * local displacement. ADC scores cosine(q, c + r̂) from codes only,
    * decomposed into per-query and per-centroid (block, code) lookup
    * tables. Fully deterministic, so
    * the oracle replays assignment, residual training, encoding,
    * routing AND the decomposed scoring.
    */
  private[graft] def annIvfRpq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val cents = Similarity.hashKCentroids(e, "vec_id", "embedding", 16)
    // exactMedian pinned for the cross-engine oracle replay (engine
    // default is the bounded percentile_approx re-center)
    val books = Similarity.ivfRpqTrainCodebooks(e, "vec_id", "embedding",
      cents, m = 4, k = 16, iters = 2, exactMedian = true)
    val codec = IvfCodec.ResidualPq(books)
    val index = Similarity.annIndexRows(
      e, "vec_id", "embedding", cents, codec)
    Similarity.ivfTopK(e.where(col("vec_id") < 10), index, cents,
        "vec_id", "embedding", k = 10, nprobe = 3, codec = codec)
      .select(col("query_id"), col("neighbor_id"), col("sim"),
        col("rank").cast("int").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** ANN recall audit ([[Similarity.recallAudit]]): the q28
    * brute-force exact top-10 vs the q29 IVF routed top-10, per-query
    * — (n_exact, n_hit, recall) rows, the index-health measure that
    * triggers re-centering/re-training when it slips. In production
    * the query leg is a hash-sample; here it's the same 10 audit
    * queries q28/q29 pin.
    */
  private[graft] def annRecallAuditQ(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopKAgg(
      q, e, "vec_id", "embedding", k = 10)
    val cents = Similarity.hashKCentroids(e, "vec_id", "embedding", 16)
    val routed = Similarity.ivfTopK(q,
      Similarity.annIndexRows(e, "vec_id", "embedding", cents), cents,
      "vec_id", "embedding", k = 10, nprobe = 3)
    Similarity.recallAudit(routed, exact).orderBy("query_id")
  }

  /** SAMPLED ANN recall audit — the standing production form
    * [[Similarity.recallAudit]]'s scaladoc prescribes: the query leg
    * is a deterministic 10 % [[graft.sampling.Sampling.hashFraction]]
    * sample of the corpus (salt "audit"), so the brute-force exact
    * leg costs 10 % of a query-load scan however large the corpus
    * grows — the audit that runs on a schedule, not the q117
    * exhaustive twin kept for comparison. Same IVF routed side
    * (16 hash centroids, nprobe 3, k 10). Per sampled query:
    * (n_exact, n_hit, recall).
    */
  private[graft] def annRecallAuditSampledQ(
      s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.where(graft.sampling.Sampling
      .hashFraction(col("vec_id"), "audit") < 0.10)
    val exact = Similarity.bruteForceTopKAgg(
      q, e, "vec_id", "embedding", k = 10)
    val cents = Similarity.hashKCentroids(e, "vec_id", "embedding", 16)
    val routed = Similarity.ivfTopK(q,
      Similarity.annIndexRows(e, "vec_id", "embedding", cents), cents,
      "vec_id", "embedding", k = 10, nprobe = 3)
    Similarity.recallAudit(routed, exact).orderBy("query_id")
  }

  /** Corpus cluster map: embedding-space clusters
    * ([[Similarity.hashKCentroids]] + [[Similarity.assignToCentroids]])
    * joined to document metadata — per cluster (n_docs, sum_tokens,
    * n_langs, top_lang, top_lang_docs), the "what lives where in my
    * corpus" datasheet a mixture designer reads before weighting
    * sources. Cross-modal composition: clusters from the embeddings
    * table, stats from documents, joined on the shared id. One
    * broadcast centroid assignment + two map-side-combined
    * aggregations; the top-lang window sorts per-cluster language
    * counts (≤ #langs rows per cluster).
    */
  private[graft] def corpusClusterMap(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val cents = Similarity.hashKCentroids(e, "vec_id", "embedding", 16)
    val assigned = Similarity
      .assignToCentroids(e, cents, "vec_id", "embedding")
      .select(col("vec_id").as("doc_id"), col("centroid_id"))
    val base = assigned
      .join(docs(s, dir).select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("__nt")),
        Seq("doc_id"))
      .transform(graft.core.CacheScope.disk)
    val agg = base.groupBy("centroid_id")
      .agg(count(lit(1)).as("n_docs"), sum("__nt").as("sum_tokens"),
        count_distinct(col("lang")).as("n_langs"))
    val lw = Window.partitionBy("centroid_id")
      .orderBy(col("__lc").desc, col("lang").asc)
    val top = base.where(col("lang").isNotNull)
      .groupBy("centroid_id", "lang").agg(count(lit(1)).as("__lc"))
      .withColumn("__r", row_number().over(lw)).where(col("__r") === 1)
      .select(col("centroid_id"), col("lang").as("top_lang"),
        col("__lc").as("top_lang_docs"))
    agg.join(top, Seq("centroid_id"), "left").orderBy("centroid_id")
  }

  /** Semantic decontamination report
    * ([[Similarity.srpNearDupMatches]]): every fifth embedding plays
    * a benchmark/eval item re-encoded with drift (q127's perturbation
    * — slight for every tenth id, heavy otherwise); the report lists
    * each eval item's verified semantic matches in the training
    * corpus — (eval_id, corpus_id, hamming, cos) — the embedding
    * sibling of q64's n-gram contamination check, catching leaked
    * items that shingle overlap misses after paraphrase/re-encoding.
    * Probe cost: the eval set sketches only itself against the
    * standing corpus SRP index; corpus vectors load candidate-sized.
    */
  private[graft] def semanticDecontamination(
      s: SparkSession, dir: String): DataFrame = {
    val corpus = emb(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val evalSet = corpus.where(col("vec_id") % 5 === 0)
      .select(col("vec_id"), transform(col("v"),
        (x, d) => x +
          when(col("vec_id") % 10 === 0, lit(0.01)).otherwise(lit(0.3)) *
          ((col("vec_id") * 7 + d) % 5 - lit(2)).cast("double")).as("v"))
    val index = Similarity.buildSrpIndex(corpus, "vec_id", "v", dim = 64)
    Similarity.srpNearDupMatches(index, corpus, evalSet,
        "vec_id", "v", dim = 64, maxDist = 3, minCos = 0.98)
      .select(col("batch_id").as("eval_id"), col("corpus_id"),
        col("hamming").cast("int").as("hamming"),
        round(col("cos"), 4).as("cos"))
      .orderBy("eval_id", "corpus_id")
  }

  /** ANN hard-negative mining ([[Similarity.hardNegatives]]): per
    * audit query, the 5 most-similar WRONG-label vectors via the q29
    * IVF routing — the contrastive-training negative sampler (random
    * negatives are trivially separable; the confusable wrong-label
    * neighbors carry the gradient). Label filter prunes inside the
    * probed buckets, before ranking.
    */
  private[graft] def hardNegativesQ(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val cents = Similarity.hashKCentroids(e, "vec_id", "embedding", 16)
    Similarity.hardNegatives(e.where(col("vec_id") < 10), e,
        "vec_id", "embedding", "label", k = 5, cents, nprobe = 3)
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neighbor_label"), col("sim"),
        col("rank").cast("int").as("rank"))
      .orderBy("query_id", "rank")
  }

  /** End-to-end ANN index LIFECYCLE — the maintain-audit loop the
    * maintenance scaladocs describe, in one query: codebooks train on
    * the INITIAL corpus (vec_id % 4 ≠ 0) and persist to parquet; the
    * IVF-PQ search index builds as a bucketed table
    * ([[Similarity.buildIvfIndex]] with [[IvfCodec.Pq]]) and the batch
    * (vec_id % 4 = 0) lands through [[Similarity.ivfIndexAppend]] —
    * codes frozen on the initial-corpus codebooks, exactly the
    * daily-append shape; a vector-carrying twin (the same two calls
    * with [[IvfCodec.Vectors]]) feeds [[Similarity.ivfDriftReport]]
    * (a code-only index cannot drift-report). The sampled audit
    * (10 % [[graft.sampling.Sampling.hashFraction]], q138's form)
    * searches the appended table via [[Similarity.ivfTopK]] against
    * the brute-force exact leg, and each sampled query's recall rolls
    * up to its assigned bucket. Output, one row per coarse bucket:
    * (centroid_id, n, mean_sim, recenter_advised, n_audit,
    * avg_recall) — drift and recall side by side, the health report
    * that decides re-center vs re-train. Builds are
    * overwrite-then-append so in-session reruns stay deterministic.
    */

  /** Reap `graft_q139_*_<pid>` warehouse locations whose pid is no
    * longer alive: a crashed or killed run never reaches its own
    * same-pid cleanup, and without this its index/codebook tables
    * would sit in the warehouse forever (the in-memory catalog dies
    * with the JVM; the directories don't). Liveness via
    * `ProcessHandle.of` — stronger than an age heuristic, which
    * either reaps a slow live run or waits out dead ones.
    */
  private[graft] def q139ReapOrphans(s: SparkSession): Unit = {
    val self = java.lang.ProcessHandle.current().pid()
    val wh = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(wh)) {
      val pat = "^graft_q139_.*_([0-9]+)$".r
      fs.listStatus(wh).foreach { st =>
        st.getPath.getName match {
          case pat(pid) if pid.toLong != self &&
              !java.lang.ProcessHandle.of(pid.toLong)
                .map[Boolean](_.isAlive).orElse(false) =>
            fs.delete(st.getPath, true)
          case _ => ()
        }
      }
    }
  }

  private[graft] def indexLifecycleQ(
      s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val initial = e.where(col("vec_id") % 4 =!= 0)
    val batch = e.where(col("vec_id") % 4 === 0)
    // artifact names carry the JVM pid: concurrent sessions (a verify
    // run racing a test suite that also executes the registry) must
    // not fight over one warehouse location — same-session reruns
    // still hit the same names and stay overwrite-then-append
    val tag = java.lang.ProcessHandle.current().pid()
    val pqT = s"graft_q139_pq_idx_$tag"
    val vecT = s"graft_q139_vec_idx_$tag"
    val booksT = s"graft_q139_books_$tag"
    q139ReapOrphans(s)
    // the warehouse dir outlives the in-memory catalog: a table
    // location left by a previous same-pid session would block
    // saveAsTable, so drop the catalog entry AND any orphaned location
    def dropTables(): Unit = Seq(pqT, vecT, booksT).foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS $t")
      val p = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), t)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
    dropTables()
    // the result is materialised before the tables are dropped, so a
    // run leaves no table in the warehouse
    try indexLifecycleReport(s, e, initial, batch, pqT, vecT, booksT)
      .localCheckpoint(eager = true)
    finally dropTables()
  }

  private def indexLifecycleReport(
      s: SparkSession, e: DataFrame, initial: DataFrame, batch: DataFrame,
      pqT: String, vecT: String, booksT: String): DataFrame = {
    val cents = Similarity.hashKCentroids(
      initial, "vec_id", "embedding", 16)
    val books = Similarity.pqTrainCodebooks(initial, "vec_id",
      "embedding", m = 4, k = 16, iters = 2, exactMedian = true)
    // codebooks persist as a warehouse table like the indexes — a
    // cluster-visible location (executors of a real deployment write
    // parquet parts to the shared warehouse FS), where a driver-local
    // temp dir would land parts on each executor's own disk and the
    // read-back would miss them; same-pid reuse also stops repeated
    // runs leaking one temp dir per call
    books.write.mode("overwrite").saveAsTable(booksT)
    val booksP = s.table(booksT)
    val codec = IvfCodec.Pq(booksP)
    Similarity.buildIvfIndex(initial, "vec_id", "embedding", cents,
      pqT, numBuckets = 4, codec = codec)
    Similarity.ivfIndexAppend(batch, "vec_id", "embedding", cents,
      pqT, numBuckets = 4, codec = codec)
    Similarity.buildIvfIndex(initial, "vec_id", "embedding", cents,
      vecT, numBuckets = 4)
    Similarity.ivfIndexAppend(batch, "vec_id", "embedding", cents,
      vecT, numBuckets = 4)
    val drift = Similarity.ivfDriftReport(s, vecT,
      "embedding", cents)
    val q = e.where(graft.sampling.Sampling
      .hashFraction(col("vec_id"), "audit") < 0.10)
    val approx = Similarity.ivfTopK(q, s.table(pqT), cents,
      "vec_id", "embedding", k = 10, nprobe = 3, codec = codec)
    val exact = Similarity.bruteForceTopKAgg(
      q, e, "vec_id", "embedding", k = 10)
    val audit = Similarity.recallAudit(approx, exact)
    val qc = s.table(vecT)
      .select(col("vec_id").as("query_id"), col("centroid_id"))
    // avg_recall deliberately UNROUNDED: per-query recalls are exact
    // small-denominator rationals rounded to 4 decimals, so their
    // mean frequently lands on an exact decimal half and round(.,4)
    // diverges between engines (Spark rounds the shortest decimal
    // string, others the binary value); the driver compare's 9-decimal
    // canonicalization absorbs ulp-level summation-order noise
    val perC = audit.join(qc, Seq("query_id"))
      .groupBy("centroid_id")
      .agg(count(lit(1)).as("n_audit"),
        avg(col("recall")).as("avg_recall"))
    drift.join(perC, Seq("centroid_id"), "left_outer")
      .select(col("centroid_id"), col("n"), col("mean_sim"),
        col("recenter_advised"),
        coalesce(col("n_audit"), lit(0L)).as("n_audit"),
        col("avg_recall"))
      .orderBy("centroid_id")
  }

  /** SemDeDup-style semantic dedup over the embedding corpus, nlist
    * sized by the √n rule ([[Similarity.sqrtNlist]] — one count, so
    * Σ(bucket²) stays O(n^1.5) at any sf instead of degrading as a
    * fixed nlist's buckets grow): within each fixed-hash centroid
    * bucket, drop vectors with a lower-id ≥-threshold cosine neighbor
    * ([[Similarity.semanticDedup]]). Per-bucket kept/dropped census;
    * the oracle recomputes the same √n in SQL.
    */
  private[graft] def semanticDedupCensus(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    Similarity.semanticDedup(e, "vec_id", "embedding",
        threshold = 0.45, nlist = Similarity.sqrtNlist(e.count()))
      .groupBy("centroid_id")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("dropped"), 1).otherwise(0)).cast("long")
          .as("n_dropped"))
      .orderBy("centroid_id")
  }

  /** Hybrid-retrieval fusion: reciprocal-rank fusion of the cosine
    * ANN ranking with a recency ranking over the same candidate set —
    * exact-reproducible integer-rank arithmetic, no corpus rescan in
    * the fusion itself.
    */
  private[graft] def hybridRankFusion(s: SparkSession, dir: String): DataFrame = {
    val cos = Similarity.bruteForceTopKAgg(
        emb(s, dir).where(col("vec_id") < 10), emb(s, dir),
        "vec_id", "embedding", k = 20)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .transform(graft.core.CacheScope.disk)
    val wRec = Window.partitionBy(col("query_id"))
      .orderBy(col("neighbor_id").desc)
    val rec = cos.select(col("query_id"), col("neighbor_id"))
      .withColumn("rank", row_number().over(wRec).cast("int"))
    Similarity.rrfFuse(Seq(cos, rec), "query_id", "neighbor_id",
        "rank", k = 60, topN = 5)
      .orderBy("query_id", "fused_rank")
  }

  /** Label-noise screen ([[Similarity.labelNoiseScreen]]): the five
    * vectors farthest (squared L2, exact offset-integer units) from
    * their own label's centroid, each normalized against the label
    * mean — the mislabeled-example shortlist a training pipeline
    * routes to relabeling. One explode for the centroid cells, one
    * corpus scan for the distance fold.
    */
  private[graft] def labelNoiseQ(s: SparkSession, dir: String): DataFrame =
    Similarity.labelNoiseScreen(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label", topK = 5)
      .orderBy("label", "rank")

  /** Upper-tri Gram + covariance of the embedding corpus
    * ([[Similarity.embeddingGram]]): d(d+1)/2 cells from chained
    * generators, micro-quantized decimal-exact moments, shuffle
    * bounded by partitions×d² partials.
    */
  private[graft] def embeddingGramQ(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingGram(t(s, dir, "embeddings"), "embedding")
      .orderBy("i", "j")

  /** Linear CKA re-embedding audit ([[Similarity.linearCka]]): the
    * corpus embedding against two synthetic "new encoder versions" —
    * an ORTHOGONAL one (dims reversed, alternate signs flipped; CKA
    * must read ≈ 1, the invariance that makes CKA the right metric
    * where raw cosine would read garbage) and a TRUNCATING one (top
    * 32 of 64 dims zeroed; CKA reads the geometry actually lost) —
    * the go/no-go table a re-embedding migration reads before
    * swapping indexes.
    */
  private[graft] def embeddingCkaQ(
      s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val rot = e.withColumn("version_vec", expr(
      "transform(embedding, (v, i) -> CASE WHEN i % 2 = 0 " +
        "THEN element_at(embedding, size(embedding) - i) " +
        "ELSE -element_at(embedding, size(embedding) - i) END)"))
    val cut = e.withColumn("version_vec", expr(
      "transform(embedding, (v, i) -> CASE WHEN i < 32 THEN v " +
        "ELSE CAST(0.0 AS FLOAT) END)"))
    Similarity.linearCka(rot, "embedding", "version_vec")
      .withColumn("version", lit("orthogonal"))
      .unionByName(
        Similarity.linearCka(cut, "embedding", "version_vec")
          .withColumn("version", lit("truncated32")))
      .select(col("version"), col("n"), col("d_x"), col("d_y"),
        col("cka"))
      .orderBy("version")
  }

  /** Embedding anisotropy/collapse audit
    * ([[Similarity.embeddingAnisotropy]]): per-label + `__all__`
    * mean norm and EXACT mean pairwise dot via `‖Σv‖² − Σ‖v‖²` —
    * the O(n·d) form of the O(n²) collapse check.
    */
  private[graft] def anisotropyQ(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingAnisotropy(t(s, dir, "embeddings"),
        "embedding", "label")
      .orderBy("label")

  /** Centroid-silhouette label-health audit
    * ([[Similarity.centroidSilhouette]]): the O(n·L) silhouette
    * variant over the labeled embedding corpus — offset-integer
    * distances, µ-floored per-row scores, label-domain output.
    */
  private[graft] def centroidSilhouetteQ(s: SparkSession, dir: String): DataFrame =
    Similarity.centroidSilhouette(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label")
      .orderBy("label")

  /** Embedding-distribution drift between labels: per-label mean
    * embedding (posexplode + partial-agg vector mean, rounded for
    * cross-engine reproducibility) then pairwise cosine over the tiny
    * centroid table — "are two sources' embedding distributions
    * converging?" at one corpus scan.
    */
  private[graft] def labelCentroidDrift(s: SparkSession, dir: String): DataFrame =
    Similarity.centroidDrift(emb(s, dir), "label", "embedding")
      .orderBy("group_a", "group_b")

  /** Embedding near-dup via hyperplane LSH ([[Similarity.srpSketch]]
    * over int8 codes + [[Dedup.hammingBandedPairs]]): a batch of
    * slightly-perturbed copies (re-encoded embeddings drift) probes
    * the corpus at Hamming ≤ 3 of 64 hyperplane bits — an 8-byte
    * sketch stands in for 64 floats in the blocking join. Candidates
    * are verified with exact cosine on the original vectors. The
    * third fingerprint family (text SimHash, image dHash, embedding
    * SRP) on the shared banded pair machinery.
    */
  private[graft] def srpNearDupPairs(s: SparkSession, dir: String): DataFrame = {
    val corpus = emb(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val batch = corpus.where(col("vec_id") % 10 === 0)
      .select(col("vec_id"), transform(col("v"),
        (x, d) => x + lit(0.01) *
          ((col("vec_id") * 7 + d) % 5 - lit(2)).cast("double")).as("v"))
    val all = corpus.select(col("vec_id").as("id"), col("v"))
      .unionByName(batch.select(
        (col("vec_id") + lit(1000000L)).as("id"), col("v")))
    val sk = Similarity.srpSketch(
      Similarity.quantizeInt8(all, "v"), "id", "v_q", dim = 64)
    Dedup.hammingBandedPairs(sk, "id", "srp_hi", "srp_lo", maxDist = 3)
      .where(col("id_a") < 1000000L && col("id_b") >= 1000000L)
      .select(col("id_a").as("corpus_id"),
        (col("id_b") - 1000000L).as("batch_src"), col("hamming"))
      .join(corpus.select(col("vec_id").as("corpus_id"),
        col("v").as("va")), Seq("corpus_id"))
      .join(batch.select(col("vec_id").as("batch_src"),
        col("v").as("vb")), Seq("batch_src"))
      .select(col("corpus_id"), col("batch_src"), col("hamming"),
        round(Similarity.cosine(col("va"), col("vb")), 4).as("cos"))
      .orderBy("corpus_id", "batch_src")
  }

  /** Incremental embedding dedup ([[Similarity.buildSrpIndex]] +
    * [[Similarity.dedupEmbeddingAgainst]]): the corpus's 8-byte SRP
    * sketches stand as the index; a batch of re-encoded uploads
    * (vec_id % 5 == 0, perturbed lightly for % 10 == 0 — true
    * near-dups — and heavily otherwise — novel) sketches only itself,
    * probes at Hamming ≤ 3, and candidates verify by exact cosine
    * ≥ 0.98. Survivors = novel rows + the LSH-missed tail. The
    * embedding analogue of the q110 band-index ingest shape.
    */
  private[graft] def srpDedupIncremental(
      s: SparkSession, dir: String): DataFrame = {
    val corpus = emb(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val batch = corpus.where(col("vec_id") % 5 === 0)
      .select(col("vec_id"), transform(col("v"),
        (x, d) => x +
          when(col("vec_id") % 10 === 0, lit(0.01)).otherwise(lit(0.3)) *
          ((col("vec_id") * 7 + d) % 5 - lit(2)).cast("double")).as("v"))
    val index = Similarity.buildSrpIndex(corpus, "vec_id", "v", dim = 64)
    Similarity.dedupEmbeddingAgainst(index, corpus, batch,
        "vec_id", "v", dim = 64, maxDist = 3, minCos = 0.98)
      .select(col("vec_id"))
      .orderBy("vec_id")
  }

  /** Greedy k-center diversity selection
    * ([[Similarity.kCenterSelect]]): the 8 maximally-spread embedding
    * vectors by exact integer squared-L2 over int8 codes — the
    * coreset/diversity pass of a data-selection pipeline, every
    * argmax bit-exact across engines.
    */
  private[graft] def kcenterSelectQ(s: SparkSession, dir: String): DataFrame =
    Similarity.kCenterSelect(emb(s, dir), "vec_id", "embedding", k = 8)
      .select(col("round"), col("vec_id"), col("d2_at_selection"))
      .orderBy("round")

  /** MMR diverse reranking ([[Similarity.mmrRerankByQuery]], one
    * literal query key over the single candidate pool): the top-20
    * cosine candidates for audit query 0, reranked to 8 results
    * maximizing λ·relevance − (1−λ)·max-cosine-to-selected — the
    * retrieval stack's final stage, keeping near-duplicate hits from
    * crowding out coverage. Every pick's objective is
    * micro-quantized before the argmax (bit-exact rounds).
    */
  private[graft] def mmrRerankQ(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val q0 = e.agg(min_by(col("v"), col("vec_id")).as("qv"))
    val cands = e.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(q0))
      .withColumn("rel", Similarity.dot(col("v"), col("qv")) /
        (Similarity.norm(col("v")) * Similarity.norm(col("qv"))))
      .select(col("vec_id"), col("v"), col("rel"))
      .orderBy(col("rel").desc, col("vec_id").asc).limit(20)
    Similarity.mmrRerankByQuery(cands.withColumn("__q", lit(0)), "__q",
        "vec_id", "v", "rel", k = 8, lambdaMilli = 700)
      .select(col("rank").cast("int").as("rank"), col("vec_id"),
        round(col("rel"), 6).as("rel"),
        round(col("max_cos_prior"), 6).as("max_cos_prior"),
        col("obj_micro"))
      .orderBy("rank")
  }

  /** The retrieval stack composed END TO END in one lazy plan — the
    * chain a RAG product actually runs, with every stage an
    * already-verified operator: chunk
    * ([[TextAnalysis.chunkByTokens]], q61) → feature-hash embed
    * ([[TextAnalysis.featureHashEmbed]]) → IVF-PQ dense index + probe
    * ([[Similarity.pqTrainCodebooks]]/[[Similarity.ivfTopK]], q113)
    * and BM25 sparse search over the SAME chunks
    * ([[graft.text.TfIdf.bm25Search]], q171) → reciprocal-rank fusion
    * ([[Similarity.rrfFuse]], q90) → per-query MMR diversity rerank
    * ([[Similarity.mmrRerankByQuery]], the grouped q173).
    *
    * Composition discipline (the q31/q73/q152/q154 lesson, applied at
    * birth): the chunk frame and its embedding frame persist ONCE and
    * feed every consumer — dense training, dense index, BM25
    * postings/lengths, and the MMR vector join all read the same
    * cached chunking, so no stage can silently re-execute the
    * upstream chain (RetrievalPipelineSpec pins the scan count).
    * Queries are the five lowest doc_ids' full text; chunk surrogate
    * key `(doc_id+1)·1000 + chunk_idx` keeps the id spaces disjoint.
    * Everything downstream of the fused scores is the exact-integer
    * machinery of the component queries, so the whole pipeline
    * replays in DuckDB.
    */
  private[graft] def retrievalCandidates(
      s: SparkSession, dir: String): DataFrame = {
    val dim = 16
    val chunks = TextAnalysis.chunkByTokens(
        docs(s, dir), "doc_id", "text", window = 64, overlap = 8)
      .select(((col("doc_id") + 1) * 1000 + col("chunk_idx"))
        .cast("long").as("chunk_id"), col("chunk_text"))
      .transform(graft.core.CacheScope.disk)
    val cvecs = chunks
      .select(col("chunk_id"),
        TextAnalysis.featureHashEmbed(col("chunk_text"), dim).as("v"))
      .transform(graft.core.CacheScope.disk)
    val queries = docs(s, dir).where(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("text"))
      .transform(graft.core.CacheScope.disk)
    val cents = Similarity.hashKCentroids(cvecs, "chunk_id", "v", 16)
    val books = Similarity.pqTrainCodebooks(cvecs, "chunk_id", "v",
      m = 4, k = 16, iters = 2, exactMedian = true)
    val codec = IvfCodec.Pq(books)
    val index = Similarity.annIndexRows(
      cvecs, "chunk_id", "v", cents, codec)
    val qvecs = queries.select(col("qid").as("chunk_id"),
      TextAnalysis.featureHashEmbed(col("text"), dim).as("v"))
    val dense = Similarity.ivfTopK(qvecs, index, cents,
        "chunk_id", "v", k = 10, nprobe = 3, codec = codec)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
    val sparse = graft.text.TfIdf.bm25Search(
        chunks, "chunk_id", "chunk_text", queries, "qid", "text",
        k = 10, maxDf = 400)
      .select(col("qid").as("query_id"),
        col("chunk_id").as("neighbor_id"), col("rank"))
    val fused = Similarity.rrfFuse(Seq(dense, sparse),
      "query_id", "neighbor_id", "rank", k = 60, topN = 10)
    fused
      .join(cvecs.select(col("chunk_id").as("neighbor_id"), col("v")),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id").as("chunk_id"),
        col("v"), col("fused_score").as("rel"))
  }

  private[graft] def retrievalPipelineQ(
      s: SparkSession, dir: String): DataFrame = {
    Similarity.mmrRerankByQuery(retrievalCandidates(s, dir),
        "query_id", "chunk_id", "v", "rel", k = 5, lambdaMilli = 700)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("chunk_id"),
        expr("chunk_id div 1000 - 1").as("doc_id"),
        (col("chunk_id") % 1000).cast("int").as("chunk_idx"),
        round(col("rel"), 6).as("rel"), col("obj_micro"))
      .orderBy("query_id", "rank")
  }

  /** Cosine in double precision over the embeddings arrays. */

  /** One PQ block's oracle chain (mirrors [[graft.similarity
    * .Similarity.pqTrainCodebooks]] for block `b`): sub-vector slice →
    * hash-init c0 → two cosine-assign/median-refine rounds → dense
    * codes by hash rank → L2-argmin encode. Every expression matches
    * the Spark side bit-for-bit (left-to-right dot products, medians
    * rounded at 6, cosine at 4, code-ascending ties).
    */
  private[graft] def oraclePqBlock(
      b: Int, sub: Int, k: Int, src: String = "e",
      encSrc: String = ""): String = {
    val lo = b * sub + 1
    val hi = (b + 1) * sub
    // train codebooks on `src`; encode rows of `encSrc` (defaults to
    // the training frame) — the index-lifecycle shape where codebooks
    // are frozen on the initial corpus and appended batches encode
    // with them
    val (encCte, encFrom) =
      if (encSrc.isEmpty || encSrc == src) ("", s"e$b")
      else (s"f$b AS (SELECT vec_id, v[$lo:$hi] AS v FROM $encSrc),\n       ",
        s"f$b")
    def assign(src: String, cents: String) =
      s"""(SELECT vec_id, v, cid FROM (
         SELECT e.vec_id, e.v, c.cid, row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY ${oracleCos("e.v", "c.cv")} DESC, c.cid ASC) AS rn
         FROM $src e CROSS JOIN $cents c) WHERE rn = 1)"""
    def medians(assigned: String) =
      s"""(SELECT cid, pos, round(median(v[pos]), 6) AS m
         FROM $assigned CROSS JOIN dims$b GROUP BY cid, pos)"""
    s"""e$b AS (SELECT vec_id, v[$lo:$hi] AS v FROM $src),
       ${encCte}dims$b AS (SELECT unnest(range(1, ${sub + 1})) AS pos),
       c0$b AS (SELECT vec_id AS cid, v AS cv FROM e$b
                ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
                LIMIT $k),
       a1$b AS ${assign(s"e$b", s"c0$b")},
       m1$b AS ${medians(s"a1$b")},
       c1$b AS (SELECT cid, list(m ORDER BY pos) AS cv FROM m1$b
                GROUP BY cid),
       a2$b AS ${assign(s"e$b", s"c1$b")},
       m2$b AS ${medians(s"a2$b")},
       c2$b AS (SELECT cid, list(m ORDER BY pos) AS cv FROM m2$b
                GROUP BY cid),
       cb$b AS (SELECT cv, row_number() OVER (
           ORDER BY md5(CAST(cid AS VARCHAR)) ASC, cid ASC) - 1 AS code
         FROM c2$b),
       enc$b AS (SELECT vec_id, code FROM (
           SELECT e.vec_id, c.code, row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(c.cv, c.cv)
               - 2 * list_dot_product(e.v, c.cv) ASC, c.code ASC) AS rn
           FROM $encFrom e CROSS JOIN cb$b c) WHERE rn = 1)"""
  }

  private[graft] def oracleCos(a: String, b: String): String =
    s"round(list_dot_product($a, $b) / nullif(" +
      s"sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)), 0.0), 4)"

  private[graft] def oracleCosRaw(a: String, b: String): String =
    s"(list_dot_product($a, $b) / nullif(" +
      s"sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)), 0.0))"

  /** SRP sketch CTEs (q123/q127): int8-quantize (the q105 CTE) an
    * `allv(id, v)` relation, project onto the 64 md5-derived sign rows
    * (integer-valued terms → exact sums), pack bits into (hi, lo) —
    * identical bit math to Similarity.srpSketch. Exposes `hs`.
    */
  private[graft] val oracleSrpCtes: String =
    """qz AS (
         SELECT id,
           CASE WHEN coalesce(
               list_max(list_transform(v, x -> abs(x))), 0.0) = 0.0
             THEN list_transform(v, x -> 0.0)
             ELSE list_transform(v, x -> round(x /
               (list_max(list_transform(v, y -> abs(y))) / 127.0)))
           END AS qv
         FROM allv),
       sb AS (
         SELECT id, bi.i AS i,
           list_sum(list_transform(range(64), d ->
             CASE WHEN substr(md5('srp_' || bi.i || '_' || d), 1, 1)
               IN ('0','2','4','6','8','a','c','e') THEN 1 ELSE -1 END
             * coalesce(qv[d+1], 0.0))) AS s
         FROM qz, LATERAL (SELECT unnest(range(64)) AS i) bi),
       hs AS (
         SELECT id,
           sum(CASE WHEN i < 32 AND s > 0 THEN
             CAST(1 AS BIGINT) << CAST(31 - i AS INT) ELSE 0 END) AS hi,
           sum(CASE WHEN i >= 32 AND s > 0 THEN
             CAST(1 AS BIGINT) << CAST(63 - i AS INT) ELSE 0 END) AS lo
         FROM sb GROUP BY id)"""

  /** Grid-blocked DBSCAN ([[graft.similarity.DensityCluster
    * .gridDbscan]]) over embedding dims (0, 1): density clusters +
    * per-point noise verdicts with the √n-adaptive eps (so the query
    * sits at the same percolation working point at every SF) and
    * minPts = 5. The density cut beside the centroid family
    * (q40/q243): arbitrary-shape clusters, explicit noise.
    */
  private[graft] def gridDbscanQ(s: SparkSession, dir: String): DataFrame =
    graft.similarity.DensityCluster.gridDbscan(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        dimX = 0, dimY = 1, epsMicro = 0L, minPts = 5)
      .withColumnRenamed("id", "vec_id")
      .orderBy("vec_id")

  /** Exact KNN-Shapley data valuation
    * ([[graft.similarity.DataValuation.knnShapley]]): every 10th
    * vector plays the evaluation sample, the rest are valued at
    * K = 5. With this table's UNLEARNABLE labels (KNN accuracy ==
    * the 1/|labels| chance rate) the panel's honest reading is
    * values hovering near zero — the q367-style null baseline; the
    * spec's clustered fixture proves the discrimination (mislabeled
    * point negative) the synthetic corpus can't show.
    */
  private[graft] def knnShapleyQ(s: SparkSession, dir: String): DataFrame =
    graft.similarity.DataValuation.knnShapley(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label",
        testFlag = col("vec_id") % 10 === 0, k = 5)
      .withColumnRenamed("id", "vec_id")
      .orderBy("vec_id")
}
