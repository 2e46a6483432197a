package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** What an IVF index row stores next to its `centroid_id`: the raw
  * vector, its PQ codes, or the PQ codes of its residual against the
  * assigned centroid. One codec drives the index's assignment
  * ([[Similarity.annIndexRows]]), its writer
  * ([[Similarity.buildIvfIndex]] / [[Similarity.ivfIndexAppend]]) and
  * its search ([[Similarity.ivfTopK]]).
  */
sealed trait IvfCodec

object IvfCodec {

  /** Rows `(id, vector, __vn, centroid_id)`, scored by exact cosine. */
  case object Vectors extends IvfCodec

  /** Rows `(centroid_id, id, codes)` over [[Similarity.pqTrainCodebooks]]
    * codebooks, scored by asymmetric distance (ADC).
    */
  final case class Pq(codebooks: DataFrame) extends IvfCodec

  /** Rows `(centroid_id, id, codes)` where the codes encode x − c, over
    * [[Similarity.ivfRpqTrainCodebooks]] codebooks (the published
    * IVF-ADC form); scores cosine(q, c + r̂) from lookup tables.
    */
  final case class ResidualPq(codebooks: DataFrame) extends IvfCodec
}

/** Similarity search over embedding columns (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and an IVF
  * (inverted-file) bucketed variant as the scale path.
  *
  * Vector math runs through the engine's native codegen'd
  * [[graft.expressions.DotProduct]] expression (`graft_dot`, installed
  * by [[graft.GraftExtensions]]) — a tight primitive loop inside
  * whole-stage codegen, ~10× the throughput of the interpreted
  * `aggregate`/`zip_with` higher-order functions it replaces.
  *
  * Scale design (the 100 TB story):
  *   - Norms are computed ONCE per vector and carried next to it —
  *     pairwise scoring does one dot product per pair, not three.
  *   - Brute-force broadcasts the (small) query side; the corpus — the
  *     100 TB side — never moves.
  *   - The IVF variant cuts the scanned corpus to ~nprobe/nlist of the
  *     data: centroid assignment and PQ encoding are projections of
  *     each row against the centroid and codebook literals; a search
  *     probes each query row the same way and streams the index into
  *     a broadcast join with the probed queries.
  *   - All rankings use rounded similarity + id tie-breaks, so results
  *     are reproducible across engines, partitionings, and runs.
  */
object Similarity {

  /** Exact dot product in double precision (left-to-right summation)
    * via the codegen'd `graft_dot` expression. Requires
    * [[graft.GraftExtensions]] (installed by `Sessions.configure`).
    */
  def dot(a: Column, b: Column): Column =
    call_function("graft_dot",
      a.cast("array<double>"), b.cast("array<double>"))

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in double precision; null-safe on zero norms. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / nullif(norm(a) * norm(b), lit(0.0))

  /** Project (id, vector, norm) once — every pairwise operator takes
    * this shape so norms are computed n times, not n² times.
    */
  private def withNorm(
      df: DataFrame, idCol: String, vecCol: String,
      idAs: String, vecAs: String, normAs: String): DataFrame =
    df.select(col(idCol).as(idAs), col(vecCol).as(vecAs),
      norm(col(vecCol)).as(normAs))

  private def cosFromNorms(
      va: Column, vb: Column, na: Column, nb: Column): Column =
    dot(va, vb) / nullif(na * nb, lit(0.0))

  /** The rounded cosine every centroid ranking orders by. A NaN (a
    * vector with a NaN component) becomes NULL, so it ranks last in
    * `csim DESC NULLS LAST` just as a zero norm does — Spark would
    * otherwise order NaN above every number.
    */
  private def centroidSim(
      va: Column, vb: Column, na: Column, nb: Column, roundTo: Int): Column =
    nanvl(round(cosFromNorms(va, vb, na, nb), roundTo),
      lit(null).cast("double"))

  /** Rank scored (query_id, neighbor_id, sim) rows to top-k per query
    * via the bounded-heap aggregate [[graft.expressions.TopKByScore]] —
    * partial state is k entries per (query, partition), so the shuffle
    * carries a CONSTANT per key instead of every scored candidate, and
    * nothing is sorted but k-element buffers. The one top-k ranking of
    * every search here. Semantics are the window/`row_number` form's
    * (sim DESC NULLS LAST, neighbor_id ASC): a NULL sim (zero-norm
    * vector) enters the heap as −∞, which no rounded cosine takes,
    * and comes back out as NULL. Ids must be integral (the heap
    * carries them as long; the input type is restored on output).
    */
  private def rankTopK(
      sims: DataFrame, k: Int,
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val topk = graft.expressions.TopKByScore.topK(k)
    val nullSim = lit(Double.NegativeInfinity)
    sims.groupBy("query_id")
      .agg(topk(col("neighbor_id"), coalesce(col("sim"), nullSim))
        .as("__top"))
      .select(col("query_id"),
        posexplode(col("__top")).as(Seq("__i", "__e")))
      .select(col("query_id"),
        col("__e.id").cast(idType).as("neighbor_id"),
        when(col("__e.score") =!= nullSim, col("__e.score")).as("sim"),
        (col("__i") + 1).as("rank"))
  }

  /** The centroid table on the driver: (centroid_id, centroid_vec as
    * array<double>, its norm), nlist rows — sized by the model, the
    * rows a broadcast would ship; a necessary driver step like the
    * k-means centroids (a local relation collects with no job).
    */
  private def centroidRows(cents: DataFrame): Array[Row] =
    cents.select(col("centroid_id"),
      col("centroid_vec").cast("array<double>"),
      norm(col("centroid_vec"))).collect()

  /** The [[centroidRows]] vectors as one literal, indexed by `__ci`. */
  private def centroidVecs(cents: Array[Row]): Column =
    typedLit(cents.map(_.getSeq[Double](1)).toSeq)

  /** Nearest centroids as a projection of each row — the one
    * nearest-centroid ranking of this object: the rounded cosine of
    * vector `v` (norm `vn`) to every [[centroidRows]] centroid as
    * `(isnull, −csim, id, ci)` keys, sorted (`csim DESC NULLS LAST,
    * centroid_id ASC`; a NaN csim is NULL, see [[centroidSim]]), cut to
    * `nprobe` and exploded as `__p` — no cross join, no window, no
    * exchange. One row per (input row, probed centroid): `__p.id` is
    * the centroid id and `__p.ci` its position in `cents`.
    */
  private def probe(df: DataFrame, v: Column, vn: Column,
      cents: Array[Row], nprobe: Int, roundTo: Int): DataFrame = {
    val ids = array(cents.map(r => lit(r.get(0))).toSeq: _*)
    val norms = typedLit(cents.map(_.getAs[java.lang.Double](2)).toSeq)
    val keys = transform(centroidVecs(cents), (cv, i) => {
      val csim = centroidSim(v, cv, vn, norms(i), roundTo)
      struct(isnull(csim).as("n"), (-csim).as("s"), ids(i).as("id"),
        i.as("ci"))
    })
    df.select(col("*"), explode(slice(sort_array(keys), 1, nprobe))
      .as("__p"))
  }

  /** The coarse probe of every IVF search, [[probe]] over the query
    * rows: one row per (query, probed centroid), (query_id, `extra`,
    * __qv, __qn, centroid_id, __ci); `extra` is computed once per query.
    */
  private def coarseProbe(
      queries: DataFrame, cents: Array[Row], idCol: String, vecCol: String,
      nprobe: Int, roundTo: Int, extra: Seq[Column] = Nil): DataFrame =
    probe(queries.select(col(idCol).as("query_id") +: extra :+
          col(vecCol).as("__qv") :+ norm(col(vecCol)).as("__qn"): _*),
        col("__qv"), col("__qn"), cents, nprobe, roundTo)
      .select(col("*"), col("__p.id").as("centroid_id"),
        col("__p.ci").as("__ci"))
      .drop("__p")

  /** `corpus`'s `carry` columns (which hold `vecCol`) and its norm
    * `__vn`, [[probe]]d against `cents` — the assignment every index
    * and blocking pass shares.
    */
  private def nearestCentroids(corpus: DataFrame, carry: Seq[Column],
      vecCol: String, cents: Array[Row], nprobe: Int,
      roundTo: Int): DataFrame =
    probe(corpus.select(carry :+ norm(col(vecCol)).as("__vn"): _*),
      col(vecCol), col("__vn"), cents, nprobe, roundTo)

  /** ANN hard-negative mining for contrastive training: per query
    * vector, the k most-similar corpus vectors with a DIFFERENT
    * label — the wrong-class-but-embedding-confusable negatives that
    * metric-learning recipes sample instead of random ones (random
    * negatives are trivially separable and contribute ~zero
    * gradient). IVF-routed: each query probes its `nprobe` nearest
    * coarse buckets and scores ONLY the wrong-label members there —
    * scored rows ≈ nprobe/nlist of the corpus per query, the same
    * bucket economics as [[ivfTopK]], and the label filter prunes
    * BEFORE ranking (a same-label bucket member never reaches the
    * window). Null-label rows pair with nothing (either side): an
    * unlabeled row can neither need negatives nor serve as one.
    * Self-match is excluded independently of the label test.
    * [[hardNegativesBruteForce]] is the exact reference —
    * nprobe = nlist reproduces it over identical candidates
    * (spec-pinned). Output: (query_id, query_label, neighbor_id,
    * neighbor_label, sim, rank). Ranked by window, not [[rankTopK]]:
    * the heap cannot carry the label columns.
    *
    * SIZE ASSUMPTION (query side): the probed query frame — raw query
    * vectors replicated `nprobe` times — ships by an explicit
    * broadcast, because the alternative is a shuffled join on
    * `centroid_id` (≤ nlist distinct keys — guaranteed skew). That
    * caps the query set at executor/`maxBroadcastTableBytes` scale:
    * a training-loop MINING BATCH (10³–10⁵ vectors — the operator's
    * contract), not a full corpus. Mining negatives for a whole
    * corpus means calling this per batch partition — the corpus side
    * is the one that stays distributed.
    */
  def hardNegatives(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, labelCol: String,
      k: Int, cents: DataFrame, nprobe: Int,
      roundTo: Int = 4): DataFrame = {
    val assigned = assignWithNorm(corpus, cents, idCol, vecCol,
      roundTo, extraCols = Seq(labelCol))
    val probed = coarseProbe(queries, centroidRows(cents), idCol, vecCol,
        nprobe, roundTo, extra = Seq(col(labelCol).as("query_label")))
      .select("query_id", "query_label", "__qv", "__qn", "centroid_id")
    val bucketed = assigned.select(col("centroid_id"),
      col(idCol).as("neighbor_id"), col(labelCol).as("neighbor_label"),
      col(vecCol).as("__cv"), col("__vn").as("__cn"))
    val sims = broadcast(probed).join(bucketed, Seq("centroid_id"))
      .where(col("query_id") =!= col("neighbor_id") &&
        col("query_label") =!= col("neighbor_label"))
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neighbor_label"),
        round(cosFromNorms(col("__qv"), col("__cv"),
          col("__qn"), col("__cn")), roundTo).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    sims.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Exact reference for [[hardNegatives]]: brute-force cosine over
    * every wrong-label corpus row. O(|queries|·|corpus|) — audit and
    * spec use only; the whole query set broadcasts (same query-side
    * size assumption as [[hardNegatives]], tighter here because
    * nothing prunes the candidate space).
    */
  def hardNegativesBruteForce(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, labelCol: String,
      k: Int, roundTo: Int = 4): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(labelCol).as("query_label"), col(vecCol).as("__qv"),
      norm(col(vecCol)).as("__qn")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("neighbor_label"), col(vecCol).as("__cv"),
      norm(col(vecCol)).as("__cn"))
    val sims = q.crossJoin(c)
      .where(col("query_id") =!= col("neighbor_id") &&
        col("query_label") =!= col("neighbor_label"))
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neighbor_label"),
        round(cosFromNorms(col("__qv"), col("__cv"),
          col("__qn"), col("__cn")), roundTo).as("sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    sims.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Exact brute-force cosine top-k: for each query vector, the k most
    * similar corpus vectors (self-match excluded), ranked by
    * [[rankTopK]]. Ranking is by cosine rounded to `roundTo` decimals
    * with id tie-break, making the result set reproducible across
    * engines and runs even with floating-point summation differences.
    * The query side broadcasts; the corpus never moves.
    */
  def bruteForceTopKAgg(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String,
      k: Int, roundTo: Int = 4): DataFrame = {
    val q = broadcast(withNorm(queries, idCol, vecCol,
      "query_id", "__qv", "__qn"))
    val c = withNorm(corpus, idCol, vecCol, "neighbor_id", "__cv", "__cn")
    val sims = q.crossJoin(c)
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosFromNorms(col("__qv"), col("__cv"),
          col("__qn"), col("__cn")), roundTo).as("sim"))
    rankTopK(sims, k, corpus.schema(idCol).dataType)
  }

  /** Deterministic IVF "training": every `stride`-th vector by id is a
    * centroid (k-means-free, reproducible — production swaps in real
    * k-means centroids without touching the search path).
    *
    * Scale note: nlist = n/stride GROWS with the corpus, so the
    * centroid literal and the O(n·nlist) assignment grow with
    * it — [[hashKCentroids]] is the fixed-size init to prefer when the
    * corpus is unbounded.
    */
  def strideCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      stride: Int): DataFrame =
    corpus.where(col(idCol) % stride === 0)
      .select(col(idCol).as("centroid_id"), col(vecCol).as("centroid_vec"))

  /** FIXED-k deterministic centroid init: the k vectors whose
    * md5(id) ranks lowest (id tie-break) — a reproducible
    * pseudo-random sample whose size is INDEPENDENT of corpus size,
    * so the centroid literal stays k rows and every
    * assignment pass costs O(n·k) at any scale. Plans as
    * TakeOrderedAndProject: each partition keeps its local top-k, the
    * driver merges k·partitions candidate rows — no global sort, no
    * full-corpus collect.
    */
  def hashKCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    corpus
      .orderBy(md5(col(idCol).cast("string")).asc, col(idCol).asc)
      .limit(k)
      .select(col(idCol).as("centroid_id"), col(vecCol).as("centroid_vec"))
  }

  /** Standard IVF sizing: nlist = c·√n keeps bucket size ≈ √n/c, so
    * per-query probed work (n·nprobe/nlist) and pairwise blocked work
    * (Σ bucket² ≈ n²·nprobe²/nlist) both grow O(n^1.5) instead of
    * O(n²) at fixed nlist — recompute when the corpus grows an order
    * of magnitude (centroids are cheap to rebuild, the search path
    * doesn't change). Callers that need cross-engine-pinned results
    * (the oracle queries) pass the resulting literal explicitly.
    */
  def sqrtNlist(corpusSize: Long, c: Double = 1.0): Int =
    math.max(1, math.round(c * math.sqrt(corpusSize.toDouble)).toInt)

  /** Assign each corpus vector to its nearest centroid ([[probe]] at
    * nprobe 1 against the small centroid set; ranking rounded for
    * cross-engine determinism). One output row per input row.
    */
  def assignToCentroids(
      corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, roundTo: Int = 4): DataFrame =
    assignWithNorm(corpus, centroids, idCol, vecCol, roundTo)
      .drop("__vn")

  /** [[assignToCentroids]] keeping the per-vector norm as `__vn` so
    * downstream stages don't recompute it (the norms-once invariant).
    */
  private def assignWithNorm(
      corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, roundTo: Int,
      extraCols: Seq[String] = Nil): DataFrame = {
    val carry = (Seq(idCol, vecCol) ++ extraCols).map(col)
    nearestCentroids(corpus, carry, vecCol, centroidRows(centroids), 1,
        roundTo)
      .select(carry ++ Seq(col("__vn"), col("__p.id").as("centroid_id")): _*)
  }

  /** Deterministic centroid refinement — k-MEDIANS, not k-means, on
    * purpose: the per-dimension EXACT median is selection-based (order
    * statistics + midpoint), so unlike a mean it has no
    * summation-order dependence and reproduces bit-for-bit across
    * engines, partitionings, and runs. Init = [[hashKCentroids]] — a
    * FIXED k, so nlist does not grow with the corpus; each iteration
    * assigns every vector to its nearest centroid ([[probe]],
    * rounded-cosine ranking) and re-centers each bucket at its
    * per-dimension median, rounded to 6 decimals to pin the
    * cross-engine value.
    *
    * Scale: per iteration, one assignment projection (O(n·k) dot
    * products against a k-row centroid literal — constant as the
    * corpus grows) + one aggregation of (centroid, dim) cells — the explode
    * multiplies rows by the embedding dim, but the aggregate is
    * partial+final (percentile buffers per (centroid, dim) group,
    * bounded by bucket size).
    *
    * `exactMedian = false` — the DEFAULT, and the 100 TB refinement
    * path: `percentile_approx` with `approxAccuracy` holds a BOUNDED
    * Greenwald-Khanna buffer per (centroid, dim) cell regardless of
    * bucket size, where the exact percentile buffers every value
    * assigned to the centroid — with a skewed assignment one dominant
    * centroid holds ~corpus/k rows, the same unbounded-state shape
    * `adaptiveQualityFloor` and `Drift.psiBins` default away from.
    * The sketch's rank error is bounded by 1/approxAccuracy; it
    * returns an actual data value (no midpoint interpolation on even
    * counts), so approx centroids track the exact ones to within the
    * cell's local value gap (spec-checked on test data) rather than
    * bit-for-bit. `exactMedian = true` is for oracle-pinned queries
    * that replay the midpoint median cross-engine (q40, q112).
    *
    * `sampleFraction < 1` trains on a deterministic hash-sample of
    * the corpus ([[graft.sampling.Sampling.hashFraction]] — no rand(),
    * reproducible across runs/engines): published IVF/PQ practice;
    * codebooks need thousands of vectors per centroid, not the
    * corpus, and the sample bounds EVERY training pass (init,
    * assignment, re-center) while downstream assignment/search still
    * covers the full corpus.
    */
  def kMediansCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 2, roundTo: Int = 4,
      exactMedian: Boolean = false,
      approxAccuracy: Int = 10000,
      sampleFraction: Double = 1.0,
      sampleSalt: String = "kmed"): DataFrame = {
    require(sampleFraction > 0 && sampleFraction <= 1.0,
      "sampleFraction must be in (0, 1]")
    val train =
      if (sampleFraction >= 1.0) corpus
      else corpus.where(graft.sampling.Sampling.hashFraction(
        col(idCol), sampleSalt) < sampleFraction)
    var cents = hashKCentroids(train, idCol, vecCol, k)
    for (_ <- 1 to iters) {
      val assigned = assignToCentroids(train, cents, idCol, vecCol, roundTo)
      val med =
        if (exactMedian) percentile(col("x"), lit(0.5))
        else percentile_approx(col("x"), lit(0.5), lit(approxAccuracy))
      val cells = assigned
        .select(col("centroid_id"),
          posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "x")))
        .groupBy("centroid_id", "pos")
        .agg(round(med, 6).as("m"))
      // materialize the (tiny) centroid table per iteration: the next
      // iteration's assignment — and every downstream search consumer —
      // would otherwise embed this iteration's full corpus-wide
      // assignment plan and re-execute the whole nested chain per use
      cents = cells.groupBy("centroid_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
          .as("__pm"))
        .select(col("centroid_id"),
          transform(col("__pm"), p => p.getField("m")).as("centroid_vec"))
        .localCheckpoint(true)
    }
    cents
  }

  /** Label-noise screen — the standard mislabeled-example detector for
    * a labeled embedding corpus: per label, the vectors FARTHEST from
    * their own class centroid (squared L2), with each distance
    * normalized against the label's mean. A ratio several times 1e6
    * (= several times the class mean) is the classic signature of a
    * wrong label or an out-of-distribution example — the rows a
    * training pipeline routes to relabeling before they poison a
    * classifier head.
    *
    * Exact integer arithmetic end-to-end so the screen is
    * bit-reproducible cross-engine: elements quantize once to
    * OFFSET units `floor(x·1e4) + 2^24` (the offset keeps every
    * per-cell sum positive, so truncating integer division equals
    * floor division — the engine/oracle `div`-vs-`//` contract this
    * registry pins everywhere; it cancels exactly in the centroid
    * subtraction because `Σ(m+o) div n = o + (Σm div n)` when the
    * shifted sum is positive). Distances, means, and ratios are then
    * BIGINT sums, truncating divisions of non-negative operands, and
    * `×1e6 div mean` micro-ratios. Headroom: at 1e4-unit elements a
    * dim-4096 corpus of |x| ≤ 100 keeps `sq_dist·1e6` under 2^63, and
    * the offset admits ~5·10¹¹ rows per (label, dim) cell sum.
    *
    * Shape: one explode to (label, pos) cells for the centroid sums
    * (cell count = labels × dim, independent of corpus size), the
    * dim-sized centroid arrays broadcast back over ONE corpus scan,
    * and the distance fold runs as a codegen'd array `aggregate` — no
    * per-element join on the corpus leg. The final per-label top-k is
    * a label-partitioned window over k-bounded groups... bounded
    * because each label's candidate set is its own rows; groups are
    * label-sized, the [[hardNegatives]] trade, acceptable
    * because the window only RANKS (no payload carry) and labels are
    * the parallelism unit. Nulls and empty vectors are excluded up
    * front (they have no distance); a RAGGED corpus — a vector whose
    * length differs from its label's dimension — fails the job loudly
    * via `raise_error` rather than emitting null-distance rows that
    * would still receive ranks.
    *
    * Returns `(label, id, sq_dist, label_mean_sq, ratio_micro, rank)`
    * for the `topK` farthest per label; `ratio_micro` is null for a
    * degenerate label whose every vector IS the centroid (mean 0).
    */
  def labelNoiseScreen(
      embeddings: DataFrame, idCol: String, vecCol: String,
      labelCol: String, topK: Int = 5): DataFrame = {
    require(topK >= 1, "topK must be positive")
    val offset = 16777216L // 2^24 — dominates any |x| ≤ 1677 element
    val me = embeddings
      .where(col(vecCol).isNotNull && size(col(vecCol)) > 0 &&
        col(labelCol).isNotNull)
      .select(col(labelCol).as("label"), col(idCol).as("id"),
        transform(col(vecCol),
          x => floor(x.cast("double") * lit(1e4)) + lit(offset))
          .as("__m"))
      .transform(graft.core.CacheScope.disk)
    val cells = me
      .select(col("label"), posexplode(col("__m")).as(Seq("pos", "m")))
      .groupBy("label", "pos")
      .agg(sum(col("m")).as("s"), count(lit(1)).as("n"))
    val cents = cells
      .withColumn("c", expr("s div n"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("c"))))
        .as("__pc"))
      .select(col("label"),
        transform(col("__pc"), p => p.getField("c")).as("__cv"))
    // a ragged corpus (vector length ≠ label dimension) must FAIL, not
    // flow: zip_with pads the short side with null, null propagates
    // through the fold, and a null sq_dist would still be ranked
    // (nulls last under desc) — a silently wrong screen. raise_error
    // is a per-row no-op on well-formed input, so the guard costs one
    // codegen'd size comparison.
    val dists = me.join(broadcast(cents), Seq("label"))
      .select(col("label"), col("id"),
        when(size(col("__m")) =!= size(col("__cv")),
          raise_error(concat(
            lit("labelNoiseScreen: ragged vector for id "), col("id"),
            lit(" — size "), size(col("__m")).cast("string"),
            lit(" vs label dimension "),
            size(col("__cv")).cast("string"))).cast("long"))
          .otherwise(
            aggregate(zip_with(col("__m"), col("__cv"),
                (a, b) => (a - b) * (a - b)),
              lit(0L), (acc, x) => acc + x)).as("sq_dist"))
      .transform(graft.core.CacheScope.disk)
    val means = dists.groupBy("label")
      .agg(expr("sum(sq_dist) div count(1)").as("label_mean_sq"))
    val w = Window.partitionBy("label")
      .orderBy(col("sq_dist").desc, col("id").asc)
    dists.join(broadcast(means), Seq("label"))
      .withColumn("ratio_micro",
        when(col("label_mean_sq") === 0, lit(null).cast("long"))
          .otherwise(expr("sq_dist * 1000000 div label_mean_sq")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select("label", "id", "sq_dist", "label_mean_sq", "ratio_micro",
        "rank")
  }

  /** IVF top-k search over an index frame: each query probes its
    * `nprobe` nearest centroids ([[coarseProbe]]) and scores only the
    * index rows in those buckets ([[ivfScoredCandidates]]), ranked by
    * [[rankTopK]]. Approximate (a true neighbor assigned to an
    * unprobed bucket is missed) — that's the documented recall/cost
    * trade; nprobe = nlist degrades to exactly [[bruteForceTopKAgg]]
    * (`Vectors`) or [[pqTopK]] (`Pq`) over the index.
    *
    * `index` rows are [[annIndexRows]]' for the same `codec`: pass
    * `spark.table(name)` over a [[buildIvfIndex]] table (no assignment
    * or encoding work at query time), [[annIndexRows]] over a corpus
    * and `cents` for a one-off search, or the streaming sink's store
    * ([[graft.streaming.EventStreams.annIndexMaintenanceSink]]). The
    * centroid "training" is swappable: [[hashKCentroids]] (fixed
    * nlist, so the centroid literal and the O(n·nlist) assignment cost
    * are independent of corpus size) or [[kMediansCentroids]].
    */
  def ivfTopK(
      queries: DataFrame, index: DataFrame, cents: DataFrame,
      idCol: String, vecCol: String,
      k: Int, nprobe: Int, roundTo: Int = 4,
      codec: IvfCodec = IvfCodec.Vectors): DataFrame =
    rankTopK(ivfScoredCandidates(queries, index, cents, idCol, vecCol,
      nprobe, roundTo, codec), k, index.schema(idCol).dataType)

  /** Materialize an IVF index: [[annIndexRows]] written as a catalog
    * table BUCKETED on `centroid_id`. Build once, search many —
    * repeated queries skip assignment and encoding, and the bucket
    * layout co-locates each centroid's rows so a probe reads only its
    * buckets' files. Returns the indexed row count.
    */
  def buildIvfIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, tableName: String,
      numBuckets: Int = 16, roundTo: Int = 4,
      codec: IvfCodec = IvfCodec.Vectors): Long =
    writeIvfIndex(annIndexRows(corpus, idCol, vecCol, cents, codec,
      roundTo), "overwrite", tableName, numBuckets)

  /** One batch's index rows in the standing store's layout, for the
    * `codec`: `(idCol, vecCol, __vn, centroid_id)` for `Vectors`,
    * `(centroid_id, idCol, codes)` for `Pq` and `ResidualPq`. Each row
    * is a projection of its own input row against the centroid and
    * codebook literals ([[probe]] at nprobe 1, then [[pqCodes]]) — no
    * join, window or aggregate, one index row per input row. At fixed
    * centroids and codebooks these rows are a pure function of the
    * batch: an append equals a rebuild over the union, and the
    * streaming sink's overwrite-by-batch replay is idempotent.
    */
  def annIndexRows(
      batch: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, codec: IvfCodec = IvfCodec.Vectors,
      roundTo: Int = 4): DataFrame = {
    val cr = centroidRows(cents)
    val near = nearestCentroids(batch, Seq(col(idCol), col(vecCol)),
      vecCol, cr, 1, roundTo)
    val cid = col("__p.id").as("centroid_id")
    val v = col(vecCol).cast("array<double>")
    codec match {
      case IvfCodec.Vectors =>
        near.select(col(idCol), col(vecCol), col("__vn"), cid)
      case IvfCodec.Pq(cb) =>
        near.select(cid, col(idCol), pqCodes(v, pqLayout(cb)).as("codes"))
      case IvfCodec.ResidualPq(cb) =>
        near.select(cid, col(idCol),
          pqCodes(residual(v, cr), pqLayout(cb)).as("codes"))
    }
  }

  /** Incrementally APPEND a batch to a [[buildIvfIndex]] table of the
    * same `codec`: the batch is assigned to the EXISTING centroids
    * (and encoded with the EXISTING codebooks) and appended in the
    * same bucket layout — the ANN analogue of the dedup family's
    * band-index append. `numBuckets` must match the original build
    * (Spark enforces bucket-spec compatibility on append). The
    * appended index is row-identical to a from-scratch rebuild over
    * the unioned corpus (spec-pinned), so readers — [[ivfTopK]] — need
    * no special handling. Centroids drift as batches accumulate;
    * [[ivfDriftReport]] over a `Vectors` index is the re-center
    * trigger. Returns the appended row count.
    */
  def ivfIndexAppend(
      batch: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, tableName: String,
      numBuckets: Int = 16, roundTo: Int = 4,
      codec: IvfCodec = IvfCodec.Vectors): Long =
    writeIvfIndex(annIndexRows(batch, idCol, vecCol, cents, codec,
      roundTo), "append", tableName, numBuckets)

  /** Write index rows as a parquet table bucketed on `centroid_id`.
    * The rows are hash-partitioned by `centroid_id` into `numBuckets`
    * first — the partitioning bucketing computes — so each bucket is
    * one file, and the write job counts its rows through an
    * [[Observation]] instead of a second pass.
    */
  private def writeIvfIndex(rows: DataFrame, mode: String,
      tableName: String, numBuckets: Int): Long = {
    val written = Observation()
    rows.repartition(numBuckets, col("centroid_id"))
      .observe(written, count(lit(1)).as("n"))
      .write.mode(mode).format("parquet")
      .bucketBy(numBuckets, "centroid_id")
      .saveAsTable(tableName)
    written.get("n").asInstanceOf[Long]
  }

  /** Per-centroid drift report over a `Vectors` IVF index table
    * ([[buildIvfIndex]]): each
    * centroid's stored vector vs the MEAN of its currently-assigned
    * members ([[groupCentroids]] — one distributed pass over the
    * index, narrow (centroid, dim) cells). `mean_sim` is their
    * rounded cosine; `recenter_advised` fires when it falls below
    * `simFloor` — the signal that appended batches
    * ([[ivfIndexAppend]]) have shifted a bucket's population far
    * enough from its routing vector that re-training centroids (and
    * re-building the index) is worth the pass. A code-carrying index
    * holds no vectors to average: report on a `Vectors` twin. The
    * report is nlist-row-sized regardless of corpus scale.
    */
  def ivfDriftReport(
      spark: org.apache.spark.sql.SparkSession,
      tableName: String, vecCol: String, cents: DataFrame,
      simFloor: Double = 0.98,
      meanRoundTo: Int = 6, simRoundTo: Int = 4): DataFrame = {
    val means = groupCentroids(spark.table(tableName), "centroid_id",
        vecCol, meanRoundTo)
      .select(col("group").as("centroid_id"), col("centroid").as("__mean"),
        col("n"), norm(col("centroid")).as("__mn"))
    val c = broadcast(cents.select(col("centroid_id"), col("centroid_vec"),
      norm(col("centroid_vec")).as("__cn")))
    means.join(c, Seq("centroid_id"))
      .withColumn("mean_sim",
        round(cosFromNorms(col("__mean"), col("centroid_vec"),
          col("__mn"), col("__cn")), simRoundTo))
      .withColumn("recenter_advised", col("mean_sim") < simFloor)
      .select(col("centroid_id"), col("n"), col("mean_sim"),
        col("recenter_advised"))
  }

  /** Embedding near-duplicate pairs: all (id_a < id_b) pairs with
    * rounded cosine ≥ threshold. Exact O(n²/2) pair scan with one dot
    * product per pair — the brute-force VERIFIER and spec oracle only;
    * the production path is [[nearDupPairsBlocked]], which does no
    * all-pairs work.
    */
  def nearDupPairs(
      corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, roundTo: Int = 4): DataFrame = {
    val a = withNorm(corpus, idCol, vecCol, "id_a", "__va", "__na")
    val b = withNorm(corpus, idCol, vecCol, "id_b", "__vb", "__nb")
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosFromNorms(col("__va"), col("__vb"),
          col("__na"), col("__nb")), roundTo).as("sim"))
      .where(col("sim") >= threshold)
  }

  /** Multi-probe centroid assignment: each vector lands in its `nprobe`
    * nearest centroid buckets (not only the nearest). Output: one
    * (id, centroid_id) row per probe. Multi-probing is the standard
    * recall lever for centroid blocking — near-identical vectors share
    * their top centroid with overwhelming probability, and probing 2+
    * covers pairs that straddle a Voronoi boundary.
    */
  def multiAssignToCentroids(
      corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String,
      nprobe: Int, roundTo: Int = 4): DataFrame =
    nearestCentroids(corpus, Seq(col(idCol), col(vecCol)), vecCol,
        centroidRows(centroids), nprobe, roundTo)
      .select(col(idCol), col("__p.id").as("centroid_id"))

  /** Centroid-BLOCKED embedding near-dup pairs — the scale path that
    * replaces the all-pairs scan: candidates are (id_a < id_b) pairs
    * sharing at least one of their `nprobe` nearest centroids, verified
    * with one exact dot product each. Work is Σ(bucket²) over probe
    * buckets, not n²/2; candidate generation ships only the small
    * FIXED-size centroid set ([[hashKCentroids]] — `nlist` independent
    * of corpus size). Recall < 1.0 is possible for pairs whose probe
    * sets are disjoint — raise `nprobe` (more buckets per vector) or
    * lower `nlist` (fewer, bigger buckets) to trade cost for recall;
    * [[nearDupPairs]] is the exact reference for recall specs.
    */
  def nearDupPairsBlocked(
      corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int, nprobe: Int = 2,
      roundTo: Int = 4): DataFrame = {
    val cents = hashKCentroids(corpus, idCol, vecCol, nlist)
    val assigned = multiAssignToCentroids(
      corpus, cents, idCol, vecCol, nprobe, roundTo)
    val l = assigned.select(col(idCol).as("id_a"), col("centroid_id"))
    val r = assigned.select(col(idCol).as("id_b"), col("centroid_id"))
    // a pair sharing 2 probe buckets would appear twice — dedup BEFORE
    // the verify joins so each candidate pays exactly one dot product
    val cands = l.join(r, Seq("centroid_id"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val a = withNorm(corpus, idCol, vecCol, "id_a", "__va", "__na")
    val b = withNorm(corpus, idCol, vecCol, "id_b", "__vb", "__nb")
    cands.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosFromNorms(col("__va"), col("__vb"),
          col("__na"), col("__nb")), roundTo).as("sim"))
      .where(col("sim") >= threshold)
  }

  /** Centroid-blocked frame shared by [[semanticDedup]] and
    * [[semanticBlockedPairs]]: every corpus vector with its primary
    * centroid, its norm computed ONCE (the norms-once invariant — the
    * self-join legs reuse `__vn` instead of re-evaluating `norm` per
    * leg), and its comparison-block key `__blk`.
    *
    * Without `maxBucket`, `__blk` is constant — blocks ARE the primary
    * buckets. With `maxBucket = Some(limit)`, buckets whose population
    * exceeds `limit` are SUBDIVIDED: their members are re-assigned to
    * `k2 = ceil(oversized/limit)` secondary centroids (fixed-hash
    * init drawn from the oversized population itself) and `__blk`
    * becomes the secondary centroid id — mirroring
    * [[graft.dedup.ConnectedComponents.componentsAuto]]'s
    * bounded/unbounded split, a count probes the data and picks the
    * path. Σ(block²) then cannot go quadratic on a skewed embedding
    * space so long as the secondary centroids separate the pile-up;
    * a pile-up of IDENTICAL vectors is the one shape no geometric
    * subdivision can split — that is exact-duplicate mass, which
    * exact dedup upstream removes (same argument as
    * [[graft.dedup.Dedup.ngramJaccardPairs]]'s DF cap).
    *
    * Persisted (feeds both self-join legs and the count-back);
    * callers own the cache lifecycle (see [[graft.core.Caches]]).
    */
  private def blockedFrame(
      corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, roundTo: Int, maxBucket: Option[Long]): DataFrame = {
    val cents = hashKCentroids(corpus, idCol, vecCol, nlist)
    val assigned = assignWithNorm(corpus, cents, idCol, vecCol, roundTo)
      .transform(graft.core.CacheScope.disk)
    maxBucket match {
      case None => assigned.withColumn("__blk", lit(""))
      case Some(limit) =>
        require(limit >= 1, "maxBucket must be positive")
        val over = assigned.groupBy("centroid_id")
          .agg(count(lit(1)).as("__bn"))
          .where(col("__bn") > limit)
          .select("centroid_id")
        val small = assigned.join(over, Seq("centroid_id"), "left_anti")
          .withColumn("__blk", lit(""))
        val big = assigned.join(over, Seq("centroid_id"), "left_semi")
        // the count doubles as the materialization of `assigned`'s
        // cache, so the path decision probes cached rows, not the plan
        val nOver = big.count()
        if (nOver == 0) small
        else {
          val k2 = math.max(2, math.ceil(nOver.toDouble / limit).toInt)
          val c2 = centroidRows(hashKCentroids(
            big.select(col(idCol), col(vecCol)), idCol, vecCol, k2))
          val big2 = probe(big, col(vecCol), col("__vn"), c2, 1, roundTo)
            .select(col(idCol), col(vecCol), col("__vn"),
              col("centroid_id"), col("__p.id").cast("string").as("__blk"))
          small.select(col(idCol), col(vecCol), col("__vn"),
              col("centroid_id"), col("__blk"))
            .unionByName(big2)
        }
    }
  }

  /** All within-block candidate pairs (id_a < id_b) with their rounded
    * cosine — the comparison set [[semanticDedup]] thresholds. Exposed
    * for recall/cost analysis and the bounded-candidate specs: the
    * pair count is exactly Σ C(block, 2), so a caller can measure what
    * a given (nlist, maxBucket) costs before running the full dedup.
    */
  def semanticBlockedPairs(
      corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, roundTo: Int = 4,
      maxBucket: Option[Long] = None): DataFrame = {
    val blocked = blockedFrame(corpus, idCol, vecCol, nlist, roundTo,
      maxBucket)
    pairsWithin(blocked, idCol, vecCol, roundTo)
  }

  /** (id_a < id_b, sim) over a [[blockedFrame]]'s (centroid, block)
    * cells, norms reused from the frame.
    */
  private def pairsWithin(
      blocked: DataFrame, idCol: String, vecCol: String,
      roundTo: Int): DataFrame = {
    def leg(idAs: String, vecAs: String, normAs: String) =
      blocked.select(col("centroid_id"), col("__blk"),
        col(idCol).as(idAs), col(vecCol).as(vecAs),
        col("__vn").as(normAs))
    leg("id_a", "__va", "__na")
      .join(leg("id_b", "__vb", "__nb"), Seq("centroid_id", "__blk"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosFromNorms(col("__va"), col("__vb"),
          col("__na"), col("__nb")), roundTo).as("sim"))
  }

  /** SemDeDup-style semantic deduplication: assign every vector to its
    * nearest centroid (single probe), then WITHIN each comparison
    * block mark a vector `dropped` when a lower-id vector in the same
    * block is at least `threshold` cosine-similar to it. Keeps
    * exactly one representative (the lowest id) per tight semantic
    * group; pairs split across block boundaries are deliberately NOT
    * compared — that locality cut is what makes the method linear-ish,
    * and is the published algorithm's accepted recall trade
    * ([[nearDupPairsBlocked]] with nprobe > 1 is the higher-recall
    * pair finder when boundary pairs matter).
    *
    * Returns (id, centroid_id, dropped) for every input vector.
    *
    * Scale: work is Σ(bucket²) over nlist buckets (size nlist ≈ √n via
    * [[sqrtNlist]] for O(n^1.5) total), the centroid set is fixed-size
    * and broadcast, and the drop set joins back id-keyed — vectors
    * never all-pairs join across buckets. `maxBucket` arms the
    * mega-bucket guard (see [[blockedFrame]]): a skewed embedding
    * space cannot push one bucket's self-join quadratic.
    * [[semanticDedupAuto]] wires both knobs from a corpus count.
    */
  def semanticDedup(
      corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int, roundTo: Int = 4,
      maxBucket: Option[Long] = None): DataFrame = {
    val blocked = blockedFrame(corpus, idCol, vecCol, nlist, roundTo,
      maxBucket)
    val drops = pairsWithin(blocked, idCol, vecCol, roundTo)
      .where(col("sim") >= threshold)
      .select(col("id_b").as(idCol)).distinct()
    blocked
      .join(drops.withColumn("__d", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("centroid_id"),
        coalesce(col("__d"), lit(false)).as("dropped"))
  }

  /** [[semanticDedup]] with IVF-standard self-sizing: one count sets
    * nlist = [[sqrtNlist]](n) (so Σ(bucket²) grows O(n^1.5), the q27
    * rule) and arms the mega-bucket guard at `bucketFactor ×` the
    * expected bucket size n/nlist — a bucket must be `bucketFactor`
    * times over its fair share before the subdivision (and its recall
    * cut) kicks in. The oracle-pinned queries call [[semanticDedup]]
    * with explicit literals instead; this is the
    * unknown-corpus entry point.
    */
  def semanticDedupAuto(
      corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, roundTo: Int = 4,
      bucketFactor: Double = 8.0): DataFrame = {
    require(bucketFactor >= 1.0, "bucketFactor must be >= 1")
    val n = corpus.count()
    val nlist = sqrtNlist(n)
    val limit = math.max(1L,
      math.ceil(bucketFactor * n.toDouble / nlist).toLong)
    semanticDedup(corpus, idCol, vecCol, threshold, nlist, roundTo,
      Some(limit))
  }

  /** Reciprocal-rank fusion of several per-query rankings — the
    * standard hybrid-retrieval merge (vector + keyword + recency …):
    * fused(q, item) = Σ_rankings 1/(k + rank). Each input frame
    * carries (`queryCol`, `itemCol`, `rankCol`); items missing from a
    * ranking simply contribute nothing (the usual RRF convention).
    * All arithmetic is exact-reproducible: 1/(k+rank) on integer
    * ranks is the same IEEE double everywhere, and the fused ordering
    * tie-breaks on the item id.
    *
    * Scale: a union + one grouped sum on (query, item) + one
    * per-query window over candidate rows only — no corpus scan here;
    * the cost lives in the upstream rankings.
    */
  def rrfFuse(
      rankings: Seq[DataFrame], queryCol: String, itemCol: String,
      rankCol: String, k: Int = 60, topN: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "at least one ranking")
    require(k >= 1 && topN >= 1, "k and topN must be positive")
    val scored = rankings
      .map(_.select(col(queryCol), col(itemCol),
        (lit(1.0) / (lit(k.toDouble) + col(rankCol).cast("double")))
          .as("__s")))
      .reduce(_ unionByName _)
    val w = Window.partitionBy(col(queryCol))
      .orderBy(col("__fused").desc, col(itemCol).asc)
    scored.groupBy(col(queryCol), col(itemCol))
      .agg(sum(col("__s")).as("__fused"),
        count(lit(1)).as("n_rankings"))
      .withColumn("fused_rank", row_number().over(w).cast("int"))
      .where(col("fused_rank") <= topN)
      .select(col(queryCol), col(itemCol), col("fused_rank"),
        col("n_rankings"), round(col("__fused"), 6).as("fused_score"))
  }

  /** Mean embedding per group — the group "centroid" — plus the group's
    * vector count. Rounding the per-dimension mean to `roundTo` makes
    * the centroid reproducible across engines and partition orders
    * (double summation order differs; the rounded mean does not).
    *
    * Scale: `posexplode` + `groupBy(group, pos)` is the distributed
    * vector-mean shape — partial (map-side) aggregation collapses each
    * partition to groups×dim cells before the shuffle, so the exchange
    * carries O(partitions · groups · dim) narrow rows regardless of
    * corpus size; the per-group reassembly sorts only dim-sized lists.
    */
  def groupCentroids(
      df: DataFrame, groupCol: String, vecCol: String,
      roundTo: Int = 6): DataFrame =
    df.where(col(vecCol).isNotNull)
      .select(col(groupCol).as("group"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "x")))
      .groupBy("group", "pos")
      .agg(round(avg(col("x")), roundTo).as("m"),
        count(lit(1)).as("__n"))
      .groupBy("group")
      .agg(
        array_sort(collect_list(struct(col("pos"), col("m")))).as("__pm"),
        max(col("__n")).as("n"))
      .select(col("group"),
        transform(col("__pm"), p => p.getField("m")).as("centroid"),
        col("n"))

  /** Pairwise cosine between group centroids — the corpus-drift /
    * source-similarity report (are two sources' embedding distributions
    * converging?). The centroid table is one row per group, so the
    * pairwise self-join is trivially small next to the corpus scan that
    * produced it; norms are computed once per centroid.
    */
  def centroidDrift(
      df: DataFrame, groupCol: String, vecCol: String,
      meanRoundTo: Int = 6, simRoundTo: Int = 4): DataFrame = {
    val cents = groupCentroids(df, groupCol, vecCol, meanRoundTo)
      .select(col("group"), col("centroid"), col("n"),
        norm(col("centroid")).as("__nm"))
    def leg(suffix: String) = cents.select(
      col("group").as(s"group_$suffix"),
      col("centroid").as(s"__c_$suffix"),
      col("n").as(s"n_$suffix"),
      col("__nm").as(s"__nm_$suffix"))
    leg("a").join(leg("b"), col("group_a") < col("group_b"))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        round(cosFromNorms(col("__c_a"), col("__c_b"),
          col("__nm_a"), col("__nm_b")), simRoundTo).as("sim"))
  }

  // ---------------------------------------------------------------- //
  // Product quantization (PQ)                                         //
  // ---------------------------------------------------------------- //

  /** Train PQ codebooks — the 4-bit/byte-per-block compression tier
    * past int8 (m codes replace dim floats: m=4, k=16 stores a
    * 64-dim float32 vector in 4 nibbles — 64× less): the vector space
    * splits into `m` equal sub-blocks and each block gets a
    * `k`-codeword codebook from the SAME deterministic hash-init
    * k-medians the IVF family uses, trained on that block's
    * sub-vectors. Codes are the hash-rank of the initializing vector
    * id, so the whole construction is reproducible across runs,
    * partitionings and engines.
    *
    * Returns (block, code, codeword). Training is FUSED across
    * blocks: the corpus explodes ONCE into (id, block, sub-vector)
    * rows and every iteration runs all m sub-space k-medians in the
    * same pass (assignment joins on `block`, re-centering groups by
    * (block, centroid, pos)) — `iters + 1` corpus scans total instead
    * of the `m · (iters + 1)` a per-block loop pays, with results
    * IDENTICAL to that loop (spec-pinned): the hash init depends only
    * on ids (shared across blocks) and the per-block arithmetic is
    * unchanged. At real scale additionally train on a sample
    * (`sampleFraction` — codebooks need thousands of vectors per
    * codeword, not the corpus; the ENCODE pass is the full-corpus
    * one). `exactMedian` defaults false as in [[kMediansCentroids]]
    * (bounded re-center state); q112/q113 pin the exact path.
    */
  def pqTrainCodebooks(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 4, k: Int = 16, iters: Int = 2, roundTo: Int = 4,
      exactMedian: Boolean = false, approxAccuracy: Int = 10000,
      sampleFraction: Double = 1.0,
      sampleSalt: String = "pq"): DataFrame = {
    require(m >= 1 && k >= 2, "need m >= 1 sub-blocks and k >= 2 codes")
    require(sampleFraction > 0 && sampleFraction <= 1.0,
      "sampleFraction must be in (0, 1]")
    val dim = vectorDim(corpus, vecCol)
    require(dim % m == 0, s"dim $dim must be divisible by m = $m")
    val sub = dim / m
    val train =
      if (sampleFraction >= 1.0) corpus
      else corpus.where(graft.sampling.Sampling.hashFraction(
        col(idCol), sampleSalt) < sampleFraction)
    val v = col(vecCol).cast("array<double>")
    // ONE exploded training view — every pass below reads this, so a
    // pass costs one corpus scan for ALL m blocks (persisted: it
    // feeds the init join and iters assignment passes)
    val exploded = graft.core.CacheScope.disk(
      train.select(col(idCol),
        subBlocks(v, m, sub).as(Seq("__blk", "__sub"))))
    // per-block hash init = the SAME k hash-lowest ids every block
    // (hashKCentroids orders by md5(id), independent of the vector)
    val initIds = train
      .orderBy(md5(col(idCol).cast("string")).asc, col(idCol).asc)
      .limit(k)
      .select(col(idCol).as("__cid"))
    var cents = exploded
      .join(broadcast(initIds), col(idCol) === col("__cid"))
      .select(col("__blk").as("__cb"), col("__cid").as("centroid_id"),
        col("__sub").as("centroid_vec"))
      .localCheckpoint(true)
    for (_ <- 1 to iters) {
      val centsN = broadcast(cents.select(col("__cb"), col("centroid_id"),
        col("centroid_vec"), norm(col("centroid_vec")).as("__cn")))
      val w = Window.partitionBy(col(idCol), col("__blk"))
        .orderBy(col("csim").desc, col("centroid_id").asc)
      val assigned = exploded
        .select(col(idCol), col("__blk"), col("__sub"),
          norm(col("__sub")).as("__vn"))
        .join(centsN, col("__blk") === col("__cb"))
        .select(col(idCol), col("__blk"), col("__sub"), col("centroid_id"),
          centroidSim(col("__sub"), col("centroid_vec"), col("__vn"),
            col("__cn"), roundTo).as("csim"))
        .withColumn("__r", row_number().over(w))
        .where(col("__r") === 1)
      val med =
        if (exactMedian) percentile(col("x"), lit(0.5))
        else percentile_approx(col("x"), lit(0.5), lit(approxAccuracy))
      val cells = assigned
        .select(col("__blk"), col("centroid_id"),
          posexplode(col("__sub")).as(Seq("pos", "x")))
        .groupBy("__blk", "centroid_id", "pos")
        .agg(round(med, 6).as("m"))
      // materialize the tiny (≤ m·k rows) centroid table per
      // iteration — same reasoning as [[kMediansCentroids]]
      cents = cells.groupBy("__blk", "centroid_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
          .as("__pm"))
        .select(col("__blk").as("__cb"), col("centroid_id"),
          transform(col("__pm"), p => p.getField("m")).as("centroid_vec"))
        .localCheckpoint(true)
    }
    val cw = Window.partitionBy("__cb")
      .orderBy(md5(col("centroid_id").cast("string")).asc,
        col("centroid_id").asc)
    // tiny table (m·k rows); the per-block ranking window is bounded
    cents.withColumn("code", row_number().over(cw) - 1)
      .select(col("__cb").as("block"), col("code"),
        col("centroid_vec").as("codeword"))
  }

  /** PQ encode: per (vector, block) the L2-nearest codeword — the
    * split that makes per-block assignment EXACTLY minimize the
    * vector's total quantization error (‖x − x̂‖² = Σ_b ‖x_b − c_b‖²).
    * Ties break on the lower code, so encoding is deterministic.
    * Output: (id, codes array<int>, block-ordered), one row per input
    * row — a projection against the codebook literal ([[pqCodes]]),
    * no join, no shuffle.
    */
  def pqEncode(
      df: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame): DataFrame =
    df.select(col(idCol), pqCodes(col(vecCol).cast("array<double>"),
      pqLayout(codebooks)).as("codes"))

  /** The PQ codes of vector `v` (array<double>): per block b, the code
    * c minimizing (‖cw‖² − 2·v_b·cw, c) — ‖v_b − cw‖² less the per-block
    * constant ‖v_b‖². Struct order, as in a `min_by` over that pair:
    * ties go to the smaller code, a NULL distance (a NULL vector)
    * ranks first and a NaN last.
    */
  private def pqCodes(v: Column, pq: PqLayout): Column =
    transform(typedLit(pq.words), (words, b) =>
      array_min(transform(words, (cw, c) => struct(
        (typedLit(pq.cc).getItem(b).getItem(c) - lit(2.0) *
          dot(slice(v, b * pq.sub + lit(1), lit(pq.sub)), cw)).as("d"),
        c.as("code")))).getField("code"))

  /** PQ reconstruction: codes → concatenated codewords (block order).
    * Mainly for the decomposition-identity spec and error audits.
    */
  def pqReconstruct(
      encoded: DataFrame, idCol: String,
      codebooks: DataFrame): DataFrame = {
    val cb = broadcast(codebooks)
    encoded
      .select(col(idCol), posexplode(col("codes"))
        .as(Seq("__blk", "__code")))
      .join(cb, col("__blk") === col("block") &&
        col("__code") === col("code"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("__blk"),
        col("codeword")))).as("__bw"))
      .select(col(idCol),
        flatten(transform(col("__bw"), p => p.getField("codeword")))
          .as("vec_hat"))
  }

  /** PQ asymmetric-distance (ADC) top-k: cosine(q, x̂) computed from
    * CODES ONLY. Dot and squared norm decompose over blocks
    * (dot(q, x̂) = Σ_b dot(q_b, cw), ‖x̂‖² = Σ_b ‖cw‖²), so each query
    * row carries its m·k lookup table ([[adcTable]]) and every encoded
    * corpus vector is scored by one per-row fold of m lookups
    * ([[adcFold]]). The corpus side carries (id, codes), never vectors,
    * and nothing is joined to a lookup table or regrouped per pair.
    * Equal to cosine against [[pqReconstruct]]'d vectors up to
    * double-summation order (spec-pinned at 1e-9): the decomposition
    * is exact, the approximation is all in the ENCODING.
    *
    * Scoring here is EXHAUSTIVE (every encoded vector × every query —
    * the exact-over-codes reference and oracle); the scale path is
    * [[ivfPqTopK]], which routes each query to nprobe coarse buckets
    * and ADC-scores only those codes.
    */
  def pqTopK(
      queries: DataFrame, encoded: DataFrame, codebooks: DataFrame,
      idCol: String, vecCol: String, k: Int,
      roundTo: Int = 4): DataFrame = {
    val pq = pqLayout(codebooks)
    val qv = col(vecCol).cast("array<double>")
    val q = queries.select(col(idCol).as("query_id"),
      norm(qv).as("__qn"), adcTable(qv, pq).as("__lut"))
    val sims = encoded.crossJoin(broadcast(q))
      .where(col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        adcCosine(pq, roundTo).as("sim"))
    rankTopK(sims, k, encoded.schema(idCol).dataType)
  }

  /** `v` split into `m` consecutive `sub`-wide blocks, exploded as
    * (block index, sub-vector) — the PQ sub-space layout.
    */
  private def subBlocks(v: Column, m: Int, sub: Int): Column =
    posexplode(transform(sequence(lit(0), lit(m - 1)), b =>
      slice(v, b * sub + lit(1), lit(sub))))

  /** The codebooks on the driver, per block in code order: codewords
    * `words(b)(c)` of length `sub` and their ‖cw‖² `cc(b)(c)`. A block
    * may hold fewer codes than asked for: training drops a codeword
    * left with no members.
    */
  private final case class PqLayout(m: Int, sub: Int,
      words: Seq[Seq[Seq[Double]]], cc: Seq[Seq[Double]])

  /** Collect the codebooks once per call — model-sized, like
    * [[centroidRows]]. Block b must hold codes 0 until its size, as
    * [[pqTrainCodebooks]] numbers them.
    */
  private def pqLayout(codebooks: DataFrame): PqLayout = {
    val blocks = codebooks.select(col("block").cast("int"),
        col("code").cast("int"), col("codeword").cast("array<double>"),
        dot(col("codeword"), col("codeword")))
      .collect().sortBy(r => (r.getInt(0), r.getInt(1)))
      .toSeq.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
    require(blocks.nonEmpty && blocks.indices.forall(b =>
        blocks(b)._1 == b && blocks(b)._2.indices.forall(c =>
          blocks(b)._2(c).getInt(1) == c)),
      "codebooks must hold codes 0 until n_b for every block 0 until m")
    val rows = blocks.map(_._2)
    PqLayout(rows.size, rows.head.head.getSeq[Double](2).length,
      rows.map(_.map(_.getSeq[Double](2).toSeq)),
      rows.map(_.map(_.getDouble(3))))
  }

  /** A vector's ADC lookup table, a projection of its row: entry
    * (b)(c) is dot(v_b, cw) for block b's code c.
    */
  private def adcTable(v: Column, pq: PqLayout): Column =
    transform(typedLit(pq.words), (words, b) => transform(words,
      cw => dot(slice(v, b * pq.sub + lit(1), lit(pq.sub)), cw)))

  /** Σ_b table(b)(codes[b]), summed LEFT-TO-RIGHT in block order from
    * 0.0 — a plain sum() adds in arrival order and can differ from a
    * fixed summation by an ulp, which a cross-engine compare would
    * see; the oracles replay exactly this fold.
    */
  private def adcFold(table: Column, pq: PqLayout): Column =
    aggregate(sequence(lit(0), lit(pq.m - 1)), lit(0.0), (acc, b) =>
      acc + table(b)(col("codes")(b)))

  /** Rounded ADC cosine of a candidate row (`__lut`, `__qn`, `codes`). */
  private def adcCosine(pq: PqLayout, roundTo: Int): Column =
    round(adcFold(col("__lut"), pq) / nullif(col("__qn") *
      sqrt(adcFold(typedLit(pq.cc), pq)), lit(0.0)), roundTo)

  // ---------------------------------------------------------------- //
  // IVF-PQ (coarse routing over PQ codes)                             //
  // ---------------------------------------------------------------- //

  /** [[buildIvfIndex]] with the [[IvfCodec.Pq]] codec. */
  def pqBuildIvfIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, codebooks: DataFrame, tableName: String,
      numBuckets: Int = 16, roundTo: Int = 4): Long =
    buildIvfIndex(corpus, idCol, vecCol, cents, tableName, numBuckets,
      roundTo, IvfCodec.Pq(codebooks))

  /** [[ivfTopK]] with the [[IvfCodec.Pq]] codec. */
  def ivfPqTopK(
      queries: DataFrame, index: DataFrame,
      codebooks: DataFrame, cents: DataFrame,
      idCol: String, vecCol: String,
      k: Int, nprobe: Int, roundTo: Int = 4): DataFrame =
    ivfTopK(queries, index, cents, idCol, vecCol, k, nprobe, roundTo,
      IvfCodec.Pq(codebooks))

  /** Coarse-residual frame: every corpus vector's assigned centroid
    * and its residual x − c (per-dimension double subtraction) — what
    * residual PQ trains on. Residual encoding is the published IVF-ADC
    * construction (the PQ codebook spends its bits on the LOCAL
    * displacement within a Voronoi cell instead of absolute position,
    * which is what lifts recall at the same code budget). Output:
    * (idCol, centroid_id, `__res`).
    */
  private[similarity] def ivfResiduals(
      corpus: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, roundTo: Int = 4): DataFrame = {
    val cr = centroidRows(cents)
    nearestCentroids(corpus, Seq(col(idCol), col(vecCol)), vecCol, cr, 1,
        roundTo)
      .select(col(idCol), col("__p.id").as("centroid_id"),
        residual(col(vecCol).cast("array<double>"), cr).as("__res"))
  }

  /** x − c for a [[probe]]d row: `v` less its centroid `__p.ci`. */
  private def residual(v: Column, cents: Array[Row]): Column =
    zip_with(v, centroidVecs(cents)(col("__p.ci")), (x, c) => x - c)

  /** Train residual-PQ codebooks: [[pqTrainCodebooks]] over the
    * [[ivfResiduals]] frame — same fused one-pass-per-iteration
    * training, same hash init (id-based, so the initializing ids
    * match the raw-vector training's), bounded re-center state by
    * default. Index and search with [[IvfCodec.ResidualPq]].
    */
  def ivfRpqTrainCodebooks(
      corpus: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, m: Int = 4, k: Int = 16, iters: Int = 2,
      roundTo: Int = 4, exactMedian: Boolean = false,
      approxAccuracy: Int = 10000,
      sampleFraction: Double = 1.0): DataFrame =
    pqTrainCodebooks(
      ivfResiduals(corpus, idCol, vecCol, cents, roundTo),
      idCol, "__res", m, k, iters, roundTo, exactMedian,
      approxAccuracy, sampleFraction)

  /** Per-group recall of an approximate result frame against the
    * exact one — the standing index-health audit the maintenance
    * operators ([[ivfIndexAppend]]/[[ivfDriftReport]]) point at: run
    * it on a deterministic
    * hash-SAMPLE of queries (the exact leg is a brute-force scan —
    * audit-sized, never the full query load) and re-center/re-train
    * when the aggregate slips. Generic over `keyCols`: with the
    * default (query_id, neighbor_id) it audits any ANN top-k pair
    * ([[bruteForceTopKAgg]] vs [[ivfTopK]] under any [[IvfCodec]], or
    * int8); with (id_a, id_b) it audits LSH candidate
    * pairs against exact-threshold pairs. Grouping is by
    * `keyCols.head`; rows in `approx` with no exact twin (false
    * positives) don't lower recall — this measures MISSES. Output:
    * (keyCols.head, n_exact, n_hit, recall), one row per exact-side
    * group.
    */
  def recallAudit(
      approx: DataFrame, exact: DataFrame,
      keyCols: Seq[String] = Seq("query_id", "neighbor_id"),
      roundTo: Int = 4): DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val g = keyCols.head
    val hits = exact.select(keyCols.map(col): _*)
      .join(approx.select(keyCols.map(col): _*), keyCols, "left_semi")
      .groupBy(col(g)).agg(count(lit(1)).as("n_hit"))
    exact.groupBy(col(g)).agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq(g), "left_outer")
      .select(col(g), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_exact"), roundTo).as("recall"))
  }

  /** The routed, scored candidate rows behind [[ivfTopK]] —
    * (query_id, neighbor_id, sim), one row per (query, probed-bucket
    * member). The probed queries — (queries·nprobe) rows — broadcast
    * and the index streams into the join on `centroid_id`; each
    * candidate is scored by a per-row expression:
    *
    *   - `Vectors`: the rounded cosine, norms reused from the index;
    *   - `Pq`: the ADC cosine ([[adcCosine]]) — the query row carries
    *     its m·k lookup table ([[adcTable]]), the same table and
    *     block-ordered fold as [[pqTopK]];
    *   - `ResidualPq`: cosine(q, c + r̂) decomposed into lookups,
    *
    *       dot(q, x̂)  = dot(q, c) + Σ_b dot(q_b, cw_b)
    *       ‖x̂‖²       = ‖c‖² + 2·Σ_b dot(c_b, cw_b) + Σ_b ‖cw_b‖²
    *
    *     three block-ordered folds of m lookups: into the query's
    *     table, into the probed centroid's table of dot(c_b, cw) and
    *     into the ‖cw‖² table. The centroid terms are computed once
    *     per probed (query, centroid) row, and equal cosine against
    *     the reconstructed c + r̂ up to summation order (spec-pinned
    *     at 1e-9).
    *
    * Package-private so specs can assert the candidate count is
    * exactly Σ(probed bucket sizes) — the nprobe boundedness that
    * distinguishes this from [[pqTopK]]'s corpus × queries scoring.
    */
  private[similarity] def ivfScoredCandidates(
      queries: DataFrame, index: DataFrame, cents: DataFrame,
      idCol: String, vecCol: String, nprobe: Int, roundTo: Int,
      codec: IvfCodec): DataFrame = {
    val cr = centroidRows(cents)
    val qv = col(vecCol).cast("array<double>")
    def probed(extra: Column*) = coarseProbe(queries, cr, idCol, vecCol,
      nprobe, roundTo, extra)
    val (candidates, sim) = codec match {
      case IvfCodec.Vectors =>
        (probed().select("query_id", "__qv", "__qn", "centroid_id"),
          round(cosFromNorms(col("__qv"), col(vecCol), col("__qn"),
            col("__vn")), roundTo))
      case IvfCodec.Pq(cb) =>
        val pq = pqLayout(cb)
        (probed(adcTable(qv, pq).as("__lut"))
            .select("query_id", "__qn", "__lut", "centroid_id"),
          adcCosine(pq, roundTo))
      case IvfCodec.ResidualPq(cb) =>
        val pq = pqLayout(cb)
        val c = centroidVecs(cr)(col("__ci"))
        (probed(adcTable(qv, pq).as("__lut"))
            .select(col("query_id"), col("__qn"), col("__lut"),
              col("centroid_id"), dot(col("__qv"), c).as("__qc"),
              dot(c, c).as("__cn2"), adcTable(c, pq).as("__cx")),
          round((col("__qc") + adcFold(col("__lut"), pq)) / nullif(
            col("__qn") * sqrt(col("__cn2") +
              lit(2.0) * adcFold(col("__cx"), pq) +
              adcFold(typedLit(pq.cc), pq)),
            lit(0.0)), roundTo))
    }
    index.join(broadcast(candidates), Seq("centroid_id"))
      .where(col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol).as("neighbor_id"), sim.as("sim"))
  }

  /** First non-null vector's length — index-build-time probe (one
    * tiny driver action, like the Bloom sizing reads).
    */
  private def vectorDim(df: DataFrame, vecCol: String): Int =
    df.where(col(vecCol).isNotNull)
      .select(size(col(vecCol)).as("__d")).head().getInt(0)

  /** Symmetric per-vector int8 quantization of an embedding column:
    * `scale = max|x| / 127`, `q_i = round(x_i / scale)` ∈ [−127, 127]
    * stored as `array<tinyint>` — 4× less storage and shuffle than
    * float32, 8× than double, which is the difference between an
    * embedding table that fits executor memory at corpus scale and
    * one that doesn't. Zero/empty vectors quantize to all-zero/empty
    * codes; null vectors stay null — all with scale 0.
    *
    * Per-vector scaling makes COSINE invariant under quantization up
    * to rounding (both scales cancel in the cosine), so quantized
    * search needs no dequantize: run any cosine top-k operator
    * directly on the code column (`dot` casts to double internally).
    * Dequantization (`q_i · scale`) reconstructs each component to
    * within scale/2 (spec-checked).
    *
    * Appends `<vecCol>_q` and `<vecCol>_scale`; pure projection, zero
    * shuffle, codegen throughout.
    */
  def quantizeInt8(df: DataFrame, vecCol: String): DataFrame = {
    val qCol = vecCol + "_q"
    val sCol = vecCol + "_scale"
    require(!df.columns.exists(Set(qCol, sCol)),
      s"input must not have columns named $qCol or $sCol")
    val v = col(vecCol).cast("array<double>")
    val maxabs = array_max(transform(v, x => abs(x)))
    val scale = maxabs / lit(127.0)
    df
      .withColumn(sCol,
        when(maxabs.isNull || maxabs === 0.0, lit(0.0)).otherwise(scale))
      // the lambda divides by the PROJECTED scale column — embedding
      // the maxabs expression in the lambda body would re-reduce the
      // whole array per element (O(dim²) per row); the projected value
      // is bit-identical to maxabs/127
      .withColumn(qCol,
        when(col(sCol) === 0.0,
          transform(v, _ => lit(0).cast("byte")))
        .otherwise(transform(v, x =>
          round(x / col(sCol)).cast("byte"))))
  }

  /** 64-bit signed-random-projection sketch (hyperplane LSH, the
    * Charikar construction for cosine): bit i is 1 iff
    * Σ_d sign(i,d)·code[d] > 0, where sign(i,d) ∈ {+1,−1} is derived
    * from md5("srp_i_d") — deterministic, engine-independent, no RNG
    * state. Runs over INT8 QUANTIZATION codes ([[quantizeInt8]]), not
    * raw floats, by design: the per-vector scale is positive so every
    * projection keeps its sign, and integer-valued terms make the sum
    * EXACT in double — bit decisions are reproducible across engines
    * and partitionings with no float summation-order hazard (the same
    * design rule as the integer dHash pooling).
    *
    * Output appends (srp_hi, srp_lo) — bit 0 the MSB of `srp_hi`, the
    * [[graft.dedup.Dedup.hammingBandedPairs]] shape, so text SimHash,
    * image dHash, and embedding SRP all share the banded pair
    * machinery. P[bit differs] = angle/π, so Hamming distance
    * estimates the angle: 64 bits replace `dim` floats (32× smaller
    * at dim=64/fp32) for blocking and similarity monitoring.
    *
    * Scale: per-row codegen'd dot products against 64 literal sign
    * rows — no shuffle, no state; the sketch column then carries ANN
    * blocking at 8 bytes/vector.
    */
  def srpSketch(
      df: DataFrame, idCol: String, codesCol: String,
      dim: Int): DataFrame = {
    require(!df.columns.exists(Set("srp_hi", "srp_lo")),
      "input must not have columns named srp_hi or srp_lo")
    val signRows: IndexedSeq[Seq[Double]] =
      (0 until 64).map(i => (0 until dim).map(d => srpSign(i, d)))
    def bit(i: Int): Column =
      when(dot(col(codesCol), typedLit(signRows(i))) > 0, lit(1L))
        .otherwise(lit(0L))
    def half(lo: Int): Column =
      (0 until 32).map(j => bit(lo + j) * lit(1L << (31 - j)))
        .reduce(_ + _)
    df.withColumn("srp_hi", half(0)).withColumn("srp_lo", half(32))
  }

  /** Standing SRP sketch index over a corpus — 8 bytes per vector,
    * built ONCE ([[srpSketch]] over fresh int8 codes); incremental
    * batches probe it via [[srpNearDupMatches]] without ever
    * re-sketching the corpus. The embedding analogue of the LSH band
    * index ([[graft.dedup.Dedup.buildLshIndex]]).
    */
  def buildSrpIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int): DataFrame =
    srpSketch(
      quantizeInt8(corpus.select(col(idCol), col(vecCol)), vecCol),
      idCol, vecCol + "_q", dim)
      .select(idCol, "srp_hi", "srp_lo")

  /** Incremental embedding near-dup detection: a batch sketches ONLY
    * itself, probes the standing corpus index at Hamming ≤ `maxDist`
    * (banded, exact by pigeonhole), and candidates are verified by
    * exact cosine ≥ `minCos` on the original vectors — with the
    * corpus vector leg SEMI-JOINED to candidate ids first, so corpus
    * reads scale with the batch's matches, never the corpus. The
    * daily-ingest shape for embedding stores (re-encoded/re-uploaded
    * vectors drift slightly; SRP catches them at 8 bytes/vector).
    */
  def srpNearDupMatches(
      index: DataFrame, corpus: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, dim: Int,
      maxDist: Int = 3, minCos: Double = 0.98): DataFrame = {
    val bsk = buildSrpIndex(batch, idCol, vecCol, dim)
    val cands = graft.dedup.Dedup.hammingBandedMatches(
        index, bsk, idCol, "srp_hi", "srp_lo", maxDist)
      .transform(graft.core.CacheScope.disk)
    val cv = corpus
      .select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"))
      .join(cands.select("corpus_id").distinct(), Seq("corpus_id"),
        "left_semi")
    val bv = batch
      .select(col(idCol).as("batch_id"), col(vecCol).as("__bv"))
    cands.join(cv, Seq("corpus_id")).join(bv, Seq("batch_id"))
      .withColumn("cos", cosine(col("__cv"), col("__bv")))
      .where(col("cos") >= minCos)
      .select("corpus_id", "batch_id", "hamming", "cos")
  }

  /** [[graft.dedup.Dedup.dedupAgainst]] lifted to embeddings: batch
    * rows with a verified near-dup in the corpus
    * ([[srpNearDupMatches]]) are dropped; novel rows survive.
    */
  def dedupEmbeddingAgainst(
      index: DataFrame, corpus: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String, dim: Int,
      maxDist: Int = 3, minCos: Double = 0.98): DataFrame = {
    val matched = srpNearDupMatches(index, corpus, batch, idCol,
        vecCol, dim, maxDist, minCos)
      .select(col("batch_id").as(idCol)).distinct()
    batch.join(matched, Seq(idCol), "left_anti")
  }

  /** Greedy k-center (farthest-point) selection: `k` maximally-spread
    * vectors — the coreset / diversity-selection pass a training
    * pipeline runs to pick representative documents, seed diverse
    * few-shot pools, or downsample a over-crowded embedding region
    * (greedy farthest-point is the classic 2-approximation to the
    * k-center objective). Seed = lowest id; each round adds the point
    * farthest from the current selection (max over points of min
    * distance to any selected center), ties to the smaller id.
    *
    * Exactness at scale: distances are squared L2 over the INT8
    * quantization codes ([[quantizeInt8]] — scale-free direction
    * geometry, the [[srpSketch]] argument): every distance is an
    * exact integer ≤ dim·254², so the per-round argmax and its
    * tie-break are bit-reproducible across engines, partitionings,
    * and cluster sizes — float distances would tie-break on
    * summation order exactly where crowded regions tie.
    *
    * Shape: k−1 unrolled rounds; each round is ONE corpus scan — the
    * running min-distance column updates against the single new
    * center (a broadcast one-row ungrouped-aggregate frame), and the
    * next center is one `max_by` row. No pairwise corpus join exists
    * anywhere; cost is k corpus scans, state is one long per row.
    * `localCheckpoint` flattens the per-round lineage (the
    * [[graft.operators.Analytics.pageRank]] treatment).
    *
    * Returns (round, id, codes, d2_at_selection) — `d2_at_selection`
    * is the selected point's min-distance when chosen (the k-center
    * radius sequence; round 1 = seed with d2 null).
    *
    * k-contract: each round is one corpus scan ending in a
    * `localCheckpoint` of the (id, codes, mind) frame, so cost is
    * k corpus scans and the peak checkpoint storage is O(corpus) per
    * live round — `k` is capped at 256 (diversity selection is
    * tens-of-centers work; for larger coresets pre-sample the corpus
    * first, the published coreset practice). If `k` exceeds the
    * number of distinct input rows the exhausted rounds are dropped
    * from the output (fewer than k rows come back) rather than
    * emitting null-id rows. Tie-breaks order by `(max mind, min id)`
    * via a `min_by` over `(-mind, id)` so `idCol` only needs a total
    * ordering, not a numeric negation.
    */
  def kCenterSelect(
      df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 2, "k must be >= 2")
    require(k <= 256,
      "kCenterSelect runs k corpus scans with a checkpoint each: " +
        "cap k at 256 and pre-sample the corpus for larger coresets")
    val spark = df.sparkSession
    import spark.implicits._
    val d2 = (a: Column, b: Column) =>
      aggregate(
        zip_with(a, b, (x, y) =>
          (x.cast("long") - y.cast("long")) *
            (x.cast("long") - y.cast("long"))),
        lit(0L), (acc, x) => acc + x)
    val coded = quantizeInt8(
        df.select(col(idCol), col(vecCol)).where(col(vecCol).isNotNull),
        vecCol)
      .select(col(idCol).as("__id"), col(vecCol + "_q").as("__q"))
    val seed = coded.agg(min_by(struct(col("__id"), col("__q")),
      col("__id")).as("__s")).select(col("__s.__id").as("__cid"),
      col("__s.__q").as("__cq"))
      .localCheckpoint() // two consumers (round-1 update, output)
    var selected = Seq.empty[(Int, DataFrame)]
    var cur = coded.crossJoin(broadcast(seed))
      .select(col("__id"), col("__q"),
        d2(col("__q"), col("__cq")).as("__mind"))
      .where(col("__id") =!= col("__cid"))
      .localCheckpoint()
    selected :+= (1, seed.select(lit(1).as("round"),
      col("__cid").as("__id"), col("__cq").as("__q"),
      lit(null).cast("long").as("d2_at_selection")))
    for (r <- 2 to k) {
      // the one-row argmax is ALSO checkpointed: it is consumed twice
      // (the next round's distance update and the final output union),
      // and without the checkpoint each consumer re-runs the
      // corpus-sized aggregation over the round's checkpoint
      // min_by over (-mind, id): max distance first, then the SMALLER
      // id — type-agnostic in idCol (negating a string id would cast
      // to null and scramble the tie-break)
      val next = cur.agg(min_by(struct(col("__id"), col("__q"),
          col("__mind")),
        struct((-col("__mind")).as("__negd"), col("__id"))).as("__s"))
        .select(col("__s.__id").as("__cid"), col("__s.__q").as("__cq"),
          col("__s.__mind").as("__cd"))
        .localCheckpoint()
      selected :+= (r, next.select(lit(r).as("round"),
        col("__cid").as("__id"), col("__cq").as("__q"),
        col("__cd").as("d2_at_selection")))
      if (r < k)
        cur = cur.crossJoin(broadcast(next))
          .where(col("__id") =!= col("__cid"))
          .select(col("__id"), col("__q"),
            least(col("__mind"), d2(col("__q"), col("__cq")))
              .as("__mind"))
          .localCheckpoint()
    }
    // k > distinct rows: exhausted rounds aggregate an empty frame
    // to a null pick — drop those rows instead of emitting null-id
    // centers
    selected.map(_._2).reduce(_.unionByName(_))
      .where(col("__id").isNotNull)
      .select(col("round"), col("__id").as(idCol),
        col("__q").as("codes"), col("d2_at_selection"))
  }

  /** Maximal-marginal-relevance (MMR) reranking, per query: from each
    * query's candidate list carrying a relevance score, greedily select
    * `k` results maximizing `λ·rel − (1−λ)·max_cos_to_selected` — the
    * standard diversity reranker (Carbonell–Goldstein) a retrieval
    * stack runs between ANN/BM25 candidates and the final context
    * window, so near-duplicate hits don't crowd out coverage. A single
    * candidate pool is one query: pass a literal query column.
    *
    * Determinism: each candidate's objective quantizes to integer
    * micro-units BEFORE the argmax (`floor(obj·10⁶)`, ties to the
    * smaller id) — the per-row float inputs (rel, running max cosine)
    * are themselves order-independent, so every round's pick is
    * bit-reproducible across engines and partitionings. λ enters as
    * exact per-mill weights (`lambdaMilli/1000`, `(1000−λm)/1000` —
    * each a single literal division, never `1 − 0.7` drift).
    * Zero-norm candidates are excluded up front: cosine against them
    * is 0/0 = NaN, and NaN sorts ABOVE every double in Spark, so one
    * such candidate would lock the running max-cosine to NaN and
    * floor(NaN)→0 would silently corrupt all later picks.
    *
    * Shape: one grouped pass. `groupBy(query)` collects each query's
    * candidates as an id-sorted array of (id, vector, norm, rel)
    * structs, and [[mmrGreedy]] runs all k rounds over that array in
    * plain Scala — no per-round job, no checkpoint, no union. The
    * per-group state is the query's candidate list, topN rows by
    * construction (the reranker's input, not the corpus). A list
    * shorter than k yields exactly its candidates, never null ranks.
    *
    * Output: (rank, queryCol, idCol, rel, max_cos_prior, obj_micro),
    * rank 1..k per query.
    */
  def mmrRerankByQuery(
      candidates: DataFrame, queryCol: String, idCol: String,
      vecCol: String, relCol: String, k: Int,
      lambdaMilli: Int = 700): DataFrame = {
    require(k >= 1, "k must be positive")
    require(lambdaMilli >= 0 && lambdaMilli <= 1000,
      "lambdaMilli is per-mill")
    val greedy = udf((pool: Seq[Row]) => mmrGreedy(pool, k, lambdaMilli))
    candidates.select(col(queryCol).as("__g"),
        col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v"),
        col(relCol).cast("double").as("__rel"))
      .where(col("__g").isNotNull && col("__v").isNotNull &&
        col("__rel").isNotNull)
      .withColumn("__n", sqrt(dot(col("__v"), col("__v"))))
      .where(col("__n") > lit(0.0)) // the zero-norm NaN guard
      .groupBy(col("__g"))
      .agg(sort_array(collect_list(struct(col("__id"), col("__v"),
        col("__n"), col("__rel")))).as("__c"))
      .select(col("__g"), col("__c"),
        posexplode(greedy(col("__c"))).as(Seq("__r", "__p")))
      .select(col("__r"), col("__g"), col("__p"),
        element_at(col("__c"), col("__p._1") + 1).as("__e"))
      .select((col("__r") + 1).as("rank"), col("__g").as(queryCol),
        col("__e.__id").as(idCol), col("__e.__rel").as("rel"),
        col("__p._2").as("max_cos_prior"), col("__p._3").as("obj_micro"))
  }

  /** The greedy MMR loop over one query's candidates, `pool` = id-sorted
    * (id, vector, norm, rel) structs: per pick, its (position in `pool`,
    * max_cos_prior, obj_micro). The doubles are Spark's, in Spark's
    * order: `floor((λ·rel − μ·mc)·10⁶)` as a long (NaN → 0); the
    * cosine is a left-to-right dot skipping NULL elements (`graft_dot`)
    * over `n·cn`, NULL when that product is 0; the running max is
    * `greatest`'s (NaN above every double, an equal value keeps the
    * old one). The argmax takes the first position among equal
    * objectives, which is the smaller id. A pick removes every row
    * with its id — as SQL's `=!=` does, a NULL on either side removes
    * the row too.
    */
  private def mmrGreedy(
      pool: Seq[Row], k: Int, lambdaMilli: Int): Seq[(Int, Double, Long)] = {
    val lam = lambdaMilli / 1000.0
    val mu = (1000 - lambdaMilli) / 1000.0
    val ids = pool.map(_.get(0)).toArray
    val vs = pool.map(_.getSeq[java.lang.Double](1).toArray).toArray
    val ns = pool.map(_.getDouble(2)).toArray
    val rels = pool.map(_.getDouble(3)).toArray
    val mc = Array.fill(pool.size)(0.0)
    val live = Array.fill(pool.size)(true)
    def objMicro(i: Int) = math.floor((lam * rels(i) - mu * mc(i)) * 1e6)
      .toLong
    def dot(a: Array[java.lang.Double], b: Array[java.lang.Double]) = {
      var s = 0.0
      for (j <- 0 until math.min(a.length, b.length))
        if (a(j) != null && b(j) != null) s += a(j) * b(j)
      s
    }
    val picks = collection.mutable.ArrayBuffer.empty[(Int, Double, Long)]
    while (picks.size < k && live.contains(true)) {
      val p = pool.indices.filter(live).maxBy(objMicro)
      picks += ((p, mc(p), objMicro(p)))
      for (i <- pool.indices if live(i)) {
        if (ids(i) == null || ids(p) == null || ids(i) == ids(p))
          live(i) = false
        else {
          val nn = ns(i) * ns(p)
          if (nn != 0.0) {
            val c = dot(vs(i), vs(p)) / nn
            if (c != mc(i) && java.lang.Double.compare(c, mc(i)) > 0)
              mc(i) = c
          }
        }
      }
    }
    picks.toSeq
  }

  /** IVF bucket-balance audit — the index-ops report read before an
    * IVF index ships: per centroid, its population, share, and
    * imbalance factor (count / ideal n/nlist); the worst factor rides
    * every row. A bucket at imbalance 5 makes every probe touching it
    * 5× the ideal cost — this is the skew diagnostic that decides
    * whether to re-train centroids or raise nlist.
    *
    * Shape: the centroid table is a bounded `limit(nlist)` frame,
    * assignment is the one corpus-sized stage (a projection against
    * the collected centroids), and everything after is nlist-sized.
    * Empty buckets densify to zero rows via the left join FROM the
    * centroid table. Exactness: counts are BIGINT; share and imbalance are one
    * division each.
    */
  def ivfBalanceReport(
      corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int): DataFrame = {
    val cents = hashKCentroids(corpus, idCol, vecCol, nlist)
    val counts = assignToCentroids(corpus, cents, idCol, vecCol)
      .groupBy("centroid_id").agg(count(lit(1)).as("__n"))
    val dense = cents.select(col("centroid_id"))
      .join(counts, Seq("centroid_id"), "left")
      .select(col("centroid_id"),
        coalesce(col("__n"), lit(0L)).as("n_vectors"))
    val tot = dense.agg(sum("n_vectors").as("__t"),
      count(lit(1)).as("__k"), max("n_vectors").as("__mx"))
    dense.crossJoin(broadcast(tot))
      .select(col("centroid_id"), col("n_vectors"),
        round(col("n_vectors").cast("double")
          / col("__t").cast("double"), 6).as("share"),
        round(col("n_vectors").cast("double") * col("__k").cast("double")
          / col("__t").cast("double"), 4).as("imbalance"),
        col("__k").as("nlist"),
        round(col("__mx").cast("double") * col("__k").cast("double")
          / col("__t").cast("double"), 4).as("max_imbalance"))
  }

  /** The (i, d) hyperplane sign: +1 iff the first hex char of
    * md5("srp_i_d") has even value — replayable as
    * `substr(md5(...), 1, 1) IN ('0','2','4','6','8','a','c','e')`
    * in any engine with md5.
    */
  private[similarity] def srpSign(i: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"srp_${i}_${d}".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if ("02468ace".indexOf(hex.charAt(0)) >= 0) 1.0 else -1.0
  }

  /** Embedding anisotropy / collapse audit — per label and for the
    * whole corpus: mean vector norm and the EXACT mean pairwise dot
    * product via the sum-vector identity
    * `Σ_{i≠j} ⟨vᵢ,vⱼ⟩ = ‖Σv‖² − Σ‖v‖²` — an O(n·d) computation of
    * an O(n²) quantity, which is what makes the standard
    * representation-collapse check (mean cosine between random pairs
    * drifting toward 1 during contrastive training) runnable on a
    * 100 TB corpus at all. A healthy isotropic embedding has mean
    * pairwise cosine near 0; a collapsing one climbs.
    *
    * Exactness: components quantize once to `floor(x·1e6)` micro
    * units; per-row `‖q‖²` is an order-free integer array fold
    * (BIGINT — micro² × dim headroom to ~2·10⁵-dim unit vectors);
    * per-dimension sum-vector components and `‖S‖²` accumulate in
    * DECIMAL(38,0); the mean pairwise dot is ONE double division of
    * exact decimals; `mean_norm` µ-floors each row's
    * correctly-rounded sqrt before an integer sum. The cosine proxy
    * `mpd / mean_norm²` is a mirrored expression of those two.
    *
    * Scale shape: one corpus scan for the row folds (map-side
    * combined), one posexplode whose aggregation is (label × dim)
    * cells — corpus-independent state — and a label-domain output
    * plus one `__all__` row computed by the same two aggregations
    * ungrouped. n < 2 groups emit null pairwise stats.
    *
    * Returns `(label, n, mean_norm, mean_pairwise_dot, mean_cos)`.
    */
  def embeddingAnisotropy(
      embeddings: DataFrame, vecCol: String, labelCol: String)
      : DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val me = embeddings
      .where(col(vecCol).isNotNull && size(col(vecCol)) > 0 &&
        col(labelCol).isNotNull)
      .select(col(labelCol).cast("string").as("__g"),
        transform(col(vecCol),
          x => floor(x.cast("double") * lit(1000000.0)).cast("long"))
          .as("__q"))
      .transform(graft.core.CacheScope.disk)
    val rows = me.select(col("__g"),
        aggregate(col("__q"), lit(0L), (acc, x) => acc + x * x)
          .as("__nsq"),
        col("__q"))
      .withColumn("__norm_micro",
        floor(sqrt(col("__nsq").cast("double"))).cast("long"))
      .transform(graft.core.CacheScope.disk)
    val grouped = {
      val rowAgg = rows.groupBy(col("__g").as("label"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("__nsq"))).as("__snsq"),
          sum(col("__norm_micro")).as("__snorm"))
      val cellAgg = rows
        .select(col("__g").as("label"),
          posexplode(col("__q")).as(Seq("p", "v")))
        .groupBy("label", "p").agg(sum(dec(col("v"))).as("__sv"))
        .groupBy("label").agg(sum(col("__sv") * col("__sv")).as("__ssq"))
      rowAgg.join(cellAgg, Seq("label"))
    }
    // the __all__ leg is two UNGROUPED aggregates crossJoined — each
    // one row by plan shape (not by a literal group key, which the
    // plan gate cannot prove bounded and the planner turns into an
    // unbounded-build nested-loop join)
    val global = {
      val rowAgg = rows.agg(count(lit(1)).as("n"),
        sum(dec(col("__nsq"))).as("__snsq"),
        sum(col("__norm_micro")).as("__snorm"))
      val cellAgg = rows
        .select(posexplode(col("__q")).as(Seq("p", "v")))
        .groupBy("p").agg(sum(dec(col("v"))).as("__sv"))
        .agg(sum(col("__sv") * col("__sv")).as("__ssq"))
      rowAgg.crossJoin(broadcast(cellAgg))
        .select(lit("__all__").as("label"), col("n"), col("__snsq"),
          col("__snorm"), col("__ssq"))
    }
    val both = grouped.unionByName(global)
    val nD = col("n").cast("double")
    val meanNorm = (col("__snorm").cast("double") / 1000000.0) / nD
    val mpd = (col("__ssq") - col("__snsq")).cast("double") /
      (dec(col("n")) * (dec(col("n")) - lit(1L))).cast("double") / 1e12
    both.select(col("label"), col("n"),
      round(meanNorm, 6).as("mean_norm"),
      round(when(col("n") > 1L, mpd), 6).as("mean_pairwise_dot"),
      round(when(col("n") > 1L, mpd / (meanNorm * meanNorm)), 6)
        .as("mean_cos"))
  }

  /** Ranked-retrieval evaluation against graded relevance judgments
    * — precision@k, recall@k, reciprocal rank, and nDCG@k per query:
    * the scorecard that closes the retrieval loop (q171 BM25, q175
    * RAG stack, the ANN shelf) the way recall audits close the ANN
    * loop — without it, "search works" is an anecdote.
    *
    * Exactness: ranks and relevance grades are integers; gains are
    * `2^rel − 1` (exact shifts); each DCG term
    * `gain / (ln(rank+1)/ln 2)` is one mirrored double expression
    * floor-nano-quantized BEFORE the per-query sum — the order-free
    * integer-sum treatment (lexicalDiversity, q153/q171) — and nDCG
    * is the ratio of two quantized sums, so every metric is
    * bit-identical cross-engine. RR is an exact `1/first-hit-rank`
    * (0.0 when no hit — the MRR convention); P@k divides by the
    * CONTRACTED k, not the retrieved count (a query returning fewer
    * than k rows is penalized, as in trec_eval).
    *
    * The ideal-DCG ranking sorts judgments (rel desc, doc asc) per
    * query — a window bounded by the query's judgment count, the
    * qrel-table shape, never corpus-sized.
    *
    * Scale shape: results pre-filtered to rank ≤ k, judgments deduped
    * on (query, doc) with max-rel, one (query, doc)-keyed left join
    * against positive judgments, two per-query aggregates (map-side
    * combined) full-outer-joined query-to-query. Output covers the
    * UNION of the results' and the judgments' query domains — a
    * judged query that retrieved nothing scores 0, not absent.
    *
    * Returns `(<qIdCol>, n_rel, n_hit, p_at_k, r_at_k, rr, ndcg)`;
    * `r_at_k`/`ndcg` are null for queries with no judgments.
    */
  def rankingEval(
      results: DataFrame, qIdCol: String, docIdCol: String,
      rankCol: String, qrels: DataFrame, relQIdCol: String,
      relDocIdCol: String, relCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 10000, "k in [1, 10000]")
    val res = results.select(col(qIdCol).as("__qid"),
        col(docIdCol).as("__did"), col(rankCol).cast("int").as("__rank"))
      .where(col("__rank") <= k)
    // dedupe on (query, doc) — duplicate judgment rows would otherwise
    // double-count n_hit and DCG through the left join below (and make
    // the ideal ranking nondeterministic); max-rel is the trec_eval
    // "most generous judgment wins" convention
    val qr = qrels.select(col(relQIdCol).as("__qid"),
        col(relDocIdCol).as("__did"), col(relCol).cast("int").as("__rel"))
      .where(col("__rel") > 0)
      .groupBy("__qid", "__did").agg(max(col("__rel")).as("__rel"))
      .transform(graft.core.CacheScope.disk)
    def dcgNano(relName: String, rankName: String): Column =
      floor((expr(s"shiftleft(CAST(1 AS BIGINT), $relName)") - lit(1L))
        .cast("double") /
        (log(col(rankName).cast("double") + lit(1.0)) / log(lit(2.0))) *
        lit(1000000000.0)).cast("long")
    val wIdeal = Window.partitionBy(col("__qid"))
      .orderBy(col("__rel").desc, col("__did").asc)
    val ideal = qr.withColumn("__irank", row_number().over(wIdeal))
      .groupBy("__qid")
      .agg(count(lit(1)).as("n_rel"),
        sum(when(col("__irank") <= k,
          dcgNano("__rel", "__irank")).otherwise(0L))
          .as("__idcg"))
    val per = res.join(qr, Seq("__qid", "__did"), "left")
      .groupBy("__qid")
      .agg(
        sum(when(col("__rel").isNotNull, 1L).otherwise(0L)).as("n_hit"),
        min(when(col("__rel").isNotNull, col("__rank"))).as("__fr"),
        sum(when(col("__rel").isNotNull,
          dcgNano("__rel", "__rank")).otherwise(0L))
          .as("__dcg"))
    // FULL outer: the query domain is results ∪ qrels. A judged query
    // that retrieved ZERO rows must score 0 (trec_eval includes it —
    // dropping it silently inflates every macro-average computed over
    // this table); a retrieved query with no judgments keeps null
    // n_rel/r_at_k/ndcg (unjudged, not wrong).
    val hit = coalesce(col("n_hit"), lit(0L))
    per.join(ideal, Seq("__qid"), "full_outer")
      .select(col("__qid").as(qIdCol), col("n_rel"), hit.as("n_hit"),
        round(hit.cast("double") / k.toDouble, 6).as("p_at_k"),
        round(hit.cast("double") /
          col("n_rel").cast("double"), 6).as("r_at_k"),
        round(coalesce(lit(1.0) / col("__fr").cast("double"), lit(0.0)),
          6).as("rr"),
        round(when(col("__idcg") > 0L,
          coalesce(col("__dcg"), lit(0L)).cast("double") /
            col("__idcg").cast("double")),
          6).as("ndcg"))
  }

  /** Rank-biased overlap (RBO@k) between two top-k rankings per query
    * — retriever AGREEMENT without judgments, completing the eval
    * shelf next to [[rankingEval]]'s against-judgments scorecard: for
    * each depth d, the fraction of the two depth-d prefixes shared,
    * weighted geometrically (persistence p) and normalized by
    * `1 − p^k` so identical rankings score exactly 1. "Do my BM25 and
    * dense retrievers even agree, and at the top or only in the
    * tail?" — the question asked before any fusion (q90 RRF) is
    * worth running.
    *
    * Exactness: p is the RATIONAL pNum/pDen, so every weight is the
    * exact integer `c_d = pNum^(d−1)·(pDen−pNum)·pDen^(k−d)` over
    * `D = pDen^k − pNum^k`, and each depth's contribution
    * `⌊X_d·c_d·10⁹ / (d·D)⌋` is an integral division of exact
    * DECIMAL(38,0) products — the per-query sum is an order-free
    * BIGINT sum with ONE final /10⁹; no float anywhere. (Bounds:
    * pDen ≤ 10, k ≤ 20 keep products inside 38 digits.)
    *
    * Scale shape: one (query, id)-keyed equi-join of the two rank
    * frames, a ≤ k-wide explode per matched pair, one grouped sum —
    * everything bounded by queries × k. Queries present in either
    * ranking but sharing nothing score 0, not absent. Ranks must be
    * 1..k within each query (the caller's contract — both frames
    * come from top-k operators that guarantee it).
    *
    * Returns `(<qCol>, n_common, rbo)` — `n_common` = |A_k ∩ B_k|.
    */
  def rankBiasedOverlap(
      a: DataFrame, b: DataFrame, qCol: String, idCol: String,
      rankCol: String, k: Int, pNum: Int = 9,
      pDen: Int = 10): DataFrame = {
    require(k >= 1 && k <= 20, "k in [1, 20]")
    require(pNum >= 1 && pNum < pDen && pDen <= 10,
      "persistence p = pNum/pDen with 1 <= pNum < pDen <= 10")
    def pow(base: Long, e: Int): Long =
      (1 to e).foldLeft(1L)((acc, _) => acc * base)
    val cs = (1 to k).map(d =>
      pow(pNum, d - 1) * (pDen - pNum) * pow(pDen, k - d))
    val dBig = pow(pDen, k) - pow(pNum, k)
    def side(df: DataFrame, out: String): DataFrame = df
      .select(col(qCol).as("__q"), col(idCol).as("__i"),
        col(rankCol).cast("int").as(out))
      .where(col(out).between(1, k))
    val ra = side(a, "__ra").transform(graft.core.CacheScope.disk)
    val rb = side(b, "__rb").transform(graft.core.CacheScope.disk)
    val matches = ra.join(rb, Seq("__q", "__i"))
      .select(col("__q"),
        greatest(col("__ra"), col("__rb")).as("__m"))
    val terms = matches
      .select(col("__q"), explode(sequence(col("__m"), lit(k)))
        .as("__d"))
      .groupBy("__q", "__d").agg(count(lit(1)).as("__x"))
      .select(col("__q"),
        expr(s"(CAST(__x AS DECIMAL(38,0)) * element_at(" +
          s"array(${cs.mkString("L,")}L), __d) * 1000000000) div " +
          s"(CAST(__d AS DECIMAL(38,0)) * ${dBig}L)").as("__t"),
        when(col("__d") === k, col("__x")).otherwise(lit(null))
          .as("__nc"))
      .groupBy("__q")
      .agg(sum(col("__t")).as("__s"), max(col("__nc")).as("__nc"))
    val domain = ra.select(col("__q"))
      .unionByName(rb.select(col("__q"))).distinct()
    domain.join(terms, Seq("__q"), "left")
      .select(col("__q").as(qCol),
        coalesce(col("__nc"), lit(0L)).as("n_common"),
        round(coalesce(col("__s"), lit(0L)).cast("double") /
          lit(1000000000.0), 6).as("rbo"))
  }

  /** Macro-averaged retrieval scorecard over [[rankingEval]] — the
    * one-row corpus summary (mean P@k / R@k, MRR, mean nDCG) that the
    * per-query table feeds: macro means run over JUDGED queries (the
    * trec_eval convention), which is only honest because
    * [[rankingEval]] emits zero-score rows for judged queries that
    * retrieved nothing — without those rows every mean here silently
    * inflates. `n_zero_hit` reports exactly that failure mode's size.
    *
    * Exactness: each per-query metric FLOOR-quantizes to nano-units
    * (1e9) before the sum — the order-free BIGINT-sum treatment
    * (lexicalDiversity, q153) — and each mean is the mirrored double
    * chain `(Σnano / n_judged) / 1e9` rounded 6, so the macro row is
    * bit-identical cross-engine regardless of aggregation order.
    *
    * Scale shape: [[rankingEval]]'s query-domain-sized output folds
    * to ONE row via a map-side-combined aggregate.
    *
    * Returns one row `(n_queries, n_judged, n_zero_hit, mean_p_at_k,
    * mean_r_at_k, mrr, mean_ndcg)`; means are null when no query is
    * judged.
    */
  def rankingEvalMacro(
      results: DataFrame, qIdCol: String, docIdCol: String,
      rankCol: String, qrels: DataFrame, relQIdCol: String,
      relDocIdCol: String, relCol: String, k: Int): DataFrame = {
    val per = rankingEval(results, qIdCol, docIdCol, rankCol,
      qrels, relQIdCol, relDocIdCol, relCol, k)
    val judged = col("n_rel").isNotNull
    def nano(c: Column): Column =
      floor(c * lit(1000000000.0)).cast("long")
    def mean(sumCol: Column): Column =
      round(sumCol.cast("double") /
        col("n_judged").cast("double") / lit(1000000000.0), 6)
    per.agg(
        count(lit(1)).as("n_queries"),
        sum(when(judged, 1L).otherwise(0L)).as("n_judged"),
        sum(when(judged && col("n_hit") === 0L, 1L).otherwise(0L))
          .as("n_zero_hit"),
        sum(when(judged, nano(col("p_at_k"))).otherwise(0L)).as("__p"),
        sum(when(judged, nano(col("r_at_k"))).otherwise(0L)).as("__r"),
        sum(when(judged, nano(col("rr"))).otherwise(0L)).as("__rr"),
        sum(when(judged, nano(coalesce(col("ndcg"), lit(0.0))))
          .otherwise(0L)).as("__nd"))
      .select(col("n_queries"), col("n_judged"), col("n_zero_hit"),
        mean(col("__p")).as("mean_p_at_k"),
        mean(col("__r")).as("mean_r_at_k"),
        mean(col("__rr")).as("mrr"),
        mean(col("__nd")).as("mean_ndcg"))
  }

  /** Upper-triangular Gram / covariance matrix of an embedding
    * column — the d×d second-moment summary behind whitening, PCA
    * and redundancy audits (a near-rank-deficient Gram means the
    * embedding spends dimensions on noise; off-diagonal covariance
    * structure is what Matryoshka truncation q207 destroys when it
    * cuts correlated dims).
    *
    * Exactness: components quantize ONCE to `floor(x·1e6)` micro
    * units, products accumulate in DECIMAL(38,0) (a 1e9-row corpus
    * of unit-scale values reaches ~1e21 — past 2^63), and the
    * reported `gram`/`cov` are single double divisions of exact
    * decimals — bit-identical cross-engine. `cov·n²` uses the
    * integer identity `n·Σqᵢqⱼ − Σqᵢ·Σqⱼ`.
    *
    * Scale shape: NO self-join — each vector expands to its own
    * d(d+1)/2 upper-tri component pairs via chained generators
    * (posexplode on i, then j ≥ i from the carried array), and the
    * (i, j) aggregation is map-side combined, so the shuffle carries
    * at most `partitions × d²` partial rows regardless of corpus
    * size. Per-(i,j) `n` is emitted so ragged corpora are VISIBLE
    * (cells disagree on n) rather than silently mixed.
    *
    * Returns `(i, j, n, gram, cov)` for j ≥ i: `gram` =
    * (Σ qᵢqⱼ)/(n·1e12) (the E[xᵢxⱼ] estimate in original units),
    * `cov` the centered version.
    */
  def embeddingGram(
      embeddings: DataFrame, vecCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val qv = embeddings
      .where(col(vecCol).isNotNull && size(col(vecCol)) > 0)
      .select(transform(col(vecCol),
        x => floor(x.cast("double") * lit(1000000.0)).cast("long"))
        .as("__q"))
    val cells = qv
      .select(posexplode(col("__q")).as(Seq("i", "qi")), col("__q"))
      .select(col("i"), col("qi"),
        posexplode(col("__q")).as(Seq("j", "qj")))
      .where(col("j") >= col("i"))
    cells.groupBy("i", "j")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("qi")) * dec(col("qj"))).as("__sij"),
        sum(dec(col("qi"))).as("__si"),
        sum(dec(col("qj"))).as("__sj"))
      .select(col("i"), col("j"), col("n"),
        // + 0.0 canonicalizes IEEE −0.0 to +0.0 (Spark's BigDecimal
        // round already loses the zero sign; DuckDB's C round keeps
        // it — normalize BOTH sides identically)
        (round(col("__sij").cast("double") /
          (col("n").cast("double") * 1e12), 6) + lit(0.0)).as("gram"),
        (round((dec(col("n")) * col("__sij") -
            col("__si") * col("__sj")).cast("double") /
          (col("n").cast("double") * col("n").cast("double") * 1e12), 6)
          + lit(0.0)).as("cov"))
  }

  /** Linear CKA (centered kernel alignment) between two embedding
    * VERSIONS over the same rows — the "did the new encoder preserve
    * the old geometry" audit a re-embedding migration runs before
    * swapping indexes: CKA = ‖X̄ᵀȲ‖²_F / (‖X̄ᵀX̄‖_F·‖ȲᵀȲ‖_F) over
    * column-centered features (Kornblith et al. 2019, the feature-
    * space form — O(n·d²), never the O(n²) Gram form), invariant to
    * orthogonal transforms and isotropic scaling: a rotated/permuted
    * re-embedding scores 1, a dimension-dropping one scores < 1 by
    * exactly the geometry it lost.
    *
    * Exactness, the [[embeddingGram]] scheme at MILLI quantization
    * (the centered cross-products are SQUARED, so micro units would
    * push n·Σqq past DECIMAL(38,0) at corpus scale; both engines
    * replay the same quantized integers, so the cross-engine
    * guarantee is unaffected): components quantize once to
    * `floor(x·1e3)`, the paired vector z = x ⧺ y feeds ONE upper-tri
    * (i ≤ j) cell fan-out, each centered cell is the exact integer
    * `n·Σqᵢqⱼ − Σqᵢ·Σqⱼ`, block sums (XX / XY / YY, off-diagonals
    * doubled) accumulate its SQUARE in DECIMAL(38,0), and CKA is one
    * mirrored double chain `Sxy / (√Sxx·√Syy)`.
    *
    * Scale shape: one fan-out of (2d)(2d+1)/2 cells per row,
    * map-side combined to a d²-domain frame, then one single-row
    * reduce — corpus-size-independent state, no joins beyond one
    * scalar broadcast. Null/empty vectors are excluded as a PAIR
    * (both versions must be present), and the ragged-exclusion
    * contract is ENFORCED: only rows whose vector lengths equal the
    * corpus max (per side) participate — a shorter vector would
    * shift the z = x ⧺ y cell indices and corrupt the block sums,
    * so it is dropped, not mis-summed. Returns one row
    * `(n, d_x, d_y, cka)`.
    */
  def linearCka(
      df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val q = (c: Column) => transform(c,
      x => floor(x.cast("double") * lit(1000.0)).cast("long"))
    val present = df
      .where(col(xCol).isNotNull && col(yCol).isNotNull &&
        size(col(xCol)) > 0 && size(col(yCol)) > 0)
      .select(q(col(xCol)).as("__qx"), q(col(yCol)).as("__qy"),
        size(col(xCol)).as("__dx"), size(col(yCol)).as("__dy"))
    // enforce the ragged-exclusion contract: a row whose vector
    // lengths differ from the corpus max would shift the z = x ⧺ y
    // cell indices and the dx block boundary, silently corrupting
    // the XX/XY/YY block sums — keep only full-dimension pairs
    // (one scalar aggregate broadcast, corpus-size-independent)
    val maxDims = present.agg(max(col("__dx")).as("__mx"),
      max(col("__dy")).as("__my"))
    val base = present.crossJoin(broadcast(maxDims))
      .where(col("__dx") === col("__mx") &&
        col("__dy") === col("__my"))
      .drop("__mx", "__my")
    val cells = base
      .select(concat(col("__qx"), col("__qy")).as("__z"),
        col("__dx"), col("__dy"))
      .select(col("__dx"), col("__dy"),
        posexplode(col("__z")).as(Seq("i", "qi")), col("__z"))
      .select(col("__dx"), col("__dy"), col("i"), col("qi"),
        posexplode(col("__z")).as(Seq("j", "qj")))
      .where(col("j") >= col("i"))
    val perCell = cells.groupBy("i", "j")
      .agg(count(lit(1)).as("n"),
        max(col("__dx")).as("__dx"), max(col("__dy")).as("__dy"),
        sum(dec(col("qi")) * dec(col("qj"))).as("__sij"),
        sum(dec(col("qi"))).as("__si"),
        sum(dec(col("qj"))).as("__sj"))
    val cij = dec(col("n")) * col("__sij") -
      col("__si") * col("__sj")
    val dx = col("__dx")
    val isXX = col("j") < dx
    val isXY = col("i") < dx && col("j") >= dx
    // off-diagonal upper-tri cells of the symmetric XX / YY blocks
    // stand for two matrix entries; every XY cell is its own entry
    val mult = when(col("i") === col("j"), lit(1)).otherwise(lit(2))
    val agg = perCell
      .withColumn("__c2", cij * cij)
      .agg(max(col("n")).as("n"),
        max(col("__dx")).as("d_x"), max(col("__dy")).as("d_y"),
        sum(when(isXX, col("__c2") * mult).otherwise(dec(lit(0))))
          .as("__sxx"),
        sum(when(isXY, col("__c2")).otherwise(dec(lit(0))))
          .as("__sxy"),
        sum(when(!isXX && !isXY, col("__c2") * mult)
          .otherwise(dec(lit(0)))).as("__syy"))
    val cka = col("__sxy").cast("double") /
      (sqrt(col("__sxx").cast("double")) *
        sqrt(col("__syy").cast("double")))
    agg.select(col("n"), col("d_x").cast("int").as("d_x"),
      col("d_y").cast("int").as("d_y"),
      round(when(col("__sxx") > 0 && col("__syy") > 0, cka), 6)
        .as("cka"))
  }

  /** Centroid-silhouette clustering audit for a labeled embedding
    * corpus — per label, the mean of the per-vector silhouette
    * `s = (b − a)/max(a, b)` with `a` = distance to the OWN label
    * centroid and `b` = distance to the nearest OTHER label centroid
    * (the O(n·L) centroid variant of the O(n²) classic — the only
    * form that survives a 100 TB corpus, and the standard label-set
    * health readout: mean s near 0 means labels overlap in embedding
    * space; negative means vectors sit closer to a rival class).
    *
    * Exactness, the [[labelNoiseScreen]] scheme: elements quantize
    * once to offset units `floor(x·1e4) + 2^24` (offset keeps cell
    * sums positive so `div` = floor; it cancels in the subtraction),
    * centroids are `Σ div n` integers, squared distances are exact
    * order-free BIGINT array folds, and only then does each row take
    * TWO correctly-rounded doubles (√a², √b²) into one mirrored
    * s-formula, floor-µ-quantized before the per-label mean — so the
    * per-label aggregation is again an exact integer sum. Ragged
    * vectors fail loudly (raise_error, the labelNoiseScreen
    * contract). A single-label corpus has no `b` → null silhouette.
    * Coincident centroids (a = b = 0) score s = 0.
    *
    * Scale shape: centroid cells are labels×dim (corpus-independent),
    * the L-row centroid table broadcasts, each corpus row folds
    * against all L centroid arrays in ONE scan (no per-element join),
    * and the (row, label) frame aggregates by row then by label —
    * map-side combined, label-domain-sized output.
    *
    * Returns `(label, n, mean_sq_own, silhouette_micro_sum,
    * mean_silhouette)` ordered by caller.
    */
  def centroidSilhouette(
      embeddings: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val offset = 16777216L // 2^24 — the labelNoiseScreen offset
    val me = embeddings
      .where(col(vecCol).isNotNull && size(col(vecCol)) > 0 &&
        col(labelCol).isNotNull)
      .select(col(labelCol).as("label"), col(idCol).as("id"),
        transform(col(vecCol),
          x => floor(x.cast("double") * lit(1e4)) + lit(offset))
          .as("__m"))
      .transform(graft.core.CacheScope.disk)
    val cents = me
      .select(col("label"), posexplode(col("__m")).as(Seq("pos", "m")))
      .groupBy("label", "pos")
      .agg(sum(col("m")).as("s"), count(lit(1)).as("n"))
      .withColumn("c", expr("s div n"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("c"))))
        .as("__pc"))
      .select(col("label").as("cand_label"),
        transform(col("__pc"), p => p.getField("c")).as("__cv"))
    val d2 = me.crossJoin(broadcast(cents))
      .select(col("label"), col("id"), col("cand_label"),
        when(size(col("__m")) =!= size(col("__cv")),
          raise_error(concat(
            lit("centroidSilhouette: ragged vector for id "), col("id"),
            lit(" — size "), size(col("__m")).cast("string"),
            lit(" vs label dimension "),
            size(col("__cv")).cast("string"))).cast("long"))
          .otherwise(
            aggregate(zip_with(col("__m"), col("__cv"),
              (a, b) => (a - b) * (a - b)),
              lit(0L), (acc, x) => acc + x)).as("sq"))
    val perRow = d2.groupBy("label", "id")
      .agg(
        max(when(col("cand_label") === col("label"), col("sq")))
          .as("__a2"),
        min(when(col("cand_label") =!= col("label"), col("sq")))
          .as("__b2"))
    val aD = sqrt(col("__a2").cast("double"))
    val bD = sqrt(col("__b2").cast("double"))
    val s = when(col("__b2").isNull, lit(null).cast("double"))
      .when(greatest(aD, bD) === 0.0, lit(0.0))
      .otherwise((bD - aD) / greatest(aD, bD))
    val scored = perRow
      .withColumn("__s_micro", floor(s * lit(1000000.0)).cast("long"))
    scored.groupBy("label")
      .agg(count(lit(1)).as("n"),
        expr("sum(__a2) div count(1)").as("mean_sq_own"),
        sum(col("__s_micro")).as("silhouette_micro_sum"),
        (round((sum(col("__s_micro")).cast("double") / 1000000.0) /
          count(lit(1)).cast("double"), 6) + lit(0.0))
          .as("mean_silhouette"))
  }
}
