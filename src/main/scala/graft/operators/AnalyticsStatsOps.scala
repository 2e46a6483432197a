package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistics / experimentation / ML-evaluation operators.
  * Split from [[Analytics]] (round 15); member bodies are unchanged —
  * this trait is self-typed to and mixed back into the same object, so
  * every reference (the shelf's calls into core helpers like
  * `rankByRange`, and every external `Analytics.<member>` call site)
  * resolves exactly as before.
  */
private[graft] trait AnalyticsStatsOps { this: Analytics.type =>

  /** Pearson χ² test of independence between two categorical columns:
    * one grouped count of the contingency table, marginals re-derived
    * from it (grouped again on each axis — cells, not rows), expected
    * counts E = rowTot·colTot/N, χ² = Σ(O−E)²/E over observed cells
    * PLUS the structurally-zero cells' E (a zero observed cell still
    * contributes E; dropping it would understate χ²) — handled by
    * cross-joining the two marginal sets, which is marginal-sized, not
    * data-sized. Returns one row: (chi2, dof, n).
    *
    * Scale: the corpus is touched once (the contingency count);
    * everything after operates on |A|×|B| cells.
    */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    // the ONE corpus-touching pass; persisted because the marginals,
    // N, the dof levels, and the cell join all read it (the repo's
    // multi-consumer persist convention)
    val cells = df.groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__o"))
      .transform(graft.core.CacheScope.disk)
    val rowTot = cells.groupBy("__a").agg(sum("__o").as("__ra"))
      .withColumnRenamed("__a", "__ra_key")
    val colTot = cells.groupBy("__b").agg(sum("__o").as("__cb"))
      .withColumnRenamed("__b", "__cb_key")
    val n = cells.agg(sum("__o").as("__n"))
    // null-safe join back: a null category level is a level like any
    // other — an equi-join would zero its observed counts while its
    // mass still inflated the marginals (a silently wrong statistic)
    val full = rowTot.crossJoin(colTot).crossJoin(n)
      .join(cells,
        col("__ra_key") <=> col("__a") && col("__cb_key") <=> col("__b"),
        "left")
      .select(col("__ra"), col("__cb"), col("__n"),
        coalesce(col("__o"), lit(0L)).as("__o"))
      .withColumn("__e",
        col("__ra").cast("double") * col("__cb").cast("double") /
          col("__n").cast("double"))
    // dof levels from the (persisted, cell-sized) contingency table —
    // one bounded action, no corpus re-scan
    val lv = cells.agg(
      count_distinct(struct(col("__a"))).as("la"),
      count_distinct(struct(col("__b"))).as("lb")).head()
    val dof = ((lv.getLong(0) - 1) * (lv.getLong(1) - 1)).toInt
    full.agg(
      sum(pow(col("__o").cast("double") - col("__e"), 2) / col("__e"))
        .as("chi2"),
      first(col("__n")).as("n"))
      .select(round(col("chi2"), 4).as("chi2"),
        lit(dof).as("dof"), col("n"))
  }

  /** Categorical association panel per pair key: the FOUR measures a
    * feature-audit actually wants side by side, all off one
    * contingency count. χ² answers "is there any dependence at this
    * n"; Cramér's V = √(χ²/(N·min(r−1,c−1))) normalizes it to [0,1]
    * so pairs with different table shapes compare; mutual information
    * I(X;Y) (nats) is the model-facing version of the same question;
    * and Theil's U is the ASYMMETRIC normalization U(Y|X) = I/H(Y) vs
    * U(X|Y) = I/H(X) — "knowing X, what fraction of Y's entropy
    * disappears" — the direction V deliberately erases (a
    * many-to-one mapping scores U(Y|X) = 1 while U(X|Y) < 1).
    *
    * Input is a LONG frame (pairCol, x, y) so one corpus scan can
    * feed any number of audited pairs (build it with an
    * explode(array(struct…)) projection). χ² includes
    * structurally-zero cells' E via the within-pair marginal join
    * (the [[chiSquare]] contract); MI's 0·ln 0 cells drop exactly.
    * Every per-cell term is micro/nano-floored to an exact integer
    * BEFORE the sum (quantize-before-sum — unlike [[chiSquare]]'s
    * 4-decimal rounding this panel emits 6 decimals, so cross-engine
    * float accumulation order must not exist). One mirrored double
    * expression per emitted statistic at the end.
    *
    * Scale: ONE grouped count touches the rows; marginals, grids and
    * entropies are cell-/level-domain-sized. Null levels are levels
    * (null-safe joins), matching [[chiSquare]].
    */
  def categoricalAssociation(
      df: DataFrame, pairCol: String, xCol: String, yCol: String)
      : DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cells = df.groupBy(col(pairCol).as("__p"),
        col(xCol).as("__x"), col(yCol).as("__y"))
      .agg(count(lit(1)).as("__o"))
      .transform(graft.core.CacheScope.disk)
    val rx = cells.groupBy(col("__p"), col("__x"))
      .agg(sum(col("__o")).as("__ra"))
    val cy = cells.groupBy(col("__p"), col("__y"))
      .agg(sum(col("__o")).as("__cb"))
    val n = cells.groupBy(col("__p")).agg(sum(col("__o")).as("__n"))
    val lv = cells.groupBy(col("__p"))
      .agg(count_distinct(struct(col("__x"))).as("levels_x"),
        count_distinct(struct(col("__y"))).as("levels_y"))
    // χ² over the FULL grid (zero cells contribute E)
    val cellsR = cells.select(col("__p").as("__cp"),
      col("__x").as("__cx"), col("__y").as("__cy"),
      col("__o").as("__co"))
    val grid = rx.withColumnRenamed("__x", "__xk")
      .join(cy.withColumnRenamed("__y", "__yk")
          .withColumnRenamed("__p", "__p2"),
        col("__p") === col("__p2"))
      .join(n, Seq("__p"))
      .join(cellsR,
        col("__cp") === col("__p") &&
          col("__xk") <=> col("__cx") && col("__yk") <=> col("__cy"),
        "left")
      .select(col("__p"), col("__ra"), col("__cb"), col("__n"),
        coalesce(col("__co"), lit(0L)).as("__o"))
      .withColumn("__e",
        col("__ra").cast("double") * col("__cb").cast("double") /
          col("__n").cast("double"))
      .withColumn("__t", floor(
        (col("__o").cast("double") - col("__e")) *
          (col("__o").cast("double") - col("__e")) / col("__e") * 1e6)
        .cast("decimal(38,0)"))
    val chi2 = grid.groupBy(col("__p"))
      .agg(sum(col("__t")).as("__chi2m"))
    // MI over observed cells: (o/N)·ln(o·N/(ra·cb)), nano-floored
    val mi = cells
      .join(rx, Seq("__p", "__x")).join(cy, Seq("__p", "__y"))
      .join(n, Seq("__p"))
      .withColumn("__t", floor(
        col("__o").cast("double") / col("__n").cast("double") *
          log((dec(col("__o")) * dec(col("__n"))).cast("double") /
            (dec(col("__ra")) * dec(col("__cb"))).cast("double")) * 1e9)
        .cast("decimal(38,0)"))
      .groupBy(col("__p")).agg(sum(col("__t")).as("__min"))
    def entropy(m: DataFrame, cnt: String, out: String): DataFrame =
      m.join(n, Seq("__p"))
        .withColumn("__t", floor(
          col(cnt).cast("double") / col("__n").cast("double") *
            log(col(cnt).cast("double") / col("__n").cast("double")) *
            1e9).cast("decimal(38,0)"))
        .groupBy(col("__p")).agg((-sum(col("__t"))).as(out))
    val hx = entropy(rx, "__ra", "__hxn")
    val hy = entropy(cy, "__cb", "__hyn")
    val miD = col("__min").cast("double") / 1e9
    val hxD = col("__hxn").cast("double") / 1e9
    val hyD = col("__hyn").cast("double") / 1e9
    val chi2D = col("__chi2m").cast("double") / 1e6
    val minDim = least(col("levels_x"), col("levels_y")) - lit(1L)
    val vOk = col("__n") > 0L && minDim > 0L && chi2D >= 0.0
    n.join(lv, Seq("__p")).join(chi2, Seq("__p"))
      .join(mi, Seq("__p")).join(hx, Seq("__p")).join(hy, Seq("__p"))
      .select(col("__p").as(pairCol), col("__n").as("n"),
        col("levels_x"), col("levels_y"),
        round(chi2D, 6).as("chi2"),
        round(when(vOk, sqrt(chi2D /
            (col("__n").cast("double") * minDim.cast("double"))))
          .otherwise(lit(null).cast("double")), 6).as("cramers_v"),
        round(miD, 6).as("mi_nats"),
        round(when(hyD > 0.0, miD / hyD)
          .otherwise(lit(null).cast("double")), 6).as("u_y_given_x"),
        round(when(hxD > 0.0, miD / hxD)
          .otherwise(lit(null).cast("double")), 6).as("u_x_given_y"))
  }

  /** Delete-one-group jackknife for a RATIO metric `Σnum / Σden` —
    * the standard-error machinery ratio metrics need (revenue per
    * unit, CTR, cost per token): per-row CLT doesn't apply to a ratio
    * of sums, but the delete-one-bucket pseudo-estimates do (Efron &
    * Stein; the production form of every large-scale experimentation
    * platform's "bucketed jackknife"). Rows land in `buckets` hash
    * buckets; θ₍ᵢ₎ = ratio with bucket i removed; SE =
    * √((B−1)/B · Σ(θ₍ᵢ₎ − θ̄)²).
    *
    * Exactness: per-bucket sums are exact longs; each θ₍ᵢ₎ quantizes
    * to `floor(scale·(S−sᵢ)/(D−dᵢ))` (one double division of two
    * exact longs, then floor — deterministic cross-engine), so the
    * jackknife mean and the squared deviations are EXACT integer
    * arithmetic; doubles reappear only in the final rendered columns.
    * `scale` is the caller's quantization contract — pick it so
    * θ·scale ≲ 1e15 AND the expected bucket deviation × scale stays
    * under √(2⁶³⁻¹/B) (a cents-per-unit ratio ~1e5 wants 1e4, a CTR
    * ~1e-2 wants 1e9; quantization noise ≤ 1/scale per
    * pseudo-estimate, orders below any admissible SE). The bound is
    * enforced LOUD, not silent: an over-cap deviation raises
    * (re-bucket or rescale) instead of wrapping the squared sum.
    *
    * Shape: one map-side-combined aggregation to B bucket rows, then
    * everything downstream is B-sized (B ≤ 1024 enforced — the
    * B×B-free construction: θ₍ᵢ₎ needs only the bucket's own sums and
    * the broadcast totals). Buckets with D−dᵢ = 0 would be a
    * degenerate resample — rejected loud (pick more/fewer buckets)
    * rather than silently skipped, which would bias the SE.
    *
    * Returns one row: `(n_buckets, theta, theta_jack, se)`.
    */
  def jackknifeRatio(
      df: DataFrame, numCol: Column, denCol: Column,
      bucketKey: Column, buckets: Int = 32,
      scale: Double = 1e6): DataFrame = {
    require(buckets >= 2 && buckets <= 1024, "buckets in [2, 1024]")
    require(scale >= 1.0 && scale <= 1e12, "scale in [1, 1e12]")
    val b = df.select(
        (conv(substring(md5(concat(lit("jk:"),
          bucketKey.cast("string"))), 1, 8), 16, 10).cast("long")
          % buckets).as("__b"),
        numCol.cast("long").as("__n"), denCol.cast("long").as("__d"))
      .groupBy("__b")
      .agg(sum(col("__n")).as("__sn"), sum(col("__d")).as("__sd"))
    val tot = b.agg(sum(col("__sn")).as("__tn"),
      sum(col("__sd")).as("__td"), count(lit(1)).as("__nb"))
    val pseudo = b.crossJoin(broadcast(tot))
      .withColumn("__theta_i",
        floor(lit(scale) * (col("__tn") - col("__sn")).cast("double")
          / (col("__td") - col("__sd")).cast("double")).cast("long"))
    // pseudo feeds the mean AND the deviation pass: persist, or the
    // bucket aggregation re-executes per consumer
    val p = pseudo.select(col("__theta_i"),
        ((col("__td") - col("__sd")) === 0).as("__degen"),
        col("__tn"), col("__td"))
      .transform(graft.core.CacheScope.disk)
    val mean = p.agg(count(lit(1)).as("__nb"),
        sum(when(col("__degen"), 1L).otherwise(0L)).as("__ndegen"),
        sum(col("__theta_i")).as("__sum_ti"))
      .select(col("__nb"), col("__ndegen"),
        expr("__sum_ti div __nb").as("__tbar"))
    // √(2⁶³−1 / B): the per-deviation bound under which the squared
    // sum provably fits BIGINT
    val devCap = math.sqrt(Long.MaxValue.toDouble / buckets).toLong
    p.crossJoin(broadcast(mean))
      .withColumn("__dev", col("__theta_i") - col("__tbar"))
      .agg(max(col("__nb")).as("n_buckets"),
        max(col("__ndegen")).as("__ndegen"),
        max(col("__tbar")).as("__tbar"),
        max(abs(col("__dev"))).as("__maxdev"),
        sum(col("__dev") * col("__dev")).as("__ss"),
        max(col("__tn")).as("__tn"), max(col("__td")).as("__td"))
      .select(
        col("n_buckets"),
        round(col("__tn").cast("double")
          / col("__td").cast("double"), 9).as("theta"),
        round(col("__tbar").cast("double") / scale, 9).as("theta_jack"),
        when(col("__ndegen") > 0,
          raise_error(lit("jackknifeRatio: a delete-one bucket " +
            "empties the denominator; adjust buckets")).cast("double"))
          .when(col("__maxdev") > devCap,
            raise_error(lit("jackknifeRatio: bucket deviation " +
              "overflows the exact squared sum; rescale the metric " +
              "or use fewer buckets")).cast("double"))
          .otherwise(round(
            // ss·(B−1) can exceed BIGINT even when ss fits: multiply
            // in double (the oracle spells the identical form)
            sqrt(col("__ss").cast("double")
              * (col("n_buckets") - 1).cast("double")
              / col("n_buckets").cast("double")) / scale, 9)).as("se"))
  }

  /** Two-proportion z-test of every group against the pooled rest —
    * the A/B-flavored segment screen ("is this segment's conversion
    * rate different from everyone else's?") run as ONE aggregation:
    * per group the success count and size, the complement derived
    * from broadcast grand totals, z = (p_g − p_r) /
    * √(p̂(1−p̂)(1/n_g + 1/n_r)) with p̂ the pooled rate, and
    * `significant` at the two-sided threshold `zAlpha`.
    *
    * All inputs to the float math are exact longs from one grouped
    * count (map-side combined) plus one broadcast one-row total, so
    * results are deterministic under any partitioning; groups where a
    * variance term degenerates (empty complement, pooled rate 0 or 1)
    * emit null z rather than ±∞.
    */
  def proportionTest(
      df: DataFrame, groupCol: String, success: Column,
      zAlpha: Double = 1.96): DataFrame = {
    val per = df
      .where(col(groupCol).isNotNull && success.isNotNull)
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(success.cast("int").cast("long")).as("successes"))
    val tot = per.agg(sum(col("n")).as("__tn"),
      sum(col("successes")).as("__ts"))
    val joined = per.crossJoin(broadcast(tot))
      .withColumn("__nr", col("__tn") - col("n"))
      .withColumn("__sr", col("__ts") - col("successes"))
    val pg = col("successes").cast("double") / col("n")
    val pr = col("__sr").cast("double") / col("__nr")
    val pp = col("__ts").cast("double") / col("__tn")
    val se = sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n") + lit(1.0) / col("__nr")))
    val z = when(col("__nr") > 0 && col("__ts") > 0 &&
        col("__ts") < col("__tn"), (pg - pr) / se)
    joined.select(col(groupCol), col("n"), col("successes"),
      pg.as("rate"), pr.as("rate_rest"), z.as("z"),
      (abs(z) > lit(zAlpha)).as("significant"))
  }

  /** KMV (k-minimum-values) audience-overlap audit: pairwise distinct
    * INTERSECTION estimates between groups from mergeable bottom-k
    * hash sketches — the set operation HLL cannot do — verified
    * in-query against the exact intersection (the q46/q177
    * sketch-honesty pattern; md5 is fixed, so the `within_tol` flag
    * is deterministic, not flaky).
    *
    * Sketch: per group, the k smallest 60-bit md5 values over
    * DISTINCT members (ties on h broken by member id — md5 collisions
    * at 60 bits are possible in principle, ordering stays total);
    * estimate = (k−1)·2⁶⁰/θ_k, exact when the group holds < k
    * members. Union sketches merge by k-smallest-of-union
    * (bottom-k is closed under union — the mergeability that makes
    * this a SHARDED sketch at 100 TB); intersection by
    * inclusion–exclusion, clamped at 0.
    *
    * Shape: one distinct (the data-sized stage, cached), per-group
    * bottom-k windows (partitioned), pair enumeration over the
    * group-DOMAIN (the q78 intended triangle — allowlisted), merges
    * by two equi-joins, and the exact audit legs are id-equi
    * self-joins. Error ~1.3/√k of the union size; `tolFrac` sets the
    * audit band (default 3/√k).
    */
  def kmvOverlap(
      df: DataFrame, groupCol: String, idCol: String,
      k: Int = 256, tolFrac: Double = -1.0): DataFrame = {
    require(k >= 16 && k <= 4096, "k in [16, 4096]")
    val tol = if (tolFrac > 0) tolFrac else 3.0 / math.sqrt(k.toDouble)
    val m = 1152921504606846976L // 2^60
    val distinct = df
      .select(col(groupCol).cast("string").as("__g"),
        col(idCol).cast("string").as("__id"))
      .where(col("__g").isNotNull && col("__id").isNotNull)
      .distinct()
      .withColumn("__h",
        conv(substring(md5(col("__id")), 1, 15), 16, 10).cast("long"))
      .transform(graft.core.CacheScope.disk)
    val w = Window.partitionBy("__g")
      .orderBy(col("__h").asc, col("__id").asc)
    val sketch = distinct
      .withColumn("__r", row_number().over(w)).where(col("__r") <= k)
      .select(col("__g"), col("__h"), col("__id"))
      .transform(graft.core.CacheScope.disk)
    val sizes = distinct.groupBy("__g").agg(count(lit(1)).as("__exact"))
      .transform(graft.core.CacheScope.disk)
    def estimate(nCol: Column, thetaCol: Column): Column =
      when(nCol < k, nCol.cast("double"))
        .otherwise(lit((k - 1).toDouble) * lit(m.toDouble)
          / thetaCol.cast("double"))
    val perGroup = sketch.groupBy("__g")
      .agg(count(lit(1)).as("__n"), max("__h").as("__theta"))
      .join(sizes, Seq("__g"))
      .select(col("__g"), col("__exact"),
        estimate(col("__exact"), col("__theta")).as("__est"))
      .transform(graft.core.CacheScope.disk)
    // group-domain pair enumeration (bounded by the label domain,
    // not provable from plan shape — allowlisted like q78)
    val pairs = perGroup.select(col("__g").as("__ga"),
        col("__exact").as("__ea"), col("__est").as("__esta"))
      .join(perGroup.select(col("__g").as("__gb"),
        col("__exact").as("__eb"), col("__est").as("__estb")),
        col("__ga") < col("__gb"))
    val mA = pairs.select(col("__ga"), col("__gb"))
      .join(sketch.withColumnRenamed("__g", "__ga"), Seq("__ga"))
    val mB = pairs.select(col("__ga"), col("__gb"))
      .join(sketch.withColumnRenamed("__g", "__gb"), Seq("__gb"))
    val merged = mA.select(col("__ga"), col("__gb"), col("__h"), col("__id"))
      .union(mB.select(col("__ga"), col("__gb"), col("__h"), col("__id")))
      .dropDuplicates("__ga", "__gb", "__h", "__id")
    val wu = Window.partitionBy("__ga", "__gb")
      .orderBy(col("__h").asc, col("__id").asc)
    val unions = merged.withColumn("__r", row_number().over(wu))
      .groupBy("__ga", "__gb")
      .agg(count(lit(1)).as("__un"),
        max(when(col("__r") === k, col("__h"))).as("__utheta"))
    val exactInt = distinct.select(col("__g").as("__ga"), col("__id"))
      .join(distinct.select(col("__g").as("__gb"), col("__id")),
        Seq("__id"))
      .where(col("__ga") < col("__gb"))
      .groupBy("__ga", "__gb").agg(count(lit(1)).as("__xint"))
    pairs
      .join(unions, Seq("__ga", "__gb"))
      .join(exactInt, Seq("__ga", "__gb"), "left")
      .select(col("__ga"), col("__gb"), col("__ea"), col("__eb"),
        coalesce(col("__xint"), lit(0L)).as("__xi"),
        (col("__ea") + col("__eb") - coalesce(col("__xint"), lit(0L)))
          .as("__xu"),
        col("__esta"), col("__estb"),
        when(col("__un") < k, col("__un").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(m.toDouble)
            / col("__utheta").cast("double")).as("__estu"))
      .select(col("__ga").as("group_a"), col("__gb").as("group_b"),
        col("__ea").as("exact_a"), col("__eb").as("exact_b"),
        col("__xi").as("exact_intersection"),
        col("__xu").as("exact_union"),
        round(col("__esta"), 4).as("est_a"),
        round(col("__estb"), 4).as("est_b"),
        round(col("__estu"), 4).as("est_union"),
        round(greatest(col("__esta") + col("__estb") - col("__estu"),
          lit(0.0)), 4).as("est_intersection"),
        (abs(greatest(col("__esta") + col("__estb") - col("__estu"),
            lit(0.0)) - col("__xi").cast("double")) <=
          lit(tol) * col("__xu").cast("double") + lit(2.0))
          .cast("int").as("within_tol"))
  }

  /** Bradley–Terry preference strengths — the pairwise-comparison
    * ranking model behind RLHF reward data, match outcomes, and A/B
    * preference panels: k rounds of the MM fixed point
    * pᵢ ← Wᵢ / Σⱼ mᵢⱼ/(pᵢ+pⱼ), normalized to mean 1 each round.
    *
    * Exactness (the [[markovStationary]] treatment): strengths live
    * in 1e6-unit BIGINTs; every per-pair denominator term quantizes
    * by `(m·S²) div (Pᵢ+Pⱼ)` BEFORE the per-item sum, and the update
    * and normalization are floor divisions — so the fixed point is
    * bit-identical across engines, partitionings and cluster sizes.
    * Positive-operand `div` (truncation) equals SQL `//` (floor), so
    * an oracle replays it verbatim. Int64 contract: per-pair
    * comparison counts m must satisfy m·10¹² < 2⁶³ (m < 9·10⁶ —
    * pre-aggregate or sample heavier panels).
    *
    * Shape: comparisons collapse map-side to the pair matrix (the
    * only data-sized stage); each round is two joins + one
    * aggregation over item/pair-domain-sized frames, lineage cut per
    * round by localCheckpoint. Items that never win floor at strength
    * 1 micro-unit (exactly-zero would divide a later pair by zero).
    */
  def bradleyTerry(
      comparisons: DataFrame, winnerCol: String, loserCol: String,
      iters: Int = 8): DataFrame = {
    require(iters >= 1 && iters <= 64, "iters in [1, 64]")
    val scale = 1000000L
    val s2 = scale * scale
    val c = comparisons
      .select(col(winnerCol).cast("string").as("__w"),
        col(loserCol).cast("string").as("__l"))
      .where(col("__w").isNotNull && col("__l").isNotNull &&
        col("__w") =!= col("__l"))
      .groupBy("__w", "__l").agg(count(lit(1)).as("__n"))
      .transform(graft.core.CacheScope.disk)
    val pairs = c.select(least(col("__w"), col("__l")).as("__a"),
        greatest(col("__w"), col("__l")).as("__b"), col("__n"))
      .groupBy("__a", "__b").agg(sum("__n").as("__m"))
      .transform(graft.core.CacheScope.disk)
    val wins = c.groupBy(col("__w").as("item"))
      .agg(sum("__n").as("__wn"))
    val items = c.select(col("__w").as("item"))
      .union(c.select(col("__l"))).distinct()
      .join(wins, Seq("item"), "left")
      .select(col("item"), coalesce(col("__wn"), lit(0L)).as("wins"))
      .transform(graft.core.CacheScope.disk)
    val nItems = items.count()
    val ncomp = pairs.select(col("__a").as("item"), col("__m"))
      .union(pairs.select(col("__b"), col("__m")))
      .groupBy("item").agg(sum("__m").as("n_comparisons"))
      .transform(graft.core.CacheScope.disk)
    var p = items.select(col("item"), lit(scale).as("__p"))
      .localCheckpoint()
    for (i <- 1 to iters) {
      val withP = pairs
        .join(p.select(col("item").as("__a"), col("__p").as("__pa")),
          Seq("__a"))
        .join(p.select(col("item").as("__b"), col("__p").as("__pb")),
          Seq("__b"))
        .withColumn("__t", expr(s"(__m * ${s2}L) div (__pa + __pb)"))
      val denom = withP.select(col("__a").as("item"), col("__t"))
        .union(withP.select(col("__b"), col("__t")))
        .groupBy("item").agg(sum("__t").as("__d"))
      val updated = items.join(denom, Seq("item"), "left")
        .select(col("item"),
          when(col("__d").isNotNull && col("wins") > 0,
            expr(s"(wins * ${s2}L) div __d")).otherwise(lit(0L))
            .as("__p0"))
      val tot = updated.agg(sum("__p0").as("__tot"))
      // EAGER checkpoint every round, deliberately: `p` is consumed
      // TWICE next round (the __a and __b joins), so a lazy round gets
      // re-executed per consumer — the r18 every-2nd-round cadence
      // experiment (the pageRank treatment, where it wins 1.1-1.3x)
      // measured q216 9.30 s -> 22.95 s min-of-5 here and was reverted
      p = updated.crossJoin(broadcast(tot))
        .select(col("item"),
          greatest(
            expr(s"(__p0 * ${nItems}L * ${scale}L) div __tot"),
            lit(1L)).as("__p"))
        .localCheckpoint()
    }
    items.join(ncomp, Seq("item"), "left")
      .join(p, Seq("item"))
      .select(col("item"), col("wins"),
        coalesce(col("n_comparisons"), lit(0L)).as("n_comparisons"),
        col("__p").as("strength_micro"),
        round(col("__p").cast("double") / scale, 6).as("strength"))
  }

  /** Benford first-significant-digit audit — the forensic-accounting
    * screen for fabricated or mis-binned amounts: per group, the
    * observed distribution of the leading digit of an exact integer
    * amount vs Benford's law (P(d) = log10(1 + 1/d)), with the
    * per-digit deviation and the group's chi-square statistic.
    *
    * `amountCol` must be a positive BIGINT (amounts pre-scaled to
    * cents by the caller) — the leading digit is the first character
    * of the decimal rendering of an integer, which both the engine
    * and any SQL oracle produce identically; extracting the digit
    * from a DOUBLE rendering would be engine-dependent (scientific
    * notation cutoffs differ). Non-positive / null amounts are
    * excluded and reported per group as `n_excluded`.
    *
    * Shape: one grouped count per (group, digit) — map-side combined,
    * ≤10 rows per group out — densified against a (group × digit)
    * grid (group-count-sized generate + one small join) so absent
    * digits report exact zero counts. Chi-square re-aggregates the
    * 9-row frame per group: cost is group-count-sized, not
    * data-sized. At 100 TB this is one shuffle of ≤10·|groups| rows.
    */
  def benfordAudit(
      df: DataFrame, groupCol: String, amountCol: Column): DataFrame = {
    val base = df.select(col(groupCol).as("__g"),
        amountCol.cast("long").as("__v"))
      .withColumn("__d",
        when(col("__v") > 0,
          substring(col("__v").cast("string"), 1, 1).cast("int")))
    val counts = base
      .groupBy(col("__g"), col("__d"))
      .agg(count(lit(1)).as("__n"))
      .transform(graft.core.CacheScope.disk)
    val perGroup = counts.groupBy("__g")
      .agg(sum(when(col("__d").isNotNull, col("__n")).otherwise(0L))
          .as("__tot"),
        sum(when(col("__d").isNull, col("__n")).otherwise(0L))
          .as("__nexcl"))
    // densify: every group gets all nine digit rows, absent → 0
    val longDigits = perGroup
      .select(col("__g"), col("__tot"), col("__nexcl"),
        explode(sequence(lit(1), lit(9))).as("digit"))
      .join(counts.where(col("__d").isNotNull)
          .withColumnRenamed("__d", "digit"),
        Seq("__g", "digit"), "left")
      .select(col("__g"), col("digit"),
        coalesce(col("__n"), lit(0L)).as("n"),
        col("__nexcl").as("n_excluded"), col("__tot"))
    val withTotal = longDigits
    // expected share is a literal per digit: log10(1+1/d) spelled as
    // an exact double literal so the oracle can repeat it verbatim
    val expectedShare = (1 to 9)
      .map(d => d -> math.log10(1.0 + 1.0 / d)).toMap
    val expCol = (1 to 9).foldLeft(lit(null).cast("double")) {
      case (acc, d) =>
        when(col("digit") === d, lit(expectedShare(d))).otherwise(acc)
    }
    val perDigit = withTotal
      .withColumn("__exp", expCol * col("__tot").cast("double"))
      .transform(graft.core.CacheScope.disk)
    val chi = perDigit.groupBy(col("__g"))
      .agg(sum((col("n").cast("double") - col("__exp"))
          * (col("n").cast("double") - col("__exp")) / col("__exp"))
        .as("__chi2"))
    perDigit.join(broadcast(chi), Seq("__g"))
      .select(col("__g").as(groupCol), col("digit"), col("n"),
        col("n_excluded"),
        round(col("__exp"), 4).as("expected_n"),
        round(col("n").cast("double") / col("__tot").cast("double"), 6)
          .as("share"),
        round(col("__chi2"), 4).as("chi2"))
  }

  /** Market-concentration report per group: Herfindahl–Hirschman
    * index, top-1/top-3 entity share, and effective number of
    * entities (1/HHI) over an exact integer value column (cents).
    *
    * Exactness: entity shares quantize to micro-units
    * (s_i = floor(1e6·v_i / Σv), BIGINT), so Σs_i² ≤ (Σs_i)² ≤ 1e12
    * fits BIGINT exactly regardless of data scale — the HHI is a
    * deterministic integer ratio, not an order-dependent double sum.
    * Top-k shares ride the same quantized units via a rank window.
    *
    * Shape: one grouped sum per (group, entity) — map-side combined —
    * then one window rank and one re-aggregation per group, all over
    * entity-count-sized frames. Entities with non-positive totals are
    * kept (their share floors at ≤ 0 momentum toward 0); null
    * entities are excluded.
    */
  def concentrationReport(
      df: DataFrame, groupCol: String, entityCol: String,
      valueCol: Column): DataFrame = {
    val sums = df
      .where(col(entityCol).isNotNull)
      .groupBy(col(groupCol).as("__g"), col(entityCol).as("__e"))
      .agg(sum(valueCol.cast("long")).as("__v"))
    val tot = sums.groupBy("__g")
      .agg(sum(col("__v")).as("__tv"), count(lit(1)).as("__ne"))
    val shares = sums.join(broadcast(tot), Seq("__g"))
      .withColumn("__s",
        floor(lit(1000000L) * col("__v").cast("double")
          / col("__tv").cast("double")).cast("long"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("__g"))
          .orderBy(col("__v").desc, col("__e"))))
    shares.groupBy(col("__g"))
      .agg(max(col("__ne")).as("n_entities"),
        sum(col("__s") * col("__s")).as("__hhi2"),
        max(when(col("__rk") === 1, col("__s"))).as("__top1"),
        sum(when(col("__rk") <= 3, col("__s")).otherwise(0L))
          .as("__top3"))
      .select(col("__g").as(groupCol), col("n_entities"),
        round(col("__top1").cast("double") / 1e6, 6).as("top1_share"),
        round(col("__top3").cast("double") / 1e6, 6).as("top3_share"),
        round(col("__hhi2").cast("double") / 1e12, 6).as("hhi"),
        round(lit(1e12) / col("__hhi2").cast("double"), 4)
          .as("effective_n"))
  }

  /** Kaplan–Meier survival curve per group: at each distinct event
    * time t, the number at risk, events, censorings, and the product-
    * limit survival estimate S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ).
    *
    * Determinism across engines: every input to the float math is an
    * exact integer (at-risk and event counts from one grouped count +
    * a window), each step factor (nᵢ−dᵢ)/nᵢ is ONE correctly-rounded
    * IEEE division, and the running product is an explicit ordered
    * left fold over the group's factor array — IEEE multiply is
    * correctly rounded, so any engine folding the same factors in the
    * same order produces bit-identical doubles (no exp/log detour,
    * whose transcendental rounding is engine-specific).
    *
    * Shape: events collapse to one row per (group, time) map-side;
    * at-risk counts come from a running sum window over that
    * timepoint frame (timepoint-sized, not subject-sized); the fold
    * materializes one sorted factor array per group and computes the
    * k running products by prefix-slice folds — O(k) memory and
    * O(k²) multiplies per group, guarded by `maxTimepoints`
    * (default 10⁴ ≈ 27 years of daily granularity: 10⁸ multiplies
    * worst-case, sub-second). Subjects, however, are unbounded:
    * nothing upstream of the timepoint collapse holds per-subject
    * state.
    */

  /** Nelson–Aalen cumulative-hazard estimator per group — the
    * additive companion of [[kaplanMeier]]: KM multiplies survival
    * factors (and one zero risk-set factor floors the whole tail),
    * NA sums hazard increments H(t) = Σ dᵢ/nᵢ, the quantity that is
    * (a) unbiased in small risk sets, (b) mergeable across strata,
    * and (c) what a hazard-RATE reading actually wants ("how much
    * failure pressure accumulated by day t", not "what fraction
    * survives"). Also emits the Breslow survival exp(−H) (always ≥
    * the KM curve — the spec pins the inequality) and the
    * Σdᵢ/nᵢ² standard error.
    *
    * Exactness: the risk-set frame is the exact-integer
    * [[kaplanMeier]] machinery; each hazard increment dᵢ/nᵢ is one
    * double division of two exact longs nano-floored BEFORE the
    * running sum (quantize-before-sum, so the cumulative column is an
    * exact integer both engines agree on at every t); exp/sqrt render
    * at the end. Unlike KM's running PRODUCT (a per-row array fold),
    * the running SUM is one ordinary window — cheaper by the length
    * of the curve.
    *
    * Scale: per-(group, t) counts map-side combined; one ordered
    * window per group over DISTINCT times; nothing row-sized after
    * the first combine.
    */
  def nelsonAalen(
      df: DataFrame, groupCol: String, durationCol: Column,
      eventCol: Column): DataFrame = {
    val base = df.select(col(groupCol).as("__g"),
        durationCol.cast("long").as("__t"),
        eventCol.cast("boolean").as("__e"))
      .where(col("__t").isNotNull && col("__t") >= 0)
    val byTime = base.groupBy("__g", "__t")
      .agg(sum(when(col("__e"), 1L).otherwise(0L)).as("__d"),
        sum(when(col("__e"), 0L).otherwise(1L)).as("__c"))
    val w = Window.partitionBy("__g").orderBy("__t")
    val risked = byTime
      .withColumn("__tot", sum(col("__d") + col("__c"))
        .over(Window.partitionBy("__g")))
      .withColumn("__gone", coalesce(
        sum(col("__d") + col("__c"))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__n", col("__tot") - col("__gone"))
      .withColumn("__h", floor(col("__d").cast("double") /
        col("__n").cast("double") * 1e9).cast("decimal(38,0)"))
      .withColumn("__v", floor(col("__d").cast("double") /
        (col("__n").cast("double") * col("__n").cast("double")) * 1e12)
        .cast("decimal(38,0)"))
    val cum = risked
      .withColumn("__hc", sum(col("__h"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("__vc", sum(col("__v"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
    // the cumulative hazard is emitted in its EXACT nano units (the
    // q241 kl_nano convention): a nano-integer sum divided by 1e9
    // can land exactly on a 6-decimal rounding boundary, where the
    // JVM (BigDecimal HALF_UP on the decimal string) and DuckDB
    // (binary half-away) disagree by one ulp — sf0.1 hit it once in
    // 5,390 rows. exp/sqrt outputs are irrational and never sit on a
    // boundary, so the rendered survival/se columns stay safe.
    cum.select(col("__g").as(groupCol), col("__t").as("t"),
      col("__n").as("n_at_risk"), col("__d").as("n_events"),
      col("__c").as("n_censored"),
      col("__hc").cast("long").as("cum_hazard_nano"),
      round(exp(-(col("__hc").cast("double") / 1e9)), 6)
        .as("survival_na"),
      round(sqrt(col("__vc").cast("double") / 1e12), 6).as("se"))
  }

  def kaplanMeier(
      df: DataFrame, groupCol: String, durationCol: Column,
      eventCol: Column, maxTimepoints: Int = 10000): DataFrame = {
    val base = df.select(col(groupCol).as("__g"),
        durationCol.cast("long").as("__t"),
        eventCol.cast("boolean").as("__e"))
      .where(col("__t").isNotNull && col("__t") >= 0)
    val byTime = base.groupBy("__g", "__t")
      .agg(sum(when(col("__e"), 1L).otherwise(0L)).as("__d"),
        sum(when(col("__e"), 0L).otherwise(1L)).as("__c"))
    val w = Window.partitionBy("__g").orderBy("__t")
    // at risk at t = subjects whose duration >= t = group total minus
    // everything that left strictly before t
    val risked = byTime
      .withColumn("__tot", sum(col("__d") + col("__c"))
        .over(Window.partitionBy("__g")))
      .withColumn("__gone", coalesce(
        sum(col("__d") + col("__c"))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__n", col("__tot") - col("__gone"))
      .withColumn("__f",
        (col("__n") - col("__d")).cast("double")
          / col("__n").cast("double"))
    // one sorted row-array per group; running product i = left fold
    // of the first i factors (slice is 1-based)
    val grouped = risked.groupBy(col("__g"))
      .agg(sort_array(collect_list(struct(col("__t"), col("__n"),
        col("__d"), col("__c"), col("__f")))).as("__rows"))
      .withColumn("__rows",
        when(size(col("__rows")) > maxTimepoints,
          raise_error(lit("kaplanMeier: distinct event times per " +
            "group exceed maxTimepoints; coarsen the duration " +
            "granularity")).cast("array<struct<__t:bigint," +
            "__n:bigint,__d:bigint,__c:bigint,__f:double>>"))
          .otherwise(col("__rows")))
    grouped
      .select(col("__g"), posexplode(col("__rows")).as(Seq("__i", "__r")),
        col("__rows"))
      .withColumn("__surv",
        aggregate(
          slice(col("__rows").getField("__f"), lit(1), col("__i") + 1),
          lit(1.0d), (acc, x) => acc * x))
      .select(col("__g").as(groupCol), col("__r.__t").as("t"),
        col("__r.__n").as("n_at_risk"), col("__r.__d").as("n_events"),
        col("__r.__c").as("n_censored"),
        round(col("__surv"), 6).as("survival"))
  }

  /** Restricted mean survival time — the AREA under the
    * [[kaplanMeier]] step curve up to a horizon τ: the average
    * event-free time a subject accrues in the first τ days, the
    * single-number summary a retention/SLA report quotes when the
    * median never falls (S(τ) > 0.5) and hazard ratios are
    * uninterpretable under non-proportionality. Completes the
    * survival shelf: KM (q191) draws the curve, Nelson–Aalen (q316)
    * the hazard, log-rank (q329) tests it, Weibull (q347) fits it —
    * RMST prices it.
    *
    * Construction: S is the right-continuous KM step function —
    * S = 1 on [0, t₁), then the running product through tᵢ on
    * [tᵢ, tᵢ₊₁). RMST(τ) = min(t₁, τ)·1 + Σᵢ Sᵢ·(min(tᵢ₊₁, τ) −
    * tᵢ)⁺ with tₖ₊₁ = τ for the last step.
    *
    * Exactness: the survival fold is the SAME ordered double product
    * as [[kaplanMeier]] (bit-identical cross-engine — each factor one
    * correctly-rounded IEEE division, `aggregate`/`list_reduce` fold
    * in the same order); each step's survival then quantizes ONCE to
    * `floor(S·1e9)` nano units, widths are exact day longs, and the
    * area accumulates as an exact BIGINT in nano·days —
    * `rmst_nano` is the integer contract (the q241/q316 convention:
    * no 6-decimal boundary for engines to disagree on), `rmst_days`
    * its one mirrored unrounded division by 1e9 (identical doubles
    * both engines, so safe without a round).
    *
    * Scale: identical to [[kaplanMeier]] (per-(group, t) counts
    * map-side combined, one sorted array per group bounded by
    * `maxTimepoints`), plus a lead window and a per-group sum over
    * the distinct-time-sized frame — nothing row-sized after the
    * first combine.
    */
  def rmst(
      df: DataFrame, groupCol: String, durationCol: Column,
      eventCol: Column, tau: Long,
      maxTimepoints: Int = 10000): DataFrame = {
    require(tau > 0, "tau must be a positive duration")
    // [[kaplanMeier]]'s emitted `survival` is rounded for display;
    // the area needs the raw fold, so this re-derives the identical
    // chain (distinct-time-sized — the re-derivation is cheap, and
    // sharing would fork the emitted-schema contract)
    val base = df.select(col(groupCol).as("__g"),
        durationCol.cast("long").as("__t"),
        eventCol.cast("boolean").as("__e"))
      .where(col("__t").isNotNull && col("__t") >= 0)
    val byTime = base.groupBy("__g", "__t")
      .agg(sum(when(col("__e"), 1L).otherwise(0L)).as("__d"),
        sum(when(col("__e"), 0L).otherwise(1L)).as("__c"))
    val w = Window.partitionBy("__g").orderBy("__t")
    val risked = byTime
      .withColumn("__tot", sum(col("__d") + col("__c"))
        .over(Window.partitionBy("__g")))
      .withColumn("__gone", coalesce(
        sum(col("__d") + col("__c"))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__n", col("__tot") - col("__gone"))
      .withColumn("__f",
        (col("__n") - col("__d")).cast("double")
          / col("__n").cast("double"))
    val grouped = risked.groupBy(col("__g"))
      .agg(sort_array(collect_list(struct(col("__t"), col("__f"))))
        .as("__rows"))
      .withColumn("__rows",
        when(size(col("__rows")) > maxTimepoints,
          raise_error(lit("rmst: distinct event times per group " +
            "exceed maxTimepoints; coarsen the duration " +
            "granularity"))
            .cast("array<struct<__t:bigint,__f:double>>"))
          .otherwise(col("__rows")))
    val stepped = grouped
      .select(col("__g"),
        posexplode(col("__rows")).as(Seq("__i", "__r")),
        col("__rows"))
      .withColumn("__surv",
        aggregate(
          slice(col("__rows").getField("__f"), lit(1), col("__i") + 1),
          lit(1.0d), (acc, x) => acc * x))
      .select(col("__g"), col("__r.__t").as("__t"), col("__surv"))
    val lw = Window.partitionBy("__g").orderBy("__t")
    val segs = stepped
      .withColumn("__nt",
        coalesce(lead(col("__t"), 1).over(lw), lit(tau)))
      .withColumn("__w",
        greatest(lit(0L), least(col("__nt"), lit(tau)) - col("__t")))
      .withColumn("__sn", floor(col("__surv") * 1e9).cast("long"))
    segs.groupBy(col("__g"))
      .agg(count(lit(1)).as("n_times"),
        (least(min(col("__t")), lit(tau)) * lit(1000000000L) +
          sum(col("__sn") * col("__w"))).as("rmst_nano"))
      .select(col("__g").as(groupCol), lit(tau).as("tau"),
        col("n_times"), col("rmst_nano"),
        (col("rmst_nano").cast("double") / 1e9).as("rmst_days"))
  }

  /** Exact ROC-AUC per group via the Mann–Whitney U statistic: the
    * probability a random positive outscores a random negative, ties
    * counting half — the rank-sum identity, never the O(n²) pair join.
    *
    * Exactness: rows collapse to one per (group, distinct score) with
    * positive/negative counts (map-side combined), a running window
    * sum gives each tie block the negatives strictly below it, and
    * `U·2 = Σ np·(2·negBelow + nn)` stays in BIGINT (the `+nn` term IS
    * the tie half-credit, doubled). AUC and the Gini index (2·AUC−1)
    * are each ONE double division at the end — the only float math.
    * Degenerate groups (no positives or no negatives) report null AUC
    * rather than an IEEE Infinity/NaN that would poison a downstream
    * aggregate.
    *
    * Shape: one grouped count (full shuffle, map-side combined) to
    * distinct-score-sized frames, then a per-group window and a
    * re-aggregation over those — cost scales with distinct scores,
    * not rows. At 100 TB with a continuous score the distinct-score
    * frame is still row-sized worst-case; pre-quantizing the score
    * (e.g. to 1e-6) bounds it with negligible AUC movement.
    */
  def rocAuc(
      df: DataFrame, groupCol: String, scoreCol: Column,
      labelCol: Column): DataFrame = {
    val base = df.select(col(groupCol).as("__g"),
        scoreCol.as("__s"), labelCol.cast("boolean").as("__y"))
      .where(col("__s").isNotNull && col("__y").isNotNull)
    val byScore = base.groupBy("__g", "__s")
      .agg(sum(when(col("__y"), 1L).otherwise(0L)).as("__np"),
        sum(when(col("__y"), 0L).otherwise(1L)).as("__nn"))
    val w = Window.partitionBy("__g").orderBy("__s")
    val u = byScore
      .withColumn("__below", coalesce(
        sum(col("__nn")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .groupBy("__g")
      .agg(sum(col("__np")).as("n_pos"), sum(col("__nn")).as("n_neg"),
        sum(col("__np") * (lit(2L) * col("__below") + col("__nn")))
          .as("__u2"))
    u.select(col("__g").as(groupCol), col("n_pos"), col("n_neg"),
      when(col("n_pos") > 0 && col("n_neg") > 0,
        round(col("__u2").cast("double")
          / (lit(2.0) * col("n_pos").cast("double")
            * col("n_neg").cast("double")), 6)).as("auc"),
      when(col("n_pos") > 0 && col("n_neg") > 0,
        round(col("__u2").cast("double")
          / (col("n_pos").cast("double") * col("n_neg").cast("double"))
          - lit(1.0), 6)).as("gini_idx"))
  }

  /** Per-group average precision (area under the precision–recall
    * curve, the step interpolation) — the ranking metric that
    * matters when positives are RARE: [[rocAuc]] is prevalence-blind
    * (a 1:10⁶ class imbalance can score 0.99 AUC while every top
    * prediction is wrong), AP weights each recall step by the
    * precision AT that step, so it collapses exactly when the top of
    * the ranking is polluted — which is why retrieval and
    * quality-filter models report AP next to AUC. `AP = Σ_k ΔTP_k ·
    * TP_k/(TP_k+FP_k) / P` over distinct scores descending (ties
    * collapse into one step, the sklearn convention).
    *
    * Exactness: per-distinct-score counts are exact BIGINTs; each
    * step's term `ΔTP·TP·10⁶ div (TP+FP)` is a micro-quantized
    * INTEGRAL division of exact DECIMAL(38,0) products
    * (quantize-before-sum), and the ONE double step is the final
    * mirrored `Σ/(10⁶·P)` division — bit-identical cross-engine.
    *
    * Scale shape, identical to [[rocAuc]]: per-(group, score) counts
    * map-side combined, one running window over DISTINCT scores per
    * group, one group-sized aggregate. Groups with no positives
    * report null AP. Returns `(group, n_pos, n_neg, avg_precision,
    * prevalence)`.
    */
  def averagePrecision(
      df: DataFrame, groupCol: String, scoreCol: Column,
      labelCol: Column): DataFrame = {
    val base = df.select(col(groupCol).as("__g"),
        scoreCol.as("__s"), labelCol.cast("boolean").as("__y"))
      .where(col("__s").isNotNull && col("__y").isNotNull)
    val byScore = base.groupBy("__g", "__s")
      .agg(sum(when(col("__y"), 1L).otherwise(0L)).as("__np"),
        sum(when(col("__y"), 0L).otherwise(1L)).as("__nn"))
    val w = Window.partitionBy("__g").orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byScore
      .withColumn("__tp", sum(col("__np")).over(w))
      .withColumn("__fp", sum(col("__nn")).over(w))
      .withColumn("__t_mu", expr(
        "CAST(CAST(__np AS DECIMAL(38,0)) * __tp * 1000000 div " +
          "(__tp + __fp) AS DECIMAL(38,0))"))
    cum.groupBy("__g")
      .agg(sum(col("__np")).as("n_pos"), sum(col("__nn")).as("n_neg"),
        sum(col("__t_mu")).as("__s_mu"))
      .select(col("__g").as(groupCol), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0L,
          round(col("__s_mu").cast("double") /
            (lit(1000000.0) * col("n_pos").cast("double")), 6))
          .as("avg_precision"),
        when(col("n_pos") + col("n_neg") > 0L,
          round(col("n_pos").cast("double") /
            (col("n_pos") + col("n_neg")).cast("double"), 6))
          .as("prevalence"))
  }

  /** Per-group operating-point selection — the step after [[rocAuc]]
    * / [[averagePrecision]] say the ranking is good: WHERE do you
    * cut? For every distinct score treated as the "predict positive
    * if score ≥ t" threshold, the exact confusion matrix is read off
    * the descending cumulative counts, and the per-group argmax rows
    * under two standard criteria are returned: max-F1 (the
    * precision/recall harmonic compromise — quality-filter tuning)
    * and max-Youden-J (TPR − FPR, the prevalence-free screening
    * cut). One row per (group, criterion), each carrying the full
    * confusion matrix and the derived metrics (precision, recall,
    * F1, J, MCC) at the chosen threshold.
    *
    * Exactness: the ARGMAX is taken over exact integers — F1 as the
    * nano-quantized integral division `2·TP·10⁹ div (2TP+FP+FN)`,
    * J on the exact `TP·N + TN·P − P·N` lattice (J scaled by P·N) —
    * with score-descending tie-break, so the chosen row is
    * bit-identical cross-engine; the displayed metrics are one
    * mirrored double division each (MCC's denominator is a √ of an
    * exact DECIMAL product, correctly rounded on both engines).
    *
    * Scale shape: per-(group, score) counts map-side combined, one
    * running window over DISTINCT scores per group, two rank-1
    * selections on the same frame — output is 2 rows per group.
    */
  def thresholdScorecard(
      df: DataFrame, groupCol: String, scoreCol: Column,
      labelCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val base = df.select(col(groupCol).as("__g"),
        scoreCol.as("__s"), labelCol.cast("boolean").as("__y"))
      .where(col("__s").isNotNull && col("__y").isNotNull)
    val byScore = base.groupBy("__g", "__s")
      .agg(sum(when(col("__y"), 1L).otherwise(0L)).as("__np"),
        sum(when(col("__y"), 0L).otherwise(1L)).as("__nn"))
    val w = Window.partitionBy("__g").orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("__g")
      .rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
    val cum = byScore
      .withColumn("__tp", sum(col("__np")).over(w))
      .withColumn("__fp", sum(col("__nn")).over(w))
      .withColumn("__p", sum(col("__np")).over(wAll))
      .withColumn("__n", sum(col("__nn")).over(wAll))
      .withColumn("__fn", col("__p") - col("__tp"))
      .withColumn("__tn", col("__n") - col("__fp"))
      .withColumn("__f1_nano", expr(
        "CAST(CAST(__tp AS DECIMAL(38,0)) * 2 * 1000000000 div " +
          "(2 * __tp + __fp + __fn) AS DECIMAL(38,0))"))
      .withColumn("__j_pn",
        dec(col("__tp")) * col("__n") + dec(col("__tn")) * col("__p")
          - dec(col("__p")) * col("__n"))
      .transform(graft.core.CacheScope.disk)
    def pick(orderCol: String, label: String): DataFrame = cum
      .withColumn("__r", row_number().over(
        Window.partitionBy("__g")
          .orderBy(col(orderCol).desc, col("__s").desc)))
      .where(col("__r") === 1)
      .withColumn("__criterion", lit(label))
    val mccNum = (dec(col("__tp")) * col("__tn") -
      dec(col("__fp")) * col("__fn")).cast("double")
    val mccDen = sqrt((dec(col("__tp") + col("__fp")) *
      dec(col("__tp") + col("__fn")) * dec(col("__tn") + col("__fp"))
      * dec(col("__tn") + col("__fn"))).cast("double"))
    pick("__f1_nano", "max_f1").unionByName(pick("__j_pn", "max_j"))
      .select(col("__g").as(groupCol),
        col("__criterion").as("criterion"),
        col("__s").as("threshold"),
        col("__tp").as("tp"), col("__fp").as("fp"),
        col("__fn").as("fn"), col("__tn").as("tn"),
        round(when(col("__tp") + col("__fp") > 0L,
          col("__tp").cast("double") /
            (col("__tp") + col("__fp")).cast("double")), 6)
          .as("precision"),
        round(when(col("__p") > 0L, col("__tp").cast("double") /
          col("__p").cast("double")), 6).as("recall"),
        round(col("__f1_nano").cast("double") / 1e9, 6).as("f1"),
        round(when(col("__p") > 0L && col("__n") > 0L,
          col("__j_pn").cast("double") /
            (dec(col("__p")) * col("__n")).cast("double")), 6)
          .as("youden_j"),
        round(when(mccDen > 0.0, mccNum / mccDen), 6).as("mcc"))
  }

  /** Per-group decile gains/lift table — the model-evaluation ranking
    * report: within each group, units ranked by score descending are
    * cut into `buckets` equal-frequency bins (ntile; ties broken by
    * `tieCol` so the cut is deterministic and engine-portable), and
    * each bin reports its response rate, cumulative capture of the
    * group's responders ("gain"), and lift vs the group's base rate.
    *
    * Exactness: every statistic is a ratio of BIGINT counts — ONE
    * double division each at the end. ntile's fill rule (the first
    * `n mod buckets` bins get the extra row) is identical in Spark
    * and ANSI SQL engines, so the binning itself is exact.
    *
    * Shape: the ntile window is PARTITIONED by group (a global cut
    * would be one unbounded single-task window — the shape
    * `rankByRange` exists to avoid; callers wanting a whole-
    * population table pass a constant group at their own scale), then
    * one grouped count to a (groups × buckets)-sized frame and
    * windows over its ≤ `buckets` rows per group. One scan, one
    * data-sized shuffle.
    */
  def gainsTable(
      df: DataFrame, groupCol: String, scoreCol: Column,
      labelCol: Column, tieCol: Column, buckets: Int = 10): DataFrame = {
    require(buckets >= 2, "gainsTable: need at least 2 buckets")
    val base = df.select(col(groupCol).as("__g"), scoreCol.as("__s"),
        labelCol.cast("boolean").as("__y"), tieCol.as("__id"))
      .where(col("__s").isNotNull && col("__y").isNotNull)
      .withColumn("__b", ntile(buckets).over(
        Window.partitionBy("__g").orderBy(col("__s").desc, col("__id"))))
    val per = base.groupBy(col("__g"), col("__b").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"))
    val w = Window.partitionBy("__g").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = Window.partitionBy("__g").rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    per
      .withColumn("__cn", sum(col("n")).over(w))
      .withColumn("__cp", sum(col("n_pos")).over(w))
      .withColumn("__tn", sum(col("n")).over(tot))
      .withColumn("__tp", sum(col("n_pos")).over(tot))
      .select(col("__g").as(groupCol), col("bucket"), col("n"),
        col("n_pos"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6)
          .as("response_rate"),
        round(col("__cp").cast("double") / col("__tp").cast("double"), 6)
          .as("cum_gain"),
        round((col("n_pos").cast("double") / col("n").cast("double"))
          / (col("__tp").cast("double") / col("__tn").cast("double")), 6)
          .as("lift"),
        round((col("__cp").cast("double") / col("__cn").cast("double"))
          / (col("__tp").cast("double") / col("__tn").cast("double")), 6)
          .as("cum_lift"))
  }

  /** Weight-of-evidence / information-value report over a pre-binned
    * feature — the classic scorecard screen: per bin, the smoothed
    * log-odds of the positive class vs the population, and the bin's
    * IV contribution; the total IV (the feature's screening score)
    * rides every row.
    *
    * Binning is the CALLER's column (fixed-width, a hash, a lookup —
    * anything shuffle-free); an equal-frequency cut would be a global
    * sort window, exactly the shape the plan gate exists to block.
    * Laplace smoothing (`smooth` added per bin, `smooth`·bins to each
    * total) keeps one-class bins finite without dropping them.
    *
    * Exactness: counts are BIGINT; shares and the `ln` ratio are
    * computed once per bin from exact integers. The IV total is a
    * ≤bins-sized double sum rounded to 6 — the benford-chi² pattern.
    *
    * Shape: one map-side-combined grouped count to a bins-sized
    * frame; totals are a one-row broadcast; everything after is
    * bins-sized.
    */
  def binnedWoe(
      df: DataFrame, binCol: Column, labelCol: Column,
      smooth: Double = 0.5): DataFrame = {
    val base = df.select(binCol.cast("long").as("bin"),
        labelCol.cast("boolean").as("__y"))
      .where(col("bin").isNotNull && col("__y").isNotNull)
    val per = base.groupBy("bin")
      .agg(sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("__y"), 0L).otherwise(1L)).as("n_neg"))
    val tot = per.agg(sum("n_pos").as("__tp"), sum("n_neg").as("__tn"),
      count(lit(1)).as("__nb"))
    val ps = (col("n_pos").cast("double") + lit(smooth)) /
      (col("__tp").cast("double") + lit(smooth) * col("__nb").cast("double"))
    val ns = (col("n_neg").cast("double") + lit(smooth)) /
      (col("__tn").cast("double") + lit(smooth) * col("__nb").cast("double"))
    val scored = per.crossJoin(broadcast(tot))
      .withColumn("__woe", log(ps / ns))
      .withColumn("__iv", (ps - ns) * col("__woe"))
    val iv = scored.agg(sum("__iv").as("__ivt"))
    scored.crossJoin(broadcast(iv))
      .select(col("bin"), col("n_pos"), col("n_neg"),
        round(col("__woe"), 6).as("woe"),
        round(col("__iv"), 6).as("iv_term"),
        round(col("__ivt"), 6).as("iv_total"))
  }

  /** Cohen's kappa inter-annotator agreement: the confusion matrix of
    * two label columns plus chance-corrected agreement, computed as
    * the exact integer ratio κ = (N·D − S) / (N² − S) where D is the
    * diagonal count and S = Σₖ rowₖ·colₖ — ONE double division, no
    * intermediate float probabilities.
    *
    * Output: one row per observed (label_a, label_b) cell with its
    * count, plus the scalar columns (n, po, pe, kappa) repeated on
    * every row — the benford-chi² shape, so the full matrix and the
    * statistic travel in one frame.
    *
    * Shape: one grouped count to a K²-sized cell frame (map-side
    * combined); margins and scalars aggregate from the cells, never
    * re-scanning the data; K² is label-domain-bounded so every join
    * is broadcast.
    */
  def cohenKappa(
      df: DataFrame, labelA: Column, labelB: Column): DataFrame = {
    val cells = df.select(labelA.cast("string").as("label_a"),
        labelB.cast("string").as("label_b"))
      .where(col("label_a").isNotNull && col("label_b").isNotNull)
      .groupBy("label_a", "label_b").agg(count(lit(1)).as("n"))
      .transform(graft.core.CacheScope.disk)
    val rows = cells.groupBy("label_a").agg(sum("n").as("__r"))
    val cols_ = cells.groupBy("label_b").agg(sum("n").as("__c"))
    val chance = rows.join(cols_, col("label_a") === col("label_b"))
      .agg(sum(col("__r") * col("__c")).as("__s"))
    val scal = cells.agg(sum("n").as("__n"),
        sum(when(col("label_a") === col("label_b"), col("n"))
          .otherwise(0L)).as("__d"))
      .crossJoin(broadcast(chance))
      .select(col("__n"), col("__d"), coalesce(col("__s"), lit(0L)).as("__s"))
    cells.crossJoin(broadcast(scal))
      .select(col("label_a"), col("label_b"), col("n"),
        col("__n").as("n_total"),
        round(col("__d").cast("double") / col("__n").cast("double"), 6)
          .as("po"),
        round(col("__s").cast("double")
          / (col("__n").cast("double") * col("__n").cast("double")), 6)
          .as("pe"),
        round((col("__n").cast("double") * col("__d").cast("double")
            - col("__s").cast("double"))
          / (col("__n").cast("double") * col("__n").cast("double")
            - col("__s").cast("double")), 6).as("kappa"))
  }

  /** Categorical-association report between two columns: χ², Cramér's
    * V, mutual information (nats), and both uncertainty coefficients
    * (Theil's U) — the feature-redundancy screen run before one-hot
    * explosion or leakage hunts.
    *
    * χ² uses the sparse identity χ² = N·(Σ_{n>0} n²/(r·c) − 1), so
    * zero cells never need densifying — no distinct×distinct grid,
    * no cross join, cost is observed-cell-sized. MI sums only over
    * observed cells by definition. Entropies come from the margin
    * frames. Every count is BIGINT; the double sums are cell-count-
    * sized and rounded (benford-chi² pattern).
    *
    * Shape: one grouped count to the cell frame, margins aggregate
    * from it, cells join margins on their labels (broadcast — margins
    * are domain-sized), scalars ride one-row broadcasts. One data-
    * sized shuffle total.
    */
  def associationReport(
      df: DataFrame, colA: Column, colB: Column): DataFrame = {
    val cells = df.select(colA.cast("string").as("__a"),
        colB.cast("string").as("__b"))
      .where(col("__a").isNotNull && col("__b").isNotNull)
      .groupBy("__a", "__b").agg(count(lit(1)).as("__n"))
      .transform(graft.core.CacheScope.disk)
    val ra = cells.groupBy("__a").agg(sum("__n").as("__r"))
      .transform(graft.core.CacheScope.disk)
    val cb = cells.groupBy("__b").agg(sum("__n").as("__c"))
      .transform(graft.core.CacheScope.disk)
    val n = cells.agg(sum("__n").as("__tt"),
      count(lit(1)).as("__cells"))
    val nA = ra.agg(count(lit(1)).as("__ra"))
    val nB = cb.agg(count(lit(1)).as("__cb"))
    val joined = cells
      .join(broadcast(ra), Seq("__a"))
      .join(broadcast(cb), Seq("__b"))
      .crossJoin(broadcast(n))
    val nD = col("__n").cast("double")
    val ND = col("__tt").cast("double")
    val rD = col("__r").cast("double")
    val cD = col("__c").cast("double")
    val sums = joined.agg(
      sum(nD * nD / (rD * cD)).as("__chiTerm"),
      sum((nD / ND) * log(nD * ND / (rD * cD))).as("__mi"))
    val hA = ra.crossJoin(broadcast(n))
      .agg(sum((col("__r").cast("double") / col("__tt").cast("double"))
        * log(col("__tt").cast("double") / col("__r").cast("double")))
        .as("__ha"))
    val hB = cb.crossJoin(broadcast(n))
      .agg(sum((col("__c").cast("double") / col("__tt").cast("double"))
        * log(col("__tt").cast("double") / col("__c").cast("double")))
        .as("__hb"))
    n.crossJoin(broadcast(nA)).crossJoin(broadcast(nB))
      .crossJoin(broadcast(sums))
      .crossJoin(broadcast(hA)).crossJoin(broadcast(hB))
      .select(col("__tt").as("n"), col("__ra").as("levels_a"),
        col("__cb").as("levels_b"),
        round(ND * (col("__chiTerm") - lit(1.0)), 4).as("chi2"),
        round(sqrt((col("__chiTerm") - lit(1.0))
          / (least(col("__ra"), col("__cb")) - lit(1L)).cast("double")), 6)
          .as("cramers_v"),
        round(col("__mi"), 6).as("mi_nats"),
        round(col("__mi") / col("__ha"), 6).as("u_a_given_b"),
        round(col("__mi") / col("__hb"), 6).as("u_b_given_a"))
  }

  /** Isotonic (monotone non-decreasing) calibration over pre-binned
    * scores, per group — pool-adjacent-violators WITHOUT the
    * sequential pooling loop: the min-max identity
    * `iso_i = max_{k≤i} min_{j≥i} avg(k..j)` over interval averages
    * of prefix sums. O(B³) arithmetic per group in one expression —
    * distributed PAV with no driver round-trips, exact because every
    * interval average is ONE division of BIGINT prefix-sum
    * differences and min/max over those doubles is order-free.
    *
    * Binning is the CALLER's column (same contract as [[binnedWoe]]).
    * Bin count per group is guarded by `maxBins` (default 256:
    * ≤ 2^24 multiplies per group, sub-second; calibration bins in
    * practice are ≤ 100) via the kaplanMeier raise_error pattern.
    *
    * Shape: one map-side-combined grouped count to a (group × bin)
    * frame, one sorted array per group, pure expression arithmetic,
    * posexplode back to rows. The only data-sized stage is the first
    * count.
    */
  def isotonicCalibration(
      df: DataFrame, groupCol: String, binCol: Column,
      labelCol: Column, maxBins: Int = 256): DataFrame = {
    val base = df.select(col(groupCol).as("__g"),
        binCol.cast("long").as("__b"),
        labelCol.cast("boolean").as("__y"))
      .where(col("__b").isNotNull && col("__y").isNotNull)
    val bins = base.groupBy("__g", "__b")
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("__p"))
    val grouped = bins.groupBy("__g")
      .agg(sort_array(collect_list(struct(col("__b"), col("__n"),
        col("__p")))).as("__rows"))
      .withColumn("__rows",
        when(size(col("__rows")) > maxBins,
          raise_error(lit("isotonicCalibration: bins per group " +
            "exceed maxBins; coarsen the binning")).cast(
            "array<struct<__b:bigint,__n:bigint,__p:bigint>>"))
          .otherwise(col("__rows")))
      .withColumn("__len", size(col("__rows")))
    // prefix sums with a leading 0 so element_at(cp, k) = cp_{k-1}
    // under 1-based k (the interval (k..j) average needs cp_j − cp_{k−1})
    def prefix(field: String) = concat(array(lit(0L)),
      transform(sequence(lit(1), col("__len")), i =>
        aggregate(slice(col("__rows").getField(field), lit(1), i),
          lit(0L), (acc, x) => acc + x)))
    val withPrefix = grouped
      .withColumn("__cn", prefix("__n"))
      .withColumn("__cp", prefix("__p"))
    val iso = transform(sequence(lit(1), col("__len")), i =>
      array_max(transform(sequence(lit(1), i), k =>
        array_min(transform(sequence(i, col("__len")), j =>
          (element_at(col("__cp"), j + 1) - element_at(col("__cp"), k))
            .cast("double")
            / (element_at(col("__cn"), j + 1) - element_at(col("__cn"), k))
            .cast("double"))))))
    withPrefix.withColumn("__iso", iso)
      .select(col("__g"), posexplode(col("__rows")).as(Seq("__i", "__r")),
        col("__iso"))
      .select(col("__g").as(groupCol), col("__r.__b").as("bin"),
        col("__r.__n").as("n"), col("__r.__p").as("n_pos"),
        round(col("__r.__p").cast("double")
          / col("__r.__n").cast("double"), 6).as("raw_rate"),
        round(element_at(col("__iso"), col("__i") + 1), 6)
          .as("iso_rate"))
  }

  /** Simpson's-paradox screen: a binary-cohort rate difference
    * overall vs within every stratum, flagging strata whose
    * difference REVERSES the aggregate's sign — the aggregation-
    * reversal audit run before any cohort comparison ships.
    *
    * Exactness: rates are ratios of BIGINT counts (one division
    * each); the reversal flag multiplies two exact differences'
    * signs. Strata where either cohort is empty report null rates
    * and flag 0 (no evidence, not a reversal).
    *
    * Shape: one map-side-combined grouped count per stratum plus one
    * ungrouped aggregate for the overall row (a one-row broadcast
    * cross join — the plan gate's allowed scalar shape). One scan,
    * one shuffle.
    */
  def simpsonScreen(
      df: DataFrame, cohortCol: Column, stratumCol: Column,
      labelCol: Column): DataFrame = {
    val base = df.select(cohortCol.cast("boolean").as("__a"),
        stratumCol.cast("string").as("__s"),
        labelCol.cast("boolean").as("__y"))
      .where(col("__a").isNotNull && col("__y").isNotNull &&
        col("__s").isNotNull)
    val aggs = Seq(
      sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
      sum(when(col("__a") && col("__y"), 1L).otherwise(0L)).as("pos_a"),
      sum(when(!col("__a"), 1L).otherwise(0L)).as("n_b"),
      sum(when(!col("__a") && col("__y"), 1L).otherwise(0L)).as("pos_b"))
    val strata = base.groupBy(col("__s")).agg(aggs.head, aggs.tail: _*)
    val overall = base.agg(aggs.head, aggs.tail: _*)
      .select(col("n_a").as("__ona"), col("pos_a").as("__opa"),
        col("n_b").as("__onb"), col("pos_b").as("__opb"))
    def rate(p: Column, n: Column) =
      when(n > 0, p.cast("double") / n.cast("double"))
    val joined = strata.crossJoin(broadcast(overall))
      .withColumn("__ra", rate(col("pos_a"), col("n_a")))
      .withColumn("__rb", rate(col("pos_b"), col("n_b")))
      .withColumn("__ora", rate(col("__opa"), col("__ona")))
      .withColumn("__orb", rate(col("__opb"), col("__onb")))
      .withColumn("__d", col("__ra") - col("__rb"))
      .withColumn("__od", col("__ora") - col("__orb"))
    joined.select(col("__s").as("stratum"),
      col("n_a"), col("pos_a"), col("n_b"), col("pos_b"),
      round(col("__ra"), 6).as("rate_a"),
      round(col("__rb"), 6).as("rate_b"),
      round(col("__d"), 6).as("diff"),
      round(col("__od"), 6).as("overall_diff"),
      coalesce((col("__d") * col("__od") < 0).cast("int"), lit(0))
        .as("reversal"))
  }

  /** Hash-randomization test for a two-cohort mean difference: R
    * deterministic pseudo-random relabelings of the per-unit values
    * (md5-keyed Bernoulli assignment — the approximate permutation
    * test, group sizes free, the standard large-sample variant), the
    * observed difference's rank among them, and the resulting
    * p-value (1 + #extreme)/(R_valid + 1).
    *
    * Determinism across engines: assignment is
    * `int(md5(salt:r:unit)[0:8], 16) mod 2` — the Carter-Wegman md5
    * pattern every dedup family here uses, byte-identical in any
    * engine with md5. Per-replica means divide exact BIGINT sums
    * once; the extremeness comparison compares identically-built
    * doubles. Replicas that draw an empty side are excluded from
    * both numerator and denominator (`r_valid`).
    *
    * Shape: units collapse map-side to one row each (data-sized);
    * the replica frame is units × R (the documented cost — R
    * bounds it, default 199) aggregating straight down to R rows.
    * No global sort, no window.
    */
  def permutationTest(
      df: DataFrame, unitCol: Column, valueCol: Column,
      cohortCol: Column, replicas: Int = 199,
      salt: String = "perm"): DataFrame = {
    val units = df.select(unitCol.cast("string").as("__u"),
        valueCol.cast("long").as("__v"),
        cohortCol.cast("boolean").as("__a"))
      .where(col("__u").isNotNull && col("__a").isNotNull)
      .groupBy("__u", "__a").agg(sum("__v").as("__v"))
    val obs = units.agg(
        sum(when(col("__a"), col("__v")).otherwise(0L)).as("__sa"),
        sum(when(col("__a"), 1L).otherwise(0L)).as("__na"),
        sum(when(!col("__a"), col("__v")).otherwise(0L)).as("__sb"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__nb"))
      .select(col("__na"), col("__nb"),
        (col("__sa").cast("double") / col("__na").cast("double")
          - col("__sb").cast("double") / col("__nb").cast("double"))
          .as("__obs"))
    val assigned = units
      .select(col("__u"), col("__v"),
        explode(sequence(lit(0), lit(replicas - 1))).as("__r"))
      .withColumn("__flip",
        conv(substring(md5(concat_ws(":", lit(salt), col("__r"),
          col("__u"))), 1, 8), 16, 10).cast("long") % 2)
    val perReplica = assigned.groupBy("__r")
      .agg(sum(when(col("__flip") === 0, col("__v")).otherwise(0L))
          .as("__sa"),
        sum(when(col("__flip") === 0, 1L).otherwise(0L)).as("__na"),
        sum(when(col("__flip") === 1, col("__v")).otherwise(0L))
          .as("__sb"),
        sum(when(col("__flip") === 1, 1L).otherwise(0L)).as("__nb"))
      .where(col("__na") > 0 && col("__nb") > 0)
      .select((col("__sa").cast("double") / col("__na").cast("double")
        - col("__sb").cast("double") / col("__nb").cast("double"))
        .as("__d"))
    val tally = perReplica.crossJoin(broadcast(obs))
      .agg(count(lit(1)).as("r_valid"),
        sum((abs(col("__d")) >= abs(col("__obs"))).cast("long"))
          .as("n_extreme"))
    obs.crossJoin(broadcast(tally))
      .select(col("__na").as("n_a"), col("__nb").as("n_b"),
        round(col("__obs"), 4).as("obs_diff"),
        col("r_valid"), col("n_extreme"),
        round((col("n_extreme").cast("double") + lit(1.0))
          / (col("r_valid").cast("double") + lit(1.0)), 6)
          .as("p_value"))
  }

  /** Per-group [[permutationTest]] — the segment SCREEN: one
    * hash-randomization mean-difference test per group, all groups in
    * one plan (grouped aggregates replace the single test's global
    * ones; the observed/tally joins are group-keyed instead of
    * broadcast one-rows). The flip draw stays keyed
    * `md5(salt:r:unit)` WITHOUT the group — a unit appearing in
    * several segments flips consistently, which leaves every
    * segment's test marginally exact and keeps the assignment frame
    * one hash per (unit, replica).
    *
    * Emits the exact rational p-value's two integer legs
    * (`n_extreme`, `r_valid`) alongside the rounded `p_value`, so a
    * multiple-testing step ([[bhSelect]]) can compare p-values in
    * EXACT integer arithmetic — the screen→select composition is
    * float-free end to end. Groups whose every replica drew an empty
    * side report null r_valid/p_value.
    *
    * Scale shape: units collapse map-side to one row per (group,
    * unit, cohort); the replica frame is that × R (R-bounded,
    * default 199) aggregating to groups × R rows; everything after
    * is group-domain-sized.
    *
    * Returns `(group…, n_a, n_b, obs_diff, r_valid, n_extreme,
    * p_value)`.
    */
  def permutationTests(
      df: DataFrame, groupCols: Seq[String], unitCol: Column,
      valueCol: Column, cohortCol: Column, replicas: Int = 199,
      salt: String = "perm"): DataFrame = {
    val units = df.select(groupCols.map(col) ++ Seq(
        unitCol.cast("string").as("__u"),
        valueCol.cast("long").as("__v"),
        cohortCol.cast("boolean").as("__a")): _*)
      .where(col("__u").isNotNull && col("__a").isNotNull)
      .groupBy(groupCols.map(col) ++ Seq(col("__u"), col("__a")): _*)
      .agg(sum("__v").as("__v"))
      .transform(graft.core.CacheScope.disk)
    val obs = units.groupBy(groupCols.map(col): _*)
      .agg(
        sum(when(col("__a"), col("__v")).otherwise(0L)).as("__sa"),
        sum(when(col("__a"), 1L).otherwise(0L)).as("__na"),
        sum(when(!col("__a"), col("__v")).otherwise(0L)).as("__sb"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__nb"))
      .select(groupCols.map(col) ++ Seq(col("__na"), col("__nb"),
        (col("__sa").cast("double") / col("__na").cast("double")
          - col("__sb").cast("double") / col("__nb").cast("double"))
          .as("__obs")): _*)
    val assigned = units
      .select(groupCols.map(col) ++ Seq(col("__u"), col("__v"),
        explode(sequence(lit(0), lit(replicas - 1))).as("__r")): _*)
      .withColumn("__flip",
        conv(substring(md5(concat_ws(":", lit(salt), col("__r"),
          col("__u"))), 1, 8), 16, 10).cast("long") % 2)
    val perReplica = assigned
      .groupBy(groupCols.map(col) :+ col("__r"): _*)
      .agg(sum(when(col("__flip") === 0, col("__v")).otherwise(0L))
          .as("__sa"),
        sum(when(col("__flip") === 0, 1L).otherwise(0L)).as("__na"),
        sum(when(col("__flip") === 1, col("__v")).otherwise(0L))
          .as("__sb"),
        sum(when(col("__flip") === 1, 1L).otherwise(0L)).as("__nb"))
      .where(col("__na") > 0 && col("__nb") > 0)
      .select(groupCols.map(col) :+
        (col("__sa").cast("double") / col("__na").cast("double")
          - col("__sb").cast("double") / col("__nb").cast("double"))
          .as("__d"): _*)
    val tally = perReplica
      .join(obs.select(groupCols.map(col) :+ col("__obs"): _*),
        groupCols)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("r_valid"),
        sum((abs(col("__d")) >= abs(col("__obs"))).cast("long"))
          .as("n_extreme"))
    obs.join(tally, groupCols.toSeq, "left")
      .select(groupCols.map(col) ++ Seq(
        col("__na").as("n_a"), col("__nb").as("n_b"),
        round(col("__obs"), 4).as("obs_diff"),
        col("r_valid"), col("n_extreme"),
        round((col("n_extreme").cast("double") + lit(1.0))
          / (col("r_valid").cast("double") + lit(1.0)), 6)
          .as("p_value")): _*)
  }

  /** Benjamini–Hochberg step-up selection at FDR level
    * `alphaMilli/1000` over EXACT rational p-values `pNum/pDen` (e.g.
    * [[permutationTests]]' `(n_extreme+1, r_valid+1)`) — the
    * multiple-testing control a segment screen needs before anyone
    * acts on it: testing 10,000 segments at α = 0.05 hands you ~500
    * false alarms; BH bounds the FALSE-DISCOVERY RATE instead. Ranks
    * p ascending (ties broken by idCols) and selects every test up to
    * the largest k with `p_(k) ≤ k·α/m`.
    *
    * Exactness: the step-up comparison is pure integer
    * cross-multiplication — `pNum·m·1000 ≤ k·alphaMilli·pDen` — so
    * the selection boundary can never flip on a float ulp (bound:
    * products stay under 2^63 for pNum, pDen ≤ ~10⁶ and m ≤ ~10⁹,
    * any realistic screen). The rank itself orders by p as a double,
    * exact for small-integer rationals (distinct rationals with
    * denominators ≤ ~2²⁶ map to distinct doubles).
    *
    * Scale shape: input is test-domain-sized (one row per segment),
    * never data-sized; the rank is the range-exchange two-pass
    * [[rankByRange]] (no single-task global window), m and k_max are
    * one-row broadcasts.
    *
    * Returns `(id…, p_value, rank, bh_critical, selected)` ordered by
    * caller; `bh_critical = k·α/m`, `selected` 1/0.
    */
  def bhSelect(
      tests: DataFrame, idCols: Seq[String], pNumCol: Column,
      pDenCol: Column, alphaMilli: Int): DataFrame = {
    require(alphaMilli >= 1 && alphaMilli <= 999,
      "alphaMilli in [1, 999]")
    val t = tests.select(idCols.map(col) ++ Seq(
        pNumCol.cast("long").as("__pn"),
        pDenCol.cast("long").as("__pd")): _*)
      .where(col("__pn").isNotNull && col("__pd") > 0L)
      .withColumn("__p",
        col("__pn").cast("double") / col("__pd").cast("double"))
      .withColumn("__g", lit(1))
    val ranked = rankByRange(t, Seq("__g"),
        col("__p").asc +: idCols.map(col(_).asc), "__k")
      .transform(graft.core.CacheScope.disk)
    val m = ranked.agg(count(lit(1)).as("__m"))
    val withM = ranked.crossJoin(broadcast(m))
    val pass = col("__pn") * col("__m") * lit(1000L) <=
      col("__k") * lit(alphaMilli.toLong) * col("__pd")
    val kmax = withM.where(pass)
      .agg(max(col("__k")).as("__kmax"))
    withM.crossJoin(broadcast(kmax))
      .select(idCols.map(col) ++ Seq(
        round(col("__p"), 6).as("p_value"),
        col("__k").as("rank"),
        round((col("__k") * lit(alphaMilli.toLong)).cast("double") /
          (col("__m") * lit(1000L)).cast("double"), 6)
          .as("bh_critical"),
        (col("__k") <= coalesce(col("__kmax"), lit(0L))).cast("int")
          .as("selected")): _*)
  }

  /** Cumulative Poisson(1) CDF thresholds scaled to 32-bit integer
    * space: weight = #{k : u ≥ T_k} for a 32-bit md5 uniform u — the
    * Poisson-bootstrap draw as PURE INTEGER comparisons (no float
    * compare, no RNG state). Interpolated verbatim into the SQL
    * oracle so both engines draw identical weights.
    */
  private[graft] val poissonThresholds: Seq[Long] =
    (0 to 8).map { k =>
      val cdf = (0 to k).map { i =>
        var fi = 1.0; (1 to i).foreach(j => fi *= j)
        math.exp(-1.0) / fi
      }.sum
      (cdf * 4294967296.0).toLong
    }

  /** Poisson bootstrap confidence interval for a pooled ratio metric
    * (Σnum/Σden — revenue per order, CTR, cost per token): R
    * deterministic replicates where each unit's weight is a
    * Poisson(1) draw keyed by md5(salt:r:unit) — the bootstrap that
    * needs NO resampling shuffle (Chamandy et al., "Estimating
    * uncertainty for massive data streams"), so it runs as one
    * R-fan-out aggregation at any scale.
    *
    * Determinism: weights are integer threshold-counts over the
    * 32-bit md5 value ([[poissonThresholds]] — no float compare);
    * each replicate's ratio is ONE division of exact BIGINT weighted
    * sums; the CI bounds are order statistics of the sorted replicate
    * array picked by exact integer index (ceil(α/2·R)), and the
    * bootstrap mean folds the SORTED array so even its rounding is
    * engine-identical. Zero-denominator replicates drop from the
    * order statistics (`r_valid` reports the survivors).
    *
    * Shape: units collapse map-side; the replica frame is units × R
    * (the documented, R-bounded cost) aggregating straight to R
    * rows; the final fold is one ≤R-element array. R ≤ 999 guard
    * keeps the array driver-friendly.
    */
  def bootstrapRatioCI(
      df: DataFrame, unitCol: Column, numCol: Column, denCol: Column,
      replicas: Int = 199, alpha: Double = 0.05,
      salt: String = "boot"): DataFrame = {
    require(replicas >= 19 && replicas <= 999,
      "replicas must be in [19, 999]")
    require(alpha > 0 && alpha < 0.5, "alpha must be in (0, 0.5)")
    val units = df.select(unitCol.cast("string").as("__u"),
        numCol.cast("long").as("__num"), denCol.cast("long").as("__den"))
      .where(col("__u").isNotNull)
      .groupBy("__u")
      .agg(sum("__num").as("__num"), sum("__den").as("__den"))
    val obs = units.agg(sum("__num").as("__tn"), sum("__den").as("__td"),
        count(lit(1)).as("__nu"))
      .select(col("__nu"), (col("__tn").cast("double")
        / col("__td").cast("double")).as("__obs"))
    val u32 = conv(substring(md5(concat_ws(":", lit(salt), col("__r"),
      col("__u"))), 1, 8), 16, 10).cast("long")
    val weight = poissonThresholds
      .map(t => when(u32 >= t, 1L).otherwise(0L))
      .reduce(_ + _)
    val perReplica = units
      .select(col("__u"), col("__num"), col("__den"),
        explode(sequence(lit(0), lit(replicas - 1))).as("__r"))
      .withColumn("__w", weight)
      .groupBy("__r")
      .agg(sum(col("__w") * col("__num")).as("__wn"),
        sum(col("__w") * col("__den")).as("__wd"))
      .where(col("__wd") > 0)
      .select((col("__wn").cast("double") / col("__wd").cast("double"))
        .as("__ratio"))
    val folded = perReplica
      .agg(sort_array(collect_list(col("__ratio"))).as("__rs"))
      .select(col("__rs"), size(col("__rs")).as("__rv"))
      .withColumn("__lo", greatest(
        ceil(lit(alpha / 2) * col("__rv")).cast("int"), lit(1)))
      .withColumn("__hi",
        ceil(lit(1.0 - alpha / 2) * col("__rv")).cast("int"))
    obs.crossJoin(broadcast(folded))
      .select(col("__nu").as("n_units"),
        col("__rv").cast("long").as("r_valid"),
        round(col("__obs"), 6).as("obs_ratio"),
        round(aggregate(col("__rs"), lit(0.0), (a, x) => a + x)
          / col("__rv").cast("double"), 6).as("boot_mean"),
        round(element_at(col("__rs"), col("__lo")), 6).as("ci_lo"),
        round(element_at(col("__rs"), col("__hi")), 6).as("ci_hi"))
  }

  /** Wilson score interval per group — the small-sample-honest
    * confidence bounds for a conversion/defect/success RATE (the
    * Wald ±z√(p(1−p)/n) interval collapses to zero width at p∈{0,1}
    * and goes negative near the edges; Wilson is the standard fix a
    * rate dashboard should ship). Per group: trials, successes, the
    * raw rate, and the z-score interval
    * `(p + z²/2n ± z·√(p(1−p)/n + z²/4n²)) / (1 + z²/n)`.
    *
    * Cross-engine exactness: the formula uses only +, −, ×, ÷ and
    * `sqrt` — ALL correctly-rounded IEEE-754 core operations — over
    * values derived from exact integer counts, so engine and oracle
    * produce bit-identical doubles with no quantization step needed
    * (`pow`/`ln`, which are NOT correctly rounded, never appear; the
    * [[graft.dedup.Dedup.lshPlan]] argument). One map-side-combined
    * grouped count; output is group-domain-sized.
    *
    * Returns `(groupCols…, n, successes, rate, wilson_lo, wilson_hi)`
    * rounded to 6; zero-trial groups cannot occur (a group exists only
    * through its rows).
    */
  def wilsonRates(
      df: DataFrame, groupCols: Seq[String], success: Column,
      z: Double = 1.96): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    require(z > 0, "z must be positive")
    val g = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(success, 1L).otherwise(0L)).as("successes"))
    val nD = col("n").cast("double")
    val p = col("successes").cast("double") / nD
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / nD
    val center = p + z2 / (lit(2.0) * nD)
    val half = lit(z) * sqrt(p * (lit(1.0) - p) / nD +
      z2 / (lit(4.0) * nD * nD))
    g.select(groupCols.map(col) ++ Seq(
      col("n"), col("successes"),
      round(p, 6).as("rate"),
      round((center - half) / denom, 6).as("wilson_lo"),
      round((center + half) / denom, 6).as("wilson_hi")): _*)
  }

  /** Empirical-Bayes (beta-binomial) rate shrinkage — the fix for
    * ranking groups by a rate when group sizes vary wildly: a 2/2
    * seller must not outrank a 950/1000 one. A Beta(α, β) prior is
    * fit to the BETWEEN-group rate spread by method of moments
    * (`α+β = m(1−m)/v − 1`), and each group's estimate shrinks toward
    * the prior mean by exactly as much as its evidence is thin:
    * `(s + α)/(n + α + β)`.
    *
    * Determinism: group counts are exact integers; the prior moments
    * fold the SORTED rate array (collect to one group-domain-sized
    * array, `sort_array`, then a sequential `aggregate` fold — the
    * [[bootstrapRatioCI]] treatment), so even the float summation
    * order is pinned and an oracle replays it with the same left
    * fold. The collect is bounded by the GROUP DOMAIN (a rate table,
    * never row data). Degenerate priors fall back loudly-by-value:
    * v = 0 (all rates equal) or a non-positive `α+β` (spread wider
    * than binomial allows — MoM invalid) yield null shrunk rates and
    * a zero `prior_strength`, leaving raw rates authoritative.
    *
    * Returns `(group, n, successes, rate, shrunk_rate, prior_mean,
    * prior_strength)` rounded to 6.
    */
  def ebShrinkRates(
      df: DataFrame, groupCol: String, success: Column): DataFrame = {
    val g = df.groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n"),
        sum(when(success, 1L).otherwise(0L)).as("successes"))
      .transform(graft.core.CacheScope.disk)
    val rates = g.select(
      (col("successes").cast("double") / col("n").cast("double"))
        .as("__p"))
    val prior = rates
      .agg(sort_array(collect_list(col("__p"))).as("__ps"))
      .select(col("__ps"), size(col("__ps")).as("__k"))
      .withColumn("__m",
        aggregate(col("__ps"), lit(0.0), (a, x) => a + x)
          / col("__k").cast("double"))
      .withColumn("__v",
        when(col("__k") < 2, lit(0.0)).otherwise(
          aggregate(col("__ps"), lit(0.0),
            (a, x) => a + (x - col("__m")) * (x - col("__m")))
            / (col("__k") - 1).cast("double")))
      .withColumn("__s",
        when(col("__v") > 0,
          col("__m") * (lit(1.0) - col("__m")) / col("__v") - 1.0)
          .otherwise(lit(null).cast("double")))
      .select(col("__m"), when(col("__s") > 0, col("__s")).as("__s"))
    g.crossJoin(broadcast(prior))
      .select(col("group"), col("n"), col("successes"),
        round(col("successes").cast("double") / col("n").cast("double"),
          6).as("rate"),
        round((col("successes").cast("double") + col("__s") * col("__m"))
          / (col("n").cast("double") + col("__s")), 6).as("shrunk_rate"),
        round(col("__m"), 6).as("prior_mean"),
        round(coalesce(col("__s"), lit(0.0)), 6).as("prior_strength"))
  }

  /** Qini uplift curve over caller-supplied score bins: per bin
    * (descending score), treated/control counts and responders, the
    * bin's uplift, and the cumulative Qini coefficient
    * Q_k = Rt_k − Rc_k·(Nt_k/Nc_k) — the incremental-response audit
    * a targeting model ships with.
    *
    * Bins are the caller's shuffle-free column (the [[binnedWoe]]
    * contract); cumulative sums run as ONE sorted-array fold per the
    * kaplanMeier pattern (no unpartitioned window — the plan-gate
    * shape), guarded by `maxBins`. Counts are BIGINT; uplift and
    * Qini divide once per row.
    */
  def qiniCurve(
      df: DataFrame, binCol: Column, treatedCol: Column,
      labelCol: Column, maxBins: Int = 256): DataFrame = {
    val base = df.select(binCol.cast("long").as("__b"),
        treatedCol.cast("boolean").as("__t"),
        labelCol.cast("boolean").as("__y"))
      .where(col("__b").isNotNull && col("__t").isNotNull &&
        col("__y").isNotNull)
    val bins = base.groupBy("__b").agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("__nt"),
      sum(when(col("__t") && col("__y"), 1L).otherwise(0L)).as("__rt"),
      sum(when(!col("__t"), 1L).otherwise(0L)).as("__nc"),
      sum(when(!col("__t") && col("__y"), 1L).otherwise(0L)).as("__rc"))
    val grouped = bins
      .agg(sort_array(collect_list(struct((col("__b") * -1).as("__nb"),
        col("__b"), col("__nt"), col("__rt"), col("__nc"), col("__rc"))))
        .as("__rows"))
      .withColumn("__rows",
        when(size(col("__rows")) > maxBins,
          raise_error(lit("qiniCurve: bins exceed maxBins; coarsen " +
            "the binning")).cast("array<struct<__nb:bigint," +
            "__b:bigint,__nt:bigint,__rt:bigint,__nc:bigint," +
            "__rc:bigint>>"))
          .otherwise(col("__rows")))
    def prefix(field: String) =
      transform(sequence(lit(1), size(col("__rows"))), i =>
        aggregate(slice(col("__rows").getField(field), lit(1), i),
          lit(0L), (acc, x) => acc + x))
    val withCums = grouped
      .withColumn("__cnt", prefix("__nt"))
      .withColumn("__crt", prefix("__rt"))
      .withColumn("__cnc", prefix("__nc"))
      .withColumn("__crc", prefix("__rc"))
    def at(c: String) = element_at(col(c), col("__i") + 1)
    withCums
      .select(posexplode(col("__rows")).as(Seq("__i", "__row")),
        col("__cnt"), col("__crt"), col("__cnc"), col("__crc"))
      .select(col("__row.__b").as("bin"),
        col("__row.__nt").as("n_treated"),
        col("__row.__rt").as("r_treated"),
        col("__row.__nc").as("n_control"),
        col("__row.__rc").as("r_control"),
        round(when(col("__row.__nt") > 0 && col("__row.__nc") > 0,
          col("__row.__rt").cast("double")
            / col("__row.__nt").cast("double")
          - col("__row.__rc").cast("double")
            / col("__row.__nc").cast("double")), 6).as("uplift"),
        round(when(at("__cnc") > 0,
          at("__crt").cast("double") - at("__crc").cast("double")
            * (at("__cnt").cast("double") / at("__cnc").cast("double"))),
          4).as("cum_qini"))
  }

  /** Disparate-impact (four-fifths rule) audit: per group, the
    * positive-outcome rate and its ratio to the most-favored group's
    * rate, with the EEOC 80 % flag decided by EXACT cross-
    * multiplication — `5·p_g·N < 4·P·n_g` over BIGINTs, so a group
    * sitting on the boundary can't flip with the engine's float
    * rounding. The most-favored group is the micro-quantized rate
    * argmax (ties to the smaller group name) and rides a one-row
    * broadcast.
    *
    * Shape: one map-side-combined grouped count + one bounded argmax
    * aggregate; everything after is group-count-sized. Empty-group
    * division can't occur (groups come from observed rows).
    */
  def disparateImpact(
      df: DataFrame, groupCol: String, labelCol: Column): DataFrame = {
    val per = df.select(col(groupCol).cast("string").as("__g"),
        labelCol.cast("boolean").as("__y"))
      .where(col("__g").isNotNull && col("__y").isNotNull)
      .groupBy("__g")
      .agg(count(lit(1)).as("n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"))
      .transform(graft.core.CacheScope.disk)
    val withRm = per.withColumn("__rm",
      floor(lit(1000000L) * col("n_pos").cast("double")
        / col("n").cast("double")).cast("long"))
    val mx = withRm.agg(max("__rm").as("__mx"))
    val best = withRm.crossJoin(broadcast(mx))
      .where(col("__rm") === col("__mx"))
      .agg(min_by(struct(col("n").as("bn"), col("n_pos").as("bp")),
        col("__g")).as("__b"))
      .select(col("__b.bn").as("__bn"), col("__b.bp").as("__bp"))
    per.crossJoin(broadcast(best))
      .select(col("__g").as(groupCol), col("n"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6)
          .as("rate"),
        round((col("n_pos").cast("double") * col("__bn").cast("double"))
          / (col("n").cast("double") * col("__bp").cast("double")), 6)
          .as("impact_ratio"),
        (lit(5L) * col("n_pos") * col("__bn") <
          lit(4L) * col("__bp") * col("n")).cast("int")
          .as("four_fifths_flag"))
  }

  /** CUPED variance reduction (Deng et al. 2013): adjust a per-unit
    * experiment metric by its pre-period covariate,
    * ŷ = ȳ_arm − θ·(x̄_arm − x̄), θ = cov(x,y)/var(x) pooled — the
    * standard A/B sensitivity lift; ρ² is the variance removed.
    *
    * Determinism: every moment (Σx, Σy, Σx², Σy², Σxy, n) is an exact
    * BIGINT from integer-valued unit metrics — the caller's Int64
    * contract: pick units (cents, dollars) so Σx·y fits long — and θ,
    * ρ², and the adjusted means are fixed arithmetic over those longs
    * (long→double conversion is correctly rounded, so any engine
    * computing the same shapes from the same longs agrees bit-for-
    * bit). No order-dependent float summation anywhere.
    *
    * Shape: ONE ungrouped aggregate (pooled moments, one-row
    * broadcast) + one per-arm aggregate off the same scan shape.
    * Degenerate var(x) = 0 reports null θ/adjusted means rather than
    * an IEEE artifact.
    */
  def cuped(
      df: DataFrame, cohortCol: Column, preCol: Column,
      postCol: Column): DataFrame = {
    val base = df.select(cohortCol.cast("boolean").as("__a"),
        preCol.cast("long").as("__x"), postCol.cast("long").as("__y"))
      .where(col("__a").isNotNull && col("__x").isNotNull &&
        col("__y").isNotNull)
    val pooled = base.agg(count(lit(1)).as("__n"),
      sum("__x").as("__sx"), sum("__y").as("__sy"),
      sum(col("__x") * col("__x")).as("__sxx"),
      sum(col("__y") * col("__y")).as("__syy"),
      sum(col("__x") * col("__y")).as("__sxy"))
    val arms = base.groupBy(col("__a"))
      .agg(count(lit(1)).as("n"), sum("__x").as("__ax"),
        sum("__y").as("__ay"))
    val nD = col("__n").cast("double")
    // NB: continuation lines must not START with the minus (Scala's
    // semicolon inference would end the expression at the line break
    // and silently discard the subtraction)
    val covN = (nD * col("__sxy").cast("double")) -
      (col("__sx").cast("double") * col("__sy").cast("double"))
    val varXN = (nD * col("__sxx").cast("double")) -
      (col("__sx").cast("double") * col("__sx").cast("double"))
    val varYN = (nD * col("__syy").cast("double")) -
      (col("__sy").cast("double") * col("__sy").cast("double"))
    val theta = when(varXN > 0, covN / varXN)
    val joined = arms.crossJoin(broadcast(pooled))
      .withColumn("__theta", theta)
      .withColumn("__mx", col("__ax").cast("double") / col("n").cast("double"))
      .withColumn("__my", col("__ay").cast("double") / col("n").cast("double"))
      .withColumn("__gx", col("__sx").cast("double") / nD)
    joined.select(col("__a").cast("int").as("cohort"),
      col("n"),
      round(col("__mx"), 4).as("mean_pre"),
      round(col("__my"), 4).as("mean_post"),
      round(col("__my") - col("__theta") * (col("__mx") - col("__gx")), 4)
        .as("adjusted_mean"),
      round(col("__theta"), 6).as("theta"),
      round(when(varXN > 0 && varYN > 0,
        (covN * covN) / (varXN * varYN)), 6).as("rho2"))
  }

  /** Theil-T inequality index with exact within/between
    * decomposition — the concentration reading q89's Gini can't
    * give: Theil is ADDITIVELY DECOMPOSABLE, `T = Σ_g s_g·T_g +
    * T_between` (s_g the group's value share), so the table answers
    * "is spend concentration a within-segment phenomenon or a
    * between-segment one" exactly — the question a mixture-rebalance
    * or key-salting decision actually needs.
    *
    * Exactness: values arrive as caller-quantized integer units;
    * every ratio inside a ln is exact (`x/μ_g = x·n_g/S_g`,
    * `s_g/p_g = S_g·n / (S·n_g)` — HUGEINT/DECIMAL products, one
    * double division), each per-row / per-group term is
    * floor-nano-quantized BEFORE its sum (the order-free
    * integer-aggregation treatment), and the reported identity
    * `T_total = Σ s_g·T_g + T_between` is checked by construction:
    * `theil` on the total row IS that sum of quantized parts, so the
    * decomposition is exact to the artifact, not to float luck.
    * Non-positive values are excluded (ln domain — Theil is defined
    * on positive quantities); the excluded count is visible as
    * n-vs-input-rows.
    *
    * Scale shape: one grouped sum (map-side combined), per-row terms
    * against broadcast group moments, one more grouped sum;
    * between-group terms are group-domain-sized. Output: one row per
    * group plus a `__total__` row carrying the decomposition.
    *
    * Returns `(group, n, value_sum, theil, theil_between,
    * theil_within_weighted)` — the last two null except on
    * `__total__`.
    */
  def theilDecomposition(
      df: DataFrame, groupCol: String, valueCents: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val rows = df
      .select(col(groupCol).cast("string").as("__g"),
        valueCents.cast("long").as("__x"))
      .where(col("__x").isNotNull && col("__x") > 0 &&
        col("__g").isNotNull)
      .transform(graft.core.CacheScope.disk)
    val grp = rows.groupBy("__g")
      .agg(count(lit(1)).as("__n"), sum(col("__x")).as("__s"))
      .transform(graft.core.CacheScope.disk)
    val tot = grp.agg(sum(col("__n")).as("__nt"), sum(col("__s")).as("__st"))
    // per-row term of T_g: (x/μ_g)·ln(x/μ_g), μ_g = S_g/n_g — the
    // ratio exact as x·n_g/S_g
    val r = (dec(col("__x")) * dec(col("__n"))).cast("double") /
      col("__s").cast("double")
    val withinNano = rows.join(grp, Seq("__g"))
      .select(col("__g"),
        floor(r * log(r) * lit(1000000000.0)).cast("long").as("__t"))
      .groupBy("__g").agg(sum(col("__t")).as("__w_nano"))
    val per = grp.join(withinNano, Seq("__g"))
      .crossJoin(broadcast(tot))
      .transform(graft.core.CacheScope.disk)
    // T_g = (Σ terms)/n_g; group share s_g = S_g/S; between term =
    // s_g·ln(s_g/p_g) with s_g/p_g = S_g·n/(S·n_g) exact
    val tg = (col("__w_nano").cast("double") / 1000000000.0) /
      col("__n").cast("double")
    val sg = col("__s").cast("double") / col("__st").cast("double")
    val ratio = (dec(col("__s")) * dec(col("__nt"))).cast("double") /
      (dec(col("__st")) * dec(col("__n"))).cast("double")
    val parts = per.select(col("__g"),
      col("__n"), col("__s"),
      floor(sg * tg * lit(1000000000.0)).cast("long").as("__sw_nano"),
      floor(sg * log(ratio) * lit(1000000000.0)).cast("long")
        .as("__b_nano"),
      round(tg, 6).as("theil"))
    val groupsOut = parts.select(col("__g").as(groupCol),
      col("__n").as("n"), col("__s").as("value_sum"), col("theil"),
      lit(null).cast("double").as("theil_between"),
      lit(null).cast("double").as("theil_within_weighted"))
    val totalOut = parts
      .agg(sum(col("__n")).as("n"), sum(col("__s")).as("value_sum"),
        sum(col("__sw_nano")).as("__sw"), sum(col("__b_nano")).as("__b"))
      .select(lit("__total__").as(groupCol), col("n"), col("value_sum"),
        round((col("__sw") + col("__b")).cast("double") / 1000000000.0,
          6).as("theil"),
        round(col("__b").cast("double") / 1000000000.0, 6)
          .as("theil_between"),
        round(col("__sw").cast("double") / 1000000000.0, 6)
          .as("theil_within_weighted"))
    groupsOut.unionByName(totalOut)
  }

  /** Mantel–Haenszel stratified 2×2 analysis — the INFERENTIAL
    * complement of [[simpsonScreen]]: where the screen flags strata
    * whose effect direction reverses the pooled one, MH answers "what
    * is the common exposure→outcome odds ratio AFTER adjusting for
    * the stratification, and is it significant" (the
    * Cochran–Mantel–Haenszel χ², 1 dof). Pooling raw counts instead
    * is exactly how Simpson's paradox manufactures effects; MH is
    * the standard fix.
    *
    * Exactness: per-stratum counts a/b/c/d are exact BIGINTs; every
    * pooled term is an integer-division micro-quantization —
    * `⌊a·d·10⁶/n⌋` (MH numerator R), `⌊b·c·10⁶/n⌋` (S),
    * `⌊r1·c1·10⁶/n⌋` (expectation), `⌊r1·r2·c1·c2·10⁶/(n²(n−1))⌋`
    * (variance) — computed through DECIMAL(38,0) and summed as exact
    * BIGINTs (order-free), with ONE double division each for or_mh
    * and the χ². Truncation toward zero is identical in Spark's
    * IntegralDivide and DuckDB HUGEINT `//` (all operands
    * non-negative here). Bound: the variance product r1·r2·c1·c2·10⁶
    * stays inside 38 digits for strata up to ~3·10⁷ rows — size
    * strata as segments, not lifetime corpora.
    *
    * Scale shape: ONE grouped count over the data (map-side
    * combined), then stratum-domain-sized arithmetic and a one-row
    * total. Output: one row per stratum (its own 2×2 and odds ratio)
    * plus a `__total__` row carrying or_mh and cmh_chi2.
    *
    * Returns `(<stratumCol>, a, b, c, d, odds_ratio, or_mh,
    * cmh_chi2)`.
    */
  def mantelHaenszel(
      df: DataFrame, stratumCol: String, exposure: Column,
      outcome: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val per = df
      .select(col(stratumCol).cast("string").as("__s"),
        exposure.cast("boolean").as("__e"),
        outcome.cast("boolean").as("__o"))
      .where(col("__s").isNotNull && col("__e").isNotNull &&
        col("__o").isNotNull)
      .groupBy("__s")
      .agg(
        sum(when(col("__e") && col("__o"), 1L).otherwise(0L)).as("a"),
        sum(when(col("__e") && !col("__o"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("__e") && col("__o"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("__e") && !col("__o"), 1L).otherwise(0L)).as("d"))
      .transform(graft.core.CacheScope.disk)
    val micro = lit(1000000L)
    val terms = per.select(col("__s"), col("a"), col("b"), col("c"),
      col("d"),
      expr("(CAST(a AS DECIMAL(38,0)) * d * 1000000) div " +
        "(a + b + c + d)").as("__r_mu"),
      expr("(CAST(b AS DECIMAL(38,0)) * c * 1000000) div " +
        "(a + b + c + d)").as("__s_mu"),
      // expectation and variance of `a` under the stratum-margins
      // hypergeometric null, micro-quantized by integral division
      expr("(CAST(a + b AS DECIMAL(38,0)) * (a + c) * 1000000) div " +
        "(a + b + c + d)").as("__e_mu"),
      expr("CASE WHEN a + b + c + d > 1 THEN " +
        "(CAST(a + b AS DECIMAL(38,0)) * (c + d) * (a + c) * (b + d)" +
        " * 1000000) div (CAST(a + b + c + d AS DECIMAL(38,0))" +
        " * (a + b + c + d) * (a + b + c + d - 1)) " +
        "ELSE CAST(0 AS BIGINT) END").as("__v_mu"))
    val strataOut = terms.select(col("__s").as(stratumCol),
      col("a"), col("b"), col("c"), col("d"),
      round(when(col("b") * col("c") > 0L,
        (dec(col("a")) * dec(col("d"))).cast("double") /
          (dec(col("b")) * dec(col("c"))).cast("double")), 6)
        .as("odds_ratio"),
      lit(null).cast("double").as("or_mh"),
      lit(null).cast("double").as("cmh_chi2"))
    val totalOut = terms
      .agg(sum(col("a")).as("a"), sum(col("b")).as("b"),
        sum(col("c")).as("c"), sum(col("d")).as("d"),
        sum(col("__r_mu")).as("__r"), sum(col("__s_mu")).as("__ss"),
        sum(dec(col("a")) * micro).as("__a_mu"),
        sum(col("__e_mu")).as("__e"), sum(col("__v_mu")).as("__v"))
      .select(lit("__total__").as(stratumCol),
        col("a"), col("b"), col("c"), col("d"),
        lit(null).cast("double").as("odds_ratio"),
        round(when(col("__ss") > 0L,
          col("__r").cast("double") / col("__ss").cast("double")), 6)
          .as("or_mh"),
        round(when(col("__v") > 0L,
          ((col("__a_mu") - col("__e")) * (col("__a_mu") - col("__e")))
            .cast("double") /
            (lit(1000000.0) * col("__v").cast("double"))), 6)
          .as("cmh_chi2"))
    strataOut.unionByName(totalOut)
  }

  /** Breslow–Day homogeneity test for the stratified 2×2 family —
    * the question [[mantelHaenszel]] ASSUMES away: CMH pools the
    * per-stratum odds ratios into one ψ̂ and tests ψ = 1, which is
    * only meaningful if the strata share a common ratio in the first
    * place. BD tests exactly that: under H₀ (common OR = ψ̂_MH) the
    * expected exposed-case count ã_k in stratum k solves the margin-
    * preserving quadratic `(1−ψ)ã² + [(n₂−m₁) + ψ(n₁+m₁)]ã −
    * ψn₁m₁ = 0` (the root inside [max(0, m₁−n₂), min(n₁, m₁)]), with
    * asymptotic variance `Var = (1/ã + 1/(n₁−ã) + 1/(m₁−ã) +
    * 1/(n₂−m₁+ã))⁻¹`, and `X²_BD = Σ_k (a_k − ã_k)²/Var_k ~ χ²_{K−1}`.
    * Tarone's correction `X²_T = X²_BD − (Σ(a−ã))²/ΣVar` (the exact-
    * df adjustment for ψ̂ being estimated) is emitted beside it.
    * In pipeline terms: "is the treatment–outcome association the
    * SAME in every segment, or is the pooled odds ratio averaging
    * away a reversed segment?" — the confounding alarm next to q263.
    *
    * Exactness: the 2×2 counts are exact per-stratum BIGINTs; ψ̂ is
    * the [[mantelHaenszel]] micro-quantized integral-division ratio
    * (ONE double division, bit-identical cross-engine); the
    * per-stratum root/variance chain is a fixed-order mirrored
    * double formula over exact-integer-valued doubles and ψ̂ (IEEE
    * ops and sqrt are correctly rounded, so both engines produce the
    * same bits); and each stratum's χ² term is micro-FLOORED to a
    * BIGINT before the order-free sum (quantize-before-sum), leaving
    * one mirrored division by 10⁶. Degenerate strata (any zero
    * margin) are excluded from the statistic and the df.
    *
    * Scale shape: one grouped aggregate to stratum-domain size, a
    * broadcast of the single ψ̂ row, and a second stratum-domain
    * aggregate — nothing row-sized survives the first combine.
    *
    * Output: per-stratum rows `(stratum, a, b, c, d, odds_ratio,
    * expected_a, null…)` plus a `__total__` row carrying `(bd_chi2,
    * bd_chi2_tarone, df, heterogeneous)` where `heterogeneous =
    * bd_chi2 > criticalValue` (caller picks the χ²_{K−1} critical
    * value for their stratum count, e.g. 9.488 for K = 5).
    */
  def breslowDay(
      df: DataFrame, stratumCol: String, exposure: Column,
      outcome: Column, criticalValue: Double): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val per = df
      .select(col(stratumCol).cast("string").as("__s"),
        exposure.cast("boolean").as("__e"),
        outcome.cast("boolean").as("__o"))
      .where(col("__s").isNotNull && col("__e").isNotNull &&
        col("__o").isNotNull)
      .groupBy("__s")
      .agg(
        sum(when(col("__e") && col("__o"), 1L).otherwise(0L)).as("a"),
        sum(when(col("__e") && !col("__o"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("__e") && col("__o"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("__e") && !col("__o"), 1L).otherwise(0L)).as("d"))
      .transform(graft.core.CacheScope.disk)
    val psiRow = per.agg(
        sum(expr("(CAST(a AS DECIMAL(38,0)) * d * 1000000) div " +
          "(a + b + c + d)")).as("__r"),
        sum(expr("(CAST(b AS DECIMAL(38,0)) * c * 1000000) div " +
          "(a + b + c + d)")).as("__ss"))
      .select((col("__r").cast("double") / col("__ss").cast("double"))
        .as("__psi"))
    val n1 = (col("a") + col("b")).cast("double")
    val n2 = (col("c") + col("d")).cast("double")
    val m1 = (col("a") + col("c")).cast("double")
    val psi = col("__psi")
    val qA = lit(1.0) - psi
    val qB = (n2 - m1) + psi * (n1 + m1)
    val qC = -(psi * n1 * m1)
    val disc = qB * qB - lit(4.0) * qA * qC
    val r1 = (-qB + sqrt(disc)) / (lit(2.0) * qA)
    val r2 = (-qB - sqrt(disc)) / (lit(2.0) * qA)
    val lo = greatest(lit(0.0), m1 - n2)
    val hi = least(n1, m1)
    // ψ = 1 collapses the quadratic to linear: ã = ψn₁m₁ / B
    val root = when(abs(qA) < 1e-12, -(qC / qB))
      .when(r1 >= lo - 1e-9 && r1 <= hi + 1e-9, r1)
      .otherwise(r2)
    // ã is projected once as `__ea`; inlining the root into every
    // term below grew the projection past the 64 KB codegen limit
    val ea = col("__ea")
    val vInv = lit(1.0) / ea + lit(1.0) / (n1 - ea) +
      lit(1.0) / (m1 - ea) + lit(1.0) / (n2 - m1 + ea)
    val vr = lit(1.0) / vInv
    val dnum = col("a").cast("double") - ea
    val valid = col("a") + col("b") > 0L && col("c") + col("d") > 0L &&
      col("a") + col("c") > 0L && col("b") + col("d") > 0L
    val terms = per.crossJoin(broadcast(psiRow))
      .withColumn("__valid", valid)
      .withColumn("__ea", when(col("__valid"), root))
      .withColumn("__t_mu", when(col("__valid"),
        floor((dnum * dnum / vr) * 1e6).cast("long")).otherwise(0L))
      .withColumn("__d_mu", when(col("__valid"),
        floor(dnum * 1e6).cast("long")).otherwise(0L))
      .withColumn("__v_mu", when(col("__valid"),
        floor(vr * 1e6).cast("long")).otherwise(0L))
      .transform(graft.core.CacheScope.disk)
    val nulls = Seq(
      lit(null).cast("double").as("bd_chi2"),
      lit(null).cast("double").as("bd_chi2_tarone"),
      lit(null).cast("long").as("df"),
      lit(null).cast("boolean").as("heterogeneous"))
    val strataOut = terms.select(Seq(col("__s").as(stratumCol),
      col("a"), col("b"), col("c"), col("d"),
      round(when(col("b") * col("c") > 0L,
        (dec(col("a")) * dec(col("d"))).cast("double") /
          (dec(col("b")) * dec(col("c"))).cast("double")), 6)
        .as("odds_ratio"),
      round(col("__ea"), 4).as("expected_a")) ++ nulls: _*)
    val chi2 = col("__t").cast("double") / 1e6
    val tarone = chi2 -
      (col("__d").cast("double") / 1e6) *
        (col("__d").cast("double") / 1e6) /
        (col("__v").cast("double") / 1e6)
    val totalOut = terms
      .agg(sum(col("a")).as("a"), sum(col("b")).as("b"),
        sum(col("c")).as("c"), sum(col("d")).as("d"),
        sum(col("__t_mu")).as("__t"), sum(col("__d_mu")).as("__d"),
        sum(col("__v_mu")).as("__v"),
        sum(when(col("__valid"), 1L).otherwise(0L)).as("__k"))
      .select(lit("__total__").as(stratumCol),
        col("a"), col("b"), col("c"), col("d"),
        lit(null).cast("double").as("odds_ratio"),
        lit(null).cast("double").as("expected_a"),
        round(chi2, 6).as("bd_chi2"),
        round(when(col("__v") > 0L, tarone), 6).as("bd_chi2_tarone"),
        greatest(col("__k") - 1L, lit(0L)).as("df"),
        (chi2 > criticalValue).as("heterogeneous"))
    strataOut.unionByName(totalOut)
  }

  /** Sample-ratio-mismatch (SRM) check — the first gate of every
    * experiment readout: a χ² goodness-of-fit of the observed
    * per-arm assignment counts against the DESIGNED allocation
    * ratio, per group. A mismatch means the assignment itself is
    * broken (a crashing variant, a bot filter eating one arm, a
    * redirect dropping traffic), and every downstream metric is
    * garbage — which is why it runs before, not after, the effect
    * tests on the q203/q215 shelf.
    *
    * `expected` maps each designed arm label to its integer weight
    * (e.g. `Seq("0" → 1L, "1" → 1L)` for 50/50). Arms are
    * right-joined from the design, so an arm that received ZERO
    * traffic still participates (that is the loudest SRM there is);
    * arm labels observed in the data but absent from the design are
    * ignored (they are a different bug — assignment-domain drift).
    *
    * Exactness: with W = Σw, each arm's term `(nᵢ·W − n·wᵢ)² /
    * (n·wᵢ·W)` is a micro-quantized INTEGRAL division of exact
    * DECIMAL(38,0) products — no doubles anywhere until the single
    * mirrored `Σ/10⁶` at the end, so the statistic is bit-identical
    * cross-engine. `mismatch = chi2 > criticalValue` (caller picks
    * the χ²_{A−1} critical value, e.g. 3.841 for two arms).
    *
    * Scale shape: one grouped count to (group × arm) size, a
    * broadcast of the arm-weight literal, one group-sized aggregate
    * re-joined onto the detail — nothing row-sized survives the
    * first combine.
    *
    * Output: one row per (group…, arm): `(group…, arm, n_arm,
    * expected_arm, srm_chi2, df, mismatch)` — the group-level
    * statistic repeated on each arm row for report friendliness.
    */
  def srmCheck(
      df: DataFrame, groupCols: Seq[String], arm: Column,
      expected: Seq[(String, Long)], criticalValue: Double)
      : DataFrame = {
    require(expected.nonEmpty && expected.map(_._2).forall(_ > 0L),
      "expected weights must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val wTotal = expected.map(_._2).sum
    val arms = expected.toDF("__arm", "__w")
    val counts = df
      .select(groupCols.map(col) :+
        arm.cast("string").as("__arm"): _*)
      .where(col("__arm").isNotNull)
      .groupBy(groupCols.map(col) :+ col("__arm"): _*)
      .agg(count(lit(1)).as("__n"))
    // design ⨯ observed groups, so zero-traffic arms participate
    val groups = counts.select(groupCols.map(col): _*).distinct()
    val full = groups.crossJoin(broadcast(arms))
      .join(counts, groupCols :+ "__arm", "left")
      .withColumn("__n", coalesce(col("__n"), lit(0L)))
    val gw = Window.partitionBy(groupCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val withTot = full.withColumn("__nt", sum(col("__n")).over(gw))
    val terms = withTot.withColumn("__t_mu",
      when(col("__nt") > 0L,
        expr(s"CAST((CAST(__n AS DECIMAL(38,0)) * $wTotal - " +
          s"CAST(__nt AS DECIMAL(38,0)) * __w) * " +
          s"(CAST(__n AS DECIMAL(38,0)) * $wTotal - " +
          s"CAST(__nt AS DECIMAL(38,0)) * __w) * 1000000 div " +
          s"(CAST(__nt AS DECIMAL(38,0)) * __w * $wTotal) AS " +
          "DECIMAL(38,0))")).otherwise(dec(lit(0))))
    val chi2 = (sum(col("__t_mu")).over(gw)).cast("double") / 1e6
    terms.select(groupCols.map(col) ++ Seq(
      col("__arm").as("arm"), col("__n").as("n_arm"),
      round(dec(col("__nt")).cast("double") * col("__w") /
        lit(wTotal.toDouble), 2).as("expected_arm"),
      round(chi2, 6).as("srm_chi2"),
      lit(expected.size - 1).cast("long").as("df"),
      (chi2 > criticalValue).as("mismatch")): _*)
  }

  /** Gini concentration index per group — the bounded-[0,1) sibling
    * of [[theilDecomposition]] (and the Lorenz-curve summary behind
    * the q190 HHI shelf): for each group, `G = (2·Σᵢ i·xᵢ −
    * (n+1)·Σx) / (n·Σx)` over the values sorted ascending within the
    * group (1-based index `i`). The index form is exactly the mean
    * absolute difference / 2μ identity, but computable in one ranked
    * pass instead of an O(n²) pair join.
    *
    * Exactness: values are caller-quantized integers (`valueCents`);
    * the per-group sorted index comes from [[rankByRange]] (the
    * two-pass range-partitioned rank — no single-task per-group
    * window sort, the q180/q212 scale shape) ordered by `(value,
    * id)`; `Σ i·x` is invariant under permutations of tied values,
    * so the id tie-break only pins run-to-run determinism of the
    * intermediate, not the result. Numerator and denominator are
    * exact DECIMAL(38,0) products of BIGINT aggregates (the
    * joinSizeForecast overflow treatment); the ONE double step is
    * the final division before `round(…, 6)` — cross-engine
    * reproducible since both engines round the same exact integers
    * to nearest double.
    *
    * Contract: negative and null values and null groups are
    * excluded; zeros participate (they stretch the Lorenz curve —
    * excluding them would understate concentration). A group whose
    * value sum is 0 gets a null gini (undefined, not 0). Output is
    * group-domain-sized: (groupCol, n, value_sum, gini).
    *
    * Scale shape: one rank (two range exchanges + broadcast-sized
    * offset join, from rankByRange) + one grouped aggregate with
    * map-side combine. No per-row windows, no collects.
    */
  def giniConcentration(
      df: DataFrame, groupCol: String, valueCents: Column,
      idCol: Column): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val rows = df
      .select(col(groupCol).cast("string").as("__g"),
        valueCents.cast("long").as("__x"), idCol.as("__gid"))
      .where(col("__x").isNotNull && col("__x") >= 0 &&
        col("__g").isNotNull)
    val ranked = rankByRange(rows, Seq("__g"),
      Seq(col("__x").asc, col("__gid").asc), "__i")
    ranked.groupBy("__g")
      .agg(count(lit(1)).as("n"), sum(col("__x")).as("value_sum"),
        sum(dec(col("__i")) * dec(col("__x"))).as("__sxr"))
      .select(col("__g").as(groupCol), col("n"), col("value_sum"),
        when(col("value_sum") > 0,
          round(
            (dec(lit(2)) * col("__sxr") -
              dec(col("n") + 1) * dec(col("value_sum"))).cast("double") /
            (dec(col("n")) * dec(col("value_sum"))).cast("double"), 6))
          .otherwise(lit(null).cast("double")).as("gini"))
  }

  /** Split-conformal prediction bands with held-out coverage — the
    * distribution-free uncertainty wrapper every "predict a number"
    * pipeline should ship with: on a CALIBRATION split, residuals
    * against a per-group mean predictor; the band half-width `q̂` is
    * the `⌈(n+1)(1−α)⌉`-th smallest calibration residual (the
    * finite-sample-valid split-conformal quantile — NOT the naive
    * (1−α) empirical quantile, whose coverage undershoots); on the
    * TEST split, the fraction of rows whose residual ≤ q̂ — which
    * conformal theory guarantees ≥ 1−α in expectation, and the
    * table verifies empirically per group.
    *
    * Exactness: values are quantized by the CALLER to integer units
    * (`valueCents`), the predictor is the calibration-group integer
    * mean (`Σ div n` — positive floor division, the labelNoiseScreen
    * contract), residuals are exact BIGINTs, the order statistic is
    * "smallest residual with cumulative count ≥ k" over the
    * per-distinct-residual cumulative shape (the ksTest machinery —
    * bounded by distinct residual values, never a per-row window),
    * and `k = ⌈(n+1)(1000−alphaMilli)/1000⌉` in pure integer ceiling
    * division. Coverage is one double division of exact counts.
    * Everything cross-engine bit-identical.
    *
    * A group whose calibration is too small (`k > n`) has an
    * INFINITE conformal band — q̂ and coverage are null and
    * `degenerate = 1` (the honest answer; clamping to the max
    * residual would claim coverage the theory doesn't give). Groups
    * present only in test are absent (no predictor).
    *
    * Scale shape: two grouped aggregates (means, then residual
    * counts, map-side combined), one group-partitioned running sum
    * over distinct residuals, broadcast q̂ per group, one test-side
    * count. Output is group-domain-sized.
    *
    * Returns `(group…, n_cal, n_test, pred, q_hat, coverage,
    * degenerate)` — `pred`/`q_hat` in the caller's integer units.
    */
  def conformalCoverage(
      cal: DataFrame, test: DataFrame, valueCents: Column,
      groupCols: Seq[String], alphaMilli: Int = 100): DataFrame = {
    require(alphaMilli >= 1 && alphaMilli <= 999,
      "alphaMilli in [1, 999]")
    require(groupCols.nonEmpty, "at least one group column")
    val gcols = groupCols.map(col)
    val calV = cal.select(gcols :+ valueCents.cast("long").as("__v"): _*)
      .where(col("__v").isNotNull)
      .transform(graft.core.CacheScope.disk)
    val pred = calV.groupBy(gcols: _*)
      .agg(count(lit(1)).as("n_cal"), sum(col("__v")).as("__s"))
      .withColumn("pred", expr("__s div n_cal"))
      .drop("__s")
      .transform(graft.core.CacheScope.disk)
    val resid = calV.join(pred, groupCols)
      .select(gcols :+ abs(col("__v") - col("pred")).as("__r"): _*)
      .groupBy(gcols :+ col("__r"): _*)
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(gcols: _*).orderBy(col("__r").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val k = expr(s"((n_cal + 1) * (1000 - $alphaMilli) + 999) div 1000")
    val qhat = resid
      .withColumn("__cum", sum(col("__c")).over(w))
      .join(pred, groupCols)
      .where(col("__cum") >= k)
      .groupBy(gcols: _*)
      .agg(min(col("__r")).as("q_hat"))
    val testR = test
      .select(gcols :+ valueCents.cast("long").as("__v"): _*)
      .where(col("__v").isNotNull)
      .join(pred, groupCols)
      .join(qhat, groupCols, "left")
      .groupBy(gcols: _*)
      .agg(max(col("n_cal")).as("n_cal"), max(col("pred")).as("pred"),
        count(lit(1)).as("n_test"),
        max(col("q_hat")).as("q_hat"),
        sum(when(abs(col("__v") - col("pred")) <= col("q_hat"), 1L)
          .otherwise(0L)).as("__cov"))
    testR.select(gcols ++ Seq(
      col("n_cal"), col("n_test"), col("pred"),
      col("q_hat"),
      round(when(col("q_hat").isNotNull,
        col("__cov").cast("double") / col("n_test").cast("double")), 6)
        .as("coverage"),
      col("q_hat").isNull.cast("int").as("degenerate")): _*)
  }

  /** Spearman rank correlation per group — the monotone-association
    * measure that survives what breaks Pearson: outliers (a single
    * 10⁶× price row saturates covariance; ranks cap its leverage at
    * "largest") and nonlinear-but-monotone relations (quantity vs
    * revenue is multiplicative — Pearson under-reads it, Spearman
    * sees the monotone map exactly).
    *
    * Exact integer core: average-tie ranks per variable come from the
    * per-distinct-value cumulative shape (counts per (group, value),
    * running sum over values — never a per-row window), in HALF-UNITS
    * so ties stay integral (`rank2 = 2·cum_before + t + 1`); rows
    * join their two rank2 values back by (group, value). Pearson on
    * rank2 is then all-integer until one final division:
    * Σ rank2 per variable is the closed form `n(n+1)` (rank sums are
    * invariant under tie-averaging), and Σ rank2², Σ rank2x·rank2y
    * accumulate in DECIMAL(38,0) (a 2·10⁹-row group's products pass
    * 2^63). `ρ = (n·Sxy − SxSy) / √((n·Sxx − Sx²)(n·Syy − Sy²))`
    * evaluates the exact decimal numerators in double only at the
    * division — bit-reproducible across engines. (The halving scale
    * factors cancel: rank2 = 2·rank applied to BOTH variables leaves
    * ρ unchanged.)
    *
    * Degenerate groups (all x tied or all y tied — zero rank
    * variance) emit null ρ rather than 0/0.
    *
    * Scale shape: two (group, value)-keyed grouped counts with
    * group-partitioned running sums over DISTINCT values (bounded by
    * distinct-value counts), two row-frame joins keyed (group,
    * value), one map-side-combined group aggregate. Output is
    * group-domain-sized.
    *
    * Returns `(group…, n, rho)`.
    */
  def spearmanCorr(
      df: DataFrame, xCol: String, yCol: String,
      groupCols: Seq[String]): DataFrame = {
    // rank on the NATIVE value — casting to double first would merge
    // distinct integral values above 2^53 (BIGINT fixed-point scores
    // like q254's 1e12-unit centralities are the realistic input), and
    // ranks only need the column's own ordering, never its arithmetic
    val rows = df
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(groupCols.map(col) ++ Seq(
        col(xCol).as("__x"), col(yCol).as("__y")): _*)
      .transform(graft.core.CacheScope.disk)
    def rank2Of(vcol: String, out: String): DataFrame = {
      val w = Window.partitionBy(groupCols.map(col): _*)
        .orderBy(col(vcol).asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      rows.groupBy(groupCols.map(col) :+ col(vcol): _*)
        .agg(count(lit(1)).as("__t"))
        .withColumn(out,
          lit(2L) * coalesce(sum(col("__t")).over(w), lit(0L)) +
            col("__t") + lit(1L))
        .drop("__t")
    }
    val withRanks = rows
      .join(rank2Of("__x", "__rx"), groupCols :+ "__x")
      .join(rank2Of("__y", "__ry"), groupCols :+ "__y")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val agg = withRanks.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(dec(col("__rx")) * dec(col("__ry"))).as("__sxy"),
        sum(dec(col("__rx")) * dec(col("__rx"))).as("__sxx"),
        sum(dec(col("__ry")) * dec(col("__ry"))).as("__syy"))
    // Σ rank2 = n(n+1) exactly, both variables (cast before the
    // product — a 3·10⁹-row group's n(n+1) passes 2^63)
    val s = dec(col("n")) * (dec(col("n")) + lit(1L))
    val nDec = dec(col("n"))
    val covN = (nDec * col("__sxy") - s * s).cast("double")
    val varX = (nDec * col("__sxx") - s * s).cast("double")
    val varY = (nDec * col("__syy") - s * s).cast("double")
    agg.select(groupCols.map(col) ++ Seq(
      col("n"),
      round(when(varX > 0.0 && varY > 0.0,
        covN / sqrt(varX * varY)), 6).as("rho")): _*)
  }

  /** Kendall τ-b rank correlation per group — the concordance sibling
    * of [[spearmanCorr]]: of all row pairs, how many order the same
    * way on x and y vs opposite ways, with the tie-corrected
    * denominator `τ_b = (C − D) / √((n₀ − t_x)(n₀ − t_y))`. τ reads as
    * a probability difference (P[concordant] − P[discordant]) where
    * Spearman's ρ reads as a rank-linear fit — τ is the one reviewers
    * ask for on ordinal×ordinal data.
    *
    * Scale contract — BOUNDED VALUE DOMAINS: the input collapses to
    * the (x, y) contingency table per group, and concordant /
    * discordant counts come from the CELL-pair self-join, so cost is
    * |cells|² per group and INDEPENDENT of the row count n. That is
    * the right trade for ordinal data (grades, buckets, small integer
    * measures — the realistic τ input); for continuous x/y with
    * row-count-sized distinct domains use [[spearmanCorr]], whose
    * running-sum shape stays distinct-value-linear. The cells frame is
    * persisted once and feeds the pair join, both marginals, and the
    * group totals.
    *
    * Exactness: every count is an exact BIGINT; pair products
    * `n_a·n_b` and the tie/total terms `Σ t(t−1)`, `n(n−1)` compute in
    * DECIMAL(38,0) (they pass 2^63 past ~3·10⁹ rows per group —
    * the [[graft.quality.Drift.mannWhitneyU]] rule); τ_b is ONE double
    * division of exact decimals, bit-identical cross-engine. The
    * doubled identity `τ_b = 2(C−D)/√((n(n−1) − Σt_x(t_x−1))·(…_y))`
    * avoids any /2 on the way. Degenerate groups (all x tied or all y
    * tied) emit null.
    *
    * Returns `(group…, n, n_cells, tau_b)`.
    */
  def kendallTauB(
      df: DataFrame, xCol: String, yCol: String,
      groupCols: Seq[String]): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val cells = df
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(groupCols.map(col) ++ Seq(
        col(xCol).as("__x"), col(yCol).as("__y")): _*)
      .agg(count(lit(1)).as("__n"))
      .transform(graft.core.CacheScope.disk)
    // cell-pair join: each unordered cell pair once (lexicographic
    // (x, y) order), classified concordant / discordant; pairs tied
    // on either axis contribute to neither count
    val a = cells.select(groupCols.map(col) ++ Seq(
      col("__x").as("__xa"), col("__y").as("__ya"),
      col("__n").as("__na")): _*)
    val b = cells.select(groupCols.map(col) ++ Seq(
      col("__x").as("__xb"), col("__y").as("__yb"),
      col("__n").as("__nb")): _*)
    val pairs = a.join(b, groupCols)
      .where(col("__xa") < col("__xb") ||
        (col("__xa") === col("__xb") && col("__ya") < col("__yb")))
    val cd = pairs.groupBy(groupCols.map(col): _*)
      .agg(
        sum(when(col("__xa") < col("__xb") && col("__ya") < col("__yb"),
          dec(col("__na")) * dec(col("__nb"))).otherwise(lit(0L)
            .cast("decimal(38,0)"))).as("__c"),
        sum(when(col("__xa") < col("__xb") && col("__ya") > col("__yb"),
          dec(col("__na")) * dec(col("__nb"))).otherwise(lit(0L)
            .cast("decimal(38,0)"))).as("__d"))
    def tiePairs2(vcol: String, out: String): DataFrame =
      cells.groupBy(groupCols.map(col) :+ col(vcol): _*)
        .agg(sum(col("__n")).as("__t"))
        .groupBy(groupCols.map(col): _*)
        .agg(sum(dec(col("__t")) * (dec(col("__t")) - lit(1L)))
          .as(out))
    val totals = cells.groupBy(groupCols.map(col): _*)
      .agg(sum(col("__n")).as("n"), count(lit(1)).as("n_cells"))
    val joined = totals
      .join(cd, groupCols.toSeq, "left")
      .join(tiePairs2("__x", "__tx2"), groupCols)
      .join(tiePairs2("__y", "__ty2"), groupCols)
    val n02 = dec(col("n")) * (dec(col("n")) - lit(1L))
    val denX = (n02 - col("__tx2")).cast("double")
    val denY = (n02 - col("__ty2")).cast("double")
    val num = (coalesce(col("__c"), lit(0).cast("decimal(38,0)")) -
      coalesce(col("__d"), lit(0).cast("decimal(38,0)")))
      .cast("double") * 2.0
    joined.select(groupCols.map(col) ++ Seq(
      col("n"), col("n_cells"),
      round(when(denX > 0.0 && denY > 0.0,
        num / sqrt(denX * denY)), 6).as("tau_b")): _*)
  }

  /** Hill tail-index estimator per group (Hill 1975): over the top-m
    * order statistics of a positive value column,
    * `H = (1/m)·Σ_{i≤m} ln(x_(i) / x_(m+1))` and the tail exponent
    * `α = 1/H` — the standard "how heavy is this distribution's
    * tail" reading (α ≈ 1–2 = very heavy Pareto tail, α large =
    * thin). The panel row a spend/latency/doc-length monitor needs
    * next to q255's Gini (concentration) and q189's Benford (digit
    * shape): those say "unequal"; Hill says HOW FAST the tail decays.
    *
    * Exactness: each order statistic's ln is nano-floored once
    * (`floor(ln x · 1e9)`, the q308 device — safe because the ln
    * call is mirrored token-for-token in the oracle), the excess sum
    * `Σ lnq_(i) − m·lnq_(m+1)` is an exact BIGINT, `hill_nano` is one
    * exact integer division by m, and α is ONE mirrored double
    * division `1e9 / hill_nano`. Ranks are row_number over
    * (value DESC, tiebreak ASC) — a total order, so the top-m SET is
    * unique even under value ties (the excess sum only reads values,
    * so tie ORDER never changes the result).
    *
    * Scale shape: one grouped count (map-side combined), one
    * group-partitioned rank window that only RANKS (no payload
    * carry; groups are the parallelism unit — the [[labelNoiseScreen]]
    * trade), a group-domain-sized join, and m-bounded arithmetic per
    * group. At 100 TB, pre-filter the corpus to values above a coarse
    * per-group quantile before ranking — the window then sorts the
    * tail candidates, not the corpus; m itself is a constant.
    *
    * Degenerate guards: groups need n ≥ 2 (m_used = min(m, n−1) ≥ 1);
    * a group whose top m+1 values are all EQUAL has excess sum 0 —
    * hill_nano 0 and α null rather than ∞.
    */
  def hillTailIndex(
      df: DataFrame, groupCol: String, valueCol: Column,
      tieCol: Column, m: Int = 100): DataFrame = {
    require(m >= 1, "hillTailIndex: m must be >= 1")
    val base = df
      .select(col(groupCol), valueCol.cast("long").as("__x"),
        tieCol.as("__tb"))
      .where(col(groupCol).isNotNull && col("__x").isNotNull &&
        col("__x") > 0L)
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("__x").desc, col("__tb").asc)
    val ranked = base.withColumn("__rk", row_number().over(w))
      .withColumn("__lnq",
        floor(log(col("__x").cast("double")) * 1e9).cast("long"))
    val counts = base.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= 2L)
      .withColumn("m_used", least(lit(m.toLong), col("n") - 1L))
    ranked.join(counts, Seq(groupCol))
      .where(col("__rk") <= col("m_used") + 1L)
      .groupBy(col(groupCol), col("n"), col("m_used"))
      .agg(
        sum(when(col("__rk") <= col("m_used"), col("__lnq"))
          .otherwise(lit(0L))).as("__s"),
        max(when(col("__rk") === col("m_used") + 1L, col("__x")))
          .as("x_tail"),
        max(when(col("__rk") === col("m_used") + 1L, col("__lnq")))
          .as("__lnk"))
      .withColumn("hill_nano",
        expr("(__s - m_used * __lnk) div m_used"))
      .select(col(groupCol), col("n"), col("m_used"), col("x_tail"),
        col("hill_nano"),
        round(when(col("hill_nano") > 0L,
          lit(1e9) / col("hill_nano").cast("double")), 6).as("alpha"))
  }

  /** Quantile (pinball-loss) regression by slope-grid search: fit
    * `y ~ a + b·x` at each requested quantile τ by scoring every
    * candidate slope b from a caller-fixed grid — for a FIXED slope
    * the optimal intercept is exactly the τ-order-statistic of the
    * residuals y − b·x (the pinball loss in a is a piecewise-linear
    * convex function whose minimum sits at the ⌈τ·n⌉-th smallest
    * residual), so the 2-D fit collapses to |grid| 1-D exact
    * problems. The conditional-quantile trend line OLS can't give:
    * "how does the 90th-percentile order value drift over time" is a
    * different line than the mean's, and the difference (τ=0.9 slope
    * vs τ=0.1 slope) is a dispersion-drift monitor.
    *
    * Exactness, end to end: residuals `y·1e6 − b_micro·x` are exact
    * BIGINTs; the intercept is an order statistic (exact — ties don't
    * matter because equal residuals give the same value at rank k);
    * the pinball loss decomposes into `τ·(S − n·a) − 100·(S_< −
    * n_<·a)` where S/S_</n_< are exact DECIMAL(38,0) conditional sums
    * of residuals strictly below a — no per-row float ever. The
    * reported avg_loss is ONE mirrored division of the exact loss by
    * `100·1e6·n`.
    *
    * Scale shape: the corpus crosses only the SLOPE grid (a
    * broadcast domain-bounded cross — |slopes|·rows, never
    * rows²); the residual frame is persisted and read by the rank
    * window (slope-partitioned, rank-only), the order-statistic
    * probe, and the loss aggregation; taus join in at the
    * group-domain level. Loss aggregation is map-side combinable;
    * the argmin per τ is a |grid|-sized min_by.
    */
  def quantileRegPinball(
      df: DataFrame, xCol: Column, yCentsCol: Column,
      tausPct: Seq[Int], slopesMicro: Seq[Long]): DataFrame = {
    require(tausPct.nonEmpty && tausPct.forall(t => t > 0 && t < 100),
      "quantileRegPinball: taus must be in (0, 100)")
    require(slopesMicro.nonEmpty, "quantileRegPinball: empty grid")
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df
      .select(xCol.cast("long").as("__x"),
        yCentsCol.cast("long").as("__y"))
      .where(col("__x").isNotNull && col("__y").isNotNull)
    val slopes = broadcast(
      slopesMicro.toDF("slope_micro").as("__slopes"))
    val resid = rows.crossJoin(slopes)
      .select(col("slope_micro"),
        (col("__y") * lit(1000000L) - col("slope_micro") * col("__x"))
          .as("__r"))
      .transform(graft.core.CacheScope.disk)
    val wr = Window.partitionBy(col("slope_micro"))
      .orderBy(col("__r").asc)
    val ranked = resid.withColumn("__rk", row_number().over(wr))
    val n1 = resid.groupBy("slope_micro")
      .agg(count(lit(1)).as("n"))
    val taus = broadcast(tausPct.toDF("tau_pct"))
    // k = ceil(tau·n/100) without floats: (tau·n + 99) div 100
    // (join keys renamed: kTab/aTab share resid's lineage, and a
    // same-attribute condition would trip DetectAmbiguousSelfJoin)
    val kTab = n1.crossJoin(taus)
      .withColumn("__k", expr("(tau_pct * n + 99) div 100"))
      .withColumnRenamed("slope_micro", "__ks")
    val aTab = ranked
      .join(kTab,
        col("slope_micro") === col("__ks") &&
          col("__rk") === col("__k"))
      .select(col("slope_micro").as("__as"), col("tau_pct"),
        col("n"), col("__r").as("__a"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val losses = resid
      .join(broadcast(aTab), col("slope_micro") === col("__as"))
      .groupBy(col("slope_micro"), col("tau_pct"), col("n"),
        col("__a"))
      .agg(sum(dec(col("__r"))).as("__s"),
        sum(when(col("__r") < col("__a"), dec(col("__r")))
          .otherwise(lit(0L).cast("decimal(38,0)"))).as("__sl"),
        sum(when(col("__r") < col("__a"), 1L).otherwise(0L))
          .as("__nl"))
      .withColumn("__loss",
        dec(col("tau_pct")) * (col("__s") - dec(col("n")) * dec(col("__a"))) -
          dec(lit(100L)) *
            (col("__sl") - dec(col("__nl")) * dec(col("__a"))))
    losses
      .groupBy(col("tau_pct"), col("n"))
      .agg(min(struct(col("__loss"), col("slope_micro"), col("__a")))
        .as("__best"))
      .select(col("tau_pct"), col("n"),
        col("__best.slope_micro").as("slope_micro"),
        expr("__best.__a div 1000000").as("intercept_cents"),
        round(col("__best.__loss").cast("double") /
          (col("n").cast("double") * 1e8), 6).as("avg_loss"))
  }

  /** Quantile normalization — map every group's distribution onto the
    * POOLED distribution (the batch-effect correction standard:
    * microarray's classic move, and a training-data pipeline's
    * "remove per-source scale drift while preserving each source's
    * rank order"). A row at within-group rank r (of n_g) maps to the
    * pooled order statistic at position ⌈r·N/n_g⌉ — the exact
    * integer-arithmetic quantile transform, no interpolation, no
    * floats anywhere.
    *
    * Scale shape: both ranks come from [[rankByRange]]'s two-pass
    * range-partitioned machinery — the within-group rank under the
    * real group, the pooled rank under the constant `__all` group
    * (the q158/q165/q290 shape, plan-gate pinned) — so no
    * single-task global window ever sorts the corpus. One broadcast
    * one-row total, group-domain size join, and ONE equi-join from
    * target position to the pooled order-statistic frame.
    *
    * Requires a globally unique `tieCol` so both orders are total
    * (ranks deterministic under value ties). Returns the input id,
    * group, value, and `mapped` — the pooled-scale value.
    */
  def quantileNormalize(
      df: DataFrame, idCol: String, groupCol: String,
      valueCol: Column, tieCol: Column): DataFrame = {
    val base = df.select(col(idCol), col(groupCol),
        valueCol.cast("long").as("value"), tieCol.as("__tb"))
      .where(col(groupCol).isNotNull && col("value").isNotNull)
    val ranked = rankByRange(base, Seq(groupCol),
      Seq(col("value").asc, col("__tb").asc), "__r")
    val sizes = base.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__ng"))
    val total = base.agg(count(lit(1)).as("__nt"))
    val pooled = rankByRange(
        base.select(col("value").as("__pv"), col("__tb").as("__ptb"))
          .withColumn("__all", lit("all")),
        Seq("__all"), Seq(col("__pv").asc, col("__ptb").asc), "__pos")
      .select(col("__pos"), col("__pv"))
    ranked
      .join(sizes, Seq(groupCol))
      .crossJoin(broadcast(total))
      .withColumn("__pos", expr("(__r * __nt + __ng - 1) div __ng"))
      .join(pooled, Seq("__pos"))
      .select(col(idCol), col(groupCol), col("value"),
        col("__pv").as("mapped"))
  }
}
