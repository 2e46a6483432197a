package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec,
  LocalTableScanExec, RangeExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec,
  CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/** Registry-wide plan-regression gate: EVERY query in
  * [[SparkEntry.queries]] is planned (not executed) and its physical
  * plan asserted free of the three shapes that silently stop scaling —
  * a cartesian product, a nested-loop join against an unbounded build
  * side, and a window sorting an unbounded frame in one task. The
  * per-operator plan specs pin the shapes they were written against;
  * this spec is the standing gate that catches the NEXT query someone
  * adds with an accidental `crossJoin` or global `row_number`.
  *
  * "Bounded" is structural, not statistical: a subtree is bounded iff
  * its row count is capped by PLAN SHAPE independent of input scale —
  * an ungrouped aggregate (1 row), a literal local relation, a
  * limit/top-k, a small Range — propagated through non-expanding
  * operators (a generator or a scan resets to unbounded). That is the
  * exact sense in which the registry's scalar `crossJoin` frames and
  * q69's limit-k coverage window survive 100× data: their single-task
  * legs are constant-size by construction, not by luck of the data.
  */
class PlanGateSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val boundedCap = 4096L

  /** Static row bound by plan shape (None = unbounded / scales with
    * input). Joins multiply, unions add, generators and file scans are
    * unbounded, everything else passes the min of its children
    * through.
    */
  private def staticBound(p: SparkPlan): Option[Long] = p match {
    case a: BaseAggregateExec if a.groupingExpressions.isEmpty =>
      Some(1L)
    case l: GlobalLimitExec => Some(l.limit.toLong)
    case l: CollectLimitExec => Some(l.limit.toLong)
    case t: TakeOrderedAndProjectExec => Some(t.limit.toLong)
    case l: LocalTableScanExec => Some(l.rows.length.toLong)
    case r: RangeExec => Some(r.numElements.toLong)
    case _: org.apache.spark.sql.execution.GenerateExec => None
    case j: BroadcastNestedLoopJoinExec =>
      for (a <- staticBound(j.left); b <- staticBound(j.right))
        yield a * b
    case j: CartesianProductExec =>
      for (a <- staticBound(j.left); b <- staticBound(j.right))
        yield a * b
    case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
      for (a <- staticBound(j.left); b <- staticBound(j.right))
        yield a * b
    case u: org.apache.spark.sql.execution.UnionExec =>
      val bs = u.children.map(staticBound)
      if (bs.forall(_.isDefined)) Some(bs.flatten.sum) else None
    case _ if p.children.isEmpty => None // file scan, shuffle read, …
    case _ =>
      val bs = p.children.map(staticBound)
      if (bs.forall(_.isDefined)) Some(bs.max.getOrElse(0L)) else None
  }

  private def bounded(p: SparkPlan): Boolean =
    staticBound(p).exists(_ <= boundedCap)

  /** All plan nodes including any already-planned subqueries (at the
    * `sparkPlan` stage subquery expressions may still hold LOGICAL
    * plans — those are scalar/IN subqueries, one-row or semi-join
    * shapes, skipped here).
    */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val here = p.collect { case n => n }
    // subqueries' static type lies at this stage (erased cast): force
    // a runtime type test or unplanned logical subplans CCE.
    here ++ here.flatMap(_.subqueries.asInstanceOf[Seq[Any]].collect {
      case sp: SparkPlan => allNodes(sp)
    }.flatten)
  }

  private def violations(df: DataFrame): Seq[String] =
    allNodes(df.queryExecution.sparkPlan).flatMap {
      case c: CartesianProductExec
          if !bounded(c.left) && !bounded(c.right) =>
        Seq(s"CartesianProduct with both sides unbounded: " +
          s"${c.simpleStringWithNodeId()}")
      case j: BroadcastNestedLoopJoinExec =>
        val build = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
          case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        }
        if (bounded(build)) Nil
        else Seq("BroadcastNestedLoopJoin with unbounded build side: " +
          s"${j.simpleStringWithNodeId()}")
      case w: WindowExec
          if w.partitionSpec.isEmpty && !bounded(w.child) =>
        Seq("Window over an unpartitioned, unbounded frame: " +
          s"${w.simpleStringWithNodeId()}")
      case _ => Nil
    }

  /** Intentional shapes the static bound can't see, pinned BY COUNT so
    * a new accidental node in these queries (or any node in any other
    * query) still fails. Every entry's build/window leg is bounded by
    * KEY DOMAIN or construction, not data luck:
    *  - ANN audits (q28/q40/q105/q112/q117/q138): the broadcast leg
    *    is the ≤10-row audit query set (`vec_id < 10`) or a ≤k-row
    *    centroid table (aggregate over k assigned buckets) — both
    *    constant in corpus size, just not provable from plan shape.
    *  - q78: pairwise cosine over per-label centroids (≤ label-domain
    *    rows) — the non-equi `a < b` join is the intended triangle.
    *  - q92: χ² expected counts = type-marginals × weekday-marginals
    *    (≤ 7 × type-domain rows each side).
    *  - q59/q73: `Packing.packIntoShards`' offset stitch — the global
    *    window reads ONE row per 2^k-id bucket (corpus/2^k rows), the
    *    documented partitioned-prefix-sum trade.
    *  - q158/q165: `rankByRange`'s offset stitch under a CONSTANT
    *    group (the catalog dense index / the epoch-order global rank)
    *    — the optimizer folds the literal group out of the partition
    *    spec, leaving a "global" window whose input is the
    *    per-(group, range-slice) count frame: ≤ numShufflePartitions
    *    rows by construction, the q59 shape.
    */
  private val allowed: Map[String, Int] = Map(
    "q28_ann_bruteforce" -> 1,
    // two brute-force legs (full-dim + 16-dim prefix), each with the
    // ≤10-row audit-query broadcast side — the q28 shape twice
    "q207_matryoshka_audit" -> 2,
    "q40_ann_kmedians" -> 2,
    "q105_ann_int8" -> 1,
    // pqTopK's exhaustive ADC scan: the q28 shape over codes, each
    // query row carrying its lookup table across the broadcast
    "q112_ann_pq" -> 1,
    "q117_ann_recall_audit" -> 2,
    "q138_ann_recall_audit_sampled" -> 2,
    "q78_centroid_drift" -> 1,
    // KMV pair enumeration over the event-type DOMAIN (the q78
    // intended triangle): both legs are per-group one-row estimate
    // frames, bounded by label domain, not plan shape; the ONE
    // enumeration site appears 3× because the un-persisted pair
    // frame feeds three consumers (two merge legs + the final join)
    "q219_kmv_overlap" -> 3,
    "q92_type_weekday_chi2" -> 1,
    // spearmanCorr under a CONSTANT group: the optimizer folds the
    // literal out of the two rank windows' partition specs, leaving
    // "global" windows whose input is the per-distinct-score count
    // frame — supplier-domain-bounded by construction (the q158/q165
    // rankByRange shape)
    "q254_centrality_agreement" -> 2,
    // the broadcast build side is the per-label centroid-array table
    // (one row per label — bounded by label DOMAIN, a grouped
    // aggregate the static bound can't see); the corpus leg folds
    // against all L centroids in one scan by design
    "q243_centroid_silhouette" -> 1,
    "q59_token_shards" -> 1,
    "q73_training_shards" -> 1,
    "q158_negative_samples" -> 1,
    "q165_epoch_order" -> 1,
    // ntileByRange's offset stitch under the CONSTANT "__all" group
    // (the q158/q165 rankByRange shape): the folded-"global" window
    // reads the per-range-slice count frame, ≤ numShufflePartitions
    // rows by construction
    "q290_selection_curve" -> 1,
    // Hamilton largest-remainder ranks (one per allocation column)
    // over the STRATUM frame — a grouped aggregate bounded by the
    // segment domain, which the static bound can't see
    "q297_neyman_allocation" -> 2,
    // the class × sensitive-value grid: the broadcast build side is
    // the per-distinct-value count frame — bounded by the LOW-
    // CARDINALITY sensitive domain (the documented t-closeness
    // contract: bucketed salaries, status codes), a grouped
    // aggregate the static bound can't see
    "q349_t_closeness" -> 1,
    // the snake-allocation rank window: a global window whose input
    // is the per-registrable-domain aggregate — bounded by the
    // domain DOMAIN (the q78/q349 reading), never the page rows
    "q370_politeness_shards" -> 1,
    // |eval-sample| × |train| scored pairs — the q28 brute-force ANN
    // trade; the Jia et al. recurrence needs each test point's FULLY
    // sorted training neighborhood (at scale: ANN candidate lists)
    "q376_knn_shapley" -> 1)

  test("every registry query plans free of cartesian products, " +
      "unbounded nested-loop joins, and unbounded global windows " +
      "(intentional domain-bounded sites pinned by count)") {
    assert(allowed.keySet.subsetOf(SparkEntry.queries.keySet),
      "stale allowlist entry")
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        graft.core.CacheScope.withScope {
          val vs = violations(fn(spark, sfDir))
          if (vs.size <= allowed.getOrElse(name, 0)) Nil
          else vs.map(v => s"$name: $v")
        }
    }
    assert(bad.isEmpty, s"\n${bad.mkString("\n")}")
  }

  test("the gate actually fires: a seeded cartesian, an unbounded " +
      "NLJ, and a global window are each reported") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val other = spark.read.parquet(s"$sfDir/events.parquet")
    val cart = docs.crossJoin(other)
    assert(violations(cart).exists(v =>
      v.contains("CartesianProduct") ||
        v.contains("BroadcastNestedLoopJoin")))
    val nlj = docs.join(other,
      docs("doc_id") > other("event_id"), "inner")
    assert(violations(nlj).nonEmpty)
    val gw = docs.withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("doc_id"))))
    assert(violations(gw).exists(_.contains("Window")))
    // …and the allowed shapes do NOT fire: scalar crossJoin, top-k
    // global window
    val scalar = docs.crossJoin(broadcast(
      other.agg(count(lit(1)).as("n"))))
    assert(violations(scalar).isEmpty)
    val topk = docs.orderBy(col("doc_id")).limit(10).withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("doc_id"))))
    assert(violations(topk).isEmpty)
  }
}
