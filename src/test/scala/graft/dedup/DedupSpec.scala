package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class DedupSpec extends SparkSpec {

  private def docs(rows: (Int, String)*) = df(
    StructType(Seq(
      StructField("id", IntegerType),
      StructField("text", StringType))),
    rows.map { case (i, t) => Row(i, t) })

  private val base = "the quick brown fox jumps over the lazy dog " +
    "while the cat watches from the warm window sill nearby"

  /** The window form both dedup plans must equal: first row by id per
    * normalized-text fingerprint.
    */
  private def windowDedup(d: org.apache.spark.sql.DataFrame) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(graft.text.TextAnalysis.fingerprint(col("text")))
      .orderBy(col("id").asc)
    d.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  test("exactDedupAgg keeps first row per normalized text") {
    val d = docs(
      (1, "Hello World"), (2, "hello   world"), (3, "different"))
    val out = Dedup.exactDedupAgg(d, "text", "id")
    assert(out.count() == 2)
    assert(out.orderBy("id").collect().map(_.getInt(0)).toSeq == Seq(1, 3))
  }

  test("exactDedupAgg (min_by aggregation form) is result-identical to " +
      "the window form") {
    val d = docs(
      (5, "Hello World"), (2, "hello   world"), (9, "HELLO WORLD"),
      (3, "different"), (7, "Different"))
    val win = windowDedup(d).collect().map(_.toSeq).toSet
    val agg = Dedup.exactDedupAgg(d, "text", "id")
      .collect().map(_.toSeq).toSet
    assert(agg == win)
    assert(agg.map(_.head) == Set(2, 3)) // min id survives per group
  }

  test("dedupAgainst keeps only batch rows new to the corpus, deduped " +
      "within the batch") {
    val corpus = docs((1, "existing doc one"), (2, "existing doc two"))
    val batch = docs(
      (10, "Existing   DOC one"), // dup of corpus 1 (normalized)
      (11, "brand new doc"),
      (12, "brand  NEW doc"), // intra-batch dup of 11
      (13, "another new doc"))
    val out = Dedup.dedupAgainst(corpus, batch, "text", "id")
      .orderBy("id").collect().map(_.getInt(0)).toSeq
    assert(out == Seq(11, 13))
  }

  test("exactDedupSemi (narrow-shuffle semi-join form) is " +
      "result-identical to the window form") {
    val d = docs(
      (5, "Hello World"), (2, "hello   world"), (9, "HELLO WORLD"),
      (3, "different"), (7, "Different"))
    val win = windowDedup(d).collect().map(_.toSeq).toSet
    val semi = Dedup.exactDedupSemi(d, "id", "text")
      .collect().map(_.toSeq).toSet
    assert(semi == win)
  }

  test("exactDedupSemi on a heavily duplicated corpus: the dedup " +
      "aggregation shuffle carries only id + fingerprint, and AQE " +
      "executes the survivor semi-join as a broadcast (corpus rows " +
      "never network-exchanged)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // 2000 rows, 10 distinct fat texts — the shape where shuffling the
    // text column would move ~200× more bytes than shuffling its keys
    val texts = (0 until 10)
      .map(i => s"document body variant $i " + ("lorem ipsum " * 40))
    val d = docs((0 until 2000).map(i => (i, texts(i % 10))): _*)
    val out = Dedup.exactDedupSemi(d, "id", "text")
    // execute THIS query execution (count() would build a separate
    // one, leaving out's plan un-finalized) → AQE-final plan
    assert(out.collect().length == 10)
    def shuffleOutputs(p: SparkPlan): Seq[Seq[String]] = p.collect {
      case a: AdaptiveSparkPlanExec => shuffleOutputs(a.executedPlan)
      case q: QueryStageExec => shuffleOutputs(q.plan)
      case s: ShuffleExchangeLike => Seq(s.output.map(_.name))
    }.flatten
    val plan = out.queryExecution.executedPlan
    // the dedup (fingerprint→min id) exchange is NARROW: id + 16-byte
    // fp only, never the document body
    val fpShuffles = shuffleOutputs(plan).filter(_.exists(_.contains("__fp")))
    assert(fpShuffles.nonEmpty, "expected the fingerprint dedup shuffle")
    fpShuffles.foreach { cols =>
      assert(!cols.contains("text"),
        s"text column rode through the dedup shuffle: $cols")
    }
    // the survivor set (10 ids) is small → AQE must finish the semi
    // join as a broadcast: the statically-planned corpus-side shuffle
    // write is read back PARTITION-LOCAL (no network exchange of text
    // rows). At warehouse scale the corpus side is bucketed by id,
    // which removes that shuffle write entirely.
    // the adaptive plan string appends the (pre-runtime) Initial Plan —
    // assert on the executed Final Plan section only
    val planStr = plan.toString.split("== Initial Plan ==").head
    assert(planStr.contains("BroadcastHashJoin"),
      s"survivor semi-join did not broadcast:\n${planStr.take(800)}")
    assert(!planStr.contains("SortMergeJoin"),
      "corpus rows went through a sort-merge exchange")
  }

  test("exactDupStats counts all members of dup groups") {
    val d = docs((1, "aa"), (2, "AA"), (3, "bb"))
    val r = Dedup.exactDupStats(d, "text").head()
    assert(r.getAs[Long]("duplicate_rows") == 2L)
    assert(r.getAs[Long]("distinct_texts") == 2L)
    assert(r.getAs[Long]("total_rows") == 3L)
  }

  test("ngramJaccardPairs finds near-dups via inverted index") {
    val d = docs(
      (1, base),
      (2, base.replace("lazy", "sleepy")), // near-dup of 1
      (3, "completely unrelated words about spark catalyst optimizer"))
    val out = Dedup.ngramJaccardPairs(d, "id", "text", n = 3,
      threshold = 0.3)
    val pairs = out.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(pairs == Seq((1, 2)))
    val jac = out.head().getAs[Double]("jaccard")
    assert(jac > 0.3 && jac < 1.0)
  }

  test("ngramJaccardPairs finds nothing among dissimilar docs") {
    val d = docs(
      (1, base),
      (2, "catalyst turns logical plans into physical plans with rules"))
    assert(Dedup.ngramJaccardPairs(d, "id", "text", 3, 0.2).count() == 0)
  }

  test("ngramJaccardPairs identical docs have jaccard 1.0") {
    val d = docs((1, base), (2, base))
    val r = Dedup.ngramJaccardPairs(d, "id", "text", 3, 0.9).head()
    assert(r.getAs[Double]("jaccard") == 1.0)
  }

  test("stop-shingle cap drops ultra-common shingles from the join") {
    // every doc shares the hot shingle; cap=2 removes it → no pairs
    val hot = "alpha beta gamma"
    val d = docs(
      (1, s"$hot one"), (2, s"$hot two"), (3, s"$hot three"))
    val without = Dedup.ngramJaccardPairs(d, "id", "text", 3, 0.01)
    val withCap = Dedup.ngramJaccardPairs(d, "id", "text", 3, 0.01,
      maxShingleDf = Some(2))
    assert(without.count() > 0)
    assert(withCap.count() == 0)
  }

  test("plan: DF-capped posting lists aggregate with BOUNDED state — " +
      "the BoundedDistinctIds udaf builds them in one exchange with " +
      "state frozen at cap+1, and any plain collect_set in the plan " +
      "sits downstream of a df<=cap semi-join") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    val d = docs(
      (1, s"$base tail one"), (2, s"$base tail two"),
      (3, "completely different content lives here today"))
    val out = Dedup.ngramJaccardPairs(d, "id", "text", 3, 0.5,
      maxShingleDf = Some(2))
    assert(out.count() >= 1) // materialize all AQE stages
    // flatten across AQE stage boundaries AND into cached (persisted)
    // intermediate plans — the posting build hides behind an
    // InMemoryTableScan in the consuming query
    def flatTree(p: SparkPlan): Seq[SparkPlan] = p.collect {
      case a: AdaptiveSparkPlanExec => flatTree(a.executedPlan)
      case q: QueryStageExec => q +: flatTree(q.plan)
      case c: InMemoryTableScanExec =>
        c +: flatTree(c.relation.cachedPlan)
      case other => Seq(other)
    }.flatten
    val all = flatTree(out.queryExecution.executedPlan)
    // the posting build is the bounded-state udaf (int ids take the
    // cast-to-long route)
    val bounded = all.collect { case a: BaseAggregateExec
      if a.aggregateExpressions.exists(_.aggregateFunction.toString
        .toLowerCase.contains("boundeddistinctids")) => a }
    assert(bounded.nonEmpty,
      "expected the BoundedDistinctIds posting aggregation")
    // and no unbounded collect_set materializes hot groups: any plain
    // collect_set left in the plan (the non-integral-id fallback)
    // must sit downstream of the df<=cap semi-join
    all.collect { case a: BaseAggregateExec
      if a.aggregateExpressions.exists(
        _.aggregateFunction.prettyName == "collect_set") => a
    }.foreach { a =>
      val semis = flatTree(a).collect {
        case j: BaseJoinExec if j.joinType == LeftSemi => j }
      assert(semis.nonEmpty,
        s"collect_set aggregation without an upstream df-cap " +
          s"semi-join:\n$a")
    }
  }

  test("BoundedDistinctIds: exact sorted sets at or under cap, frozen " +
      "(and filterable) past it; long-id postings equal the " +
      "collect_set form") {
    import graft.expressions.BoundedDistinctIds
    // unit-level: freeze semantics
    val agg = new BoundedDistinctIds(3)
    val full = Seq(5L, 9L, 2L, 9L, 7L, 2L).foldLeft(agg.zero)(agg.reduce)
    assert(full.size == 4, "state frozen at cap+1")
    assert(Seq(1L, 2L, 3L).foldLeft(agg.zero)(agg.reduce) ==
      Seq(1L, 2L, 3L))
    assert(agg.merge(Seq(1L, 3L), Seq(2L, 3L)) == Seq(1L, 2L, 3L))
    assert(agg.merge(full, Seq(1L)) == full, "overflow is terminal")
    // frame-level, LONG ids (the oracle tables' type): udaf postings
    // == sort_array(collect_set) + size filter
    val d = spark.range(0, 40).selectExpr("id AS doc",
      "CAST(id % 7 AS STRING) AS shingle")
    val got = d.groupBy("shingle")
      .agg(BoundedDistinctIds.boundedDistinctIds(5)(col("doc"))
        .as("ids"))
      .where(size(col("ids")) <= 5)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val want = d.groupBy("shingle")
      .agg(sort_array(collect_set(col("doc"))).as("ids"))
      .where(size(col("ids")) <= 5)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(got == want)
    assert(got.nonEmpty && got.values.forall(ids =>
      ids == ids.sorted && ids.distinct == ids))
  }

  test("DF-capped ngramJaccardPairs emits byte-identical pairs AND " +
      "values to the uncapped run (cap prunes candidates only; verify " +
      "is exact over full shingle sets)") {
    // every doc shares a hot template prefix (shingle df = 4 > cap);
    // near-dup pairs also share rare shingles, so they survive the
    // candidate prune — and their common/jaccard must come from the
    // FULL shingle sets, not the pruned ones
    val prefix = "standard template header used by every document"
    val other = "catalyst rewrites logical plans with rule batches " +
      "until the tree reaches a fixed point of the optimizer"
    val d = docs(
      (1, s"$prefix $base"),
      (2, s"$prefix ${base.replace("lazy", "sleepy")}"),
      (3, s"$prefix $other"),
      (4, s"$prefix ${other.replace("batches", "groups")}"))
    val uncapped = Dedup.ngramJaccardPairs(d, "id", "text", 3, 0.7)
      .collect().map(_.toSeq).toSet
    val capped = Dedup.ngramJaccardPairs(d, "id", "text", 3, 0.7,
      maxShingleDf = Some(2)).collect().map(_.toSeq).toSet
    assert(uncapped.nonEmpty)
    assert(capped == uncapped)
  }

  test("ngramContainmentPairs catches a short doc embedded in a long " +
      "one that Jaccard misses, at containment exactly common/min") {
    // doc 2 = doc 1 plus a long unrelated tail: every shingle of 1 is
    // in 2, so containment = 1.0, while the union dilutes Jaccard
    val tail = "catalyst rewrites logical plans with rule batches " +
      "until the tree reaches a fixed point of the optimizer and " +
      "then tungsten generates bytecode for the surviving operators " +
      "before execution finally begins on the cluster"
    val d = docs((1, base), (2, s"$base $tail"))
    val jac = Dedup.ngramJaccardPairs(d, "id", "text", 3, 0.8)
    assert(jac.count() == 0, "Jaccard should dilute below 0.8")
    val out = Dedup.ngramContainmentPairs(d, "id", "text", 3, 0.8)
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getInt(0), r.getInt(1)) == ((1, 2)))
    assert(r.getAs[Double]("containment") == 1.0)
    // containment is common/min(na, nb) exactly: doc 1's shingles all
    // appear in doc 2, and doc 1 is the smaller set
    val n1 = base.trim.split("\\s+").length - 2
    assert(r.getAs[Long]("common") == n1.toLong)
  }

  test("DF-capped ngramContainmentPairs emits byte-identical pairs " +
      "AND values to the uncapped run") {
    val prefix = "standard template header used by every document"
    val other = "catalyst rewrites logical plans with rule batches " +
      "until the tree reaches a fixed point of the optimizer"
    val d = docs(
      (1, s"$prefix $base"),
      (2, s"$prefix $base extra trailing words beyond the original"),
      (3, s"$prefix $other"),
      (4, s"$prefix $other with some extra words on the end too"))
    val uncapped = Dedup.ngramContainmentPairs(d, "id", "text", 3, 0.7)
      .collect().map(_.toSeq).toSet
    val capped = Dedup.ngramContainmentPairs(d, "id", "text", 3, 0.7,
      maxShingleDf = Some(2)).collect().map(_.toSeq).toSet
    assert(uncapped.nonEmpty)
    assert(capped == uncapped)
  }

  test("containment >= jaccard on every emitted pair, equal only when " +
      "the smaller set is contained or sizes match") {
    val d = docs(
      (1, base),
      (2, base.replace("lazy", "sleepy")),
      (3, s"$base and a bit more text on the end"))
    val jac = Dedup.ngramJaccardPairs(d, "id", "text", 3, 0.01)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        r.getAs[Double]("jaccard")).toMap
    val con = Dedup.ngramContainmentPairs(d, "id", "text", 3, 0.01)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        r.getAs[Double]("containment")).toMap
    assert(jac.keySet == con.keySet)
    jac.foreach { case (pair, j) =>
      assert(con(pair) >= j, s"$pair: containment ${con(pair)} < $j")
    }
  }

  test("minhashJaccardEstimate: identical docs estimate 1.0, disjoint " +
      "docs 0.0, and the estimate matches a driver-side signature " +
      "replay component-for-component") {
    val d = docs(
      (1, base), (2, base),
      (3, base.replace("lazy", "sleepy")),
      (4, "completely unrelated words about catalyst rule batches"))
    val sigs = Dedup.minhashSignatures(d, "id", "text", n = 3,
      numHashes = 16)
    val pairSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id_a",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("id_b",
        org.apache.spark.sql.types.IntegerType)))
    val pairs = df(pairSchema, Seq(Row(1, 2), Row(1, 3), Row(1, 4)))
    val out = Dedup.minhashJaccardEstimate(pairs, sigs, "id")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2))
      .toMap
    assert(out((1, 2)) == 1.0)
    assert(out((1, 4)) == 0.0)
    // driver-side replay: agreement fraction over the collected sigs
    val sm = sigs.collect().map(r => r.getInt(0) ->
      (0 until 16).map(i => r.getAs[Long](s"h$i"))).toMap
    out.foreach { case ((a, b), est) =>
      val want = sm(a).zip(sm(b)).count { case (x, y) => x == y } / 16.0
      assert(est == BigDecimal(want)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // near-dup pair: estimate within 3 standard errors of the exact
    val exact = Dedup.ngramJaccardPairs(d.where(col("id").isin(1, 3)),
      "id", "text", 3, 0.01).head().getAs[Double]("jaccard")
    val se = math.sqrt(exact * (1 - exact) / 16)
    assert(math.abs(out((1, 3)) - exact) <= 3 * se + 1e-9,
      s"est ${out((1, 3))} vs exact $exact (se $se)")
  }

  test("containmentMatches: a batch doc embedded verbatim in a longer " +
      "corpus doc scores 1.0 — the pair both Jaccard and the band " +
      "index miss") {
    val tail = "catalyst rewrites logical plans with rule batches " +
      "until the tree reaches a fixed point of the optimizer and " +
      "then tungsten generates bytecode for the surviving operators " +
      "before execution finally begins on the cluster"
    val corpus = docs(
      (10, s"$base $tail"),
      (11, "completely unrelated words about parquet footers"))
    val batch = docs((1, base))
    val index = Dedup.buildLshIndex(corpus, "id", "text",
      n = 3, numHashes = 16, bands = 4)
    assert(Dedup.nearDupMatches(corpus, index, batch, "id", "text",
      3, 16, 4, 0.8).count() == 0, "Jaccard should dilute below 0.8")
    val out = Dedup.containmentMatches(corpus, batch, "id", "text",
      3, 0.8).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getInt(0), r.getInt(1)) == ((1, 10)))
    assert(r.getAs[Double]("containment") == 1.0)
  }

  test("DF-capped containmentMatches emits byte-identical pairs AND " +
      "values to the uncapped run (cap prunes candidates; verify is " +
      "exact over full sets)") {
    val prefix = "standard template header used by every document"
    val other = "catalyst rewrites logical plans with rule batches " +
      "until the tree reaches a fixed point of the optimizer"
    val corpus = docs(
      (10, s"$prefix $base and a long trailing addendum of words"),
      (11, s"$prefix $other"),
      (12, s"$prefix completely different closing content here"))
    val batch = docs(
      (1, s"$prefix $base"),
      (2, s"$prefix novel text that matches no corpus document at all"))
    val uncapped = Dedup.containmentMatches(corpus, batch, "id",
      "text", 3, 0.6).collect().map(_.toSeq).toSet
    val capped = Dedup.containmentMatches(corpus, batch, "id", "text",
      3, 0.6, maxShingleDf = Some(2)).collect().map(_.toSeq).toSet
    assert(uncapped.nonEmpty)
    assert(capped == uncapped)
  }

  test("dedupContainedAgainst: in-batch exact dups collapse first, " +
      "contained rows drop, novel rows survive") {
    val tail = "and then a very long unrelated continuation about " +
      "shuffle partitions and adaptive execution planning internals"
    val corpus = docs((10, s"$base $tail"))
    val batch = docs(
      (1, base), (2, base), // exact dups of each other; 1 wins, then
                            // 1 is contained in corpus doc 10 → drops
      (3, "entirely novel content that appears in no corpus document"))
    val out = Dedup.dedupContainedAgainst(corpus, batch, "id", "text",
      "id", 3, 0.8).select("id").collect().map(_.getInt(0)).toSeq
    assert(out == Seq(3))
  }

  test("dedupNearKeepBest: the highest-score cluster member survives " +
      "even with a higher id, singletons keep themselves, score ties " +
      "fall back to min id") {
    val tail = "with extra words"
    val d = docs(
      (1, base),                  // near-dup cluster {1, 2}
      (2, s"$base $tail"),        // longer -> higher quality, higher id
      (3, "a single standalone document about something else entirely"),
      (4, base),                  // exact dup of 1 -> same quality;
                                  // joins cluster {1, 2, 4}
      (9, "another lone note"))
    val scored = d.withColumn("score",
      graft.text.TextAnalysis.qualityScore(col("text")))
    val out = Dedup.dedupNearKeepBest(scored, "id", "text", "score")
      .collect().map(r => r.getInt(0) -> r.getLong(3)).toMap
    // cluster {1,2,4}: 2 has strictly more tokens -> highest quality
    assert(out.keySet == Set(2, 3, 9), s"got $out")
    assert(out(2) == 3L)
    assert(out(3) == 1L && out(9) == 1L)
    // force a tie: identical texts only -> min id wins
    val ties = docs((7, base), (5, base), (6, base))
      .withColumn("score",
        graft.text.TextAnalysis.qualityScore(col("text")))
    val kept = Dedup.dedupNearKeepBest(ties, "id", "text", "score")
      .collect().map(_.getInt(0)).toSeq
    assert(kept == Seq(5))
  }

  test("contaminationCheck flags corpus docs sharing >= minCommon " +
      "n-grams with a benchmark doc, counts distinct shared shingles") {
    val leak = "the exact benchmark question about spark shuffles here"
    val corpus = docs(
      (1, s"prefix words then $leak and a suffix"), // contains the leak
      (2, "completely unrelated content about parquet footers"),
      (3, s"another doc that also copied $leak verbatim"))
    val bench = docs((100, leak))
    // leak = 8 words → 4 shared 5-grams for docs 1 and 3
    val out = Dedup.contaminationCheck(corpus, bench, "id", "text",
        n = 5, minCommon = 3)
      .orderBy("corpus_id").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(out.toSeq == Seq((1, 100, 4L), (3, 100, 4L)))
    // raising the bar above the overlap empties the result
    assert(Dedup.contaminationCheck(corpus, bench, "id", "text",
      n = 5, minCommon = 5).count() == 0)
    // a corpus doc REPEATING the leak still counts each shingle once
    // (corpus side is exploded raw; distinctness lives in the agg)
    val repeat = docs((7, s"$leak and again $leak and again $leak"))
    val rep = Dedup.contaminationCheck(repeat, bench, "id", "text",
        n = 5, minCommon = 3)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(rep.toSeq == Seq((7, 100, 4L)))
  }

  test("contaminationCheck plan: the corpus leg reaches the broadcast " +
      "join with NO exchange upstream (corpus never shuffles)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val corpus = docs((0 until 50).map(i =>
      (i, s"corpus document $i with some shared phrase about engines")): _*)
    val bench = docs((1000, "shared phrase about engines and a tail"))
    val out = Dedup.contaminationCheck(corpus, bench, "id", "text",
      n = 3, minCommon = 1)
    assert(out.collect().nonEmpty) // finalize the adaptive plan
    def unwrap(p: SparkPlan): Seq[SparkPlan] = p.collect {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case q: QueryStageExec => unwrap(q.plan)
      case other => Seq(other)
    }.flatten
    val nodes = unwrap(out.queryExecution.executedPlan)
    val bhj = nodes.collectFirst { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, "contamination join must be a broadcast join")
    // streamed (corpus) side: projection/generate only — no exchange
    val streamed = bhj.get.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildRight =>
        bhj.get.left
      case _ => bhj.get.right
    }
    val streamedShuffles = unwrap(streamed)
      .collect { case s: ShuffleExchangeLike => s }
    assert(streamedShuffles.isEmpty,
      s"corpus leg shuffled before the join:\n$streamed")
  }

  test("contaminationCheck maxBenchmarkDf drops benchmark-hot " +
      "shingles from the check, None is exact") {
    val boiler = "standard license header words appear everywhere always"
    val bench = docs(
      (100, s"$boiler question one about catalyst"),
      (101, s"$boiler question two about tungsten"),
      (102, s"$boiler question three about shuffles"))
    val corpus = docs((1, s"a page that only copied the $boiler part"))
    // boilerplate 3-grams appear in all 3 benchmark docs; with the cap
    // at 2 they stop counting, and doc 1 shares nothing specific
    val exact = Dedup.contaminationCheck(corpus, bench, "id", "text",
      n = 3, minCommon = 2)
    assert(exact.count() > 0)
    val capped = Dedup.contaminationCheck(corpus, bench, "id", "text",
      n = 3, minCommon = 2, maxBenchmarkDf = Some(2))
    assert(capped.count() == 0)
  }

  test("minhashSignatures: identical docs get identical signatures") {
    val d = docs((1, base), (2, base), (3, "something else entirely here"))
    val sigs = Dedup.minhashSignatures(d, "id", "text", 3, 16)
    assert(sigs.columns.toSeq ==
      "id" +: (0 until 16).map(i => s"h$i"))
    val rows = sigs.orderBy("id").collect()
    val s1 = rows(0).toSeq.tail
    val s2 = rows(1).toSeq.tail
    val s3 = rows(2).toSeq.tail
    assert(s1 == s2)
    assert(s1 != s3)
  }

  test("minhashLshPairs finds the near-dup pair and verifies with exact jaccard") {
    val d = docs(
      (1, base),
      (2, base.replace("lazy", "sleepy")),
      (3, "spark shuffles data between stages when keys must co-locate"),
      (4, "rdd lineage tracks transformations for fault tolerance"))
    val out = Dedup.minhashLshPairs(d, "id", "text",
      n = 3, numHashes = 16, bands = 8, threshold = 0.3)
    val pairs = out.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(pairs == Seq((1, 2)))
    // verified jaccard matches the exact computation
    val exact = Dedup.ngramJaccardPairs(d, "id", "text", 3, 0.3)
      .head().getAs[Double]("jaccard")
    assert(out.head().getAs[Double]("jaccard") == exact)
  }

  test("minhashLshPairs over RAW shingles: duplicate-heavy repeated " +
      "shingles change nothing (min is duplicate-insensitive; " +
      "denominators are distinct counts)") {
    // every shingle of doc 1/2 repeats many times inside the text;
    // raw occurrence rows >> distinct shingles — signatures and
    // jaccard must come out as if deduped
    val loop = Seq.fill(12)(base).mkString(" ")
    val d = docs(
      (1, loop),
      (2, Seq.fill(7)(base.replace("lazy", "sleepy")).mkString(" ")),
      (3, "unrelated content that shares nothing with the pair"))
    val lsh = Dedup.minhashLshPairs(d, "id", "text",
      n = 3, numHashes = 16, bands = 8, threshold = 0.2)
      .collect().map(r => (r.getInt(0), r.getInt(1),
        r.getAs[Double]("jaccard"))).toSeq
    val exact = Dedup.ngramJaccardPairs(d, "id", "text", 3, 0.2)
      .collect().map(r => (r.getInt(0), r.getInt(1),
        r.getAs[Double]("jaccard"))).toSeq
    // exact inverted-index (distinct-shingle) results are the truth;
    // the LSH chain must agree byte-for-byte on the caught pairs
    assert(lsh.nonEmpty)
    assert(lsh.toSet.subsetOf(exact.toSet))
    assert(lsh.map(p => (p._1, p._2)).contains((1, 2)))
  }

  test("minhashSignatures plan: ONE exchange (the id-keyed agg) — no " +
      "corpus-wide shingle distinct upstream") {
    val plan = Dedup.minhashSignatures(
        docs((1, base), (2, base)), "id", "text", 3, 16)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, plan:\n$plan")
  }

  test("tokenBit extracts md5 bits MSB-first") {
    // md5("a") = 0cc175b9... first nibble 0x0 → bits 0..3 all 0;
    // second nibble 0xc = 1100 → bits 4,5 = 1 and 6,7 = 0
    val d = docs((1, "x")).select(md5(lit("a")).as("h"))
    val bits = d.select((0 until 8).map(i =>
      Dedup.tokenBit(col("h"), i).as(s"b$i")): _*).head()
    assert((0 until 8).map(bits.getInt) == Seq(0, 0, 0, 0, 1, 1, 0, 0))
  }

  test("simhash: identical docs identical, hex/halves consistent") {
    val d = docs((1, base), (2, base))
    val out = Dedup.simhash(d, "id", "text").orderBy("id").collect()
    assert(out(0).getAs[String]("simhash_hex") ==
      out(1).getAs[String]("simhash_hex"))
    val hex = out(0).getAs[String]("simhash_hex")
    assert(hex.length == 16)
    assert(java.lang.Long.parseLong(hex.substring(0, 8), 16) ==
      out(0).getAs[Long]("sim_hi"))
  }

  test("simhashPairs finds docs with near-identical token frequencies") {
    // TF-weighted SimHash: reordering preserves the fingerprint
    // exactly; an unrelated doc lands far away.
    val reordered = base.split(" ").reverse.mkString(" ")
    val d = docs(
      (1, base),
      (2, reordered),
      (3, "catalyst rules rewrite logical plans before physical planning"))
    val out = Dedup.simhashPairs(d, "id", "text", maxDist = 3)
    val pairs = out.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(pairs == Seq((1, 2)))
    assert(out.head().getAs[Int]("hamming") == 0)
  }

  test("hammingDist counts differing bits across both halves") {
    val d = spark.sql(
      "SELECT CAST(11 AS BIGINT) a_hi, CAST(0 AS BIGINT) a_lo, " +
        "CAST(8 AS BIGINT) b_hi, CAST(3 AS BIGINT) b_lo")
    val h = d.select(Dedup.hammingDist(
      col("a_hi"), col("a_lo"), col("b_hi"), col("b_lo"))).head().getInt(0)
    assert(h == 4) // 1011 vs 1000 → 2 bits; 0000 vs 0011 → 2 bits
  }

  test("duplicateChunkFraction counts spans shared ACROSS documents; " +
      "within-document repetition does not count") {
    val shared = "s1 s2 s3 s4"
    val d = docs(
      (1, s"$shared u1 u2 u3 u4"),   // chunk 1 shared with doc 2
      (2, s"$shared v1 v2 v3 v4"),
      (3, "w1 w2 w3 w4 w5 w6 w7 w8"), // no cross-doc chunk
      (4, "r1 r2 r3 r4 r1 r2 r3 r4")) // repeated span, same doc only
    val out = Dedup.duplicateChunkFraction(d, "id", "text", window = 4)
      .orderBy("id")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (1, 2L, 1L), (2, 2L, 1L), (3, 2L, 0L), (4, 2L, 0L)))
  }

  test("duplicateChunkFraction: short final chunks compare verbatim " +
      "(a 1-token tail only matches another 1-token tail)") {
    val d = docs(
      (1, "a b c d e"),  // chunks: "a b c d", "e"
      (2, "x y z w e"))  // chunks: "x y z w", "e"  — tails match
    val out = Dedup.duplicateChunkFraction(d, "id", "text", window = 4)
      .orderBy("id")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1, 2L, 1L), (2, 2L, 1L)))
  }

  // near-dup fodder: long base sentences with small mutations stay
  // above 0.8 Jaccard on 3-gram shingles; distinct texts stay far below
  private def mut(base: String, i: Int) =
    base + s" trailing marker token$i"

  test("nearDupMatches (standing index + batch probe) equals the " +
      "symmetric LSH pipeline restricted to cross-side pairs") {
    val baseA = "the quick brown fox jumps over the lazy dog while " +
      "the patient cat watches from the warm window sill nearby " +
      "and the evening light settles across the quiet garden path"
    val baseB = "completely different content about distributed " +
      "query engines shuffling partitions across executors while " +
      "the optimizer prunes columns and pushes filters into scans"
    val corpus = docs(
      (1, mut(baseA, 1)), (2, mut(baseB, 2)),
      (3, "short unrelated note about nothing in particular today"),
      (4, mut(baseA, 4))) // within-corpus near-dup of 1
    val batch = docs(
      (101, mut(baseA, 101)), // near-dup of corpus 1 and 4
      (102, mut(baseB, 102)), // near-dup of corpus 2
      (103, "a wholly new document with fresh unseen vocabulary"),
      (104, mut(baseB, 104))) // also near-dup of 2 AND of batch 102
    val all = corpus.unionByName(batch)
    val sym = Dedup.minhashLshPairs(all, "id", "text",
        n = 3, numHashes = 16, bands = 4, threshold = 0.8)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1),
        math.round(r.getDouble(2) * 1e4)))
      .flatMap { case (a, b, j) =>
        // keep cross-side pairs as (batch, corpus)
        if (a < 100 && b >= 100) Some(((b, a), j))
        else if (a >= 100 && b < 100) Some(((a, b), j))
        else None
      }.toMap
    val index = Dedup.buildLshIndex(corpus, "id", "text",
      n = 3, numHashes = 16, bands = 4)
    val asym = Dedup.nearDupMatches(corpus, index, batch, "id", "text",
        n = 3, numHashes = 16, bands = 4, threshold = 0.8)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        math.round(r.getDouble(2) * 1e4)).toMap
    assert(asym == sym, s"\nasym = $asym\nsym  = $sym")
    assert(asym.keySet.map(_._1) == Set(101, 102, 104))
  }

  test("rowBandKeys (the per-row probe keys) equal buildLshIndex's " +
      "(id, band, sig) rows exactly: repeated shingles, short and NULL " +
      "texts") {
    val d = docs(
      (1, "the cat sat on the mat and the cat sat on the mat again"),
      (2, "two words"), // shorter than n: no rows
      (3, null), // NULL text: no rows
      (4, mut(base, 4)),
      (5, "The CAT sat, on the   mat! " + base))
    for ((k, b) <- Seq((16, 8), (16, 4), (12, 3))) {
      def rows(f: org.apache.spark.sql.DataFrame) = f.collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getString(2))).sorted.toSeq
      val agg = rows(Dedup.buildLshIndex(d, "id", "text", 3, k, b))
      val perRow = rows(Dedup.rowBandKeys(
        d.select(col("id"),
          graft.text.TextAnalysis.shingleArray(col("text"), 3).as("sh")),
        "sh", k, b).select("id", "band", "sig"))
      assert(perRow == agg, s"k=$k b=$b")
      assert(agg.map(_._1).toSet == Set(1, 4, 5))
      assert(agg.size == 3 * b)
    }
  }

  test("nearDupMatches runs without a persist and equals brute-force " +
      "distinct-shingle Jaccard over every band-sharing pair") {
    val baseA = "the quick brown fox jumps over the lazy dog while " +
      "the patient cat watches from the warm window sill nearby " +
      "and the evening light settles across the quiet garden path"
    val baseB = "completely different content about distributed " +
      "query engines shuffling partitions across executors while " +
      "the optimizer prunes columns and pushes filters into scans"
    val corpus = docs(
      (1, mut(baseA, 1)), (2, mut(baseA, 2)), (3, mut(baseB, 3)),
      (4, "short unrelated note about nothing in particular today"))
    val batch = docs(
      (101, mut(baseA, 101)), // near-dup of corpus 1 AND 2
      (102, mut(baseB, 102) + " " + baseA), // shares bands, < 0.8
      (103, "a wholly new document with fresh unseen vocabulary"),
      (104, "tiny"))
    val index = Dedup.buildLshIndex(corpus, "id", "text")
    spark.catalog.clearCache()
    val got = Dedup.nearDupMatches(corpus, index, batch, "id", "text")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2))
      .toMap
    assert(spark.sharedState.cacheManager.isEmpty,
      "nearDupMatches left a cached frame behind")

    def texts(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    def shingles(t: String): Set[String] =
      "[a-z0-9]+".r.findAllIn(t.toLowerCase(java.util.Locale.ROOT))
        .toSeq.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
    def bandSets(d: org.apache.spark.sql.DataFrame) =
      Dedup.buildLshIndex(d, "id", "text").collect()
        .groupMap(_.getInt(0))(r => (r.getInt(1), r.getString(2)))
        .view.mapValues(_.toSet).toMap
    val (bt, ct) = (texts(batch), texts(corpus))
    val shared = for {
      (b, bb) <- bandSets(batch); (c, cb) <- bandSets(corpus)
      n = (bb & cb).size if n > 0
    } yield (b, c) -> n
    val want = shared.keys.flatMap { case (b, c) =>
      val (sb, sc) = (shingles(bt(b)), shingles(ct(c)))
      val common = (sb & sc).size
      val j = common.toDouble / (sb.size + sc.size - common).toDouble
      if (j >= 0.8) Some((b, c) -> j) else None
    }.toMap
    assert(got == want, s"\ngot  = $got\nwant = $want")
    assert(got.keySet == Set((101, 1), (101, 2)))
    assert(shared((101, 1)) >= 2 && shared((101, 2)) >= 2,
      s"the 101 pairs should share several bands: $shared")
    assert(shared.keySet.exists(_._1 == 102),
      "102 should reach verification and fail it")
  }

  test("dedupNearAgainst: in-batch exact dup collapses, corpus " +
      "near-dups drop, fresh and batch-only-near-dup rows survive") {
    val baseA = "the quick brown fox jumps over the lazy dog while " +
      "the patient cat watches from the warm window sill nearby " +
      "and the evening light settles across the quiet garden path"
    val baseC = "yet another topic entirely concerning the seasonal " +
      "migration of seabirds along the rocky northern coastline " +
      "where the wind carries salt across the empty beaches"
    val corpus = docs((1, mut(baseA, 1)))
    val index = Dedup.buildLshIndex(corpus, "id", "text",
      n = 3, numHashes = 16, bands = 4)
    val batch = docs(
      (201, mut(baseA, 201)), // near-dup of corpus → drop
      (202, "fresh standalone document"), // keep
      (203, "fresh standalone document"), // exact in-batch dup → 202 kept
      (204, mut(baseC, 204)), // batch-only near-dup pair: both kept
      (205, mut(baseC, 205)))
    val out = Dedup.dedupNearAgainst(corpus, index, batch,
        "id", "text", "id", n = 3, numHashes = 16, bands = 4)
      .select("id").collect().map(_.getInt(0)).toSet
    assert(out == Set(202, 204, 205))
  }

  private def spanPairs(
      d: org.apache.spark.sql.DataFrame, k: Int, minSpan: Int,
      cap: Int = 10) =
    Dedup.sharedSpans(d, "id", "text", k, minSpan, cap)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap

  test("sharedSpans finds the exact longest common token substring " +
      "per pair (copied passage inside otherwise-different docs)") {
    val passage = "one two three four five six seven eight nine ten"
    val d = docs(
      (1, s"alpha beta $passage gamma delta epsilon zeta eta theta"),
      (2, s"red green blue $passage yellow purple orange pink cyan"),
      (3, "entirely different words with no overlap at all here " +
        "whatsoever in any position of this text"))
    val out = spanPairs(d, k = 3, minSpan = 5)
    // the copied passage is exactly 10 tokens; doc 3 pairs with no one
    assert(out == Map((1, 2) -> 10L))
  }

  test("sharedSpans: a within-doc repeated k-gram does not break or " +
      "inflate the run (diagonal grouping)") {
    // "a b c" appears twice in doc 1; the true longest common
    // substring with doc 2 is the 5-token "a b c d e"
    val d = docs(
      (1, "a b c x y a b c d e z w q r s t u v"),
      (2, "m n a b c d e o p q s t u v w x y z"))
    val out = spanPairs(d, k = 3, minSpan = 4)
    assert(out == Map((1, 2) -> 5L))
  }

  test("sharedSpans: boilerplate k-grams past the df cap never " +
      "generate pairs; docs shorter than k are ignored") {
    val boiler = "terms and conditions apply see website for details"
    // the boilerplate sentence is in ALL 6 docs → df 6 > cap 5 for
    // every one of its k-grams → no pair reaches minSpan
    val d = docs((1 to 6).map(i =>
      (i, s"$boiler unique$i filler$i words$i here$i now$i")): _*)
      .union(docs((7, "tiny")))
    val out = spanPairs(d, k = 3, minSpan = 4, cap = 5)
    assert(out.isEmpty, s"boilerplate leaked: $out")
    // raising the cap above the df exposes the shared 8-token sentence
    val loose = spanPairs(d, k = 3, minSpan = 4, cap = 10)
    assert(loose.size == 15 && loose.values.forall(_ == 8L))
  }
}
