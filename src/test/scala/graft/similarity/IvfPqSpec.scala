package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IVF-PQ: coarse routing over PQ codes ([[Similarity.annIndexRows]]
  * / [[Similarity.ivfPqTopK]] / [[Similarity.pqBuildIvfIndex]] with
  * [[IvfCodec.Pq]]) — the
  * scale path that replaces [[Similarity.pqTopK]]'s corpus × queries
  * ADC scoring with Σ(probed bucket sizes).
  */
class IvfPqSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("vec_id", IntegerType),
    StructField("embedding", ArrayType(DoubleType))))

  private def clustered(n: Int, dim: Int, c: Int, seed: Int) = {
    val rng = new scala.util.Random(seed)
    val anchors = Seq.fill(c)(Seq.fill(dim)(rng.nextDouble() * 2 - 1))
    df(schema, (0 until n).map { i =>
      val a = anchors(i % c)
      Row(i, a.map(_ + rng.nextDouble() * 0.1))
    })
  }

  test("scored-candidate count is EXACTLY the probed buckets' " +
      "population — nprobe-bounded, never corpus × queries") {
    val d = clustered(120, 16, 6, seed = 3)
    val books = Similarity.pqTrainCodebooks(d, "vec_id", "embedding",
      m = 4, k = 8, exactMedian = true)
    val cents = Similarity.hashKCentroids(d, "vec_id", "embedding", 6)
    val index = Similarity.annIndexRows(
      d, "vec_id", "embedding", cents, IvfCodec.Pq(books))
    val queries = d.where(col("vec_id") < 5)
    val nprobe = 2
    val scored = Similarity.ivfScoredCandidates(
      queries, index, cents, "vec_id", "embedding", nprobe,
      roundTo = 4, IvfCodec.Pq(books))
    val got = scored.count()

    // expected: Σ over (query, its nprobe probed buckets) of bucket
    // size, minus self-pairs where the query's own bucket is probed
    val bucketOf = index.select("vec_id", "centroid_id").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    val bucketSize = bucketOf.values.groupBy(identity).map {
      case (c, xs) => c -> xs.size
    }
    val probed = Similarity.ivfScoredCandidates(
      queries, index, cents, "vec_id", "embedding", nprobe, 4,
      IvfCodec.Pq(books))
    // recompute the probe sets independently with the public pieces
    val probeSets = Similarity.ivfTopK(queries,
        Similarity.annIndexRows(d, "vec_id", "embedding", cents), cents,
        "vec_id", "embedding", k = 500, nprobe = nprobe)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getInt(0), bucketOf(r.getInt(1)))).distinct
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val expect = probeSets.toSeq.map { case (q, buckets) =>
      buckets.toSeq.map(bucketSize).sum -
        (if (buckets.contains(bucketOf(q))) 1 else 0)
    }.sum
    assert(got == expect.toLong,
      s"scored $got candidate rows, probed-bucket population is $expect")
    assert(got < 5L * 119, "candidate set must be smaller than " +
      "queries × (corpus − 1) when nprobe < nlist")
    assert(probed.count() == got)
  }

  test("nprobe = nlist degrades to exactly pqTopK over the same codes") {
    val d = clustered(90, 16, 4, seed = 11)
    val books = Similarity.pqTrainCodebooks(d, "vec_id", "embedding",
      m = 4, k = 8, exactMedian = true)
    val cents = Similarity.hashKCentroids(d, "vec_id", "embedding", 5)
    val enc = Similarity.pqEncode(d, "vec_id", "embedding", books)
    val index = Similarity.annIndexRows(
      d, "vec_id", "embedding", cents, IvfCodec.Pq(books))
    val q = d.where(col("vec_id") < 4)
    def rows(x: org.apache.spark.sql.DataFrame) =
      x.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val full = rows(Similarity.ivfPqTopK(
      q, index, books, cents, "vec_id", "embedding", k = 10, nprobe = 5))
    val exhaustive = rows(Similarity.pqTopK(
      q, enc, books, "vec_id", "embedding", k = 10))
    assert(full == exhaustive)
  }

  test("per-pair ADC similarity is identical to pqTopK's for every " +
      "routed pair (routing prunes, never rescales)") {
    val d = clustered(100, 16, 5, seed = 7)
    val books = Similarity.pqTrainCodebooks(d, "vec_id", "embedding",
      m = 4, k = 8, exactMedian = true)
    val cents = Similarity.hashKCentroids(d, "vec_id", "embedding", 5)
    val enc = Similarity.pqEncode(d, "vec_id", "embedding", books)
    val index = Similarity.annIndexRows(
      d, "vec_id", "embedding", cents, IvfCodec.Pq(books))
    val q = d.where(col("vec_id") < 5)
    val routed = Similarity.ivfScoredCandidates(
        q, index, cents, "vec_id", "embedding", nprobe = 2, 4,
        IvfCodec.Pq(books))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2))
      .toMap
    val all = Similarity.pqTopK(q, enc, books, "vec_id", "embedding",
        k = 99)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2))
      .toMap
    assert(routed.nonEmpty)
    routed.foreach { case (pair, sim) =>
      assert(all.contains(pair) && math.abs(all(pair) - sim) < 1e-12,
        s"$pair: routed $sim vs exhaustive ${all.get(pair)}")
    }
  }

  test("recall: on CLUSTERED data routing loses nothing vs the " +
      "exhaustive ADC scan (neighbors share the query's buckets); on " +
      "the near-uniform sf0.001 embeddings it keeps the q113-parameter " +
      "floor") {
    // clustered corpus — the regime IVF routing is built for: every
    // exhaustive-ADC top-10 neighbor is also found through the routed
    // nprobe=2-of-6 scan, so ALL recall loss is the PQ encoding's
    // (measured separately by the pqTopK-vs-brute-force spec)
    val d = clustered(300, 16, 6, seed = 42)
    val qq = d.where(col("vec_id") < 10)
    val books2 = Similarity.pqTrainCodebooks(d, "vec_id", "embedding",
      m = 4, k = 16, iters = 2, exactMedian = true)
    val cents2 = Similarity.hashKCentroids(d, "vec_id", "embedding", 6)
    val index2 = Similarity.annIndexRows(
      d, "vec_id", "embedding", cents2, IvfCodec.Pq(books2))
    def pairsI(x: org.apache.spark.sql.DataFrame) =
      x.select("query_id", "neighbor_id").collect()
        .map(r => (r.getInt(0), r.getInt(1))).toSet
    val routed2 = pairsI(Similarity.ivfPqTopK(qq, index2, books2, cents2,
      "vec_id", "embedding", k = 10, nprobe = 2))
    val adc2 = pairsI(Similarity.pqTopK(qq,
      Similarity.pqEncode(d, "vec_id", "embedding", books2), books2,
      "vec_id", "embedding", k = 10))
    val clusteredRecall = (routed2 & adc2).size.toDouble / adc2.size
    assert(clusteredRecall >= 0.9,
      s"routing lost ADC neighbors on clustered data: $clusteredRecall")

    // sf0.001 embeddings are near-uniform (little cluster structure),
    // so routed recall vs the exhaustive ADC scan is bounded by the
    // scanned fraction (~nprobe/nlist of the corpus) — assert the
    // q113-parameter floor rather than a structure-dependent ideal
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.where(col("vec_id") < 10)
    val books = Similarity.pqTrainCodebooks(e, "vec_id", "embedding",
      m = 4, k = 16, iters = 2, exactMedian = true)
    val cents = Similarity.hashKCentroids(e, "vec_id", "embedding", 16)
    val index = Similarity.annIndexRows(
      e, "vec_id", "embedding", cents, IvfCodec.Pq(books))
    def pairsL(x: org.apache.spark.sql.DataFrame) =
      x.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val routed = pairsL(Similarity.ivfPqTopK(q, index, books, cents,
      "vec_id", "embedding", k = 10, nprobe = 3))
    val adc = pairsL(Similarity.pqTopK(q,
      Similarity.pqEncode(e, "vec_id", "embedding", books), books,
      "vec_id", "embedding", k = 10))
    val floorRecall = (routed & adc).size.toDouble / adc.size
    assert(floorRecall >= 0.3, s"ivf-pq routed recall $floorRecall")
  }

  test("plan: the index side STREAMS into a broadcast candidate join " +
      "— no shuffle exchange between the index scan and the probe " +
      "prune (the 100 TB index never moves)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val books = Similarity.pqTrainCodebooks(e, "vec_id", "embedding",
      m = 4, k = 16, iters = 1, exactMedian = true)
    val cents = Similarity.hashKCentroids(e, "vec_id", "embedding", 16)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_plan").toString + "/idx"
    Similarity.annIndexRows(e, "vec_id", "embedding", cents,
        IvfCodec.Pq(books))
      .write.parquet(dir)
    val out = Similarity.ivfPqTopK(e.where(col("vec_id") < 10),
      spark.read.parquet(dir), books, cents, "vec_id", "embedding",
      k = 10, nprobe = 3)
    assert(out.count() == 100)
    def unwrap(p: SparkPlan): Seq[SparkPlan] = p.collect {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case q: QueryStageExec => unwrap(q.plan)
      case other => Seq(other)
    }.flatten
    val nodes = unwrap(out.queryExecution.executedPlan)
    // the candidate prune: probed (queries·nprobe rows) broadcast,
    // index streamed — find the join whose streamed side scans the
    // index parquet and assert no shuffle sits between them
    def streamed(j: BroadcastHashJoinExec): SparkPlan = j.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.left
      case _ => j.right
    }
    // shuffles on the STREAMED path only — a broadcast build side may
    // legitimately contain exchanges
    def streamShuffles(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: org.apache.spark.sql.execution.exchange
          .BroadcastExchangeLike => Seq.empty
      case a: AdaptiveSparkPlanExec => streamShuffles(a.executedPlan)
      case q: QueryStageExec => streamShuffles(q.plan)
      case s: ShuffleExchangeLike =>
        s +: s.children.flatMap(streamShuffles)
      case other => other.children.flatMap(streamShuffles)
    }
    val candJoins = nodes.collect {
      case j: BroadcastHashJoinExec
          if unwrap(streamed(j)).exists(
            _.toString.contains("ivfpq_plan")) => j
    }
    assert(candJoins.nonEmpty, "index-side broadcast candidate join " +
      "not found in plan")
    candJoins.foreach { j =>
      val shuffles = streamShuffles(streamed(j))
      assert(shuffles.isEmpty,
        s"index leg shuffled before the probe prune:\n${streamed(j)}")
    }
  }

  test("pqBuildIvfIndex roundtrip: the bucketed table holds exactly " +
      "annIndexRows' rows and searching over it equals the direct " +
      "path") {
    val d = clustered(80, 16, 4, seed = 19)
    val books = Similarity.pqTrainCodebooks(d, "vec_id", "embedding",
      m = 4, k = 8, exactMedian = true)
    val cents = Similarity.hashKCentroids(d, "vec_id", "embedding", 4)
    val q = d.where(col("vec_id") < 4)
    try {
      val n = Similarity.pqBuildIvfIndex(d, "vec_id", "embedding",
        cents, books, "ivfpq_idx_spec", numBuckets = 4)
      assert(n == 80)
      def key(r: Row) = (r.getInt(0), r.getInt(1), r.getSeq[Int](2))
      val direct = Similarity.annIndexRows(
          d, "vec_id", "embedding", cents, IvfCodec.Pq(books))
        .collect().map(key).toSet
      val stored = spark.table("ivfpq_idx_spec").collect().map(key).toSet
      assert(stored == direct)
      def rows(x: org.apache.spark.sql.DataFrame) =
        x.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
      assert(
        rows(Similarity.ivfPqTopK(q, spark.table("ivfpq_idx_spec"),
          books, cents, "vec_id", "embedding", k = 5, nprobe = 2)) ==
        rows(Similarity.ivfPqTopK(q,
          Similarity.annIndexRows(d, "vec_id", "embedding", cents,
            IvfCodec.Pq(books)),
          books, cents, "vec_id", "embedding", k = 5, nprobe = 2)))
    } finally spark.sql("DROP TABLE IF EXISTS ivfpq_idx_spec")
  }

  test("one local query: no job while the frame is built, at most 3 " +
      "on collect, and sims equal a plain-Scala replay bit for bit") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val d = clustered(120, 16, 6, seed = 31)
    def local(x: org.apache.spark.sql.DataFrame) = spark.createDataFrame(
      java.util.Arrays.asList(x.collect(): _*), x.schema)
    val books = local(Similarity.pqTrainCodebooks(d, "vec_id", "embedding",
      m = 4, k = 8, exactMedian = true))
    val cents = local(Similarity.hashKCentroids(d, "vec_id", "embedding", 6))
    val qRow = d.where(col("vec_id") === 5).collect().head
    val q = spark.createDataFrame(java.util.Arrays.asList(qRow), schema)
    val (k, nprobe) = (10, 2)
    val sc = spark.sparkContext
    val group = "ivfpq-one-query"
    val jobs = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) jobs.add(e.jobId)
    }
    // the listener bus delivers asynchronously — poll until stable
    def settled(): Int = {
      var (last, same) = (-1, 0)
      while (same < 5) {
        val n = jobs.size
        if (n == last) same += 1 else { same = 0; last = n }
        Thread.sleep(100)
      }
      last
    }
    try {
      Similarity.pqBuildIvfIndex(d, "vec_id", "embedding", cents, books,
        "ivfpq_one_query_spec", numBuckets = 4)
      val index = spark.table("ivfpq_one_query_spec")
      sc.addSparkListener(listener)
      sc.setJobGroup(group, group, interruptOnCancel = false)
      val (frame, got) = try {
        val f = Similarity.ivfPqTopK(q, index, books, cents, "vec_id",
          "embedding", k = k, nprobe = nprobe)
        val built = settled()
        assert(built == 0, s"building the frame ran $built jobs")
        (f, f.collect().sortBy(_.getInt(3)))
      } finally sc.clearJobGroup()
      val onCollect = settled()
      assert(onCollect <= 3, s"collect ran $onCollect jobs")
      assert(frame.columns.toSeq ==
        Seq("query_id", "neighbor_id", "sim", "rank"))

      // replay: left-to-right dots, block sums in order, Spark's
      // HALF_UP rounding of the decimal string
      def dot(a: Seq[Double], b: Seq[Double]) =
        a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
      def r4(x: Double) = BigDecimal(x)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val qv = qRow.getSeq[Double](1).toIndexedSeq
      val qn = math.sqrt(dot(qv, qv))
      val probed = cents.collect().toSeq.map { r =>
        val cv = r.getSeq[Double](1)
        (r4(dot(qv, cv) / (qn * math.sqrt(dot(cv, cv)))), r.getInt(0))
      }.sortBy { case (s, id) => (-s, id) }.take(nprobe).map(_._2).toSet
      val word = books.collect().map(r =>
        (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
      val sub = 16 / 4
      val want = index.collect().toSeq
        .filter(r => probed(r.getInt(0)) && r.getInt(1) != 5)
        .map { r =>
          val codes = r.getSeq[Int](2)
          val (dq, cc) = codes.indices.foldLeft((0.0, 0.0)) {
            case ((dq, cc), b) =>
              val cw = word((b, codes(b)))
              (dq + dot(qv.slice(b * sub, (b + 1) * sub), cw),
                cc + dot(cw, cw))
          }
          (r.getInt(1), r4(dq / (qn * math.sqrt(cc))))
        }
        .sortBy { case (id, s) => (-s, id) }.take(k)
      assert(want.size == k)
      assert(got.toSeq.map(r => (r.getInt(1), r.getDouble(2))) == want)
      assert(got.forall(_.getInt(0) == 5))
      assert(got.map(_.getInt(3)).toSeq == (1 to k))
    } finally {
      sc.removeSparkListener(listener)
      spark.sql("DROP TABLE IF EXISTS ivfpq_one_query_spec")
    }
  }
}
