package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[Similarity.mmrRerankByQuery]] — per-query greedy MMR. */
class MmrByQuerySpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("q", LongType),
    StructField("id", LongType),
    StructField("v", ArrayType(DoubleType)),
    StructField("rel", DoubleType)))

  private def cands(rows: Seq[(Long, Long, Seq[Double], Double)]) =
    df(schema, rows.map { case (q, i, v, r) => Row(q, i, v, r) })

  test("queries rerank independently: identical candidate lists under " +
      "different query keys yield identical per-query picks") {
    val pool = Seq[(Long, Seq[Double], Double)](
      (1L, Seq(1.0, 0.0), 0.9), (2L, Seq(0.98, 0.02), 0.89),
      (3L, Seq(0.0, 1.0), 0.5))
    val rows = Seq(10L, 20L).flatMap(q =>
      pool.map { case (i, v, r) => (q, i, v, r) })
    val out = Similarity.mmrRerankByQuery(
        cands(rows), "q", "id", "v", "rel", k = 3)
      .collect()
      .map(r => (r.getLong(1), r.getInt(0), r.getLong(2)))
      .groupBy(_._1)
      .view.mapValues(_.map(t => (t._2, t._3)).sortBy(_._1).toSeq)
      .toMap
    assert(out(10L) === out(20L))
    // diversity holds per query: orthogonal 3 beats near-dup 2
    assert(out(10L).map(_._2) === Seq(1L, 3L, 2L))
  }

  test("a query with fewer candidates than k yields exactly its " +
      "candidates; other queries still fill k ranks") {
    val rows = Seq[(Long, Long, Seq[Double], Double)](
      (1L, 11L, Seq(1.0, 0.0), 0.9),
      (2L, 21L, Seq(1.0, 0.0), 0.9), (2L, 22L, Seq(0.0, 1.0), 0.8),
      (2L, 23L, Seq(0.5, 0.5), 0.7))
    val out = Similarity.mmrRerankByQuery(
        cands(rows), "q", "id", "v", "rel", k = 3)
      .collect().map(r => (r.getLong(1), r.getInt(0)))
    assert(out.count(_._1 == 1L) === 1)
    assert(out.count(_._1 == 2L) === 3)
  }

  test("zero-norm candidates are excluded (the NaN guard)") {
    val rows = Seq[(Long, Long, Seq[Double], Double)](
      (1L, 11L, Seq(1.0, 0.0), 0.9), (1L, 12L, Seq(0.0, 0.0), 0.95),
      (1L, 13L, Seq(0.0, 1.0), 0.5))
    val out = Similarity.mmrRerankByQuery(
        cands(rows), "q", "id", "v", "rel", k = 3)
      .collect().map(_.getLong(2)).toSet
    assert(out === Set(11L, 13L))
  }

  test("partition-layout invariance (micro-quantized argmax per round)") {
    val rows = for {
      q <- 1L to 4L; i <- 1L to 12L
    } yield (q, i, Seq((i % 4).toDouble + 0.1, ((i + q) % 3).toDouble),
      0.5 + (i % 5) * 0.1)
    def run(parts: Int) = Similarity.mmrRerankByQuery(
        cands(rows).repartition(parts), "q", "id", "v", "rel", k = 5)
      .collect().map(r => (r.getLong(1), r.getInt(0), r.getLong(2)))
      .toSet
    assert(run(1) === run(9))
  }

  /** The k-round unroll the grouped pass replaced, kept as the
    * reference: per round, `min_by` over (−obj_micro, id) per query,
    * then a join back on the query key that drops the pick's id and
    * raises the running max-cosine with `greatest`.
    */
  private def unrolled(
      candidates: DataFrame, queryCol: String, idCol: String,
      vecCol: String, relCol: String, k: Int,
      lambdaMilli: Int = 700): DataFrame = {
    import Similarity.dot
    val lam = lambdaMilli / 1000.0
    val mu = (1000 - lambdaMilli) / 1000.0
    val base = candidates.select(col(queryCol).as("__g"),
        col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__v"),
        col(relCol).cast("double").as("__rel"))
      .where(col("__g").isNotNull && col("__v").isNotNull &&
        col("__rel").isNotNull)
      .withColumn("__n", sqrt(dot(col("__v"), col("__v"))))
      .where(col("__n") > lit(0.0))
      .withColumn("__mc", lit(0.0))
    def obj = lit(lam) * col("__rel") - lit(mu) * col("__mc")
    def objMicro = floor(obj * lit(1000000L)).cast("long")
    var cur = base.localCheckpoint()
    var out = Seq.empty[DataFrame]
    for (r <- 1 to k) {
      val pick = cur
        .withColumn("__obj", objMicro)
        .groupBy(col("__g"))
        .agg(min_by(struct(col("__id"), col("__v"), col("__n"),
            col("__rel"), col("__mc"), col("__obj")),
          struct((-col("__obj")).as("__nobj"), col("__id"))).as("__s"))
        .select(col("__g"), col("__s.__id").as("__cid"),
          col("__s.__v").as("__cv"), col("__s.__n").as("__cn"),
          col("__s.__rel").as("__crel"), col("__s.__mc").as("__cmc"),
          col("__s.__obj").as("__cobj"))
        .localCheckpoint()
      out :+= pick.select(lit(r).as("rank"), col("__g").as(queryCol),
        col("__cid").as(idCol), col("__crel").as("rel"),
        col("__cmc").as("max_cos_prior"), col("__cobj").as("obj_micro"))
      if (r < k)
        cur = cur
          .join(pick.select(col("__g"), col("__cid"), col("__cv"),
            col("__cn")), Seq("__g"))
          .where(col("__id") =!= col("__cid"))
          .select(col("__g"), col("__id"), col("__v"), col("__n"),
            col("__rel"),
            greatest(col("__mc"),
              dot(col("__v"), col("__cv")) / (col("__n") * col("__cn")))
              .as("__mc"))
          .localCheckpoint()
    }
    out.reduce(_.unionByName(_))
  }

  /** Candidates (q: long, id: `idType`, v: array<double>, rel). */
  private def pool(idType: DataType, rows: Seq[(Long, Any, Seq[Any],
      Double)]) = df(
    StructType(Seq(StructField("q", LongType), StructField("id", idType),
      StructField("v", ArrayType(DoubleType)), StructField("rel",
        DoubleType))),
    rows.map { case (q, i, v, r) => Row(q, i, v, r) })

  /** Every column equal bit for bit: names, types, and per row the raw
    * bits of each double.
    */
  private def assertSame(pool: DataFrame, k: Int, lambdaMilli: Int = 700)
      : Unit = {
    val got = Similarity.mmrRerankByQuery(pool, "q", "id", "v", "rel", k,
      lambdaMilli)
    val want = unrolled(pool, "q", "id", "v", "rel", k, lambdaMilli)
    def fields(d: DataFrame) = d.schema.map(f => f.name -> f.dataType)
    assert(fields(got) == fields(want))
    def rows(d: DataFrame) = d.collect().toSeq
      .map(_.toSeq.map {
        case x: Double => java.lang.Double.doubleToRawLongBits(x)
        case x => x
      })
      .sortBy(r => (r(1).toString, r(0).asInstanceOf[Int]))
    val w = rows(want)
    assert(w.nonEmpty)
    assert(rows(got) == w, s"k $k, lambdaMilli $lambdaMilli")
  }

  /** 8 queries × 30 candidates; rel and the vector components are
    * coarse grids, so objectives and cosines tie often.
    */
  private def randomPool(seed: Int, id: Long => Any,
      idType: DataType) = {
    val rnd = new scala.util.Random(seed)
    pool(idType, for (q <- 1L to 8L; i <- 1L to 30L) yield
      (q, id(i), Seq.fill(4)((rnd.nextInt(5) - 2).toDouble),
        rnd.nextInt(4) / 4.0))
  }

  test("bit-equal to the k-round unroll: random pools with tied " +
      "objectives, k = 1 and 5, lambdaMilli 0, 700 and 1000") {
    val p = randomPool(11, identity, LongType)
    for ((k, lm) <- Seq((5, 700), (1, 700), (5, 0), (5, 1000)))
      assertSame(p, k, lm)
  }

  test("bit-equal to the k-round unroll: k larger than the pool, a " +
      "duplicated id, string ids, a NULL vector element") {
    val rnd = new scala.util.Random(5)
    val small = for (q <- 1L to 3L; i <- 1L to 6L) yield
      (q, i: Any, Seq.fill(3)(rnd.nextInt(3).toDouble - 0.5): Seq[Any],
        rnd.nextInt(3) / 2.0)
    assertSame(pool(LongType, small), k = 8)
    // id 2 twice in query 1, with different rel and vectors
    assertSame(pool(LongType, small :+
      ((1L, 2L, Seq(0.5, -0.5, 1.5), 0.25))), k = 4)
    assertSame(randomPool(12, i => f"doc-${(i * 7) % 30}%02d", StringType),
      k = 5)
    assertSame(pool(LongType, small ++ Seq(
      (1L, 7L, Seq(1.5, null, -0.5), 1.0),
      (2L, 7L, Seq(null, 0.5, 0.5), 0.5))), k = 6)
  }

  test("one grouped pass: building the frame runs no job, collect at " +
      "most 2, nothing is left cached; k = 2 000 returns a 50-row pool " +
      "whole") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val rnd = new scala.util.Random(3)
    val rows = (1L to 50L).map(i => Row(1L, i,
      Seq.fill(3)(rnd.nextGaussian()), rnd.nextDouble()))
    val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      pool(LongType, Nil).schema)
    val sc = spark.sparkContext
    val group = "mmr-grouped-pass"
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
    spark.catalog.clearCache()
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      val got = try {
        val f = Similarity.mmrRerankByQuery(local, "q", "id", "v", "rel",
          k = 2000)
        val built = settled()
        assert(built == 0, s"building the frame ran $built jobs")
        f.collect()
      } finally sc.clearJobGroup()
      val onCollect = settled()
      assert(onCollect <= 2, s"collect ran $onCollect jobs")
      assert(spark.sharedState.cacheManager.isEmpty,
        "mmrRerankByQuery left a cached frame behind")
      assert(got.map(_.getInt(0)).sorted.toSeq == (1 to 50))
      assert(got.map(_.getLong(2)).toSet == (1L to 50L).toSet)
    } finally sc.removeSparkListener(listener)
  }
}
