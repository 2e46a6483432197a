package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Residual IVF-PQ ([[Similarity.ivfResiduals]] /
  * [[Similarity.ivfRpqTrainCodebooks]], then [[Similarity.annIndexRows]]
  * / [[Similarity.ivfTopK]] with [[IvfCodec.ResidualPq]]): PQ codebooks
  * trained on and applied to
  * the residual x − c against the assigned coarse centroid — the
  * published IVF-ADC construction, which spends the code budget on the
  * LOCAL displacement inside a Voronoi cell instead of absolute
  * position.
  */
class IvfRpqSpec extends SparkSpec {

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

  /** Train + index one corpus with the residual chain. */
  private def build(d: org.apache.spark.sql.DataFrame, nlist: Int,
      m: Int = 4, k: Int = 8) = {
    val cents = Similarity.hashKCentroids(d, "vec_id", "embedding", nlist)
    val books = Similarity.ivfRpqTrainCodebooks(d, "vec_id", "embedding",
      cents, m = m, k = k, exactMedian = true)
    val index = Similarity.annIndexRows(
      d, "vec_id", "embedding", cents, IvfCodec.ResidualPq(books))
    (cents, books, index)
  }

  test("ivfResiduals: __res is exactly x − c against the nearest-" +
      "cosine assigned centroid, per dimension in double") {
    val d = clustered(60, 16, 4, seed = 9)
    val cents = Similarity.hashKCentroids(d, "vec_id", "embedding", 4)
    val cm = cents.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toIndexedSeq).toMap
    val vm = d.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toIndexedSeq).toMap
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def assigned(v: IndexedSeq[Double]) = cm.toSeq.map { case (cid, cv) =>
      (r4(dot(v, cv) / (math.sqrt(dot(v, v)) * math.sqrt(dot(cv, cv)))),
        cid)
    }.maxBy { case (s, cid) => (s, -cid) }._2
    val res = Similarity.ivfResiduals(d, "vec_id", "embedding", cents)
      .collect()
      .map(r => r.getInt(0) -> (r.getInt(1), r.getSeq[Double](2).toSeq))
      .toMap
    assert(res.size == 60)
    vm.foreach { case (id, v) =>
      val (cid, got) = res(id)
      assert(cid == assigned(v), s"vec $id routed to $cid")
      val want = v.zip(cm(cid)).map { case (x, c) => x - c }
      got.zip(want).foreach { case (g, w) =>
        assert(g == w, s"vec $id residual $g vs $w")
      }
    }
  }

  test("ADC decomposition is exact: the residual ivfTopK similarity " +
      "equals the " +
      "cosine against the reconstructed c + r̂ to 1e-9") {
    val d = clustered(40, 16, 4, seed = 5)
    val (cents, books, index) = build(d, nlist = 4)
    // nprobe = nlist: every non-self pair in a probed bucket is scored
    val adc = Similarity.ivfTopK(d.where(col("vec_id") < 3), index,
        cents, "vec_id", "embedding", k = 39, nprobe = 4, roundTo = 9,
        codec = IvfCodec.ResidualPq(books))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val rhat = Similarity.pqReconstruct(
      index.select(col("vec_id"), col("codes")), "vec_id", books)
    val xhat = index.select(col("vec_id"), col("centroid_id"))
      .join(cents, Seq("centroid_id"))
      .join(rhat, Seq("vec_id"))
      .select(col("vec_id"),
        zip_with(col("centroid_vec").cast("array<double>"),
          col("vec_hat"), (c, r) => c + r).as("vec_hat"))
    val want = d.where(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .crossJoin(xhat.select(col("vec_id").as("nid"), col("vec_hat")))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        Similarity.cosine(col("qv"), col("vec_hat")).as("c"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(adc.size == want.size)
    adc.foreach { case (pair, sim) =>
      assert(math.abs(sim - want(pair)) < 1e-9,
        s"$pair: adc $sim vs reconstructed ${want(pair)}")
    }
  }

  test("scored-candidate count is EXACTLY the probed buckets' " +
      "population — nprobe-bounded, never corpus × queries") {
    val d = clustered(120, 16, 6, seed = 3)
    val (cents, books, index) = build(d, nlist = 6)
    val queries = d.where(col("vec_id") < 5)
    val nprobe = 2
    val got = Similarity.ivfScoredCandidates(
      queries, index, cents, "vec_id", "embedding", nprobe,
      roundTo = 4, IvfCodec.ResidualPq(books)).count()
    // independent replay of routing + bucket sizes on the driver
    val cm = cents.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toIndexedSeq).toMap
    val bucketOf = index.select("vec_id", "centroid_id").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    val bucketSize = bucketOf.values.groupBy(identity).map {
      case (c, xs) => c -> xs.size
    }
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = queries.collect().map { r =>
      val q = r.getInt(0)
      val v = r.getSeq[Double](1).toIndexedSeq
      val probed = cm.toSeq.map { case (cid, cv) =>
        (r4(dot(v, cv) /
          (math.sqrt(dot(v, v)) * math.sqrt(dot(cv, cv)))), cid)
      }.sortBy { case (s, cid) => (-s, cid) }.take(nprobe).map(_._2)
      probed.map(bucketSize).sum -
        (if (probed.contains(bucketOf(q))) 1 else 0)
    }.sum
    assert(got == expect.toLong,
      s"scored $got candidate rows, probed-bucket population is $expect")
    assert(got < 5L * 119, "candidate set must be smaller than " +
      "queries × (corpus − 1) when nprobe < nlist")
  }

  test("routing prunes, never rescales: every routed pair's similarity " +
      "is identical to the nprobe = nlist full scan's") {
    val d = clustered(100, 16, 5, seed = 7)
    val (cents, books, index) = build(d, nlist = 5)
    val q = d.where(col("vec_id") < 5)
    val routed = Similarity.ivfScoredCandidates(
        q, index, cents, "vec_id", "embedding", nprobe = 2, 4,
        IvfCodec.ResidualPq(books))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2))
      .toMap
    val full = Similarity.ivfScoredCandidates(
        q, index, cents, "vec_id", "embedding", nprobe = 5, 4,
        IvfCodec.ResidualPq(books))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2))
      .toMap
    assert(routed.nonEmpty && routed.size < full.size)
    routed.foreach { case (pair, sim) =>
      assert(full.contains(pair) && full(pair) == sim,
        s"$pair: routed $sim vs full ${full.get(pair)}")
    }
  }

  test("residual encoding beats raw-vector PQ at the same (m, k) code " +
      "budget when clusters outnumber per-block codewords: lower " +
      "reconstruction error AND higher recall vs exact brute force " +
      "(nprobe = nlist, so ALL the difference is the encoding)") {
    // 40 anchor clusters vs k = 8 codewords per block: raw PQ must
    // cover 40 anchor sub-vectors with 8 codes, residual PQ leaves
    // position to a TRAINED coarse quantizer (k-medians, the way a
    // production IVF-PQ trains its nlist) and spends its codes on the
    // local displacement — the published IVF-ADC recall-per-bit win
    val d = clustered(400, 16, 40, seed = 42)
    val qq = d.where(col("vec_id") < 10)
    val nlist = 40
    val cents = Similarity.kMediansCentroids(d, "vec_id", "embedding",
      k = nlist, iters = 2, exactMedian = true)
    def pairs(x: org.apache.spark.sql.DataFrame) =
      x.select("query_id", "neighbor_id").collect()
        .map(r => (r.getInt(0), r.getInt(1))).toSet
    val exact = pairs(Similarity.bruteForceTopKAgg(
      qq, d, "vec_id", "embedding", 10))
    // raw-vector IVF-PQ at the same budget
    val rawBooks = Similarity.pqTrainCodebooks(d, "vec_id", "embedding",
      m = 4, k = 8, exactMedian = true)
    val rawIdx = Similarity.annIndexRows(
      d, "vec_id", "embedding", cents, IvfCodec.Pq(rawBooks))
    val raw = pairs(Similarity.ivfPqTopK(qq, rawIdx, rawBooks, cents,
      "vec_id", "embedding", k = 10, nprobe = nlist))
    // residual IVF-PQ
    val resBooks = Similarity.ivfRpqTrainCodebooks(d, "vec_id",
      "embedding", cents, m = 4, k = 8, exactMedian = true)
    val resIdx = Similarity.annIndexRows(
      d, "vec_id", "embedding", cents, IvfCodec.ResidualPq(resBooks))
    val res = pairs(Similarity.ivfTopK(qq, resIdx, cents, "vec_id",
      "embedding", k = 10, nprobe = nlist,
      codec = IvfCodec.ResidualPq(resBooks)))
    // reconstruction error: mean ‖x − x̂‖² over the corpus
    def mse(xhat: org.apache.spark.sql.DataFrame): Double =
      d.join(xhat, Seq("vec_id"))
        .select(aggregate(
          zip_with(col("embedding").cast("array<double>"),
            col("vec_hat"), (x, h) => (x - h) * (x - h)),
          lit(0.0), (a, x) => a + x).as("e"))
        .agg(avg(col("e"))).head().getDouble(0)
    val rawHat = Similarity.pqReconstruct(
      rawIdx.select(col("vec_id"), col("codes")), "vec_id", rawBooks)
    val resHat = Similarity.pqReconstruct(
        resIdx.select(col("vec_id"), col("codes")), "vec_id", resBooks)
      .join(resIdx.select(col("vec_id"), col("centroid_id")), Seq("vec_id"))
      .join(cents, Seq("centroid_id"))
      .select(col("vec_id"),
        zip_with(col("centroid_vec").cast("array<double>"),
          col("vec_hat"), (c, r) => c + r).as("vec_hat"))
    val rawMse = mse(rawHat)
    val resMse = mse(resHat)
    assert(resMse < rawMse,
      s"residual reconstruction MSE $resMse not below raw $rawMse")
    val rawRecall = (exact & raw).size.toDouble / exact.size
    val resRecall = (exact & res).size.toDouble / exact.size
    assert(resRecall >= rawRecall,
      s"residual recall $resRecall below raw-PQ recall $rawRecall")
    assert(resRecall >= 0.5, s"residual recall $resRecall")
  }

  test("index and codes are deterministic under repartitioning") {
    val d = clustered(80, 16, 4, seed = 19)
    val (cents, books, index) = build(d, nlist = 4)
    def rows(x: org.apache.spark.sql.DataFrame) = x.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Int](2).toSeq)).toSet
    val again = Similarity.annIndexRows(d.repartition(7), "vec_id",
      "embedding", cents, IvfCodec.ResidualPq(books))
    assert(rows(again) == rows(index))
  }
}
