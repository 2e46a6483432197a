package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Product quantization ([[Similarity.pqTrainCodebooks]] /
  * [[Similarity.pqEncode]] / [[Similarity.pqTopK]]).
  */
class PqSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("vec_id", IntegerType),
    StructField("embedding", ArrayType(DoubleType))))

  /** Clustered corpus: `c` anchor directions, points = anchor + noise —
    * the regime PQ codebooks are meant to capture.
    */
  private def clustered(n: Int, dim: Int, c: Int, seed: Int) = {
    val rng = new scala.util.Random(seed)
    val anchors = Seq.fill(c)(Seq.fill(dim)(rng.nextDouble() * 2 - 1))
    df(schema, (0 until n).map { i =>
      val a = anchors(i % c)
      Row(i, a.map(_ + rng.nextDouble() * 0.1))
    })
  }

  test("pqEncode picks the per-block L2-nearest codeword (checked by " +
      "brute force) and is deterministic under repartitioning") {
    val d = clustered(80, 16, 4, seed = 21)
    val books = Similarity.pqTrainCodebooks(d, "vec_id", "embedding",
      m = 4, k = 8)
    val cb = books.collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        r.getSeq[Double](2).toIndexedSeq).toMap
    val enc = Similarity.pqEncode(d, "vec_id", "embedding", books)
      .collect().map(r => r.getInt(0) -> r.getSeq[Int](1).toSeq).toMap
    val vecs = d.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toIndexedSeq).toMap
    def l2sq(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    vecs.foreach { case (id, v) =>
      enc(id).zipWithIndex.foreach { case (code, blk) =>
        val subv = v.slice(blk * 4, blk * 4 + 4)
        val got = l2sq(subv, cb((blk, code)))
        val best = (0 until 8).map(cd => l2sq(subv, cb((blk, cd)))).min
        assert(got <= best + 1e-12,
          s"vec $id block $blk: code $code not L2-nearest")
      }
    }
    // determinism: a different physical layout yields identical codes
    val enc2 = Similarity.pqEncode(d.repartition(7), "vec_id",
        "embedding", books)
      .collect().map(r => r.getInt(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(enc2 == enc)
  }

  test("ADC decomposition is exact: pqTopK similarity equals the " +
      "cosine against the reconstructed vector to 1e-9, also when " +
      "blocks hold different numbers of codes") {
    val d = clustered(40, 16, 4, seed = 5)
    val trained = Similarity.pqTrainCodebooks(d, "vec_id", "embedding",
      m = 4, k = 8)
    // training drops a codeword left with no members; cut two blocks
    val ragged = trained.where(!(col("block") === 1 && col("code") >= 5) &&
      !(col("block") === 3 && col("code") >= 3))
    for (books <- Seq(trained, ragged)) {
      val enc = Similarity.pqEncode(d, "vec_id", "embedding", books)
      val adc = Similarity.pqTopK(
          d.where(col("vec_id") < 3), enc, books, "vec_id", "embedding",
          k = 39, roundTo = 9)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      val recon = Similarity.pqReconstruct(enc, "vec_id", books)
      val want = d.where(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        .crossJoin(recon.select(col("vec_id").as("nid"), col("vec_hat")))
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
  }

  test("pq search keeps useful recall vs exact brute force on " +
      "clustered data, with m codes instead of dim floats") {
    val d = clustered(200, 16, 5, seed = 8)
    val k = 10
    val exact = Similarity.bruteForceTopKAgg(
        d.where(col("vec_id") < 5), d, "vec_id", "embedding", k)
      .collect().map(r => (r.getAs[Any]("query_id"),
        r.getAs[Any]("neighbor_id"))).toSet
    val books = Similarity.pqTrainCodebooks(d, "vec_id", "embedding",
      m = 4, k = 16)
    val enc = Similarity.pqEncode(d, "vec_id", "embedding", books)
    assert(enc.select(size(col("codes"))).distinct().head().getInt(0) == 4)
    val pq = Similarity.pqTopK(d.where(col("vec_id") < 5), enc, books,
        "vec_id", "embedding", k)
      .collect().map(r => (r.getAs[Any]("query_id"),
        r.getAs[Any]("neighbor_id"))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.5, s"pq recall $recall")
  }

  test("FUSED training equals the sequential per-block k-medians loop " +
      "exactly (the m·iters-pass form it replaced)") {
    import org.apache.spark.sql.expressions.Window
    val d = clustered(70, 16, 4, seed = 13)
    val fused = Similarity.pqTrainCodebooks(d, "vec_id", "embedding",
        m = 4, k = 8, iters = 2, exactMedian = true)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toSeq)
      .toMap
    // the pre-fusion reference: one kMediansCentroids call per block,
    // m·(iters+1) corpus passes
    val loop = (0 until 4).flatMap { b =>
      val blockDf = d.select(col("vec_id"),
        slice(col("embedding").cast("array<double>"), b * 4 + 1, 4)
          .as("__sub"))
      val w = Window.orderBy(md5(col("centroid_id").cast("string")).asc,
        col("centroid_id").asc)
      Similarity.kMediansCentroids(blockDf, "vec_id", "__sub",
          k = 8, iters = 2, exactMedian = true)
        .select(lit(b).as("block"),
          (row_number().over(w) - 1).as("code"),
          col("centroid_vec").as("codeword"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toSeq)
    }.toMap
    assert(fused == loop)
  }

  test("fused training runs a fraction of the per-block loop's Spark " +
      "jobs (one corpus pass per iteration, not one per block per " +
      "iteration)") {
    import org.apache.spark.sql.expressions.Window
    val d = clustered(70, 16, 4, seed = 13)
    val sc = spark.sparkContext
    def countJobs(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      // the status store fills asynchronously — poll until stable
      var last = -1
      var same = 0
      while (same < 5) {
        val n = sc.statusTracker.getJobIdsForGroup(group).length
        if (n == last) same += 1 else { same = 0; last = n }
        Thread.sleep(100)
      }
      last
    }
    val fusedJobs = countJobs("pq-fused") {
      Similarity.pqTrainCodebooks(d, "vec_id", "embedding",
        m = 4, k = 8, iters = 2, exactMedian = true).count()
    }
    val loopJobs = countJobs("pq-loop") {
      (0 until 4).foreach { b =>
        val blockDf = d.select(col("vec_id"),
          slice(col("embedding").cast("array<double>"), b * 4 + 1, 4)
            .as("__sub"))
        Similarity.kMediansCentroids(blockDf, "vec_id", "__sub",
          k = 8, iters = 2, exactMedian = true).count()
      }
    }
    assert(fusedJobs > 0 && loopJobs > 0)
    assert(fusedJobs * 2 <= loopJobs,
      s"fused training ran $fusedJobs jobs vs per-block loop's " +
        s"$loopJobs — expected at most half")
  }

  test("training on a deterministic hash-sample equals training on " +
      "the pre-filtered sample, and the full-corpus ENCODE still " +
      "covers every vector") {
    val d = clustered(200, 16, 4, seed = 23)
    val frac = 0.5
    val sampled = d.where(graft.sampling.Sampling.hashFraction(
      col("vec_id"), "pq") < frac)
    assert(sampled.count() < 200)
    def cb(x: org.apache.spark.sql.DataFrame) = x.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toSeq)
      .toMap
    val viaParam = cb(Similarity.pqTrainCodebooks(d, "vec_id",
      "embedding", m = 4, k = 8, exactMedian = true,
      sampleFraction = frac))
    val viaFilter = cb(Similarity.pqTrainCodebooks(sampled, "vec_id",
      "embedding", m = 4, k = 8, exactMedian = true))
    assert(viaParam == viaFilter)
    // encode runs over the FULL corpus against the sampled codebooks
    val enc = Similarity.pqEncode(d, "vec_id", "embedding",
      Similarity.pqTrainCodebooks(d, "vec_id", "embedding", m = 4,
        k = 8, exactMedian = true, sampleFraction = frac))
    assert(enc.count() == 200)
  }

  test("codebooks: m blocks of k dense codes, sub-dim codewords, " +
      "deterministic across retrains") {
    val d = clustered(60, 16, 3, seed = 31)
    def train() = Similarity.pqTrainCodebooks(d, "vec_id", "embedding",
        m = 4, k = 8)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
      .sortBy(t => (t._1, t._2))
    val a = train()
    assert(a.map(t => (t._1, t._2)).toSeq ==
      (for (b <- 0 until 4; c <- 0 until 8) yield (b, c)).toSeq)
    assert(a.forall(_._3.size == 4))
    assert(train().toSeq == a.toSeq)
  }
}
