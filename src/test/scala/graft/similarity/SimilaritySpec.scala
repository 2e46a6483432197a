package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class SimilaritySpec extends SparkSpec {

  private def vecs(rows: (Int, Seq[Double])*) = df(
    StructType(Seq(
      StructField("vec_id", IntegerType),
      StructField("embedding", ArrayType(DoubleType)))),
    rows.map { case (i, v) => Row(i, v) })

  test("dot, norm, cosine compute exactly in double") {
    val d = vecs((1, Seq(1.0, 2.0, 3.0)))
      .select(
        Similarity.dot(col("embedding"), col("embedding")).as("dot"),
        Similarity.norm(col("embedding")).as("norm"),
        Similarity.cosine(col("embedding"), col("embedding")).as("cos"))
      .head()
    assert(d.getAs[Double]("dot") == 14.0)
    assert(math.abs(d.getAs[Double]("norm") - math.sqrt(14.0)) < 1e-12)
    assert(math.abs(d.getAs[Double]("cos") - 1.0) < 1e-12)
  }

  test("cosine of orthogonal vectors is 0, zero vector is null") {
    val d = vecs((1, Seq(1.0, 0.0)), (2, Seq(0.0, 1.0)), (3, Seq(0.0, 0.0)))
    val a = d.where(col("vec_id") === 1).select(col("embedding").as("a"))
    val b = d.where(col("vec_id") === 2).select(col("embedding").as("b"))
    val r = a.crossJoin(b)
      .select(Similarity.cosine(col("a"), col("b"))).head()
    assert(r.getDouble(0) == 0.0)
    val z = d.where(col("vec_id") === 3).select(col("embedding").as("z"))
    val rz = a.crossJoin(z)
      .select(Similarity.cosine(col("a"), col("z"))).head()
    assert(rz.isNullAt(0))
  }

  // 2D unit-ish vectors at known angles around vector 0
  private val corpus = vecs(
    (0, Seq(1.0, 0.0)),
    (1, Seq(math.cos(0.1), math.sin(0.1))), // closest to 0
    (2, Seq(math.cos(0.5), math.sin(0.5))),
    (3, Seq(math.cos(1.2), math.sin(1.2))),
    (4, Seq(-1.0, 0.0))) // opposite

  /** The window/`row_number` top-k every heap-ranked search must equal:
    * rounded cosine, sim DESC (NULLs last), neighbor_id ASC.
    */
  private def windowTopK(q: DataFrame, c: DataFrame, k: Int) = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    q.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .crossJoin(c.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("cv")))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Similarity.cosine(col("qv"), col("cv")), 4).as("sim"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  private def rows(d: DataFrame) =
    d.select(col("query_id"), col("neighbor_id"), col("sim"),
        col("rank").cast("int").as("rank"))
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq

  test("bruteForceTopKAgg ranks by cosine, excludes self, keeps k") {
    val q = corpus.where(col("vec_id") === 0)
    val out = Similarity.bruteForceTopKAgg(q, corpus, "vec_id",
      "embedding", k = 3).orderBy("rank").collect()
    assert(out.length == 3)
    assert(out.map(_.getAs[Int]("neighbor_id")).toSeq == Seq(1, 2, 3))
    assert(out.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3))
    assert(!out.map(_.getAs[Int]("neighbor_id")).contains(0))
  }

  test("ivfTopK with full probing matches brute force") {
    val q = corpus.where(col("vec_id") === 0)
    // nlist 3, nprobe 3 probes all buckets → exact for any centroids
    val cents = Similarity.hashKCentroids(corpus, "vec_id", "embedding", 3)
    val ivf = Similarity.ivfTopK(q,
        Similarity.annIndexRows(corpus, "vec_id", "embedding", cents),
        cents, "vec_id", "embedding", k = 3, nprobe = 3).orderBy("rank")
      .select("neighbor_id", "sim").collect().map(r => (r.getInt(0), r.getDouble(1)))
    val bf = Similarity.bruteForceTopKAgg(q, corpus, "vec_id", "embedding",
      k = 3).orderBy("rank")
      .select("neighbor_id", "sim").collect().map(r => (r.getInt(0), r.getDouble(1)))
    assert(ivf.toSeq == bf.toSeq)
  }

  test("assignToCentroids puts every vector in exactly one bucket") {
    val cents = Similarity.strideCentroids(corpus, "vec_id", "embedding", 2)
    val assigned = Similarity.assignToCentroids(
      corpus, cents, "vec_id", "embedding")
    assert(assigned.count() == 5)
    assert(assigned.select("vec_id").distinct().count() == 5)
    // a centroid is its own nearest centroid
    val self = assigned.where(col("vec_id") === 0).head()
    assert(self.getAs[Int]("centroid_id") == 0)
  }

  test("bruteForceTopKAgg (bounded-heap aggregate) is row-identical to " +
      "the window form on the sf0.001 embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.where(col("vec_id") < 10)
    val agg = rows(Similarity.bruteForceTopKAgg(
      q, e, "vec_id", "embedding", k = 10))
    assert(agg == rows(windowTopK(q, e, k = 10)))
    assert(agg.size == 100)
  }

  test("zero-norm vectors: heap-ranked top-k keeps NULL sims and ranks " +
      "them after every non-NULL sim, as the window form does") {
    val c = vecs((1, Seq(1.0, 0.0)), (2, Seq(0.0, 0.0)),
      (3, Seq(0.5, 0.5)), (4, Seq(0.0, 1.0)))
    val q = c.where(col("vec_id") <= 2)
    val want = rows(windowTopK(q, c, k = 3))
    assert(want == Seq(
      Seq(1, 3, 0.7071, 1), Seq(1, 4, 0.0, 2), Seq(1, 2, null, 3),
      Seq(2, 1, null, 1), Seq(2, 3, null, 2), Seq(2, 4, null, 3)))
    assert(rows(Similarity.bruteForceTopKAgg(
      q, c, "vec_id", "embedding", k = 3)) == want)
    val cents = Similarity.hashKCentroids(c, "vec_id", "embedding", 2)
    assert(rows(Similarity.ivfTopK(q,
      Similarity.annIndexRows(c, "vec_id", "embedding", cents), cents,
      "vec_id", "embedding", k = 3, nprobe = 2)) == want)
  }

  test("TopKByScore keeps ties ordered by id and caps at k") {
    import graft.expressions.{ScoredId, TopKByScore}
    val a = new TopKByScore(3)
    val fed = Seq(
      ScoredId(5, 1.0), ScoredId(2, 1.0), ScoredId(9, 0.5),
      ScoredId(1, 0.7), ScoredId(4, 2.0))
    val out = a.finish(fed.foldLeft(a.zero)(a.reduce))
    assert(out == Seq(ScoredId(4, 2.0), ScoredId(2, 1.0), ScoredId(5, 1.0)))
    // merge of split buffers equals single-pass reduce
    val (l, r) = fed.splitAt(2)
    val merged = a.merge(
      l.foldLeft(a.zero)(a.reduce), r.foldLeft(a.zero)(a.reduce))
    assert(a.finish(merged) == out)
  }

  test("kMediansCentroids re-centers each bucket at its per-dimension " +
      "median and keeps centroid ids/dims") {
    // md5("11") and md5("12") rank lowest among these ids, so the
    // fixed-k hash init (k=2) seeds one centroid per cluster: 11 in
    // cluster A, 12 in cluster B
    val cl = vecs(
      (11, Seq(1.0, 0.0)), (1, Seq(0.99, 0.01)), (2, Seq(0.98, -0.01)),
      (12, Seq(0.0, 1.0)), (10, Seq(0.01, 0.99)), (3, Seq(-0.01, 0.98)))
    val cents = Similarity.kMediansCentroids(
      cl, "vec_id", "embedding", k = 2, iters = 2, exactMedian = true)
    val m = cents.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(m.keySet == Set(11, 12))
    assert(m.values.forall(_.length == 2))
    // cluster A medians: x = median(1.0, 0.99, 0.98), y = median(0, ±0.01)
    assert(math.abs(m(11)(0) - 0.99) < 1e-9)
    assert(math.abs(m(11)(1) - 0.0) < 1e-9)
    assert(math.abs(m(12)(0) - 0.0) < 1e-9)
    assert(math.abs(m(12)(1) - 0.99) < 1e-9)
  }

  test("kMediansCentroids approx-median variant (bounded GK sketch, " +
      "the 100TB refinement path) tracks the exact centroids closely " +
      "and keeps the same centroid ids") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def toMap(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val exact = toMap(Similarity.kMediansCentroids(
      e, "vec_id", "embedding", k = 8, iters = 1, exactMedian = true))
    val approx = toMap(Similarity.kMediansCentroids(
      e, "vec_id", "embedding", k = 8, iters = 1, exactMedian = false))
    assert(approx.keySet == exact.keySet)
    val maxDiff = exact.flatMap { case (id, v) =>
      v.zip(approx(id)).map { case (a, b) => math.abs(a - b) }
    }.max
    // only even-count cells can differ (midpoint interpolation vs
    // nearest element) — bounded by the local inter-value gap
    assert(maxDiff < 0.05, s"approx centroids drifted: maxDiff=$maxDiff")
  }

  test("kMediansCentroids DEFAULT is the bounded approx re-center: " +
      "default output equals exactMedian=false, and on odd-count " +
      "cells (where sketch and midpoint coincide) equals exact too") {
    val cl = vecs(
      (11, Seq(1.0, 0.0)), (1, Seq(0.99, 0.01)), (2, Seq(0.98, -0.01)),
      (12, Seq(0.0, 1.0)), (10, Seq(0.01, 0.99)), (3, Seq(-0.01, 0.98)))
    def toMap(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val default = toMap(Similarity.kMediansCentroids(
      cl, "vec_id", "embedding", k = 2, iters = 2))
    val approx = toMap(Similarity.kMediansCentroids(
      cl, "vec_id", "embedding", k = 2, iters = 2, exactMedian = false))
    val exact = toMap(Similarity.kMediansCentroids(
      cl, "vec_id", "embedding", k = 2, iters = 2, exactMedian = true))
    assert(default == approx, "default must be the bounded approx path")
    // 3 members per centroid → both medians are the middle element
    assert(default == exact)
  }

  test("kMediansCentroids sampleFraction trains on the deterministic " +
      "hash-sample: equals training on the pre-filtered corpus") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def toMap(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val frac = 0.4
    val sampled = e.where(graft.sampling.Sampling.hashFraction(
      col("vec_id"), "kmed") < frac)
    val nSampled = sampled.count()
    assert(nSampled > 0 && nSampled < e.count())
    val viaParam = toMap(Similarity.kMediansCentroids(
      e, "vec_id", "embedding", k = 8, iters = 1, exactMedian = true,
      sampleFraction = frac))
    val viaFilter = toMap(Similarity.kMediansCentroids(
      sampled, "vec_id", "embedding", k = 8, iters = 1,
      exactMedian = true))
    assert(viaParam == viaFilter)
  }

  test("ivfDriftReport flags the centroid whose appended members " +
      "shifted its mean") {
    val base = vecs(
      (1, Seq(1.0, 0.0)), (2, Seq(1.0, 0.0)),
      (3, Seq(0.0, 1.0)), (4, Seq(0.0, 1.0)))
    val cents = df(
      StructType(Seq(
        StructField("centroid_id", IntegerType),
        StructField("centroid_vec", ArrayType(DoubleType)))),
      Seq(Row(100, Seq(1.0, 0.0)), Row(200, Seq(0.0, 1.0))))
    // a batch that lands in centroid 100 but points well away from it
    val batch = vecs((5, Seq(0.8, 0.6)), (6, Seq(0.8, 0.6)))
    try {
      Similarity.buildIvfIndex(base, "vec_id", "embedding", cents,
        "ivf_append_spec", numBuckets = 2)
      val before = Similarity.ivfDriftReport(
          spark, "ivf_append_spec", "embedding", cents)
        .collect().map(r => r.getInt(0) ->
          (r.getDouble(2), r.getBoolean(3))).toMap
      assert(before(100) == (1.0, false) && before(200) == (1.0, false))
      val appended = Similarity.ivfIndexAppend(batch, "vec_id",
        "embedding", cents, "ivf_append_spec", numBuckets = 2)
      assert(appended == 2)
      val after = Similarity.ivfDriftReport(
          spark, "ivf_append_spec", "embedding", cents)
        .collect().map(r => r.getInt(0) ->
          (r.getLong(1), r.getBoolean(3))).toMap
      // (0.8, 0.6) lands in centroid 100 (cos 0.8 > 0.6): its mean
      // drifts below the 0.98 floor; 200 is untouched
      assert(after(100) == (4L, true), s"drifted centroid: $after")
      assert(after(200) == (2L, false))
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_append_spec")
    }
  }

  test("hashKCentroids returns exactly k centroids independent of " +
      "corpus size, and plans as a partition-local top-k (no global " +
      "sort exchange)") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val c8 = Similarity.hashKCentroids(e, "vec_id", "embedding", 8)
    assert(c8.count() == 8)
    // doubling the corpus must not change the centroid COUNT (the
    // strideCentroids failure mode) — membership may differ
    val doubled = e.unionByName(
      e.withColumn("vec_id", col("vec_id") + 100000))
    assert(Similarity.hashKCentroids(
      doubled, "vec_id", "embedding", 8).count() == 8)
    val plan = c8.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("ivfTopK over k-medians centroids reaches useful recall vs " +
      "brute force on the sf0.001 embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.where(col("vec_id") < 10)
    val cents = Similarity.kMediansCentroids(
      e, "vec_id", "embedding", k = 10, iters = 2)
    val ivf = Similarity.ivfTopK(q,
        Similarity.annIndexRows(e, "vec_id", "embedding", cents), cents,
        "vec_id", "embedding", k = 10, nprobe = 3)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = Similarity.bruteForceTopKAgg(q, e, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf & bf).size.toDouble / bf.size
    assert(recall >= 0.5, s"k-medians IVF recall $recall")
  }

  test("ivfTopK over a prebuilt bucketed index table returns exactly " +
      "its results over the same index rows as a frame") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.where(col("vec_id") < 5)
    val cents = Similarity.strideCentroids(e, "vec_id", "embedding", 50)
    try {
      val n = Similarity.buildIvfIndex(
        e, "vec_id", "embedding", cents, "ivf_idx_spec", numBuckets = 4)
      assert(n == e.count())
      val direct = rows(Similarity.ivfTopK(q,
        Similarity.annIndexRows(e, "vec_id", "embedding", cents), cents,
        "vec_id", "embedding", 10, nprobe = 3))
      val indexed = rows(Similarity.ivfTopK(q, spark.table("ivf_idx_spec"),
        cents, "vec_id", "embedding", 10, nprobe = 3))
      assert(indexed == direct)
      assert(indexed.nonEmpty)
    } finally spark.sql("DROP TABLE IF EXISTS ivf_idx_spec")
  }

  test("nearDupPairs finds pairs above threshold only") {
    val out = Similarity.nearDupPairs(corpus, "vec_id", "embedding", 0.99)
    val pairs = out.collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq.sorted
    assert(pairs == Seq((0, 1))) // cos(0.1) ≈ 0.995
  }

  test("nearDupPairsBlocked emits a subset of brute force, each " +
      "candidate verified exactly once") {
    val blocked = Similarity.nearDupPairsBlocked(
        corpus, "vec_id", "embedding",
        threshold = 0.9, nlist = 3, nprobe = 2)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    val brute = Similarity.nearDupPairs(corpus, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    assert(blocked.toSet.subsetOf(brute.toSet))
    assert(blocked.length == blocked.distinct.length) // no dup pairs
    assert(blocked.nonEmpty)
  }

  test("nearDupPairsBlocked recall is 1.0 on the sf0.001 embeddings " +
      "at the q27 parameters") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val blocked = Similarity.nearDupPairsBlocked(
        e, "vec_id", "embedding", threshold = 0.45, nlist = 32, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.nearDupPairs(e, "vec_id", "embedding", 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked.subsetOf(brute))
    // recall at these parameters on this distribution: report exactly
    val recall = if (brute.isEmpty) 1.0
      else blocked.size.toDouble / brute.size
    assert(recall >= 0.5, s"blocked recall $recall vs brute ${brute.size}")
  }

  test("semanticDedup returns every input id once and drops exactly " +
      "the higher id of a within-bucket near-identical pair") {
    val e = vecs(
      (1, Seq(1.0, 0.0, 0.0)),
      (2, Seq(1.0, 0.0, 0.0)),   // identical to 1 → same bucket, dropped
      (3, Seq(0.0, 1.0, 0.0)),
      (4, Seq(0.0, 0.0, 1.0)),
      (5, Seq(-1.0, 0.0, 0.0)),
      (6, Seq(0.0, -1.0, 0.0)))
    val out = Similarity.semanticDedup(
        e, "vec_id", "embedding", threshold = 0.99, nlist = 3)
      .collect().map(r => r.getInt(0) -> r.getBoolean(2)).toMap
    assert(out.keySet == Set(1, 2, 3, 4, 5, 6))
    assert(out(2), "higher id of the identical pair must be dropped")
    assert(out.filter(_._2).keySet == Set(2),
      s"only vec 2 should drop, got ${out.filter(_._2).keySet}")
  }

  private def randomVecs(n: Int, dim: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    vecs((0 until n).map(i =>
      i -> Seq.fill(dim)(rnd.nextGaussian())): _*)
  }

  test("semanticDedup census matches a brute-force within-bucket " +
      "check on random vectors") {
    val e = randomVecs(120, dim = 8, seed = 11)
    val out = Similarity.semanticDedup(
      e, "vec_id", "embedding", threshold = 0.9, nlist = 4)
    // brute force: recompute assignment + drops from first principles
    val cents = Similarity.hashKCentroids(e, "vec_id", "embedding", 4)
    val assigned = Similarity.assignToCentroids(
        e, cents, "vec_id", "embedding")
      .select(col("vec_id"), col("centroid_id"))
    val a = assigned.join(e, "vec_id")
      .select(col("centroid_id"), col("vec_id").as("id_a"),
        col("embedding").as("va"))
    val b = assigned.join(e, "vec_id")
      .select(col("centroid_id"), col("vec_id").as("id_b"),
        col("embedding").as("vb"))
    val expectDropped = a.join(b, Seq("centroid_id"))
      .where(col("id_a") < col("id_b"))
      .where(round(Similarity.cosine(col("va"), col("vb")), 4) >= 0.9)
      .select("id_b").distinct()
      .collect().map(_.getInt(0)).toSet
    val got = out.where(col("dropped"))
      .select("vec_id").collect().map(_.getInt(0)).toSet
    assert(got == expectDropped)
  }

  test("mega-bucket guard: maxBucket subdivides a degenerate " +
      "all-one-bucket corpus (candidate count drops well below " +
      "bucket², inert when no bucket exceeds the limit)") {
    // nlist = 1 forces every vector into ONE primary bucket — the
    // skewed-space worst case the guard exists for
    val e = randomVecs(150, dim = 8, seed = 42)
    val full = Similarity.semanticBlockedPairs(
      e, "vec_id", "embedding", nlist = 1)
    val nFull = full.count()
    assert(nFull == 150L * 149 / 2, "one bucket = all pairs")
    // limit 40 → k2 = ceil(150/40) = 4 secondary cells; Σ C(cell,2)
    // must land far under C(150,2)
    val guarded = Similarity.semanticBlockedPairs(
      e, "vec_id", "embedding", nlist = 1, maxBucket = Some(40L))
    val nGuard = guarded.count()
    assert(nGuard < nFull / 2,
      s"guard did not bound the candidate set: $nGuard vs $nFull")
    // a limit no bucket exceeds leaves the pair set untouched
    val inert = Similarity.semanticBlockedPairs(
        e, "vec_id", "embedding", nlist = 1, maxBucket = Some(1000L))
      .select("id_a", "id_b").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    val fullSet = full.select("id_a", "id_b").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(inert == fullSet)
  }

  test("semanticDedup with the guard still drops planted identical " +
      "pairs (they share the secondary cell by construction) and " +
      "returns every id exactly once") {
    val rnd = new scala.util.Random(7)
    val baseRows = (0 until 100)
      .map(i => i -> Seq.fill(6)(rnd.nextGaussian()))
    // ids 200-204 are exact copies of ids 0-4: identical vectors get
    // identical secondary assignments, so subdivision cannot separate
    // a true duplicate pair
    val planted = (0 until 5).map(i => (200 + i) -> baseRows(i)._2)
    val e = vecs((baseRows ++ planted): _*)
    val out = Similarity.semanticDedup(
        e, "vec_id", "embedding", threshold = 0.999,
        nlist = 1, maxBucket = Some(25L))
      .collect().map(r => r.getInt(0) -> r.getBoolean(2)).toMap
    assert(out.size == 105)
    (0 until 5).foreach { i =>
      assert(out(200 + i), s"planted copy ${200 + i} must drop")
      assert(!out(i), s"original $i must survive (lowest id wins)")
    }
  }

  private def randVecs(n: Int, dim: Int, seed: Int) = {
    val rng = new scala.util.Random(seed)
    vecs((0 until n).map(i =>
      (i, Seq.fill(dim)(rng.nextDouble() * 2 - 1))): _*)
  }

  test("quantizeInt8: codes are in [-127,127], dequantization " +
      "reconstructs each component within scale/2, zero/empty/null " +
      "vectors get scale 0") {
    val d = df(
      StructType(Seq(
        StructField("vec_id", IntegerType),
        StructField("embedding", ArrayType(DoubleType), nullable = true))),
      Seq(Row(1, Seq(0.5, -2.0, 1.25)), Row(2, Seq(0.0, 0.0)),
        Row(3, Seq.empty[Double]), Row(4, null)))
    val q = Similarity.quantizeInt8(d, "embedding")
      .collect().map(r => r.getInt(0) -> r).toMap
    val r1 = q(1)
    val scale = r1.getAs[Double]("embedding_scale")
    assert(scale == 2.0 / 127.0)
    val codes = r1.getSeq[Byte](r1.fieldIndex("embedding_q")).toSeq
    assert(codes.forall(c => c >= -127 && c <= 127))
    codes.zip(Seq(0.5, -2.0, 1.25)).foreach { case (c, x) =>
      assert(math.abs(c * scale - x) <= scale / 2 + 1e-12,
        s"component $x reconstructed as ${c * scale}")
    }
    assert(q(2).getAs[Double]("embedding_scale") == 0.0)
    assert(q(2).getSeq[Byte](q(2).fieldIndex("embedding_q")).toSeq ==
      Seq(0, 0))
    assert(q(3).getSeq[Byte](q(3).fieldIndex("embedding_q")).isEmpty)
    assert(q(4).getAs[Double]("embedding_scale") == 0.0)
    assert(q(4).isNullAt(q(4).fieldIndex("embedding_q")))
  }

  test("quantizeInt8: cosine over the codes tracks the exact cosine " +
      "(per-vector scales cancel; int8 grid error only)") {
    val d = randVecs(40, 16, seed = 2)
    val q = Similarity.quantizeInt8(d, "embedding")
    val pairs = q.as("a").join(q.as("b"),
        col("a.vec_id") < col("b.vec_id"))
      .select(
        Similarity.cosine(col("a.embedding"), col("b.embedding"))
          .as("exact"),
        Similarity.cosine(col("a.embedding_q"), col("b.embedding_q"))
          .as("quant"))
      .collect()
    pairs.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 0.02,
        s"exact=${r.getDouble(0)} quant=${r.getDouble(1)}")
    }
  }

  test("int8 codes compose with the IVF scale path: ivfTopK over the " +
      "quantized corpus keeps useful recall vs the exact brute force") {
    val d = randVecs(150, 24, seed = 4)
    val k = 10
    val exact = Similarity.bruteForceTopKAgg(
        d.where(col("vec_id") < 5), d, "vec_id", "embedding", k)
      .collect().map(r => (r.getAs[Any]("query_id"),
        r.getAs[Any]("neighbor_id"))).toSet
    val q = Similarity.quantizeInt8(d, "embedding")
      .select(col("vec_id"), col("embedding_q"))
    val cents = Similarity.hashKCentroids(q, "vec_id", "embedding_q", 8)
    val ivfQuant = Similarity.ivfTopK(q.where(col("vec_id") < 5),
        Similarity.annIndexRows(q, "vec_id", "embedding_q", cents), cents,
        "vec_id", "embedding_q", k, nprobe = 4)
      .collect().map(r => (r.getAs[Any]("query_id"),
        r.getAs[Any]("neighbor_id"))).toSet
    val recall = (exact & ivfQuant).size.toDouble / exact.size
    assert(recall >= 0.6,
      s"ivf-over-int8 recall $recall (quantization + probe misses stack)")
  }

  test("quantized brute-force top-k recalls nearly all exact " +
      "neighbors") {
    val d = randVecs(120, 24, seed = 9)
    val k = 10
    def tops(frame: org.apache.spark.sql.DataFrame, vc: String) =
      Similarity.bruteForceTopKAgg(
          frame.where(col("vec_id") < 5), frame, "vec_id", vc, k)
        .collect()
        .map(r => (r.getAs[Any]("query_id"), r.getAs[Any]("neighbor_id")))
        .toSet
    val exact = tops(d, "embedding")
    val quant = tops(
      Similarity.quantizeInt8(d, "embedding")
        .select(col("vec_id"), col("embedding_q")),
      "embedding_q")
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall")
  }

  private def srpOf(frame: org.apache.spark.sql.DataFrame) =
    Similarity.srpSketch(
      Similarity.quantizeInt8(frame, "embedding"), "vec_id",
      "embedding_q", dim = 16)
      .select("vec_id", "srp_hi", "srp_lo")

  test("srpSketch bits match a driver replay of the md5 sign rows " +
      "over the int8 codes (exact integer sums)") {
    val d = randVecs(20, 16, seed = 31)
    val out = srpOf(d).orderBy("vec_id").collect()
    val codes = Similarity.quantizeInt8(d, "embedding")
      .select("vec_id", "embedding_q").orderBy("vec_id").collect()
      .map(r => r.getInt(0) -> r.getSeq[Byte](1)).toMap
    out.foreach { r =>
      val c = codes(r.getInt(0))
      var hi = 0L; var lo = 0L
      for (i <- 0 until 64) {
        val s = (0 until 16).map(d =>
          Similarity.srpSign(i, d).toLong * c(d)).sum
        if (s > 0) {
          if (i < 32) hi |= 1L << (31 - i) else lo |= 1L << (63 - i)
        }
      }
      assert(r.getLong(1) == hi && r.getLong(2) == lo,
        s"sketch mismatch for vec ${r.getInt(0)}")
    }
  }

  test("srpSketch is invariant under positive scaling of the vector " +
      "(hyperplane signs depend only on direction)") {
    val base = randVecs(15, 16, seed = 7)
    val scaled = base.select(col("vec_id"),
      transform(col("embedding"), x => x * lit(3.5)).as("embedding"))
    assert(srpOf(base).orderBy("vec_id").collect().toSeq ==
      srpOf(scaled).orderBy("vec_id").collect().toSeq)
  }

  test("srp hamming tracks angle: identical -> 0, tiny perturbation " +
      "stays far below unrelated vectors (~32 expected at random)") {
    val rng = new scala.util.Random(5)
    val v = Seq.fill(16)(rng.nextGaussian())
    val pert = v.map(x => x + rng.nextGaussian() * 0.02)
    val other = Seq.fill(16)(rng.nextGaussian())
    val sk = srpOf(vecs((1, v), (2, v), (3, pert), (4, other)))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    def ham(a: (Long, Long), b: (Long, Long)) =
      java.lang.Long.bitCount(a._1 ^ b._1) +
        java.lang.Long.bitCount(a._2 ^ b._2)
    assert(ham(sk(1), sk(2)) == 0)
    val dPert = ham(sk(1), sk(3))
    val dOther = ham(sk(1), sk(4))
    assert(dPert <= 6, s"perturbed hamming $dPert")
    assert(dOther >= 15, s"unrelated hamming $dOther")
    assert(dPert < dOther)
  }

  test("srpNearDupMatches over a standing index equals the symmetric " +
      "banded pairs restricted to cross-side, and dedupEmbeddingAgainst " +
      "drops exactly the verified matches") {
    val corpus = randVecs(50, 16, seed = 21)
    // near-dup copies of %10==0, novel heavy rewrites of %10==5
    val batch = corpus.where(col("vec_id") % 5 === 0)
      .select(col("vec_id"), transform(col("embedding"),
        x => x + when(col("vec_id") % 10 === 0, lit(0.002))
          .otherwise(lit(0.8))).as("embedding"))
    val index = Similarity.buildSrpIndex(
      corpus, "vec_id", "embedding", dim = 16)
    val matches = Similarity.srpNearDupMatches(index, corpus, batch,
        "vec_id", "embedding", dim = 16, maxDist = 3, minCos = 0.98)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    // symmetric reference: sketch the union with offset batch ids
    val sym = graft.dedup.Dedup.hammingBandedPairs(
        Similarity.buildSrpIndex(
          corpus.unionByName(batch.select(
            (col("vec_id") + 1000).as("vec_id"), col("embedding"))),
          "vec_id", "embedding", dim = 16),
        "vec_id", "srp_hi", "srp_lo", maxDist = 3)
      .where(col("id_a") < 1000 && col("id_b") >= 1000)
      .collect().map(r => (r.getInt(0), r.getInt(1) - 1000)).toSet
    // matches additionally require cos >= 0.98; heavy rewrites that
    // happen to share bands are filtered there, light copies are not
    assert(matches.subsetOf(sym))
    assert(matches.nonEmpty)
    assert(matches.forall { case (c, b) => c == b && b % 10 == 0 })
    val survivors = Similarity.dedupEmbeddingAgainst(index, corpus,
        batch, "vec_id", "embedding", dim = 16)
      .collect().map(_.getInt(0)).toSet
    val batchIds = (0 until 50 by 5).toSet
    assert(survivors == batchIds -- matches.map(_._2))
    assert(batchIds.filter(_ % 10 == 5).subsetOf(survivors),
      "novel rows must survive")
  }

  test("srpSketch + hammingBandedPairs: perturbed batch copies pair " +
      "with their corpus source and nothing else") {
    val corpus = randVecs(40, 16, seed = 13)
    val batch = corpus.where(col("vec_id") % 8 === 0)
      .select((col("vec_id") + 1000).as("vec_id"),
        transform(col("embedding"), x => x + lit(0.004)).as("embedding"))
    val sk = srpOf(corpus.unionByName(batch))
    val pairs = graft.dedup.Dedup.hammingBandedPairs(
        sk, "vec_id", "srp_hi", "srp_lo", maxDist = 3)
      .where(col("id_a") < 1000 && col("id_b") >= 1000)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b) => b - 1000 == a },
      s"false positives in $pairs")
  }

  test("the coarse probe equals the window/row_number probe: ties on " +
      "rounded csim go to the smaller id, NULL csims (a zero-norm " +
      "query, a NULL centroid vector) rank last, nprobe > nlist probes " +
      "all — in ivfTopK, hardNegatives and ivfPqTopK") {
    // a NaN csim (centroid 6 has a NaN component) is NULL too: it ranks
    // last in the probe, and the index assignment never chooses it
    val cs = StructType(Seq(StructField("centroid_id", IntegerType),
      StructField("centroid_vec", ArrayType(DoubleType))))
    def at(a: Double) = Seq(math.cos(a), math.sin(a))
    // 3 and 7 round to the same csim against (1, 0), 7 is nearer raw
    val cents = df(cs, Seq(5 -> at(0.1), 7 -> at(0.3), 3 -> at(-0.30001),
        1 -> at(1.0), 9 -> at(2.0), 2 -> at(math.Pi), 4 -> null,
        6 -> Seq(Double.NaN, 0.0))
      .map { case (i, v) => Row(i, v) })
    val qs = StructType(Seq(StructField("vec_id", IntegerType),
      StructField("embedding", ArrayType(DoubleType)),
      StructField("label", StringType)))
    val queries = df(qs, Seq(Row(100, Seq(1.0, 0.0), "q"),
      Row(101, Seq(0.0, 0.0), "q"), Row(102, Seq(0.0, 1.0), "q"),
      Row(103, Seq(-1.0, 0.2), "q")))
    // one marker row per centroid, at the centroid itself; the NULL
    // centroid 4 and the NaN centroid 6 keep empty buckets, and no
    // marker may be assigned to them
    val markers = df(qs, cents.collect().toSeq
      .filter(r => !r.isNullAt(1) && !r.getSeq[Double](1).exists(_.isNaN))
      .map(r => Row(1000 + r.getInt(0), r.getSeq[Double](1), "c")))
    val index = Similarity.annIndexRows(markers, "vec_id", "embedding",
      cents)
    val bucketOf = index.select("vec_id", "centroid_id").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(bucketOf.forall { case (id, c) => id - 1000 == c })
    val books = df(StructType(Seq(StructField("block", IntegerType),
        StructField("code", IntegerType),
        StructField("codeword", ArrayType(DoubleType)))),
      Seq(Row(0, 0, Seq(1.0)), Row(0, 1, Seq(-1.0)),
        Row(1, 0, Seq(1.0)), Row(1, 1, Seq(-1.0))))
    val pqIndex = Similarity.annIndexRows(markers, "vec_id",
      "embedding", cents, IvfCodec.Pq(books))

    def windowProbe(nprobe: Int): Set[(Int, Int)] = {
      val w = Window.partitionBy("query_id")
        .orderBy(col("csim").desc, col("centroid_id").asc)
      queries.select(col("vec_id").as("query_id"), col("embedding"))
        .crossJoin(cents)
        .withColumn("csim", nanvl(round(Similarity.cosine(
          col("embedding"), col("centroid_vec")), 4),
          lit(null).cast("double")))
        .withColumn("r", row_number().over(w))
        .where(col("r") <= nprobe)
        .select("query_id", "centroid_id").collect()
        .map(r => (r.getInt(0), r.getInt(1))).toSet
    }
    def probed(out: DataFrame, neighbor: String): Set[(Int, Int)] =
      out.select(col("query_id"), col(neighbor)).collect()
        .map(r => (r.getInt(0), bucketOf(r.getInt(1)))).toSet

    assert(windowProbe(2).filter(_._1 == 100) == Set(100 -> 5, 100 -> 3))
    assert(windowProbe(2).filter(_._1 == 101) == Set(101 -> 1, 101 -> 2))
    // the NaN centroid 6 ranks after every number, with the NULL 4
    assert(!windowProbe(7).exists(p => p._1 != 101 && p._2 == 6))
    for (nprobe <- Seq(1, 2, 3, 10)) {
      assert(windowProbe(nprobe).size == 4 * math.min(nprobe, 8))
      // nprobe 1: every query's first probe holds a marker, so an
      // empty NULL or NaN bucket ranked first would lose its results
      val want = windowProbe(nprobe).filter(p => p._2 != 4 && p._2 != 6)
      assert(probed(Similarity.ivfTopK(queries, index, cents, "vec_id",
        "embedding", k = 100, nprobe = nprobe), "neighbor_id") == want,
        s"ivfTopK, nprobe $nprobe")
      assert(probed(Similarity.hardNegatives(queries, markers, "vec_id",
        "embedding", "label", k = 100, cents, nprobe = nprobe),
        "neighbor_id") == want, s"hardNegatives, nprobe $nprobe")
      assert(probed(Similarity.ivfPqTopK(queries, pqIndex, books, cents,
        "vec_id", "embedding", k = 100, nprobe = nprobe),
        "neighbor_id") == want, s"ivfPqTopK, nprobe $nprobe")
    }
  }
}
