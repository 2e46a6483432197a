package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{SparkPlan, QueryExecution}
import org.apache.spark.sql.execution.adaptive.{
  AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

/** The IVF index over an [[IvfCodec]]: [[Similarity.annIndexRows]] is a
  * row projection for every codec, equal bit for bit to the earlier
  * window assignment, grouped encode and residual join (kept below as
  * references); the bucketed writer shuffles once; an append equals a
  * rebuild over the union for every codec.
  */
class IvfIndexSpec extends SparkSpec {

  private val vecSchema = StructType(Seq(
    StructField("vec_id", IntegerType),
    StructField("embedding", ArrayType(DoubleType))))

  private def at(a: Double) = Seq(math.cos(a), math.sin(a))

  /** SimilaritySpec's probe-case centroids: 3 and 7 round to the same
    * csim against (1, 0), 4 has a NULL vector, 6 a NaN component.
    */
  private def probeCents = df(
    StructType(Seq(StructField("centroid_id", IntegerType),
      StructField("centroid_vec", ArrayType(DoubleType)))),
    Seq(5 -> at(0.1), 7 -> at(0.3), 3 -> at(-0.30001), 1 -> at(1.0),
      9 -> at(2.0), 2 -> at(math.Pi), 4 -> null,
      6 -> Seq(Double.NaN, 0.0)).map { case (i, v) => Row(i, v) })

  /** Vectors on a coarse angle grid (rounded-csim ties), plus a zero
    * vector, a NULL vector, NULL and NaN elements.
    */
  private def probeVecs = df(vecSchema,
    (0 until 63).map(i => Row(i, at(i * 0.1))) ++ Seq(
      Row(100, Seq(0.0, 0.0)), Row(101, null),
      Row(102, Seq[java.lang.Double](null, 1.0)),
      Row(103, Seq[java.lang.Double](0.5, null)),
      Row(104, Seq(Double.NaN, 1.0)), Row(105, Seq(1.0, 0.0))))

  /** Ragged codebooks: block 0 holds 3 codes (0 and 2 tie), block 1
    * holds 2; one dimension per block.
    */
  private def raggedBooks = df(
    StructType(Seq(StructField("block", IntegerType),
      StructField("code", IntegerType),
      StructField("codeword", ArrayType(DoubleType)))),
    Seq(Row(0, 0, Seq(0.5)), Row(0, 1, Seq(-0.5)), Row(0, 2, Seq(0.5)),
      Row(1, 0, Seq(0.25)), Row(1, 1, Seq(-0.75))))

  // ---- the earlier forms, kept as references ---------------------- //

  private def cosine(v: String, c: String, vn: String, cn: String) =
    Similarity.dot(col(v), col(c)) / nullif(col(vn) * col(cn), lit(0.0))

  /** Nearest centroid by a broadcast cross join and a `row_number`
    * window per id (csim DESC NULLS LAST, centroid_id ASC).
    */
  private def windowAssign(corpus: DataFrame, cents: DataFrame)
      : DataFrame = {
    val cs = broadcast(cents.select(col("centroid_id"),
      col("centroid_vec"), Similarity.norm(col("centroid_vec")).as("__cn")))
    val carry = Seq(col("vec_id"), col("embedding"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("csim").desc, col("centroid_id").asc)
    corpus.select(carry :+ Similarity.norm(col("embedding")).as("__vn"): _*)
      .crossJoin(cs)
      .select(carry ++ Seq(col("__vn"), col("centroid_id"),
        nanvl(round(cosine("embedding", "centroid_vec", "__vn", "__cn"), 4),
          lit(null).cast("double")).as("csim")): _*)
      .withColumn("__r", row_number().over(w))
      .where(col("__r") === 1)
      .select(carry ++ Seq(col("__vn"), col("centroid_id")): _*)
  }

  /** PQ encode by a codebook join, a `min_by` per (id, block) and a
    * `collect_list` per id.
    */
  private def groupByEncode(d: DataFrame, vecCol: String,
      books: DataFrame): DataFrame = {
    val rows = books.collect()
    val m = rows.map(_.getInt(0)).distinct.length
    val sub = rows.find(r => r.getInt(0) == 0 && r.getInt(1) == 0).get
      .getSeq[Double](2).length
    val cb = broadcast(books.select(col("block"), col("code"),
      col("codeword"),
      Similarity.dot(col("codeword"), col("codeword")).as("__cc")))
    val v = col(vecCol).cast("array<double>")
    val d2 = col("__cc") - lit(2.0) *
      Similarity.dot(col("__sub"), col("codeword"))
    d.select(col("vec_id"), posexplode(transform(sequence(lit(0),
        lit(m - 1)), b => slice(v, b * sub + lit(1), lit(sub))))
        .as(Seq("__blk", "__sub")))
      .join(cb, col("__blk") === col("block"))
      .groupBy(col("vec_id"), col("__blk"))
      .agg(min_by(col("code"), struct(d2.as("d"), col("code")))
        .as("__code"))
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("__blk"), col("__code"))))
        .as("__bc"))
      .select(col("vec_id"),
        transform(col("__bc"), p => p.getField("__code")).as("codes"))
  }

  /** The earlier index rows of each codec: window assignment, joined to
    * the grouped encode of the vector or of its residual (a join back
    * to the centroid table).
    */
  private def reference(d: DataFrame, cents: DataFrame,
      codec: IvfCodec): DataFrame = codec match {
    case IvfCodec.Vectors => windowAssign(d, cents)
    case IvfCodec.Pq(cb) =>
      windowAssign(d, cents).select("vec_id", "centroid_id")
        .join(groupByEncode(d, "embedding", cb), Seq("vec_id"))
        .select("centroid_id", "vec_id", "codes")
    case IvfCodec.ResidualPq(cb) =>
      val res = windowAssign(d, cents).drop("__vn")
        .join(broadcast(cents), Seq("centroid_id"))
        .select(col("vec_id"), col("centroid_id"),
          zip_with(col("embedding").cast("array<double>"),
            col("centroid_vec").cast("array<double>"),
            (x, c) => x - c).as("__res"))
      groupByEncode(res, "__res", cb)
        .join(res.select("vec_id", "centroid_id"), Seq("vec_id"))
        .select("centroid_id", "vec_id", "codes")
  }

  // ----------------------------------------------------------------- //

  private def codecs(books: DataFrame) = Seq(IvfCodec.Vectors,
    IvfCodec.Pq(books), IvfCodec.ResidualPq(books))

  /** A value with every double as its raw bits, arrays element-wise. */
  private def bits(x: Any): Any = x match {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case s: collection.Seq[_] => s.map(bits).toList
    case other => other
  }

  private def byId(d: DataFrame): Map[Int, Seq[Any]] = {
    val i = d.columns.indexOf("vec_id")
    d.collect().map(r => r.getInt(i) -> r.toSeq.map(bits)).toMap
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p.collect {
    case a: AdaptiveSparkPlanExec => nodes(a.initialPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => Seq(other)
  }.flatten

  private def blocking(p: SparkPlan): Seq[String] = nodes(p).collect {
    case n @ (_: Exchange | _: WindowExec | _: BaseJoinExec |
        _: BaseAggregateExec) => n.nodeName
  }

  test("annIndexRows equals the window assignment, grouped encode and " +
      "residual join column by column and bit for bit — rounded-csim " +
      "ties, NULL and NaN centroids, NULL and NaN elements, zero and " +
      "NULL vectors, ragged codebooks") {
    val (d, cents, books) = (probeVecs, probeCents, raggedBooks)
    for (codec <- codecs(books)) {
      val got = Similarity.annIndexRows(d, "vec_id", "embedding", cents,
        codec)
      val want = reference(d, cents, codec)
      assert(got.schema.map(f => (f.name, f.dataType.simpleString)) ==
        want.schema.map(f => (f.name, f.dataType.simpleString)), codec)
      val (g, w) = (byId(got), byId(want))
      assert(g.size == 69 && g == w, s"$codec:\n" +
        g.keySet.toSeq.sorted.filter(i => g(i) != w.get(i).orNull)
          .map(i => s"$i: ${g(i)} vs ${w.get(i)}").mkString("\n"))
    }
    // rounded-csim ties go to the smaller id: angle 0.2 sits between
    // centroids 5 and 7, angle 1.5 between 1 and 9
    val bucket = byId(Similarity.annIndexRows(d, "vec_id", "embedding",
      cents)).map { case (id, r) => id -> r(3) }
    assert(bucket(2) == 5 && bucket(15) == 1, bucket)
  }

  test("the same equality on the sf0.001 embeddings with trained " +
      "centroids and codebooks") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(col("vec_id") < 300)
      .select(col("vec_id").cast("int").as("vec_id"), col("embedding"))
    val cents = Similarity.hashKCentroids(e, "vec_id", "embedding", 8)
      .localCheckpoint(true)
    val raw = Similarity.pqTrainCodebooks(e, "vec_id", "embedding",
      m = 4, k = 8, iters = 1, exactMedian = true).localCheckpoint(true)
    val res = Similarity.ivfRpqTrainCodebooks(e, "vec_id", "embedding",
      cents, m = 4, k = 8, iters = 1, exactMedian = true)
      .localCheckpoint(true)
    for (codec <- Seq(IvfCodec.Vectors, IvfCodec.Pq(raw),
        IvfCodec.ResidualPq(res)))
      assert(byId(Similarity.annIndexRows(e, "vec_id", "embedding",
        cents, codec)) == byId(reference(e, cents, codec)), codec)
  }

  test("annIndexRows plans with no exchange, window, join or aggregate " +
      "for every codec; the references plan all of them") {
    val (d, cents, books) = (probeVecs, probeCents, raggedBooks)
    for (codec <- codecs(books)) {
      val got = blocking(Similarity.annIndexRows(d, "vec_id", "embedding",
        cents, codec).queryExecution.executedPlan)
      assert(got.isEmpty, s"$codec plans $got")
      val ref = blocking(reference(d, cents, codec)
        .queryExecution.executedPlan)
      assert(ref.exists(_.contains("Window")) &&
        ref.exists(_.contains("Join")) && ref.exists(_.contains("Exchange")),
        s"$codec reference plans $ref")
    }
  }

  test("buildIvfIndex writes through exactly one exchange, one file per " +
      "bucket, and returns the rows written") {
    val (d, cents, books) = (probeVecs, probeCents, raggedBooks)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long) =
        seen.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception) = ()
    }
    spark.listenerManager.register(listener)
    try for ((codec, i) <- codecs(books).zipWithIndex) {
      val t = s"ivf_write_spec_$i"
      try {
        seen.clear()
        val n = Similarity.buildIvfIndex(d, "vec_id", "embedding", cents,
          t, numBuckets = 3, codec = codec)
        assert(n == 69)
        // the listener bus delivers asynchronously
        val deadline = System.currentTimeMillis() + 10000
        def exchanges = seen.toArray(Array.empty[SparkPlan]).toSeq
          .flatMap(nodes).collect { case x: Exchange => x.nodeName }
        while (exchanges.isEmpty && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        Thread.sleep(200)
        assert(exchanges.size == 1, s"$codec write plans $exchanges")
        val files = spark.table(t).inputFiles
        assert(files.length <= 3 &&
          files.map(f => f.split("_").last.take(5)).distinct.length ==
            files.length, s"$codec wrote ${files.toSeq}")
        assert(spark.table(t).count() == 69)
      } finally spark.sql(s"DROP TABLE IF EXISTS $t")
    } finally spark.listenerManager.unregister(listener)
  }

  test("ivfIndexAppend at fixed centroids (and codebooks) equals a " +
      "from-scratch rebuild over the unioned corpus for every codec, " +
      "and search over the appended table sees the new vectors") {
    val rng = new scala.util.Random(27)
    val anchors = Seq.fill(4)(Seq.fill(16)(rng.nextDouble() * 2 - 1))
    val base = df(vecSchema, (0 until 60).map { i =>
      Row(i, anchors(i % 4).map(_ + rng.nextDouble() * 0.1))
    })
    val batch = df(vecSchema, (100 until 120).map { i =>
      val r = new scala.util.Random(i)
      Row(i, Seq.fill(16)(r.nextDouble() * 2 - 1))
    })
    val cents = Similarity.hashKCentroids(base, "vec_id", "embedding", 4)
    for ((codec, i) <- Seq(IvfCodec.Vectors,
        IvfCodec.Pq(Similarity.pqTrainCodebooks(base, "vec_id",
          "embedding", m = 4, k = 8, exactMedian = true)),
        IvfCodec.ResidualPq(Similarity.ivfRpqTrainCodebooks(base,
          "vec_id", "embedding", cents, m = 4, k = 8,
          exactMedian = true))).zipWithIndex) {
      val (app, reb) = (s"ivf_append_spec_$i", s"ivf_rebuild_spec_$i")
      try {
        Similarity.buildIvfIndex(base, "vec_id", "embedding", cents, app,
          numBuckets = 2, codec = codec)
        assert(Similarity.ivfIndexAppend(batch, "vec_id", "embedding",
          cents, app, numBuckets = 2, codec = codec) == 20, codec)
        Similarity.buildIvfIndex(base.unionByName(batch), "vec_id",
          "embedding", cents, reb, numBuckets = 2, codec = codec)
        def rows(t: String) = spark.table(t).collect().map(_.toSeq).toSet
        assert(rows(app) == rows(reb), codec)
        assert(rows(app).size == 80, codec)
        val got = Similarity.ivfTopK(batch.where(col("vec_id") === 100),
            spark.table(app), cents, "vec_id", "embedding", k = 5,
            nprobe = 4, codec = codec)
          .select("neighbor_id").collect().map(_.getInt(0))
        assert(got.length == 5, codec)
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS $app")
        spark.sql(s"DROP TABLE IF EXISTS $reb")
      }
    }
  }
}
