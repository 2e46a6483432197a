package graft.streaming

import graft.SparkSpec
import graft.similarity.{IvfCodec, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** [[EventStreams.annIndexMaintenanceSink]] — the ANN index's
  * streaming lifecycle: the landed store equals a from-scratch batch
  * build over the union of all arrived batches (for every
  * [[graft.similarity.IvfCodec]]), search over the live store equals
  * search over the fresh index, replaying a landed batch leaves the
  * store unchanged, and a restarted query keeps extending the same
  * store.
  */
class AnnIndexSinkSpec extends SparkSpec {

  import spark.implicits._

  // a small corpus with two clear clusters; centroids trained on the
  // FIRST batch only (fixed for the store's lifetime, per contract)
  private def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
  private def b1 = Seq(
    (1L, vec(1, 0, 0, 0)), (2L, vec(0.9, 0.1, 0, 0)),
    (3L, vec(0, 0, 1, 0)), (4L, vec(0, 0.1, 0.9, 0)))
  private def b2 = Seq(
    (5L, vec(0.95, 0.05, 0, 0)), (6L, vec(0, 0, 0.95, 0.05)))
  private def b3 = Seq((7L, vec(0.8, 0.2, 0, 0)))

  private def df(rows: Seq[(Long, Array[Float])]) =
    rows.toDF("vec_id", "embedding")

  private def cents = Similarity.hashKCentroids(df(b1), "vec_id",
    "embedding", k = 2)

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def norml(d: DataFrame): Set[(Long, Long, Seq[Float], Double)] =
    d.select(col("vec_id"), col("centroid_id").cast("long"),
        col("embedding"), col("__vn"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Float](2), r.getDouble(3)))
      .toSet

  test("vector store: landed union equals a from-scratch build; " +
      "search over the live store equals search over a fresh index; " +
      "replay rewrites nothing; restart keeps extending") {
    implicit val sql = spark.sqlContext
    val store = tmp("graft_ann_store") + "/ivf"
    val ckpt = tmp("graft_ann_ckpt")
    val c = cents.localCheckpoint(true)
    val in = MemoryStream[(Long, Array[Float])]
    val q = EventStreams.annIndexMaintenanceSink(
      in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      c, store, ckpt)
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val live = EventStreams.liveAnnIndex(spark, store)
      val fresh = Similarity.annIndexRows(
        df(b1 ++ b2), "vec_id", "embedding", c)
      assert(norml(live) === norml(fresh))
      // search equality: probe both with the corpus itself as queries
      val overStore = Similarity.ivfTopK(
        df(b1 ++ b2), live, c, "vec_id", "embedding", k = 2, nprobe = 2)
      val overFresh = Similarity.ivfTopK(
        df(b1 ++ b2), fresh, c, "vec_id", "embedding", k = 2, nprobe = 2)
      def rows(d: DataFrame) = d
        .select("query_id", "neighbor_id", "sim", "rank")
        .collect().map(_.toSeq).toSet
      assert(rows(overStore) === rows(overFresh))
      assert(overStore.count() > 0)
    } finally q.stop()

    // at-least-once redelivery: re-land batch 1 (same id set, same
    // rows) — the content key maps it onto its own partition, which is
    // rewritten with identical rows
    def stored = norml(EventStreams.liveAnnIndex(spark, store))
    val before = stored
    EventStreams.landAnnBatch(df(b1), "vec_id", "embedding",
      cents.localCheckpoint(true), IvfCodec.Vectors, store, 4)
    assert(stored === before)

    // restart through a NEW checkpoint (engine batch ids restart at
    // 0): the content key keeps b1's re-send idempotent AND lands the
    // genuinely new b3 in its own partition
    val in2 = MemoryStream[(Long, Array[Float])](spark)
    val q2 = EventStreams.annIndexMaintenanceSink(
      in2.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      cents.localCheckpoint(true), store, tmp("graft_ann_ckpt2"))
    try {
      in2.addData(b1: _*); q2.processAllAvailable()
      in2.addData(b3: _*); q2.processAllAvailable()
    } finally q2.stop()
    assert(stored === norml(Similarity.annIndexRows(
      df(b1 ++ b2 ++ b3), "vec_id", "embedding", cents)))
  }

  test("PQ-code stores: landed union equals a from-scratch encode at " +
      "fixed centroids and codebooks, raw and residual") {
    implicit val sql = spark.sqlContext
    val c = cents.localCheckpoint(true)
    val raw = Similarity.pqTrainCodebooks(df(b1), "vec_id", "embedding",
      m = 2, k = 2, iters = 1).localCheckpoint(true)
    val res = Similarity.ivfRpqTrainCodebooks(df(b1), "vec_id",
      "embedding", c, m = 2, k = 2, iters = 1).localCheckpoint(true)
    for (codec <- Seq(IvfCodec.Pq(raw), IvfCodec.ResidualPq(res))) {
      val store = tmp("graft_annpq_store") + "/ivfpq"
      val in = MemoryStream[(Long, Array[Float])]
      val q = EventStreams.annIndexMaintenanceSink(
        in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        c, store, tmp("graft_annpq_ckpt"), codec = codec)
      try {
        in.addData(b1: _*); q.processAllAvailable()
        in.addData(b2: _*); q.processAllAvailable()
      } finally q.stop()
      def codeRows(d: DataFrame) = d
        .select(col("vec_id"), col("centroid_id").cast("long"),
          col("codes"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2)))
        .toSet
      val live = EventStreams.liveAnnIndex(spark, store)
      val fresh = Similarity.annIndexRows(
        df(b1 ++ b2), "vec_id", "embedding", c, codec)
      assert(codeRows(live) === codeRows(fresh), codec)
      assert(codeRows(live).size == 6, codec)
      // and the ADC search path accepts the live store directly
      val hits = Similarity.ivfTopK(df(b2), live, c,
        "vec_id", "embedding", k = 2, nprobe = 2, codec = codec)
      assert(hits.count() > 0, codec)
    }
  }

  test("an empty micro-batch lands nothing and creates no partition") {
    val store = tmp("graft_ann_empty") + "/ivf"
    EventStreams.landAnnBatch(
      df(b1).limit(0), "vec_id", "embedding",
      cents.localCheckpoint(true), IvfCodec.Vectors, store, 4)
    assert(!new java.io.File(store).exists())
  }
}
