package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[Similarity.recallAudit]] — the generic approximate-vs-exact
  * per-group recall audit (ANN top-k health, LSH candidate coverage).
  */
class RecallAuditSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("query_id", IntegerType),
    StructField("neighbor_id", IntegerType)))

  private def frame(pairs: (Int, Int)*) =
    df(schema, pairs.map { case (q, n) => Row(q, n) })

  test("identical frames audit to recall 1.0 for every query") {
    val x = frame((1, 10), (1, 11), (2, 20), (2, 21), (2, 22))
    val out = Similarity.recallAudit(x, x).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(out == Map(1 -> ((2L, 2L, 1.0)), 2 -> ((3L, 3L, 1.0))))
  }

  test("a query the approx side missed entirely still lands a row — " +
      "n_hit 0, recall 0") {
    val exact = frame((1, 10), (1, 11), (2, 20))
    val approx = frame((1, 10), (1, 11))
    val out = Similarity.recallAudit(approx, exact).collect()
      .map(r => r.getInt(0) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out(2) == ((0L, 0.0)))
    assert(out(1) == ((2L, 1.0)))
  }

  test("partial overlap is the exact fraction; approx-side false " +
      "positives neither lower nor raise it") {
    val exact = frame((1, 10), (1, 11), (1, 12), (1, 13))
    val approx = frame((1, 10), (1, 12), (1, 99), (1, 98), (1, 97))
    val Array(r) = Similarity.recallAudit(approx, exact).collect()
    assert((r.getLong(1), r.getLong(2), r.getDouble(3)) ==
      ((4L, 2L, 0.5)))
  }

  test("pair-mode keyCols audits LSH candidate coverage: banded " +
      "candidates vs exact-threshold pairs, grouped by id_a") {
    val pairSchema = StructType(Seq(
      StructField("id_a", IntegerType), StructField("id_b", IntegerType)))
    val exact = df(pairSchema,
      Seq(Row(1, 2), Row(1, 3), Row(4, 5)))
    val cands = df(pairSchema,
      Seq(Row(1, 2), Row(4, 5), Row(7, 8)))
    val out = Similarity.recallAudit(cands, exact,
        keyCols = Seq("id_a", "id_b")).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(out == Map(1 -> ((2L, 1L, 0.5)), 4 -> ((1L, 1L, 1.0))))
    assert(!out.contains(7), "approx-only groups are not audited")
  }

  test("on the real embeddings: IVF routed recall vs brute force " +
      "matches a driver-side replay, and nprobe = nlist audits to 1.0") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.where(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopKAgg(
      q, e, "vec_id", "embedding", k = 10)
    val cents = Similarity.hashKCentroids(e, "vec_id", "embedding", 16)
    val index = Similarity.annIndexRows(e, "vec_id", "embedding", cents)
    def audit(nprobe: Int) = Similarity.recallAudit(
        Similarity.ivfTopK(q, index, cents, "vec_id", "embedding",
          k = 10, nprobe),
        exact).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    // independent replay of one audit row from the two result sets
    val ex = exact.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ro = Similarity.ivfTopK(q, index, cents, "vec_id",
        "embedding", k = 10, nprobe = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = audit(3)
    got.foreach { case (qid, (nExact, nHit, recall)) =>
      val want = ex.filter(_._1 == qid)
      val hit = want.count(ro.contains)
      assert(nExact == want.size && nHit == hit)
      assert(recall == BigDecimal(hit.toDouble / want.size)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // probing every bucket loses nothing — the audit reads 1.0
    assert(audit(16).values.forall(_._3 == 1.0))
  }

  test("sampled audit (10% hashFraction query leg) estimates the full " +
      "audit: per-query rows are a strict subset with identical " +
      "values, and aggregate recall is within tolerance") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.hashKCentroids(e, "vec_id", "embedding", 16)
    val index = Similarity.annIndexRows(e, "vec_id", "embedding", cents)
    def auditOf(q: org.apache.spark.sql.DataFrame) = Similarity.recallAudit(
      Similarity.ivfTopK(q, index, cents, "vec_id", "embedding",
        k = 10, nprobe = 3),
      Similarity.bruteForceTopKAgg(q, e, "vec_id", "embedding", k = 10))
    val sampled = auditOf(e.where(graft.sampling.Sampling
      .hashFraction(col("vec_id"), "audit") < 0.10))
    val full = auditOf(e)
    val sm = sampled.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    val fm = full.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(sm.nonEmpty, "10% sample of 500 vectors must not be empty")
    assert(sm.size < fm.size, "sample must be a strict subset")
    // per-query the audit value is independent of which other queries
    // ran — the sampled rows equal their full-audit twins exactly
    sm.foreach { case (qid, v) => assert(fm(qid) == v, s"qid $qid") }
    // and the aggregate estimate lands near the full-population recall
    def macroRecall(m: Map[Long, (Long, Long, Double)]) =
      m.values.map(_._3).sum / m.size
    assert(math.abs(macroRecall(sm) - macroRecall(fm)) < 0.15,
      s"sampled ${macroRecall(sm)} vs full ${macroRecall(fm)}")
  }
}
