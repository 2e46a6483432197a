package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.Row
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
}
