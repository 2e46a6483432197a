package graft.similarity

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** [[Similarity.mmrRerankByQuery]] over one candidate pool (a literal
  * query key): the greedy MMR objective itself.
  */
class MmrSpec extends SparkSpec {

  private def cands(rows: Seq[(Long, Seq[Double], Double)]) = df(
    StructType(Seq(
      StructField("id", LongType),
      StructField("v", ArrayType(DoubleType)),
      StructField("rel", DoubleType))),
    rows.map { case (i, v, r) => Row(i, v, r) })

  /** (rank, id, …) rows of one pool reranked as a single query. */
  private def mmr(pool: DataFrame, k: Int, lambdaMilli: Int = 700) =
    Similarity.mmrRerankByQuery(pool.withColumn("q", lit(0)), "q", "id",
        "v", "rel", k, lambdaMilli)
      .drop("q")

  private def rerank(rows: Seq[(Long, Seq[Double], Double)], k: Int,
      lambdaMilli: Int = 700) =
    mmr(cands(rows), k, lambdaMilli)
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      .map(_._2)

  test("diversity kicks in: the near-duplicate of the top hit is " +
      "deferred behind a less-relevant but novel result") {
    val rows = Seq(
      1L -> (Seq(1.0, 0.0), 0.95),   // top relevance
      2L -> (Seq(0.999, 0.01), 0.94), // near-dup of 1
      3L -> (Seq(0.0, 1.0), 0.60))    // orthogonal, lower rel
    val out = rerank(rows.map(t => (t._1, t._2._1, t._2._2)), k = 3)
    assert(out.head === 1L)
    // pure relevance would pick 2 next; MMR penalizes its ~1.0
    // cosine to the selected 1 (0.7*0.94 - 0.3*1.0 < 0.7*0.6 - 0)
    assert(out(1) === 3L)
    assert(out(2) === 2L)
  }

  test("lambda = 1000 degenerates to pure relevance order") {
    val rows = Seq[(Long, Seq[Double], Double)](
      (1L, Seq(1.0, 0.0), 0.5), (2L, Seq(0.99, 0.01), 0.9),
      (3L, Seq(0.0, 1.0), 0.7))
    assert(rerank(rows, k = 3, lambdaMilli = 1000) ===
      Seq(2L, 3L, 1L))
  }

  test("deterministic across partitionings; ties to the smaller id") {
    val rows = (1L to 12L).map(i =>
      (i, Seq((i % 4).toDouble + 0.1, (i % 3).toDouble),
        0.5 + (i % 5) * 0.1))
    def run(parts: Int) =
      mmr(cands(rows).repartition(parts), k = 5)
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(run(1) === run(7))
    // identical rows -> identical objective: smaller id wins
    val tied = rerank(Seq[(Long, Seq[Double], Double)](
      (9L, Seq(1.0, 0.0), 0.8), (4L, Seq(1.0, 0.0), 0.8)), k = 1)
    assert(tied === Seq(4L))
  }

  test("fewer candidates than k emits exactly the candidates, no " +
      "null ranks") {
    val out = rerank(Seq[(Long, Seq[Double], Double)](
      (1L, Seq(1.0, 0.0), 0.9), (2L, Seq(0.0, 1.0), 0.8)), k = 5)
    assert(out === Seq(1L, 2L))
  }

  test("a zero-norm candidate vector is excluded instead of NaN-" +
      "poisoning every later round's max-cosine") {
    // without the guard: picking 1 computes cosine(0-vec, 1-vec) =
    // 0/0 = NaN, NaN sorts above all doubles, __mc locks to NaN,
    // floor(NaN) -> obj_micro 0 for EVERY remaining candidate and the
    // ordering collapses to id order
    val rows = Seq[(Long, Seq[Double], Double)](
      (1L, Seq(1.0, 0.0), 0.95),
      (2L, Seq(0.0, 0.0), 0.95), // zero norm: cosine undefined
      (3L, Seq(0.0, 1.0), 0.40),
      (4L, Seq(0.0, 0.9), 0.90))
    val out = rerank(rows, k = 4)
    // the zero-norm row never appears; the rest rank by true MMR
    assert(!out.contains(2L))
    assert(out.head === 1L)
    assert(out(1) === 4L) // orthogonal to 1, high rel
  }

  test("string ids tie-break by their natural ordering (type-" +
      "agnostic argmin, no numeric-negation cast)") {
    val schema = StructType(Seq(
      StructField("id", StringType),
      StructField("v", ArrayType(DoubleType)),
      StructField("rel", DoubleType)))
    val frame = df(schema, Seq(
      Row("doc-b", Seq(1.0, 0.0), 0.8),
      Row("doc-a", Seq(1.0, 0.0), 0.8)))
    val out = mmr(frame, k = 1)
      .collect().map(_.getString(1))
    assert(out === Array("doc-a"))
  }
}
