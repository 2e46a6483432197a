package perfbench

import graft.core.CacheScope
import graft.dedup.{ConnectedComponents, CorpusPipeline, Dedup}
import graft.extract.UsgsSource
import graft.functions.Fx
import graft.operators.Analytics
import graft.quality._
import graft.sampling.{Packing, Sampling}
import graft.similarity.Similarity
import graft.streaming.EventStreams
import graft.text.{TextAnalysis, TfIdf}
import graft.transform.{SchemaDefinition, StarSchemaBuilder}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Parameters shared with the output checks (emitted in the result). */
object Params {
  val ShingleN = 3
  val NumHashes = 16
  val Bands = 4
  val Threshold = 0.8
  val MinQuality = 0.3
  val Splits = Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05)
  val SplitSalt = "perfbench"
  val ShardBudget = 20000L
  val TopK = 10
  val NList = 32
  val NProbe = 8
  val PqBlocks = 8
  val PqCodes = 16
  val MmrK = 3

  def asMap: Map[String, Any] = Map(
    "shingle_n" -> ShingleN, "num_hashes" -> NumHashes, "bands" -> Bands,
    "threshold" -> Threshold, "min_quality" -> MinQuality,
    "splits" -> Splits.map { case (n, w) => Seq(n, w) },
    "split_salt" -> SplitSalt, "shard_budget" -> ShardBudget,
    "top_k" -> TopK, "mmr_k" -> MmrK)
}

/** Wall-clock helpers: every measurement is taken here, around calls
  * into the engine's public functions.
  */
object Clock {
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds the JVM process has used so far, less those of its JIT
    * compiler threads. Unlike wall time it excludes time the host takes
    * away from this machine; without the JIT share it does not depend
    * on how far the compiler's background queue got in a fresh JVM.
    * The compiler threads must live as long as the JVM (run.py turns
    * off their dynamic creation), or their time would drop out of the
    * subtraction.
    */
  def cpu(): Double = os.getProcessCpuTime / 1e9 - compilerCpu()

  /** CPU seconds of the JIT compiler threads, from /proc/self/task
    * (utime + stime, in clock ticks of 10 ms).
    */
  private def compilerCpu(): Double = {
    val ticks = new java.io.File("/proc/self/task").listFiles().iterator
      .map { t =>
        try {
          val stat = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(t.getPath, "stat")))
          val close = stat.lastIndexOf(')')
          if (!stat.substring(stat.indexOf('(') + 1, close)
              .contains("CompilerThre")) 0L
          else {
            // fields after the name start at field 3 (state); utime and
            // stime are fields 14 and 15
            val f = stat.substring(close + 2).split(" ")
            f(11).toLong + f(12).toLong
          }
        } catch { case _: java.io.IOException => 0L }
      }.sum
    ticks / 100.0
  }

  def dirBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .mapToLong(p => java.nio.file.Files.size(p)).sum()
      finally s.close()
    }
  }
}

/** One workload: a batch pipeline, a follow-up step against the state
  * the pipeline left, and single requests sent one at a time (closed
  * loop, one client). `load` reads the generated inputs into memory
  * (set-up). Each phase returns the values it measured; `probe` (traced
  * runs only) calls the layers that composed operators hide, one at a
  * time, for per-layer numbers.
  */
trait Workload {
  def load(): Unit
  def pipeline(r: Int): Map[String, Double]
  def followup(r: Int): Map[String, Double]
  /** Single requests per measured round. */
  def requests: Int
  /** Writes what the checks read beyond the phases' own outputs; runs
    * after a round, outside its timing.
    */
  def writeChecks(): Unit = ()
  /** Answers request `i` (0 until `requests`); the rows go to the
    * checks.
    */
  def request(i: Int): Seq[Map[String, Any]]
  def probe(): Map[String, Double] = Map.empty
}

final class EtlStar(s: SparkSession, in: String, out: String, t: Tracer)
  extends Workload {
  private val names = Seq("nation", "region", "customer", "part", "orders",
    "lineitem", "customer_updates")
  private var tables = Map.empty[String, DataFrame]
  private var customerKeys = Seq.empty[String]
  private lazy val pageUrls = new java.io.File(s"$in/pages").listFiles()
    .filter(_.getName.endsWith(".json")).sortBy(_.getName)
    .map(_.toURI.toString).mkString("\n")
  private lazy val eventSchema = s.read.parquet(s"$in/events").schema
  private val dir = s"$out/etl"
  private val star = s"$dir/star"
  // cheap requests: enough of them that their CPU time is not noise
  val requests = 8
  private var results = Map.empty[String, Any]
  private var streamView = Option.empty[String]

  def load(): Unit = {
    tables = names.map(n =>
      n -> s.read.parquet(s"$in/star/$n.parquet").cache()).toMap
    tables.values.foreach(_.count())
    customerKeys = tables("customer").orderBy("c_custkey")
      .limit(requests)
      .select(Fx.surrogateKey(col("c_custkey"))).collect()
      .map(_.getString(0)).toSeq
  }

  private def tbl(n: String) = tables(n)
  private def read(n: String) = s.read.parquet(s"$star/$n")

  private def customerDim(c: DataFrame): DataFrame =
    c.join(tbl("nation"), col("c_nationkey") === col("n_nationkey"))
      .join(tbl("region"), col("n_regionkey") === col("r_regionkey"))
      .select(Fx.surrogateKey(col("c_custkey")).as("customer_key"),
        col("c_custkey"), col("c_name"), col("c_mktsegment"),
        col("c_acctbal"), col("n_name"), col("r_name"), col("updated_at"))

  /** Extract, star build, integrity check, SCD-1 merge, validation and
    * analytics over the written Parquet.
    */
  def pipeline(r: Int): Map[String, Double] = {
    val quakeRows = t.span("extract.parse") {
      val raw = s.read.format("graft.sources.PagedJsonDataSource")
        .option("urls", pageUrls).load()
      raw.select(from_json(col("body"), UsgsSource.pageSchema).as("g"))
        .select(explode(col("g.features")).as("f"))
        .select(
          col("f.id").as("id"),
          col("f.properties.mag").as("magnitude"),
          col("f.properties.place").as("place"),
          timestamp_millis(col("f.properties.time")).as("time"),
          element_at(col("f.geometry.coordinates"), 2).as("latitude"),
          element_at(col("f.geometry.coordinates"), 1).as("longitude"),
          element_at(col("f.geometry.coordinates"), 3).as("depth"),
          col("f.properties.type").as("type"),
          col("f.properties.status").as("status"))
        .write.mode("overwrite").parquet(s"$dir/quakes")
      s.read.parquet(s"$dir/quakes").count()
    }

    val orders = tbl("orders")
    val fact = tbl("lineitem")
      .join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        Fx.surrogateKey(col("o_custkey")).as("customer_key"),
        Fx.surrogateKey(col("l_partkey")).as("part_key"),
        Fx.dateKey(col("o_orderdate")).as("date_key"),
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
    val builder = new StarSchemaBuilder(star)
      .addDimension(SchemaDefinition("dim_customer", "dimension",
        naturalKeys = Seq("c_custkey")))
      .addDimension(SchemaDefinition("dim_part", "dimension",
        naturalKeys = Seq("p_partkey")))
      .addDimension(SchemaDefinition("dim_date", "dimension",
        naturalKeys = Seq("date")))
      .addFact(SchemaDefinition("fact_lineitem", "fact",
        dimensionKeys = Seq("customer_key", "part_key", "date_key")))
    val built = t.span("transform.build") {
      builder.build(Map(
        "dim_customer" -> customerDim(tbl("customer")),
        "dim_part" -> tbl("part")
          .withColumn("part_key", Fx.surrogateKey(col("p_partkey"))),
        "dim_date" -> Fx.dateDimension(orders, "o_orderdate"),
        "fact_lineitem" -> fact))
    }
    require(built.success, built.errors.mkString("; "))
    val bytes = Clock.dirBytes(star)

    val factP = read("fact_lineitem")
    val orphans = t.span("transform.ri_check") {
      Seq("dim_customer" -> "customer_key", "dim_part" -> "part_key",
        "dim_date" -> "date_key").map { case (d, k) =>
        k -> builder.validateReferentialIntegrity(factP, read(d), k, k)
      }
    }
    val upserted = t.span("transform.upsert") {
      StarSchemaBuilder.upsertDimension(s, s"$star/dim_customer",
        customerDim(tbl("customer_updates")), Seq("c_custkey"),
        "updated_at")
    }

    val report = t.span("quality.validate") {
      new DataValidator("fact_lineitem").addRules(Seq(
          CompletenessRule(Seq("l_tax", "customer_key")),
          UniquenessRule(Seq("l_orderkey", "l_linenumber")),
          RangeRule("l_discount", Some(0.0), Some(0.1)),
          RangeRule("l_quantity", Some(1.0), Some(50.0)),
          PatternRule("customer_key", "[0-9a-f]{12}")))
        .validate(factP)
    }

    val (top, facets, stats, byNation) = t.span("operators.analytics") {
      val dimC = read("dim_customer")
      val top = Analytics.topK(factP, col("revenue"), 10,
        col("l_orderkey"), col("l_linenumber")).collect()
      Analytics.latestPerGroup(factP, Seq("customer_key"),
          Seq(col("date_key").desc, col("l_orderkey").desc,
            col("l_linenumber").desc))
        .write.mode("overwrite").parquet(s"$dir/latest")
      val facets = Analytics.facetCounts(dimC, col("c_mktsegment"), 10)
        .collect()
      val stats = Analytics.summaryStats(factP, col("revenue")).collect()
      val byNation = factP
        .join(dimC.select("customer_key", "n_name"), "customer_key")
        .groupBy("n_name").agg(sum("revenue").as("revenue"))
        .collect()
      (top, facets, stats, byNation)
    }

    results = Map(
        "quake_rows" -> quakeRows,
        "rows_by_table" -> built.rowsByTable,
        "orphans" -> orphans.toMap,
        "upserted_rows" -> upserted,
        "validation" -> report.toDict,
        "top_k" -> Out.rows(top), "facets" -> Out.rows(facets),
        "summary" -> Out.rows(stats),
        "revenue_by_nation" -> Out.rows(byNation))
    Map("bytes_per_row" -> bytes.toDouble / built.rowsByTable("fact_lineitem"),
      "extract.rows" -> quakeRows.toDouble,
      "transform.bytes_written" -> bytes.toDouble)
  }

  /** Drains the replayed event backlog through the streaming hourly
    * aggregation, one file per micro-batch.
    */
  def followup(r: Int): Map[String, Double] = {
    streamView.foreach(s.catalog.dropTempView)
    val name = s"hourly_r$r"
    streamView = Some(name)
    val ckpt = s"$dir/stream_ckpt_r$r"
    val (query, secs) = t.span("streaming.drain") {
      Clock.timed {
        val q = EventStreams.hourlyCounts(
            s.readStream.schema(eventSchema)
              .option("maxFilesPerTrigger", 1).parquet(s"$in/events"))
          .writeStream.format("memory").queryName(name)
          .outputMode("complete").option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        q
      }
    }
    val progress = query.recentProgress.filter(_.numInputRows > 0)
    val input = progress.map(_.numInputRows).sum
    Out.rmrf(ckpt)
    Map("streaming.events_per_s" -> input / secs,
      "streaming.input_rows" -> input.toDouble,
      "streaming.batch_p50_ms" ->
        Stats.median(progress.map(_.batchDuration.toDouble)),
      "streaming.state_rows" -> progress.lastOption
        .flatMap(_.stateOperators.headOption)
        .map(_.numRowsTotal.toDouble).getOrElse(0.0))
  }

  override def writeChecks(): Unit = {
    Out.write(s"$dir/results.json", results)
    streamView.foreach(v =>
      s.table(v).select(col("window.start").as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .write.mode("overwrite").parquet(s"$dir/stream_hourly"))
  }

  /** One customer's ten highest-revenue lines from the written fact. */
  def request(i: Int): Seq[Map[String, Any]] =
    Out.rows(Analytics.topK(
        read("fact_lineitem").where(col("customer_key") === customerKeys(i)),
        col("revenue"), 10, col("l_orderkey"), col("l_linenumber"))
      .select("customer_key", "l_orderkey", "l_linenumber", "revenue")
      .collect())
}

final class CorpusDedup(s: SparkSession, in: String, out: String, t: Tracer)
  extends Workload {
  import Params._
  private var docs: DataFrame = _
  private var batches = Seq.empty[DataFrame]
  private var lookups = Seq.empty[DataFrame]
  private val nBatches = new java.io.File(s"$in/corpus").listFiles()
    .count(_.getName.startsWith("batch_"))
  private val dir = s"$out/corpus"
  /** As many as the inputs hold lookup documents. */
  val requests = 3
  private val hist = s"$dir/history"
  private val index = s"$dir/lsh_index"

  def load(): Unit = {
    docs = s.read.parquet(s"$in/corpus/docs.parquet").cache()
    batches = (0 until nBatches).map(i =>
      s.read.parquet(s"$in/corpus/batch_$i.parquet")
        .select("doc_id", "text").cache())
    (docs +: batches).foreach(_.count())
    val req = s.read.parquet(s"$in/corpus/requests.parquet")
      .select("doc_id", "text").orderBy("doc_id").collect()
    lookups = req.toSeq.map(row => s.createDataFrame(
      java.util.Arrays.asList(row), docs.select("doc_id", "text").schema))
  }

  /** Raw corpus to deduplicated, split and packed shards. */
  def pipeline(r: Int): Map[String, Double] = {
    t.span("dedup.prepare") {
      CacheScope.withScope {
        CorpusPipeline.prepareTrainingCorpus(docs, "doc_id", "text",
            minQuality = MinQuality, n = ShingleN, numHashes = NumHashes,
            bands = Bands, threshold = Threshold)
          .select("doc_id", "text", "quality", "predicted")
          .write.mode("overwrite").parquet(s"$dir/prepared")
      }
    }
    t.span("sampling.split") {
      Sampling.hashSplit(s.read.parquet(s"$dir/prepared")
            .withColumn("tokens", TextAnalysis.tokenCount(col("text"))),
          "doc_id", Splits, SplitSalt)
        .select("doc_id", "tokens", "split")
        .write.mode("overwrite").parquet(s"$dir/split")
    }
    t.span("sampling.pack") {
      CacheScope.withScope {
        Packing.packIntoShards(
            s.read.parquet(s"$dir/split").where(col("split") === "train"),
            "doc_id", "tokens", ShardBudget)
          .write.mode("overwrite").parquet(s"$dir/shards")
      }
    }
    val bytes = Seq("prepared", "split", "shards")
      .map(d => Clock.dirBytes(s"$dir/$d")).sum
    Map("bytes_per_row" -> bytes.toDouble / docs.count())
  }

  /** New batches deduplicated against the standing corpus: exact
    * duplicates through the fingerprint Bloom filter, near duplicates
    * through the LSH band index; survivors join the corpus and index.
    */
  def followup(r: Int): Map[String, Double] = {
    t.span("dedup.incremental") {
      s.read.parquet(s"$dir/prepared").select("doc_id", "text")
        .write.mode("overwrite").parquet(hist)
      Dedup.buildLshIndex(s.read.parquet(hist), "doc_id", "text",
          ShingleN, NumHashes, Bands)
        .write.mode("overwrite").parquet(index)
      val expected = s.read.parquet(hist).count() +
        batches.map(_.count()).sum
      val bloom = Dedup.buildFingerprintBloom(s.read.parquet(hist), "text",
        expected, 0.01)
      batches.foreach { b =>
        CacheScope.withScope {
          val h = s.read.parquet(hist)
          val fresh = Dedup.dedupAgainstBloom(h, b, "text", "doc_id", bloom)
          val landed = Dedup.dedupNearAgainst(h, s.read.parquet(index),
              fresh, "doc_id", "text", "doc_id", ShingleN, NumHashes,
              Bands, Threshold)
            .select("doc_id", "text").localCheckpoint(eager = true)
          // index first, then the corpus: a crash in between leaves only
          // harmless phantom index rows
          Dedup.buildLshIndex(landed, "doc_id", "text", ShingleN,
              NumHashes, Bands)
            .write.mode("append").parquet(index)
          landed.write.mode("append").parquet(hist)
          graft.expressions.BloomOps.merge(bloom,
            Dedup.buildFingerprintBloom(landed, "text", expected, 0.01))
        }
      }
    }
    Map.empty
  }

  /** One document's verified near duplicates in the standing corpus. */
  def request(i: Int): Seq[Map[String, Any]] = CacheScope.withScope {
    Out.rows(Dedup.nearDupMatches(s.read.parquet(hist),
        s.read.parquet(index), lookups(i), "doc_id", "text", ShingleN,
        NumHashes, Bands, Threshold).collect())
  }

  /** The stages `prepareTrainingCorpus` composes, each called on its
    * own so its time and counts are visible.
    */
  override def probe(): Map[String, Double] = CacheScope.withScope {
    t.span("dedup.exact") {
      Dedup.exactDedupSemi(docs, "doc_id", "text").count()
    }
    val frames = Dedup.lshDetectorFrames(docs, "doc_id", "text",
      ShingleN, NumHashes, Bands, Threshold)
    val (cands, verified) = t.span("dedup.lsh") {
      (frames.candidates.count(), frames.verified.count())
    }
    t.span("dedup.cc") {
      ConnectedComponents.componentsAuto(frames.verified, "id_a",
        "id_b")._1.count()
    }
    t.span("text.quality_lang") {
      TextAnalysis.langIdStaged(
        docs.withColumn("quality", TextAnalysis.qualityScore(col("text")))
          .where(col("quality") >= MinQuality), "text").count()
    }
    Map("dedup.lsh_candidates" -> cands.toDouble,
      "dedup.lsh_verified" -> verified.toDouble,
      "dedup.verify_yield" ->
        (if (cands == 0) 0.0 else verified.toDouble / cands))
  }
}

final class Retrieval(s: SparkSession, in: String, out: String, t: Tracer)
  extends Workload {
  import Params._
  private var corpus: DataFrame = _
  private var queries: DataFrame = _
  private var singles = Seq.empty[DataFrame]
  private var books: DataFrame = _
  private var cents: DataFrame = _
  private val dir = s"$out/retrieval"
  val requests = 3
  private val TailQueries = 40
  private val indexTable = "perfbench_ivfpq"
  private var last: (DataFrame, DataFrame, Array[Row]) = _

  def load(): Unit = {
    corpus = s.read.parquet(s"$in/vectors/corpus.parquet")
      .select("vec_id", "embedding", "text").cache()
    queries = s.read.parquet(s"$in/vectors/queries.parquet")
      .select(col("qid").as("vec_id"), col("embedding"), col("text")).cache()
    corpus.count()
    val q = queries.select("vec_id", "embedding").orderBy("vec_id")
      .collect()
    singles = q.toSeq.map(row => s.createDataFrame(
      java.util.Arrays.asList(row), queries.select("vec_id", "embedding")
        .schema))
  }

  private def vecs = queries.select("vec_id", "embedding")

  /** Index build: PQ codebooks, coarse centroids, the bucketed IVF-PQ
    * table and the BM25 postings.
    */
  def pipeline(r: Int): Map[String, Double] = {
    t.span("similarity.pq_train") {
      Similarity.pqTrainCodebooks(corpus, "vec_id", "embedding",
          m = PqBlocks, k = PqCodes, iters = 1)
        .write.mode("overwrite").parquet(s"$dir/codebooks")
      Similarity.hashKCentroids(corpus, "vec_id", "embedding", NList)
        .write.mode("overwrite").parquet(s"$dir/centroids")
    }
    // the trained model is small: searches read it from driver memory
    books = local(s.read.parquet(s"$dir/codebooks"))
    cents = local(s.read.parquet(s"$dir/centroids"))
    t.span("similarity.index_build") {
      Similarity.pqBuildIvfIndex(corpus, "vec_id", "embedding", cents,
        books, indexTable, numBuckets = 8)
    }
    t.span("text.bm25_index") {
      TfIdf.bm25IndexShard(corpus, "vec_id", "text", lit(0L))
        .write.mode("overwrite").parquet(s"$dir/bm25")
    }
    val indexBytes = Clock.dirBytes(
      s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") + "/" +
        indexTable)
    val bytes = indexBytes + Clock.dirBytes(s"$dir/bm25")
    Map("bytes_per_row" -> bytes.toDouble / corpus.count(),
      "similarity.index_bytes" -> indexBytes.toDouble)
  }

  private def local(df: DataFrame): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  private def dense(q: DataFrame): DataFrame =
    Similarity.ivfPqTopK(q, s.table(indexTable), books, cents, "vec_id",
      "embedding", k = TopK, nprobe = NProbe)

  /** The whole query set: IVF-PQ and BM25 top-k, RRF fusion, MMR
    * rerank.
    */
  def followup(r: Int): Map[String, Double] = {
    val d = t.span("similarity.ivfpq_search") {
      dense(vecs).localCheckpoint(eager = true)
    }
    val sparse = t.span("text.bm25_search") {
      TfIdf.bm25SearchOverIndex(s.read.parquet(s"$dir/bm25"), "vec_id",
          queries.select(col("vec_id").as("qid"), col("text")), "qid",
          "text", k = TopK)
        .localCheckpoint(eager = true)
    }
    val reranked = t.span("similarity.rerank") {
      val fused = Similarity.rrfFuse(Seq(
          d.select("query_id", "neighbor_id", "rank"),
          sparse.select(col("qid").as("query_id"),
            col("vec_id").as("neighbor_id"), col("rank"))),
        "query_id", "neighbor_id", "rank", k = 60, topN = TopK)
      Similarity.mmrRerankByQuery(
          fused.join(corpus.select(col("vec_id").as("neighbor_id"),
              col("embedding")), "neighbor_id")
            .select(col("query_id"), col("neighbor_id"), col("embedding"),
              col("fused_score").as("rel")),
          "query_id", "neighbor_id", "embedding", "rel", k = MmrK)
        .collect()
    }
    last = (d, sparse, reranked)
    Map.empty
  }

  override def writeChecks(): Unit = {
    val (d, sparse, reranked) = last
    d.write.mode("overwrite").parquet(s"$dir/ivfpq")
    sparse.write.mode("overwrite").parquet(s"$dir/bm25_hits")
    exact().write.mode("overwrite").parquet(s"$dir/exact")
    Out.write(s"$dir/rerank.json", Map("rows" -> Out.rows(reranked)))
  }

  /** Exact top-k: the path that skips the index. */
  private def exact(): DataFrame =
    Similarity.bruteForceTopKAgg(vecs, corpus.select("vec_id", "embedding"),
      "vec_id", "embedding", k = TopK)

  /** One query's IVF-PQ top-k. */
  def request(i: Int): Seq[Map[String, Any]] =
    Out.rows(dense(singles(i)).collect())

  /** Exact search, recall@k of the batch IVF-PQ search against it, and
    * the latency tail of single queries: the 75th percentile of
    * `TailQueries` closed-loop queries, the highest percentile with ten
    * samples beyond it.
    */
  override def probe(): Map[String, Double] = {
    val e = t.span("similarity.exact_search") {
      exact().localCheckpoint(eager = true)
    }
    val hits = dense(vecs).select("query_id", "neighbor_id")
      .intersect(e.select("query_id", "neighbor_id")).count()
    val lat = (0 until TailQueries).map(i =>
      Clock.timed(request(i % singles.size))._2 * 1e3)
    Map("similarity.recall_at_10" -> hits.toDouble / (queries.count() * TopK),
      "similarity.search_tail_ms" -> Stats.quantile(lat, 0.75))
  }
}

object Stats {
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Iterable[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val v = xs.toIndexedSeq.sorted
      val pos = q * (v.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, v.size - 1)
      v(lo) + (v(hi) - v(lo)) * (pos - lo)
    }
}

object Out {
  def rows(rs: Array[Row]): Seq[Map[String, Any]] =
    rs.toSeq.map(r => r.schema.fieldNames.zip(r.toSeq).toMap)

  def write(path: String, v: Any): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath,
      graft.core.Json.render(v).getBytes("UTF-8"))
  }

  def rmrf(path: String): Unit = {
    val root = new java.io.File(path)
    if (root.exists()) {
      val s = java.nio.file.Files.walk(root.toPath)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
      finally s.close()
    }
  }
}
