package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark run in one JVM:
  *
  *   --workload W --inputs DIR --out DIR --seconds S --trace 0|1 --cores N
  *
  * Starts the session and loads the generated inputs (set-up), then
  * runs measured closed-loop rounds until S seconds have passed, at
  * least one. A round is the workload's pipeline, its follow-up step,
  * one untimed request and `w.requests` timed single requests, each sent
  * after the previous one finished. The checks read the last round's
  * outputs and answers. Writes `result.json` (and, traced, `spans.json`)
  * to the output directory.
  *
  * Untraced runs give the end-to-end metrics. Traced runs trace every
  * round, so their per-layer numbers describe the same rounds the
  * end-to-end metrics time; afterwards they call the probes, then send
  * `OverheadPairs` pairs of single requests, one untraced and one traced,
  * and report the ratio of the two kinds' median latencies as the
  * tracing overhead.
  */
object Main {
  /** Span name -> per-layer time metric. */
  val SpanTimes = Seq(
    "extract.parse" -> "extract.parse_s",
    "transform.build" -> "transform.build_s",
    "transform.ri_check" -> "transform.ri_check_s",
    "transform.upsert" -> "transform.upsert_s",
    "quality.validate" -> "quality.validate_s",
    "operators.analytics" -> "operators.analytics_s",
    "dedup.exact" -> "dedup.exact_s",
    "dedup.lsh" -> "dedup.lsh_s",
    "dedup.cc" -> "dedup.cc_s",
    "dedup.incremental" -> "dedup.incremental_s",
    "text.quality_lang" -> "text.quality_lang_s",
    "sampling.split" -> "sampling.split_s",
    "sampling.pack" -> "sampling.pack_s",
    "text.bm25_index" -> "text.bm25_index_s",
    "text.bm25_search" -> "text.bm25_search_s",
    "similarity.pq_train" -> "similarity.pq_train_s",
    "similarity.index_build" -> "similarity.index_build_s",
    "similarity.ivfpq_search" -> "similarity.ivfpq_search_s",
    "similarity.exact_search" -> "similarity.exact_search_s",
    "similarity.rerank" -> "similarity.rerank_s")

  /** Spans that report listener counts: the three phases of every
    * workload, and the layer calls an optimization most likely moves.
    */
  val Phases = Seq("pipeline", "followup", "request")
  val CountedSpans = Seq("transform.build", "quality.validate",
    "operators.analytics", "streaming.drain", "dedup.prepare",
    "dedup.incremental", "similarity.index_build", "similarity.ivfpq_search")

  val OverheadPairs = 3

  /** Per-layer values the phases and probes report themselves. */
  val Reported = Seq("extract.rows", "transform.bytes_written",
    "streaming.events_per_s", "streaming.batch_p50_ms",
    "streaming.input_rows", "streaming.state_rows",
    "dedup.lsh_candidates", "dedup.lsh_verified", "dedup.verify_yield",
    "similarity.index_bytes", "similarity.recall_at_10",
    "similarity.search_tail_ms")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val in = a("inputs")
    val out = a("out")
    val trace = a("trace") == "1"
    val cores = a("cores").toInt

    val spark = graft.core.Sessions.configure(
        SparkSession.builder().master(s"local[$cores]").appName("perfbench")
          .config("spark.sql.warehouse.dir", s"$out/warehouse")
          .config("spark.local.dir", s"$out/spark-local"),
        shufflePartitions = cores)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$out/checkpoints")
    val readyMs = System.currentTimeMillis()
    val readyCpu = Clock.cpu()
    log("session ready")

    val tracer = new Tracer(spark.sparkContext, a("workload"))
    val w: Workload = a("workload") match {
      case "etl_star" => new EtlStar(spark, in, out, tracer)
      case "corpus_dedup" => new CorpusDedup(spark, in, out, tracer)
      case "retrieval" => new Retrieval(spark, in, out, tracer)
    }
    // set-up cost: CPU seconds of the one load a run makes, cold as a
    // run pays it
    val loadCpu = {
      val c0 = Clock.cpu()
      w.load()
      Clock.cpu() - c0
    }
    log(f"loaded, $loadCpu%.2f CPU s")

    val ops = new Ops
    var answers = Seq.empty[Seq[Map[String, Any]]]
    /** One round: (phase values, phase seconds, request milliseconds). */
    def round(r: Int): (Map[String, Double], Seq[Double], Seq[Double]) = {
      val values = mutable.Map.empty[String, Double]
      val secs = mutable.ArrayBuffer.empty[Double]
      var c0 = Clock.cpu()
      val piped = ops("pipeline") {
        val (m, s) = Clock.timed(tracer.span("pipeline")(
          w.pipeline(r)))
        values ++= m; secs += s
        values("pipeline_cpu_s") = Clock.cpu() - c0
      }
      c0 = Clock.cpu()
      if (piped.isEmpty) ops.skip()
      else ops("followup") {
        val (m, s) = Clock.timed(tracer.span("followup")(
          w.followup(r)))
        values ++= m; secs += s
        values("followup_cpu_s") = Clock.cpu() - c0
      }
      // one untimed request first: it plans and compiles the request
      // query over the tables this round wrote
      if (piped.isEmpty) ops.skip() else ops("request")(w.request(0))
      val got = mutable.ArrayBuffer.empty[Seq[Map[String, Any]]]
      c0 = Clock.cpu()
      val latencies = (0 until w.requests).flatMap { i =>
        if (piped.isEmpty) { ops.skip(); None }
        else ops("request") {
          val (rows, s) = Clock.timed(tracer.span("request")(w.request(i)))
          got += rows
          s * 1e3
        }
      }
      // the process CPU clock ticks in 10 ms steps: the mean over the
      // round's requests resolves finer than any single request
      if (latencies.nonEmpty)
        values("request_cpu_ms") = (Clock.cpu() - c0) * 1e3 / latencies.size
      answers = got.toSeq
      log(f"round $r phases ${secs.mkString(" ")} " +
        f"requests ${latencies.sum / 1e3}%.2f")
      (values.toMap, secs.toSeq, latencies)
    }

    val rounds = mutable.ArrayBuffer.empty[Map[String, Double]]
    val roundSecs = mutable.ArrayBuffer.empty[Double]
    val latencies = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Map[String, Double]]
    // the first round is timed as it comes: a pipeline submitted as its
    // own application pays for class loading and code generation on
    // every run
    val deadline = System.nanoTime() + (a("seconds").toDouble * 1e9).toLong
    tracer.setEnabled(trace)
    var r = 1
    while (r == 1 || System.nanoTime() < deadline) {
      tracer.round = r
      val ((values, secs, lat), total) = Clock.timed(round(r))
      rounds += values ++ Seq("pipeline_s", "followup_s").zip(secs)
      roundSecs += total
      latencies ++= lat
      // probes run after the round's timing, under the round's number
      if (trace) traced += layerMetrics(tracer, r, values ++ w.probe())
      r += 1
    }
    // the checks read the last measured round's outputs and answers
    tracer.setEnabled(false)
    if (rounds.last.contains("pipeline_cpu_s")) w.writeChecks()
    Out.write(s"$out/requests.json", answers)
    log("check outputs written")
    val overhead = if (!trace) Double.NaN else {
      tracer.round = r
      val pairs = (1 to OverheadPairs).map { _ =>
        def one(on: Boolean) = {
          tracer.setEnabled(on)
          Clock.timed(ops("request")(w.request(0)))._2
        }
        (one(false), one(true))
      }
      tracer.setEnabled(false)
      Stats.median(pairs.map(_._2)) / Stats.median(pairs.map(_._1))
    }

    def median(n: String) = Stats.median(rounds.flatMap(_.get(n)))
    val wall = Map(
      "pipeline.wall_s" -> median("pipeline_s"),
      "followup.wall_s" -> median("followup_s"),
      "request.p50_ms" -> Stats.median(latencies))
    val e2e = Map(
      "pipeline_cpu_s" -> median("pipeline_cpu_s"),
      "followup_cpu_s" -> median("followup_cpu_s"),
      "request_cpu_ms" -> median("request_cpu_ms"),
      "bytes_per_row" -> median("bytes_per_row")) ++ wall
    val layer =
      if (!trace) Map.empty[String, Double]
      else {
        val names = traced.flatMap(_.keys).distinct
        names.map(n => n -> Stats.median(traced.flatMap(_.get(n)))).toMap ++
          wall + ("trace.overhead_ratio" -> overhead)
      }
    if (trace) {
      val f = new java.io.File(s"$out/spans.json")
      java.nio.file.Files.write(f.toPath, tracer.toJson.getBytes("UTF-8"))
    }
    Out.write(s"$out/result.json", Map(
      "ready_ms" -> readyMs,
      "ready_cpu_s" -> readyCpu,
      "load_cpu_s" -> loadCpu,
      "rounds" -> rounds.size,
      "round_s" -> roundSecs,
      "attempted" -> ops.attempted,
      "failed" -> ops.failed,
      "errors" -> ops.errors,
      "end_to_end" -> e2e,
      "per_layer" -> layer,
      "params" -> (Params.asMap + ("requests" -> w.requests))))
    spark.stop()
    log("session stopped")
  }

  /** A progress line for the run's log, stamped with the JVM's uptime. */
  private def log(msg: String): Unit = println(f"[perfbench] ${
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime /
      1e3}%.1f s: $msg")

  /** Per-layer metrics of one traced round: span durations summed per
    * name, listener counts of the counted spans, and the values the
    * phases and probes reported. Layers the workload does not call read
    * 0.
    */
  private def layerMetrics(t: Tracer, round: Int,
      reported: Map[String, Double]): Map[String, Double] = {
    val byName = t.spans.filter(_.round == round).groupBy(_.name)
    def counts(n: String) = {
      val c = new Counters
      byName.getOrElse(n, Nil).foreach(s => c.add(t.inclusive(s)))
      c
    }
    val times = SpanTimes.map { case (n, metric) =>
      metric -> byName.getOrElse(n, Nil).map(_.seconds).sum }
    val phases = Phases.flatMap { n =>
      val c = counts(n)
      Seq(s"$n.jobs" -> c.jobs.toDouble,
        s"$n.shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble) ++
        common(n, c)
    }
    val spans = CountedSpans.flatMap(n => common(n, counts(n)))
    (times ++ phases ++ spans ++ Seq(
      "quality.jobs" -> counts("quality.validate").jobs.toDouble,
      "operators.shuffle_write_bytes" ->
        counts("operators.analytics").shuffleWriteBytes.toDouble,
      "dedup.shuffle_write_bytes" ->
        (counts("dedup.prepare").shuffleWriteBytes +
          counts("dedup.incremental").shuffleWriteBytes).toDouble) ++
      Reported.map(n => n -> reported.getOrElse(n, 0.0))).toMap
  }

  private def common(n: String, c: Counters): Seq[(String, Double)] = Seq(
    s"$n.tasks" -> c.tasks.toDouble,
    s"$n.task_busy_s" -> c.busyMs / 1e3,
    s"$n.sched_wait_s" -> c.schedWaitMs / 1e3,
    s"$n.spill_bytes" -> c.spillBytes.toDouble,
    s"$n.failed_tasks" -> c.failedTasks.toDouble)
}

/** Counts attempted and failed operations; a failed operation records
  * its error and yields None.
  */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  def apply[A](name: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        if (errors.size < 20) errors += s"$name: $e"
        None
    }
  }

  /** Counts an operation that cannot run because one it needs failed. */
  def skip(): Unit = {
    attempted += 1
    failed += 1
  }
}
