package graftbench

import org.apache.spark.sql.SparkSession

/** What one workload measured: end-to-end metrics, per-layer metrics
  * and extra fields for the run record.
  */
final case class Outcome(e2e: Map[String, Double], layer: Map[String, Double],
    record: Seq[(String, String)])

/** State shared by a run: the session, its ledger, the tracer and the
  * failure record.
  */
final class Bench(val args: Args) {
  val tracer = new Tracer(args.trace)
  val failures = new Failures
  var spark: SparkSession = _
  var ledger: StageLedger = _
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def newSession(master: Option[String] = None): SparkSession = {
    if (spark != null) Sessions.stop(spark)
    spark = Sessions.start(master)
    ledger = new StageLedger(tracer)
    spark.sparkContext.addSparkListener(ledger)
    spark
  }

  /** Set-up, repeated: a fresh session with the graft functions
    * registered plus the workload's input preparation. The first
    * repetition is timed from JVM start. Returns each repetition's ms;
    * `setup_s` takes their plain median (`Stats.quantile(_, 0.5)`), so
    * the repetition that includes JVM start, always the slowest, never
    * counts.
    */
  def setup(prepare: SparkSession => Unit): Seq[Double] = {
    val reps = (1 to Bench.SetupReps).map { rep =>
      val t0 = if (rep == 1) jvmStartMs.toDouble else System.currentTimeMillis().toDouble
      prepare(newSession())
      System.currentTimeMillis() - t0
    }
    log("set up")
    reps
  }

  def drain(): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[graftbench ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%7.2fs] $msg")

  /** Runs `body` inside a span; Spark jobs it starts on this thread are
    * tagged with the span through their job group, so the stage ledger
    * can parent stage spans to it.
    */
  def traced[T](name: String, layer: String)(body: => T): T =
    if (!tracer.enabled) body
    else tracer.span(name, layer) {
      val (trace, id) = tracer.current.get
      ledger.groupSpan.put(id, (trace, id))
      spark.sparkContext.setJobGroup(id, name)
      try body finally spark.sparkContext.clearJobGroup()
    }

  /** The stage ledger's totals since its last reset, by metric name. */
  def ledgerSnapshot(): Map[String, Double] = {
    drain()
    val l = ledger
    val mb = 1048576.0
    Map("spark.task_ms" -> l.taskMs.toDouble, "spark.gc_ms" -> l.gcMs.toDouble,
      "spark.shuffle_read_mb" -> l.shuffleRead / mb, "spark.shuffle_write_mb" -> l.shuffleWrite / mb,
      "spark.spill_mb" -> l.spill / mb, "spark.stages" -> l.stages.toDouble,
      "spark.tasks" -> l.tasks.toDouble, "spark.jobs" -> l.jobs.toDouble,
      "sources.read_mb" -> l.inputBytes / mb, "sources.read_rows" -> l.inputRows.toDouble,
      "sinks.write_mb" -> l.outputBytes / mb)
  }
}

object Bench {
  val SetupReps = 3

  /** End-to-end metrics: name → unit. Every workload reports each. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "p50_ms" -> "ms", "tail_ms" -> "ms", "rows_per_s" -> "1/s")

  /** Per-layer metrics of the traced run: name → unit. A workload that
    * bypasses a layer reports 0 for its metrics.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.task_ms" -> "ms", "spark.gc_ms" -> "ms", "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.idle_ms" -> "ms",
    "sources.read_mb" -> "MB", "sources.read_rows" -> "count", "sources.scan_ms" -> "ms",
    "queries.relational_s" -> "s", "queries.kernel_s" -> "s", "queries.graph_s" -> "s",
    "queries.span_s" -> "s", "queries.lm_s" -> "s", "queries.warm_pass_s" -> "s",
    "memo.builds" -> "count", "memo.hits" -> "count", "memo.build_ms" -> "ms", "memo.held_mb" -> "MB",
    "plans.tokens_ns_row" -> "ns", "plans.tokens_ops" -> "count",
    "plans.minhash_ns_row" -> "ns", "plans.minhash_ops" -> "count",
    "plans.simhash_ns_row" -> "ns", "plans.simhash_ops" -> "count",
    "plans.qdot_ns_row" -> "ns", "plans.qdot_ops" -> "count",
    "plans.topk_ns_row" -> "ns", "plans.topk_ops" -> "count",
    "plans.kll_ns_row" -> "ns", "plans.kll_ops" -> "count",
    "stream.batches" -> "count", "stream.fixed_ms" -> "ms", "stream.row_us" -> "us",
    "stream.exec_ms_p50" -> "ms", "stream.plan_ms_p50" -> "ms", "stream.wal_ms_p50" -> "ms",
    "stream.tasks_per_batch" -> "count", "stream.jobs_per_batch" -> "count",
    "stream.backlog_max_rows" -> "count", "stream.gen_late_ms" -> "ms",
    "stream.local1_event_p50_ms" -> "ms", "stream.age_slope_ms" -> "ms",
    "state.instances" -> "count", "state.rows_peak" -> "count", "state.mb_peak" -> "MB",
    "state.commit_ms_p50" -> "ms", "state.update_ms_p50" -> "ms",
    "history.files" -> "count", "history.mb" -> "MB", "history.read_mb_per_batch" -> "MB",
    "sinks.write_mb" -> "MB",
    "jvm.peak_heap_mb" -> "MB", "check.fail_ratio" -> "ratio", "trace.overhead_pct" -> "%")

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    HeapWatch.install()
    val b = new Bench(a)
    val run: Bench => Outcome = a.workload match {
      case "batch_mix" => BatchMix.run
      case "stream_keyed" => StreamKeyed.run
      case "stream_dedup" => StreamDedup.run
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val out = try run(b) finally if (b.spark != null) Sessions.stop(b.spark)
    b.log("session stopped")
    val failed = b.failures.failed
    val attempted = math.max(1L, b.failures.attempted)
    val layer = out.layer + ("check.fail_ratio" -> failed.toDouble / attempted)
    val shown = if (a.trace) PerLayer.map { case (k, u) => (k, layer.getOrElse(k, 0.0), u) }
      else EndToEnd.map { case (k, u) => (k, out.e2e(k), u) }
    val metrics = Json.obj(shown.map { case (k, v, u) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })

    new java.io.File(a.outDir).mkdirs()
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    val record = Json.obj(Seq("workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString, "attempted" -> attempted.toString, "failed" -> failed.toString,
      "errors" -> b.failures.json,
      "end_to_end" -> Json.obj(out.e2e.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(layer.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })) ++
      out.record)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.outDir, s"record-$tag.json"), record + "\n")
    if (a.trace) b.tracer.write(java.nio.file.Paths.get(a.outDir, s"trace-$tag.jsonl"))
    b.failures.entries.foreach { case (op, cls, msg) => System.err.println(s"[graftbench] FAILED $op: $cls: $msg") }
    println(Json.obj(Seq("correct" -> (failed == 0).toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> metrics)))
  }
}
