package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{KeyedEvent, StreamingOps}

/** `stream_keyed`: open loop. One generator thread adds events to a
  * `MemoryStream` on a seeded schedule of quiet and burst phases at
  * fixed rates, whatever the engine's progress; the default trigger
  * picks up whatever has arrived. The events are the committed
  * `events` table (user id, event time, value) in event-time order;
  * the seed sets only their arrival times. The tape goes through the
  * stateful twins in turn, each on a fresh query, and each op's output
  * must equal a single-batch run of the same op over the same tape.
  */
object StreamKeyed {
  // well below the ops' capacity, so the backlog drains after each
  // burst and latency tracks the batch duration instead of queueing
  val QuietRate = 100.0   // events/s
  val BurstRate = 1000.0  // events/s
  // each phase lasts longer than a micro-batch (0.7 to 1.5 s at 4
  // slots), so quiet batches hold ~10x fewer rows than burst batches
  // and the fit of batch time against rows has leverage;
  // fixed lengths give every seed the same load shape
  val QuietMs = 3000.0
  val BurstMs = 2000.0
  // the measured query's batches keep getting faster over its first
  // ~15 s; a quiet-rate warm-up of that length runs before the window
  // opens, so the window sees the steady state
  val WarmMs = 15000.0

  /** One tape event: when it is due (ms after the segment starts;
    * negative for the priming events, which are added and processed
    * before the schedule starts so that query start-up is not timed).
    */
  final case class Ev(dueMs: Double, key: Long, tsUs: Long, value: Double)

  /** The events table as (user_id, ts µs, value), in event-time order. */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String): Array[KeyedEvent] = {
    import org.apache.spark.sql.functions._
    graft.BenchAccess.events(spark, dir)
      .select(col("user_id").cast("long"), unix_micros(col("ts")), col("value").cast("double"))
      .orderBy(col("ts"), col("user_id"), col("value"))
      .collect().map(r => KeyedEvent(r.getLong(0), r.getLong(1), r.getDouble(2)))
  }

  /** The seeded tape of one segment over `events`: each key's first
    * event primes the query, then the remaining events arrive in
    * event-time order, Poisson at the rate of the current phase
    * (quiet, burst, quiet, ...), for `window` ms after a quiet-rate
    * warm-up of `warmMs`, or until the events run out. Every key stays
    * in order.
    */
  def tape(events: Array[KeyedEvent], seed: Long, segment: Int, window: Double,
      warmMs: Double = WarmMs): Array[Ev] = {
    val ms = warmMs + window
    val rng = new scala.util.Random(seed * 1000003L + segment)
    val first = events.indices.groupBy(i => events(i).key).values.map(_.min).toSet
    val out = mutable.ArrayBuffer.empty[Ev]
    events.indices.filter(first).foreach(i => out += Ev(-1.0, events(i).key, events(i).tsUs, events(i).value))
    val rest = events.indices.filterNot(first).iterator
    var t = 0.0
    var burst = true
    var phaseEnd = warmMs
    while (t < ms && rest.hasNext) {
      if (t >= phaseEnd) {
        burst = !burst
        phaseEnd += (if (burst) BurstMs else QuietMs)
      }
      val rate = if (t < warmMs || !burst) QuietRate else BurstRate
      t += -math.log(1.0 - rng.nextDouble()) * 1000.0 / rate
      if (t < ms) {
        val e = events(rest.next())
        out += Ev(t, e.key, e.tsUs, e.value)
      }
    }
    out.toArray
  }

  /** The stateful twins, each with its input encoding and output. */
  final case class Op(name: String, build: Dataset[KeyedEvent] => DataFrame)

  /** The paper's stocks pipeline. Each op added here gets an equal
    * share of the window and costs a query start, the warm-up, a drain
    * and a reference run (about 20 s per run at 4 slots); `chunksTimeout`, the
    * event-time timer path, was left out for that reason.
    */
  val Ops: Seq[Op] = Seq(
    Op("candle_strat", ds => StreamingOps.candleStrat(ds, 200000L).toDF()))

  final case class Segment(op: String, rows: Seq[BatchRow], latencies: Seq[Double],
      lateMs: Seq[Double], backlogMax: Long, wallS: Double, events: Int, output: Seq[String])

  /** Runs one op open-loop over `evs`: the generator thread adds every
    * event when due (one `addData` per 10 ms tick), the query drains,
    * and each event's latency is its batch's completion minus its due
    * time. Only the window after `warmMs` is measured: its events, the
    * batches that end in it, the stage ledger from its start, and the
    * wall time from its start until the query has drained.
    */
  def segment(b: Bench, pl: ProgressLedger, op: Op, evs: Array[Ev], tag: String,
      warmMs: Double = WarmMs): Segment = {
    val spark = b.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // a fixed input partition count per batch, as a partitioned log
    // source would give, instead of one partition per generator tick
    val ms = MemoryStream[KeyedEvent](spark.sparkContext.defaultParallelism)
    val name = s"keyed_${op.name}_$tag"
    val q = op.build(ms.toDS()).writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", StreamRun.checkpointDir(b, name)).start()
    val (trace, parent) = b.tracer.current.getOrElse(("", ""))
    if (b.tracer.enabled) b.ledger.groupSpan.put(q.runId.toString, (trace, parent))
    val adds = mutable.ArrayBuffer.empty[(Long, Int, Int, Double)] // (offset, from, until, addedMs)
    val primed = evs.indexWhere(_.dueMs >= 0)
    ms.addData(evs.take(primed).map(e => KeyedEvent(e.key, e.tsUs, e.value)).toSeq)
    q.processAllAvailable()
    val t0Wall = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    val gen = new Thread(() => {
      var i = primed
      while (i < evs.length) {
        val now = (System.nanoTime() - t0) / 1e6
        var j = i
        while (j < evs.length && evs(j).dueMs <= now) j += 1
        if (j > i) {
          val off = ms.addData(evs.slice(i, j).map(e => KeyedEvent(e.key, e.tsUs, e.value)).toSeq)
          adds += ((off.json().trim.toLong, i, j, (System.nanoTime() - t0) / 1e6))
          i = j
        }
        if (i < evs.length) {
          val wait = math.min(10.0, evs(i).dueMs - (System.nanoTime() - t0) / 1e6)
          if (wait > 0) Thread.sleep(math.max(1L, wait.toLong))
        }
      }
    }, "graftbench-generator")
    gen.start()
    val warmLeft = warmMs - (System.nanoTime() - t0) / 1e6
    if (warmLeft > 0) Thread.sleep(warmLeft.toLong)
    b.ledger.reset()
    val windowWall = System.currentTimeMillis()
    gen.join()
    q.processAllAvailable()
    val lastOff = adds.last._1
    StreamRun.awaitProgress(pl, q, lastOff)
    val wallS = (System.nanoTime() - t0) / 1e9 - warmMs / 1000.0
    q.stop()
    val rows = pl.of(q).map(p => BatchRow.of(op.name, p)).filter(_.endMs >= windowWall)
    val output = spark.table(name).collect().map(_.toString).sorted.toSeq
    // latency per event: completion of the batch whose offsets cover it
    val byOff = rows.filter(_.endOff >= 0)
    val lat = mutable.ArrayBuffer.empty[Double]
    val late = mutable.ArrayBuffer.empty[Double]
    var backlog = 0L
    val measured = adds.filter(_._4 >= warmMs)
    measured.foreach { case (off, from, until, addedMs) =>
      late += addedMs - evs(until - 1).dueMs
      byOff.find(r => r.startOff < off && off <= r.endOff).foreach { r =>
        (from until until).filter(k => evs(k).dueMs >= warmMs).foreach(k => lat += r.endMs - (t0Wall + evs(k).dueMs))
      }
    }
    byOff.foreach { r =>
      val addedBy = adds.filter(x => t0Wall + x._4 <= r.startMs).map(x => x._3 - x._2).sum
      val done = adds.filter(_._1 <= r.startOff).map(x => x._3 - x._2).sum
      backlog = math.max(backlog, (addedBy - done).toLong)
    }
    if (b.tracer.enabled) BatchRow.spans(b, rows, trace, parent)
    Segment(op.name, rows, lat.toSeq, late.toSeq, backlog, wallS, evs.count(_.dueMs >= warmMs), output)
  }

  /** The same op over the same tape as ONE micro-batch: the reference. */
  def reference(b: Bench, op: Op, evs: Array[Ev], tag: String): Seq[String] = {
    val spark = b.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[KeyedEvent](spark.sparkContext.defaultParallelism)
    val name = s"keyedref_${op.name}_$tag"
    ms.addData(evs.map(e => KeyedEvent(e.key, e.tsUs, e.value)).toSeq)
    val q = op.build(ms.toDS()).writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", StreamRun.checkpointDir(b, name)).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name).collect().map(_.toString).sorted.toSeq
  }

  def run(b: Bench): Outcome = {
    val a = b.args
    var pl: ProgressLedger = null
    val segMs = a.seconds * 1000.0 / Ops.size
    var events: Array[KeyedEvent] = Array.empty
    var tapes: Seq[Array[Ev]] = Nil
    val setupMs = b.setup { spark =>
      pl = StreamRun.install(spark)
      events = load(spark, s"${a.dataDir}/sf0.01")
      tapes = Ops.indices.map(i => tape(events, a.seed, i, segMs))
    }
    // the single-batch reference runs go first: besides giving the
    // expected outputs they warm the JIT, codegen and the state store
    val w0 = System.nanoTime()
    val want = Ops.zip(tapes).map { case (op, evs) =>
      try Some(reference(b, op, evs, "ref")) catch { case e: Throwable => b.failures.fail(s"${op.name}@ref", e); None }
    }
    val warmupMs = (System.nanoTime() - w0) / 1e6
    HeapWatch.reset()

    def measure(tag: String): Seq[Segment] = Ops.zip(tapes).map { case (op, evs) =>
      b.traced(op.name, "stream.op")(segment(b, pl, op, evs, tag))
    }
    b.log("warmed up")
    // traced run: the same segments untraced first, as the overhead base
    val plain = if (a.trace) b.tracer.pause(Stats.median(measure("u").flatMap(_.latencies))) else 0.0
    b.ledger.reset()
    val segs = measure("m")
    b.log("measured")
    val heapMb = HeapWatch.peakMb
    val l = b.ledgerSnapshot()

    // correctness: every op's output equals its single-batch run
    b.failures.attempted = (Ops.size + segs.size).toLong
    want.zip(segs).foreach { case (w, s) =>
      w.filter(_ != s.output).foreach(w => b.failures.wrong(s"${s.op}@open", s"open-loop output has ${s.output.size} " +
        s"rows, single-batch run ${w.size}; first difference " +
        s"${w.diff(s.output).headOption.orElse(s.output.diff(w).headOption)}"))
    }

    val lat = segs.flatMap(_.latencies)
    val p50 = Stats.median(lat)
    // ~1.5 s of fixed cost per micro-batch leaves too few batches in a
    // run for a percentile with ten batches beyond it: p90 of events
    val tailMs = Stats.quantile(lat, 0.9)
    val layer = mutable.LinkedHashMap[String, Double]() ++ l ++ BatchRow.layerMetrics(segs.flatMap(_.rows), l)
    layer("stream.backlog_max_rows") = segs.map(_.backlogMax).max.toDouble
    layer("stream.gen_late_ms") = Stats.quantile(segs.flatMap(_.lateMs), 0.95)
    if (a.trace) {
      layer("trace.overhead_pct") = 100.0 * (p50 - plain) / plain
      // the single-task-slot baseline of the first op, on half its
      // window after a third of the warm-up
      b.newSession(Some("local[1]"))
      val pl1 = StreamRun.install(b.spark)
      val warm1 = WarmMs / 3
      val s1 = b.traced("local1", "stream.op")(
        segment(b, pl1, Ops.head, tape(events, a.seed, 0, segMs / 2, warm1), "l1", warm1))
      layer("stream.local1_event_p50_ms") = Stats.median(s1.latencies)
    }
    layer("jvm.peak_heap_mb") = heapMb
    val rows = segs.map(_.events).sum
    val e2e = Map(
      "setup_s" -> (Stats.quantile(setupMs, 0.5) + warmupMs) / 1000.0,
      "pass_s" -> segs.map(_.wallS).sum,
      "p50_ms" -> p50, "tail_ms" -> tailMs,
      "rows_per_s" -> rows / segs.map(_.wallS).sum)
    Outcome(e2e, layer.toMap, Seq(
      "tail" -> Json.obj(Seq("percentile" -> "90", "samples" -> lat.size.toString,
        "batches" -> segs.map(_.rows.count(_.rows > 0)).sum.toString)),
      "setup_ms" -> Json.arr(setupMs.map(Json.num)), "warmup_ms" -> Json.num(warmupMs),
      "segments" -> Json.arr(segs.map(s => Json.obj(Seq("op" -> Json.str(s.op), "events" -> s.events.toString,
        "wall_s" -> Json.num(s.wallS), "event_p50_ms" -> Json.num(Stats.median(s.latencies)),
        "output_rows" -> s.output.size.toString)))),
      "batches" -> Json.arr(segs.flatMap(_.rows).map(BatchRow.json))))
  }
}
