package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** The streaming progress ledger: every `StreamingQueryProgress` of
  * every query, as Spark posts them.
  */
final class ProgressLedger extends StreamingQueryListener {
  private val byRun = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    byRun.computeIfAbsent(e.progress.runId, _ => new java.util.concurrent.ConcurrentLinkedQueue()).add(e.progress)

  def of(q: StreamingQuery): Seq[StreamingQueryProgress] =
    Option(byRun.get(q.runId)).map(_.asScala.toSeq).getOrElse(Nil).sortBy(_.batchId)
}

/** One micro-batch as the progress ledger saw it. */
final case class BatchRow(op: String, batchId: Long, rows: Long, startOff: Long, endOff: Long,
    startMs: Long, endMs: Long, dur: Map[String, Long], stateRows: Long, stateBytes: Long,
    stateInstances: Long, commitMs: Long, updateMs: Long, commitParts: Map[String, Long])

object BatchRow {
  private def off(s: String): Long = Option(s).map(_.trim).filter(_.nonEmpty)
    .flatMap(x => "-?\\d+".r.findFirstIn(x)).map(_.toLong).getOrElse(-1L)

  def of(op: String, p: StreamingQueryProgress): BatchRow = {
    val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val src = p.sources.headOption
    val ops = Option(p.stateOperators).toSeq.flatten
    BatchRow(op, p.batchId, p.numInputRows, src.map(s => off(s.startOffset)).getOrElse(-1L),
      src.map(s => off(s.endOffset)).getOrElse(-1L), start, start + dur.getOrElse("triggerExecution", 0L), dur,
      ops.map(_.numRowsTotal).sum,
      ops.map { o =>
        val rocks = Option(o.customMetrics).flatMap(m => Option(m.get("rocksdbTotalMemoryUsage")))
          .map(_.longValue).getOrElse(0L)
        math.max(o.memoryUsedBytes, rocks)
      }.sum,
      ops.map(_.numStateStoreInstances.toLong).sum, ops.map(_.commitTimeMs).sum, ops.map(_.allUpdatesTimeMs).sum,
      // RocksDB's own split of the commit (flush, checkpoint, file sync, ...)
      ops.flatMap(o => Option(o.customMetrics).map(_.asScala.toSeq).getOrElse(Nil))
        .collect { case (k, v) if k.startsWith("rocksdbCommit") => k -> v.longValue }
        .groupMapReduce(_._1)(_._2)(_ + _))
  }

  /** The micro-batch engine and state store metrics over data batches. */
  def layerMetrics(rows: Seq[BatchRow], ledger: Map[String, Double]): Map[String, Double] = {
    val data = rows.filter(_.rows > 0)
    val n = math.max(1, data.size).toDouble
    val (fixed, slope) = Stats.fit(data.map(r => (r.rows.toDouble, r.dur.getOrElse("addBatch", 0L).toDouble)))
    def p50(k: String) = Stats.median(data.map(_.dur.getOrElse(k, 0L).toDouble))
    Map(
      "stream.batches" -> data.size.toDouble,
      "stream.fixed_ms" -> fixed, "stream.row_us" -> slope * 1000.0,
      "stream.exec_ms_p50" -> p50("addBatch"), "stream.plan_ms_p50" -> p50("queryPlanning"),
      "stream.wal_ms_p50" -> p50("walCommit"),
      "stream.tasks_per_batch" -> ledger("spark.tasks") / n,
      "stream.jobs_per_batch" -> ledger("spark.jobs") / n,
      "state.instances" -> data.map(_.stateInstances.toDouble).maxOption.getOrElse(0.0),
      "state.rows_peak" -> data.map(_.stateRows.toDouble).maxOption.getOrElse(0.0),
      "state.mb_peak" -> data.map(_.stateBytes / 1048576.0).maxOption.getOrElse(0.0),
      "state.commit_ms_p50" -> Stats.median(data.map(_.commitMs.toDouble)),
      "state.update_ms_p50" -> Stats.median(data.map(_.updateMs.toDouble)))
  }

  def json(r: BatchRow): String = Json.obj(Seq("op" -> Json.str(r.op), "batch" -> r.batchId.toString,
    "rows" -> r.rows.toString, "end_offset" -> r.endOff.toString, "start_ms" -> r.startMs.toString,
    "end_ms" -> r.endMs.toString,
    "duration_ms" -> Json.obj(r.dur.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }),
    "state_rows" -> r.stateRows.toString, "state_bytes" -> r.stateBytes.toString,
    "state_instances" -> r.stateInstances.toString, "commit_ms" -> r.commitMs.toString,
    "update_ms" -> r.updateMs.toString,
    "commit_parts_ms" -> Json.obj(r.commitParts.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })))

  /** Spans of the micro-batches, parented to the op span that ran them. */
  def spans(b: Bench, rows: Seq[BatchRow], trace: String, parent: String): Unit =
    rows.foreach(r => b.tracer.add(Span(trace, b.tracer.newId(), parent, s"${r.op} batch ${r.batchId}",
      "stream.batch", r.startMs.toDouble, r.endMs.toDouble)))
}

/** Shared plumbing of the two streaming workloads. */
object StreamRun {
  def install(spark: SparkSession): ProgressLedger = {
    val l = new ProgressLedger
    spark.streams.addListener(l)
    l
  }

  /** Waits until the ledger holds a progress event covering `endOffset`
    * (progress events are posted after the batch commits).
    */
  def awaitProgress(l: ProgressLedger, q: StreamingQuery, endOffset: Long): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (!l.of(q).exists(p => BatchRow.of("", p).endOff >= endOffset) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
  }

  def checkpointDir(b: Bench, name: String): String = {
    val d = new java.io.File(b.args.outDir, s"work/$name")
    Sessions.deleteRecursively(d)
    d.getAbsolutePath
  }
}
