package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run. `dataDir` holds the committed
  * input tables, `outDir` receives the run record and the trace.
  */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    dataDir: String, outDir: String, refs: Option[String], pin: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("data"), need("out"), kv.get("refs"), kv.get("pin").contains("1"))
  }
}

/** The measured window of a run. */
object Window {
  /** Runs `pass` (numbered from 0) at least once, and again while the
    * next pass, taking as long as the last, still ends inside `seconds`.
    */
  def repeat(seconds: Int)(pass: Int => Unit): Int = {
    val start = System.nanoTime()
    var n = 0
    var last = 0.0
    while (n == 0 || (System.nanoTime() - start) / 1e9 + last <= seconds) {
      val t = System.nanoTime()
      pass(n)
      last = (System.nanoTime() - t) / 1e9
      n += 1
    }
    n
  }
}

/** Order statistics used by every workload. */
object Stats {
  /** Harrell–Davis estimate of the median: a Beta-weighted mean of all
    * order statistics. Over a few samples of different kinds (the
    * queries of a pass) the plain median jumps across the gap between
    * two neighbours whenever they swap places; this estimate moves
    * smoothly. Over many samples it equals the plain median.
    */
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val n = s.length
    val beta = new org.apache.commons.math3.distribution.BetaDistribution((n + 1) / 2.0, (n + 1) / 2.0)
    var prev = 0.0
    var acc = 0.0
    for (i <- 1 to n) {
      val c = beta.cumulativeProbability(i.toDouble / n)
      acc += (c - prev) * s(i - 1)
      prev = c
    }
    acc
  }

  /** Linear-interpolated quantile (same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Least-squares fit y = a + b·x: (intercept, slope). */
  def fit(pts: Seq[(Double, Double)]): (Double, Double) = {
    val n = pts.length.toDouble
    if (n < 2) return (pts.headOption.map(_._2).getOrElse(0.0), 0.0)
    val mx = pts.map(_._1).sum / n
    val my = pts.map(_._2).sum / n
    val sxx = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
    val sxy = pts.map(p => (p._1 - mx) * (p._2 - my)).sum
    val b = if (sxx == 0) 0.0 else sxy / sxx
    (my - b * mx, b)
  }
}

/** Minimal JSON rendering for the run record and the result line. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}

/** One span of the traced run: recorded only by the benchmark's own
  * code, kept in memory and written when the run ends.
  */
final case class Span(trace: String, id: String, parent: String, name: String, layer: String,
    startMs: Double, endMs: Double) {
  def json: String = Json.obj(Seq("trace" -> Json.str(trace), "id" -> Json.str(id),
    "parent" -> Json.str(parent), "name" -> Json.str(name), "layer" -> Json.str(layer),
    "start_ms" -> Json.num(startMs), "end_ms" -> Json.num(endMs)))
}

/** In-memory span recorder. When disabled every call is a plain
  * passthrough, so untraced runs pay nothing but a branch.
  */
final class Tracer(initially: Boolean) {
  @volatile var enabled: Boolean = initially
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong()
  private val stack = new ThreadLocal[List[(String, String)]] { override def initialValue() = Nil }

  def newId(): String = "s" + ids.incrementAndGet()

  /** The innermost open span on this thread: (trace id, span id). */
  def current: Option[(String, String)] = stack.get().headOption

  def span[T](name: String, layer: String)(body: => T): T = {
    if (!enabled) return body
    val id = newId()
    val (trace, parent) = current.map { case (t, p) => (t, p) }.getOrElse((id, ""))
    stack.set((trace, id) :: stack.get())
    val t0 = System.currentTimeMillis().toDouble
    try body
    finally {
      stack.set(stack.get().tail)
      spans.add(Span(trace, id, parent, name, layer, t0, System.currentTimeMillis().toDouble))
    }
  }

  def add(s: Span): Unit = if (enabled) spans.add(s)

  /** Runs `body` with recording switched off. */
  def pause[T](body: => T): T = {
    val was = enabled
    enabled = false
    try body finally enabled = was
  }

  /** Every span; a stage span whose parent has a micro-batch child
    * covering the stage's start is re-parented to that micro-batch
    * (streaming stages only know the query they ran for).
    */
  def all: Seq[Span] = {
    val raw = spans.asScala.toSeq
    val batches = raw.filter(_.layer == "stream.batch").groupBy(_.parent)
    raw.map { s =>
      if (s.layer != "spark.stage") s
      else batches.getOrElse(s.parent, Nil).find(b => b.startMs <= s.startMs && s.startMs <= b.endMs)
        .map(b => s.copy(parent = b.id)).getOrElse(s)
    }
  }

  /** Self time per layer: each span's duration minus the part of its
    * interval covered by its children.
    */
  def selfTimeByLayer: Map[String, Double] = {
    val all = this.all
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter(c => c._2 > c._1).sortBy(_._1)
      var covered = 0.0
      var curS = Double.NaN; var curE = Double.NaN
      cs.foreach { case (a, b) =>
        if (curS.isNaN || a > curE) { if (!curS.isNaN) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (!curS.isNaN) covered += curE - curS
      s.layer -> math.max(0.0, s.endMs - s.startMs - covered)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  def write(path: java.nio.file.Path): Unit = {
    val self = selfTimeByLayer.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }
    val lines = all.sortBy(_.startMs).map(_.json) :+ Json.obj(Seq("self_ms_by_layer" -> Json.obj(self)))
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** The Spark executor stage ledger, read from Spark's own listener
  * events. Totals accumulate between `reset` calls; the union of stage
  * run intervals gives the wall time with no stage running (query
  * planning, codegen and scheduling).
  */
final class StageLedger(tracer: Tracer) extends SparkListener {
  @volatile var taskMs, gcMs, shuffleRead, shuffleWrite, spill, inputBytes, inputRows, outputBytes = 0L
  @volatile var stages, tasks, jobs = 0L
  private val intervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  /** Job group id → span id; the benchmark registers its own groups. */
  val groupSpan = new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  def reset(): Unit = synchronized {
    taskMs = 0; gcMs = 0; shuffleRead = 0; shuffleWrite = 0; spill = 0
    inputBytes = 0; inputRows = 0; outputBytes = 0; stages = 0; tasks = 0; jobs = 0
    intervals.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs += 1
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(id => stageGroup.put(id, g))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    stages += 1
    tasks += si.numTasks
    if (m != null) {
      taskMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      inputRows += m.inputMetrics.recordsRead
      outputBytes += m.outputMetrics.bytesWritten
    }
    for (s <- si.submissionTime; c <- si.completionTime) {
      intervals.add((s, c))
      if (tracer.enabled) {
        val g = Option(stageGroup.get(si.stageId)).getOrElse("")
        val (trace, parent) = Option(groupSpan.get(g)).getOrElse(("", ""))
        tracer.add(Span(trace, tracer.newId(), parent, s"stage ${si.stageId} ${si.name.takeWhile(_ != ' ')}",
          "spark.stage", s.toDouble, c.toDouble))
      }
    }
  }

  /** Wall ms inside [fromMs, toMs] during which no stage ran. */
  def idleMs(fromMs: Long, toMs: Long): Double = {
    val iv = intervals.asScala.toSeq.map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter(x => x._2 > x._1).sortBy(_._1)
    var busy = 0L; var s = -1L; var e = -1L
    iv.foreach { case (a, b) =>
      if (s < 0 || a > e) { if (s >= 0) busy += e - s; s = a; e = b } else e = math.max(e, b)
    }
    if (s >= 0) busy += e - s
    math.max(0L, toMs - fromMs - busy).toDouble
  }
}

/** Peak heap after garbage collection, from the JVM's GC notifications. */
object HeapWatch {
  @volatile private var peak = 0L
  private var installed = false

  def install(): Unit = synchronized {
    if (installed) return
    installed = true
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: javax.management.NotificationEmitter =>
        em.addNotificationListener((n: javax.management.Notification, _: Any) => {
          n.getUserData match {
            case cd: javax.management.openmbean.CompositeData
                if n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION =>
              val info = com.sun.management.GarbageCollectionNotificationInfo.from(cd)
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
              if (used > peak) peak = used
            case _ =>
          }
        }, null, null)
      case _ =>
    }
  }

  def reset(): Unit = { System.gc(); peak = 0L }
  def peakMb: Double = peak / 1048576.0
}

/** Failed or wrong operations, each with its exception class and
  * message (or what the check found), for the run record. An op key
  * names one execution (a query in one pass, a stream run), the same
  * unit `attempted` counts, so `failed` is the number of executions
  * with at least one entry.
  */
final class Failures {
  val entries = mutable.ArrayBuffer.empty[(String, String, String)]
  var attempted = 0L

  def fail(op: String, e: Throwable): Unit = synchronized {
    entries += ((op, e.getClass.getName, String.valueOf(e.getMessage)))
  }

  def wrong(op: String, detail: String): Unit = synchronized {
    entries += ((op, "WrongResult", detail))
  }

  def failed: Long = entries.map(_._1).distinct.size.toLong

  def json: String = Json.arr(entries.toSeq.map { case (op, cls, msg) =>
    Json.obj(Seq("op" -> Json.str(op), "class" -> Json.str(cls), "message" -> Json.str(msg)))
  })
}

/** Session helpers shared by the workloads. */
object Sessions {
  def start(master: Option[String] = None): SparkSession = master match {
    case None => graft.GraftSession.local("graftbench")
    case Some(m) =>
      val s = graft.GraftSession.builder("graftbench", master = m).getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      graft.GraftFunctions.register(s)
      s
  }

  def stop(spark: SparkSession): Unit = {
    graft.Queries.clearSessionMemos()
    spark.streams.active.foreach(_.stop())
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  def dirBytes(f: java.io.File): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) (if (f.getName.endsWith(".parquet")) 1L else 0L, f.length())
    else Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes)
      .foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
}
