package graftbench

import scala.collection.mutable

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

/** `stream_dedup`: closed loop, the backfill of a document backlog.
  * Fixed-size micro-batches go through
  * `StreamingOps.dedupMinhashIncremental`, and the next batch is added
  * only when the previous one has completed. Every batch reads the
  * parquet history written by all earlier batches and writes its own
  * survivors and history, so per-batch cost can grow with the stream's
  * age. The survivor set must equal a single-batch run's keep-set.
  */
object StreamDedup {
  val BatchDocs = 40
  val Batches = 16
  // documents that share their first 60 characters form one
  // near-duplicate group of the corpus (465 of its 5000 documents fall
  // in 228 such groups, 8 of them exact copies)
  val GroupPrefix = 60

  final case class Doc(id: Long, text: String)

  /** The seeded document stream: whole near-duplicate groups of the
    * corpus drawn in seeded order until there are `n` documents, then
    * shuffled and given fresh ascending ids. Groups are kept whole, so
    * the stream carries the corpus' own share of duplicates.
    */
  def stream(seed: Long, corpus: Array[String], n: Int): Array[Doc] = {
    val rng = new scala.util.Random(seed)
    val groups = corpus.toVector.groupBy(_.take(GroupPrefix)).toVector.sortBy(_._1).map(_._2)
    val picked = mutable.ArrayBuffer.empty[String]
    rng.shuffle(groups).iterator.takeWhile(_ => picked.size < n).foreach(g => picked ++= g.take(n - picked.size))
    rng.shuffle(picked.toVector).zipWithIndex.map { case (t, i) => Doc(i.toLong, t) }.toArray
  }

  final case class Pass(latMs: Seq[Double], rows: Seq[BatchRow], wallS: Double, survivors: Set[Long],
      histFiles: Long, histBytes: Long)

  /** Runs the dedup stream over `docs` in batches of `size`, each added
    * after the previous one completed.
    */
  def pass(b: Bench, pl: ProgressLedger, docs: Array[Doc], size: Int, tag: String): Pass = {
    val spark = b.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val work = StreamRun.checkpointDir(b, s"dedup_$tag")
    val ms = MemoryStream[Doc](spark.sparkContext.defaultParallelism)
    val q = graft.streaming.StreamingOps.dedupMinhashIncremental(ms.toDF(), "id", "text",
        s"$work/history", s"$work/survivors")
      .option("checkpointLocation", s"$work/checkpoint").start()
    val (trace, parent) = b.tracer.current.getOrElse(("", ""))
    if (b.tracer.enabled) b.ledger.groupSpan.put(q.runId.toString, (trace, parent))
    val lat = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    try docs.grouped(size).foreach { batch =>
      val s = System.nanoTime()
      ms.addData(batch.toSeq)
      q.processAllAvailable()
      lat += (System.nanoTime() - s) / 1e6
    } finally q.stop()
    val wallS = (System.nanoTime() - t0) / 1e9
    val survivors = spark.read.parquet(s"$work/survivors").select(col("id")).as[Long].collect().toSet
    val (files, bytes) = Sessions.dirBytes(new java.io.File(s"$work/history"))
    val rows = pl.of(q).map(p => BatchRow.of("dedup", p))
    if (b.tracer.enabled) BatchRow.spans(b, rows, trace, parent)
    Pass(lat.toSeq, rows, wallS, survivors, files, bytes)
  }

  def run(b: Bench): Outcome = {
    val a = b.args
    var pl: ProgressLedger = null
    var docs: Array[Doc] = Array.empty
    val setupMs = b.setup { spark =>
      pl = StreamRun.install(spark)
      val corpus = spark.read.parquet(s"${a.dataDir}/docs/documents.parquet").orderBy("doc_id")
        .select("text").collect().map(_.getString(0))
      docs = stream(a.seed, corpus, BatchDocs * Batches)
    }
    // the single-batch reference run goes first: besides the expected
    // keep-set it warms the JIT, codegen and the parquet paths
    val w0 = System.nanoTime()
    val want = try Some(pass(b, pl, docs, docs.length, "ref").survivors)
      catch { case e: Throwable => b.failures.fail("reference", e); None }
    pass(b, pl, docs.take(BatchDocs * 3), BatchDocs, "warm")
    val warmupMs = (System.nanoTime() - w0) / 1e6
    HeapWatch.reset()

    def measure(tag: String): Seq[Pass] = {
      val out = mutable.ArrayBuffer.empty[Pass]
      Window.repeat(a.seconds)(i => out += b.traced(s"pass $i", "stream.op")(pass(b, pl, docs, BatchDocs, s"$tag$i")))
      out.toSeq
    }
    b.log("warmed up")
    // traced run: the same passes untraced first, as the overhead base
    val plain = if (a.trace) b.tracer.pause(Stats.median(measure("u").flatMap(_.latMs))) else 0.0
    b.ledger.reset()
    val passes = measure("m")
    b.log("measured")
    val heapMb = HeapWatch.peakMb
    val l = b.ledgerSnapshot()

    // correctness: each pass's survivors equal the single-batch keep-set
    b.failures.attempted = 1L + passes.size
    for (w <- want; (p, i) <- passes.zipWithIndex if p.survivors != w)
      b.failures.wrong(s"pass$i", s"survivors ${p.survivors.size}, single-batch keep-set ${w.size}; " +
        s"missing ${(w -- p.survivors).take(5)}, extra ${(p.survivors -- w).take(5)}")

    val lat = passes.flatMap(_.latMs)
    val p50 = Stats.median(lat)
    // a run holds 16 batches, too few for a percentile with ten
    // batches beyond it above the median: p90
    val tailMs = Stats.quantile(lat, 0.9)
    val nBatches = lat.size.toDouble
    val layer = mutable.LinkedHashMap[String, Double]() ++ l ++ BatchRow.layerMetrics(passes.flatMap(_.rows), l)
    layer("stream.age_slope_ms") = Stats.median(passes.map(p => Stats.fit(p.latMs.zipWithIndex.map {
      case (v, i) => (i.toDouble, v) })._2))
    layer("history.files") = passes.map(_.histFiles.toDouble).max
    layer("history.mb") = passes.map(_.histBytes / 1048576.0).max
    layer("history.read_mb_per_batch") = l("sources.read_mb") / nBatches
    layer("sources.read_mb") = 0.0
    layer("sources.read_rows") = 0.0
    if (a.trace) layer("trace.overhead_pct") = 100.0 * (p50 - plain) / plain
    layer("jvm.peak_heap_mb") = heapMb
    val wall = passes.map(_.wallS).sum
    val e2e = Map(
      "setup_s" -> (Stats.quantile(setupMs, 0.5) + warmupMs) / 1000.0,
      "pass_s" -> wall / passes.size,
      "p50_ms" -> p50, "tail_ms" -> tailMs,
      "rows_per_s" -> docs.length * passes.size / wall)
    Outcome(e2e, layer.toMap, Seq(
      "passes" -> passes.size.toString,
      "tail" -> Json.obj(Seq("percentile" -> "90", "samples" -> lat.size.toString)),
      "setup_ms" -> Json.arr(setupMs.map(Json.num)), "warmup_ms" -> Json.num(warmupMs),
      "batch_ms" -> Json.arr(lat.map(Json.num)),
      "survivors" -> passes.head.survivors.size.toString,
      "batches" -> Json.arr(passes.flatMap(_.rows).map(BatchRow.json))))
  }
}
