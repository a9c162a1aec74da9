package perfbench

import graft.core.{Message, Pipeline, Sink, Transforms}
import graft.sinks.Sinks
import graft.sources.PolledSource
import graft.streaming.Monitoring.SpanTracer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The two streaming-ingest workloads. Both feed one open-loop generator
  * through a `Poller` into `PolledSource` and run a `ProcessingTime(0)`
  * pipeline, in two measured phases:
  *
  *  1. drain: a fixed pre-generated backlog is released at once,
  *     [[WarmDrains]] times untimed and then [[Drains]] times; `work_s` is
  *     the median time from release to the commit of the batch that holds
  *     its last record;
  *  2. rate: the generator holds a fixed rate for the rest of the run;
  *     a record's latency is the commit time of its micro-batch minus
  *     the time it was due.
  *
  * A micro-batch's records are known from outside: its progress event
  * carries the source's start and end offsets (the count of records
  * polled so far) and its trigger time plus duration, so latency capture
  * adds nothing to the pipeline. */
object Ingest {
  /** @param rate     records per second in the rate phase
    * @param backlog  records per drain
    * @param warm     records pushed through each set-up before it counts
    *                 as ready
    * @param pollMax  the source's records-per-poll cap */
  final case class Spec(rate: Double, backlog: Int, warm: Int, pollMax: Int)

  /** Drains per run: untimed ones that finish the JIT warm-up, then timed. */
  val WarmDrains = 2
  val Drains = 3
  /** The rate phase lasts the rest of the run, this long at least. */
  val MinRateSecs = 6.0

  /** A started pipeline and what the run needs from it afterwards:
    * `check(total)` returns the records delivered and the reason the
    * output is wrong, if it is. */
  final class Started(val query: StreamingQuery,
      val check: Long => (Long, Option[String]),
      val sinkFiles: () => (Long, Long), val dirs: Seq[String])

  trait Flow {
    def spec: Spec
    def make(seed: Long)(id: Long, phase: String, dueUs: Long): Message
    def start(run: Run, feed: Feed, k: Int, spans: Option[SpanTracer]): Started
  }

  def passthrough(run: Run): Unit = measure(run, Passthrough)
  def curate(run: Run): Unit = measure(run, Curate)

  /** Counting sink for ingest_passthrough: one aggregate job per batch
    * (the count the sink exists for) that also yields the multiset
    * summary of delivered keys and how many rows carry the layered
    * attribute. */
  final class CountingSink extends Sink {
    val batches = new ConcurrentLinkedQueue[(Checks.Summary, Long)]()
    def writeBatch(df: DataFrame): Unit = {
      val h = xxhash64(col("key"))
      val r = df.agg(count(lit(1)), bit_xor(h), sum(h.bitwiseAND(0xFFFFFFFFL)),
        sum(when(col("attributes")("stage") === "bench", 1L).otherwise(0L))).first()
      if (r.getLong(0) > 0)
        batches.add((Checks.Summary(r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3)))
      ()
    }
    def writeStream(df: DataFrame, trigger: Option[Trigger],
        checkpoint: Option[String]): StreamingQuery = {
      val w = df.writeStream.foreachBatch { (b: DataFrame, _: Long) => writeBatch(b) }
      val t = trigger.fold(w)(w.trigger)
      checkpoint.fold(t)(c => t.option("checkpointLocation", c)).start()
    }
    def total: Checks.Summary = batches.asScala.map(_._1).foldLeft(Checks.Summary.empty)(_ + _)
    def layered: Long = batches.asScala.map(_._2).sum
  }

  object Passthrough extends Flow {
    // a drain runs 8 micro-batches at the poll cap; the rate sits well
    // below the ~150k msgs/s the pipeline drains at local[4]
    val spec = Spec(rate = 50000, backlog = 200000, warm = 20000, pollMax = 25000)
    def make(seed: Long)(id: Long, phase: String, dueUs: Long): Message =
      Gen.passthrough(seed, id, phase, dueUs)

    def start(run: Run, feed: Feed, k: Int, spans: Option[SpanTracer]): Started = {
      val ckpt = run.runDir(s"ckpt-$k")
      val sink = new CountingSink
      val p = Pipeline.from(PolledSource(feed, spec.pollMax))
        .via(df => df.withColumn("attributes", Transforms.layerAttributes(
          col("attributes"), typedLit(Map("stage" -> "bench")))))
        .triggerEvery(0).withCheckpoint(ckpt)
      val q = spans.fold(p)(p.withTracing).start(run.spark, sink)
      new Started(q,
        check = total => {
          val want = Checks.Summary.of(Iterator.range(0, total.toInt).map(_.toString))
          (sink.total.count, Checks.exactlyOnce(want, sink.total).orElse(
            if (sink.layered == total) None
            else Some(s"${total - sink.layered} messages lack the layered attribute")))
        },
        sinkFiles = () => (0L, 0L), dirs = Seq(ckpt))
    }
  }

  object Curate extends Flow {
    val spec = Spec(rate = 2000, backlog = 16000, warm = 1000, pollMax = 4000)
    val Watermark = "10 seconds"
    def make(seed: Long)(id: Long, phase: String, dueUs: Long): Message =
      Gen.curate(seed, spec.rate)(id, phase, dueUs)

    def start(run: Run, feed: Feed, k: Int, spans: Option[SpanTracer]): Started = {
      val spark = run.spark
      val ckpt = run.runDir(s"ckpt-$k")
      val out = run.runDir(s"sink-$k")
      val bench = spark.createDataFrame(Gen.BenchCorpus.map(Tuple1(_))).toDF("text")
      val schema = StructType(Seq(StructField("doc_id", LongType),
        StructField("ts", TimestampType), StructField("text", StringType)))
      val p = Pipeline.from(PolledSource(feed, spec.pollMax))
        .via(Transforms.deserializeJson(schema))
        .via(graft.streaming.StreamingOps.nearDedupByWinnow(
          "text", "doc_id", "ts", watermark = Watermark))
        .via(df => graft.ops.Curation.decontaminateStream(
          df.select("doc_id", "ts", "text"), "text", bench, "text"))
        .triggerEvery(0).withCheckpoint(ckpt)
      val q = spans.fold(p)(p.withTracing).start(spark, Sinks.NdjsonGzipSink(out, "ts"))
      new Started(q,
        check = total => {
          val kept = spark.read.json(out).select("doc_id").collect().map(_.getLong(0)).toSeq
          (kept.size.toLong, Checks.curated(run.seed, total, kept))
        },
        sinkFiles = () => {
          val files = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
            .iterator().asScala.filter(_.toString.endsWith(".json.gz")).toList
          (files.map(java.nio.file.Files.size).sum, files.size.toLong)
        },
        dirs = Seq(ckpt, out))
    }
  }

  /** Progress events of every query in the run, in arrival order. */
  final class ProgressLog extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      events.add(e.progress); ()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** One data micro-batch: source offsets [start, end), trigger start and
    * commit (trigger start + triggerExecution), wall-clock ms. */
  final case class Batch(id: Long, start: Long, end: Long, startMs: Double,
      commitMs: Double, p: StreamingQueryProgress) {
    def dur(k: String): Double = Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue)
  }

  def batches(log: ProgressLog, q: StreamingQuery): Seq[Batch] =
    log.events.asScala.iterator.filter(_.runId == q.runId).flatMap { p =>
      val s = p.sources.head
      val start = Option(s.startOffset).fold(0L)(_.trim.toLong)
      val end = Option(s.endOffset).fold(0L)(_.trim.toLong)
      val t = java.time.Instant.parse(p.timestamp)
      val startMs = t.toEpochMilli.toDouble
      if (end > start)
        Some(Batch(p.batchId, start, end, startMs, startMs + Option(
          p.durationMs.get("triggerExecution")).fold(0.0)(_.doubleValue), p))
      else None
    }.toSeq.sortBy(_.id)

  /** Wait until the batch holding record `upTo - 1` has committed. */
  def awaitCommitted(log: ProgressLog, q: StreamingQuery, upTo: Long,
      timeoutMs: Long = 60000): Batch = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var hit: Option[Batch] = None
    while (hit.isEmpty) {
      q.exception.foreach(e => throw e)
      require(System.currentTimeMillis() < deadline,
        s"records up to $upTo not committed within ${timeoutMs / 1000} s")
      hit = batches(log, q).find(_.end >= upTo)
      if (hit.isEmpty) Thread.sleep(2)
    }
    hit.get
  }

  private def nowMs(): Double = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1e3 + t.getNano / 1e6
  }

  def measure(run: Run, flow: Flow): Unit = {
    val spec = flow.spec
    val make = flow.make(run.seed) _
    run.note("input digest " + Gen.digest(Iterator(
      s"rate=${spec.rate} backlog=${spec.backlog}x$Drains warm=${spec.warm}",
      Gen.digestRecords(2000)(make(_, "rate", 0L)))))
    val log = new ProgressLog
    var feed: Feed = null
    var spans: Option[SpanTracer] = None
    val started = run.setups(3) { k =>
      run.spark.streams.addListener(log)
      feed = new Feed
      spans = if (run.traced) Some(new SpanTracer(keep = 100000)) else None
      val s = flow.start(run, feed, k, spans)
      feed.offerAll(Array.tabulate(spec.warm)(i => make(i, "warmup", 0L)))
      awaitCommitted(log, s.query, spec.warm)
      s
    } { s =>
      s.query.stop()
      s.dirs.foreach(run.release)
    }
    val q = started.query
    var next = spec.warm.toLong
    run.attempted = spec.warm
    run.sampleExternalLoad()

    // phase 1: drains, after untimed ones that finish the JIT warm-up; a
    // traced run prices tracing with the drains untraced, traced, traced,
    // untraced (a linear warm-up trend cancels)
    val pattern = if (run.traced) Seq(false, true, true, false) else Seq.fill(Drains)(false)
    val drainSecs = (Seq.fill(WarmDrains)(None) ++ pattern.map(Some(_))).zipWithIndex.flatMap { case (traced, d) =>
      traced.foreach(on => if (on) run.tracer.on() else run.tracer.off())
      val recs = Array.tabulate(spec.backlog)(i => make(next + i, "backlog", 0L))
      val released = nowMs()
      feed.offerAll(recs)
      val b = awaitCommitted(log, q, next + spec.backlog)
      next += spec.backlog
      run.attempted += spec.backlog
      val secs = (b.commitMs - released) / 1e3
      run.note(f"drain $d: $secs%.3f s" + (if (traced.isEmpty) " (untimed)" else ""))
      traced.map(_ -> secs)
    }
    if (run.traced) {
      val (on, off) = drainSecs.partition(_._1)
      run.metric("bench.trace_overhead_pct",
        (Stats.median(on.map(_._2)) / Stats.median(off.map(_._2)) - 1) * 100, "%")
    } else run.metric("work_s", Stats.median(drainSecs.map(_._2)), "s")

    // phase 2: fixed rate for the rest of the run
    val elapsed = drainSecs.map(_._2).sum
    val rateSecs = math.max(MinRateSecs, run.seconds - elapsed)
    val count = (spec.rate * rateSecs).toInt
    val polls0 = feed.backlogAfterPoll.size
    val gen = new OpenLoop(feed, next, count, spec.rate, make)
    gen.start()
    gen.join()
    val backlogEnd = feed.backlog
    val last = awaitCommitted(log, q, next + count)
    val first = next
    next += count
    run.attempted += count
    val all = batches(log, q)
    val lat = new Array[Double](count)
    all.filter(b => b.end > first && b.start < next).foreach { b =>
      var id = math.max(b.start, first)
      while (id < math.min(b.end, next)) {
        val i = (id - first).toInt
        lat(i) = b.commitMs - (gen.startWallMs + gen.dueNs(i) / 1e6)
        id += 1
      }
    }
    run.metric("latency_ms", Stats.pct(lat, 50), "ms")
    run.metric("latency_tail_ms", Stats.pct(lat, 99), "ms")

    q.stop()
    val (delivered, problem) = started.check(next)
    problem.foreach { p =>
      run.failed += math.max(1L, math.abs(next - delivered))
      run.problem(p)
    }
    if (run.traced) {
      val measured = all.filter(_.start >= spec.warm)
      val rate = all.filter(b => b.startMs >= gen.startWallMs && b.start < last.end)
      layers(run, measured, rate, gen, spans.get, feed, polls0, backlogEnd,
        delivered.toDouble / next, started.sinkFiles())
      run.metric("bench.gen_lag_p99_ms", Stats.pct(gen.lagNs.map(_ / 1e6), 99), "ms")
    }
    started.dirs.foreach(run.release)
    if (run.traced) oneCoreBaseline(run, log)
  }

  private def layers(run: Run, measured: Seq[Batch], rate: Seq[Batch],
      gen: OpenLoop, spans: SpanTracer, feed: Feed, polls0: Int,
      backlogEnd: Long, keptRatio: Double, sink: (Long, Long)): Unit = {
    val ids = measured.map(_.id).toSet
    def spanMs(name: String) = spans.spans
      .filter(s => s.name == name && ids(s.batchId)).map(_.durationMs.toDouble)
    run.metric("core.batches", measured.size, "count")
    run.metric("core.batch_ms_p50", Stats.pct(measured.map(_.dur("triggerExecution")), 50), "ms")
    run.metric("core.batch_ms_p99", Stats.pct(measured.map(_.dur("triggerExecution")), 99), "ms")
    run.metric("core.plan_ms_p50", Stats.median(measured.map(_.dur("queryPlanning"))), "ms")
    run.metric("core.ack_ms_p50", Stats.median(spanMs("graft.processor.ack")), "ms")
    val batchKeys = run.tracer.counters.asScala.filter(_._1.startsWith("batch:"))
    val tracedRecs = measured.filter(b => batchKeys.contains(s"batch:${b.id}"))
      .map(b => b.end - b.start).sum
    run.metric("core.jobs_per_batch",
      batchKeys.values.map(_.jobs.sum()).sum.toDouble / math.max(1, batchKeys.size), "count")
    val rateWall = rate.map(_.commitMs).max - gen.startWallMs
    run.metric("core.idle_share",
      math.max(0.0, 1 - rate.map(_.dur("triggerExecution")).sum / rateWall), "share")
    run.metric("sources.recv_ms_p50", Stats.median(spanMs("graft.processor.src.recv")), "ms")
    run.metric("sources.rows_per_batch_p50",
      Stats.median(measured.map(b => (b.end - b.start).toDouble)), "count")
    val ratePolls = feed.backlogAfterPoll.asScala.drop(polls0)
    run.metric("sources.backlog_max", if (ratePolls.isEmpty) 0.0 else ratePolls.max.toDouble, "count")
    run.metric("sources.backlog_end", backlogEnd.toDouble, "count")
    run.metric("ops.handle_ms_p50", Stats.median(spanMs("graft.processor.handle.send")), "ms")
    run.metric("ops.cpu_ms_per_krec",
      batchKeys.values.map(_.cpuNs.sum()).sum / 1e6 / math.max(1.0, tracedRecs / 1e3), "ms")
    val ops = measured.map(_.p.stateOperators.toSeq)
    if (ops.exists(_.nonEmpty)) {
      val lastOps = ops.last
      run.metric("streaming.state_rows", lastOps.map(_.numRowsTotal).sum.toDouble, "count")
      run.metric("streaming.state_bytes", lastOps.map(_.memoryUsedBytes).sum.toDouble, "bytes")
      run.metric("streaming.state_commit_ms_p50",
        Stats.median(ops.map(_.map(_.commitTimeMs).sum.toDouble)), "ms")
      run.metric("streaming.rows_dropped_watermark",
        ops.map(_.map(_.numRowsDroppedByWatermark).sum).sum.toDouble, "count")
    }
    run.metric("streaming.kept_ratio", keptRatio, "share")
    if (sink._2 > 0) {
      run.metric("sinks.bytes_written", sink._1.toDouble, "bytes")
      run.metric("sinks.files_per_batch", sink._2.toDouble / math.max(1, measured.size), "count")
    }
  }

  /** The single-core reference point: the passthrough drain on local[1]. */
  private def oneCoreBaseline(run: Run, log: ProgressLog): Unit = {
    run.tracer.off()
    run.session("local[1]")
    run.spark.streams.addListener(log)
    val feed = new Feed
    val make = Passthrough.make(run.seed) _
    val s = Passthrough.start(run, feed, 9, None)
    val warm = Passthrough.spec.warm
    feed.offerAll(Array.tabulate(warm)(i => make(i, "warmup", 0L)))
    awaitCommitted(log, s.query, warm)
    val n = Passthrough.spec.backlog / 2
    val recs = Array.tabulate(n)(i => make(warm + i, "backlog", 0L))
    val released = nowMs()
    feed.offerAll(recs)
    val b = awaitCommitted(log, s.query, warm + n)
    run.metric("core.throughput_1core_rps", n / ((b.commitMs - released) / 1e3), "1/s")
    s.query.stop()
    s.dirs.foreach(run.release)
  }
}
