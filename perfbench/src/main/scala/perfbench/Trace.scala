package perfbench

import org.apache.spark.perfbenchbus.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Spark work attributed to one span key. */
final class Counters {
  val jobs, tasks, runMs, cpuNs, shuffleBytes, resultBytes, spillBytes, planMs =
    new LongAdder
}

final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, traced: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans the benchmark opens around each call into the engine, plus the
  * listeners that attribute Spark's own counters to them.
  *
  * Spans are recorded in memory on every run (two clock reads each) and
  * written out when the run ends. While tracing is on, a [[SparkListener]]
  * files every job, stage and task under the span key that was the
  * submitting thread's local property when the job started (micro-batch
  * jobs carry Spark's own batch-id property instead and file under
  * `batch:<id>`), and a [[QueryExecutionListener]] adds each execution's
  * analysis + optimization + planning time to the span open when the
  * callback arrives; the bus is drained before a span closes, so that is
  * the span that issued the execution. */
final class Tracer {
  import Tracer._

  private val done = ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var nextId = 0
  @volatile private var current: String = Other
  private var spark: SparkSession = _
  private var attached = false
  val counters = new ConcurrentHashMap[String, Counters]()

  def counter(key: String): Counters =
    counters.computeIfAbsent(key, _ => new Counters)

  /** Point the tracer at a (new) session; tracing resumes if it was on. */
  def bind(s: SparkSession): Unit = {
    val wasOn = attached
    attached = false
    spark = s
    if (wasOn) on()
  }

  def on(): Unit = if (!attached && spark != null) {
    spark.sparkContext.addSparkListener(Jobs)
    spark.listenerManager.register(Plans)
    attached = true
  }

  def off(): Unit = if (attached) {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(Jobs)
    spark.listenerManager.unregister(Plans)
    attached = false
  }

  def span[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    val prev = current
    val traced = attached
    open = id :: open
    setKey(name)
    val t0 = System.nanoTime()
    try f
    finally {
      if (attached) Bus.drain(spark.sparkContext)
      val t1 = System.nanoTime()
      open = open.tail
      setKey(prev)
      done += Span(id, parent, name, t0, t1, traced)
    }
  }

  private def setKey(k: String): Unit = {
    current = k
    if (spark != null)
      spark.sparkContext.setLocalProperty(Key, if (k == Other) null else k)
  }

  def named(name: String): Seq[Span] = done.filter(_.name == name).toSeq

  /** A span's duration minus the time its child spans cover. */
  def selfMs(s: Span): Double =
    s.ms - done.filter(_.parent == s.id).map(_.ms).sum

  /** Counters summed over every key equal to `prefix` or under it. */
  def sum(prefix: String)(f: Counters => LongAdder): Long =
    counters.asScala.iterator
      .filter { case (k, _) => k == prefix || k.startsWith(prefix + ".") }
      .map { case (_, c) => f(c).sum() }.sum

  /** One JSON line per span, then one per counter key. */
  def write(path: java.nio.file.Path): Unit = {
    val spanLines = done.sortBy(_.startNs).map { s =>
      f"""{"span":"${s.name}","id":${s.id},"parent":${s.parent},""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        f""""self_ms":${selfMs(s)}%.3f,"traced":${s.traced}}"""
    }
    val counterLines = counters.asScala.toSeq.sortBy(_._1).map { case (k, c) =>
      s"""{"counters":"$k","jobs":${c.jobs},"tasks":${c.tasks},""" +
        s""""run_ms":${c.runMs},"cpu_ns":${c.cpuNs},""" +
        s""""shuffle_bytes":${c.shuffleBytes},"result_bytes":${c.resultBytes},""" +
        s""""spill_bytes":${c.spillBytes},"plan_ms":${c.planMs}}"""
    }
    java.nio.file.Files.write(path, (spanLines ++ counterLines).asJava)
  }

  private object Jobs extends SparkListener {
    private val stageKey = new ConcurrentHashMap[Int, String]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val key = props.flatMap(p => Option(p.getProperty(BatchIdKey)))
        .map("batch:" + _)
        .orElse(props.flatMap(p => Option(p.getProperty(Key))))
        .getOrElse(Other)
      counter(key).jobs.increment()
      e.stageIds.foreach(stageKey.put(_, key))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = counter(stageKey.getOrDefault(e.stageId, Other))
      c.tasks.increment()
      Option(e.taskMetrics).foreach { m =>
        c.runMs.add(m.executorRunTime)
        c.cpuNs.add(m.executorCpuTime)
        c.shuffleBytes.add(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        c.resultBytes.add(m.resultSize)
        c.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private object Plans extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      counter(current).planMs.add(Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum)
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }
}

object Tracer {
  val Key = "perfbench.span"
  val Other = "other"
  /** The local property Structured Streaming sets on micro-batch jobs. */
  val BatchIdKey = "streaming.sql.batchId"
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]; NaN when empty. */
  def pct(xs: scala.collection.Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.length - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def median(xs: scala.collection.Seq[Double]): Double = pct(xs, 50)
}
