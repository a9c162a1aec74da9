package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run: its arguments, its run-scoped directories, the
  * Spark session, the tracer and the metrics it reports. */
final class Run(val workload: String, val seed: Long, val seconds: Int,
    val traced: Boolean, val dir: Path, val dataDir: String) {
  val cores = 4
  val tracer = new Tracer
  var spark: SparkSession = _
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer[String]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  private val runDirs = mutable.LinkedHashSet[Path]()
  private val extLoad = mutable.ArrayBuffer[Double]()

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  def problem(msg: String): Unit = { problems += msg; System.err.println(s"[perfbench] FAIL $msg") }

  def note(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def stopSession(): Unit = if (spark != null) { spark.stop(); spark = null }

  /** (Re)start the session; the previous one is stopped first. */
  def session(master: String = s"local[$cores]"): SparkSession = {
    stopSession()
    spark = graft.Sessions.builder(master, cores)
      .appName(s"perfbench-$workload")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", dir.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.bind(spark)
    spark
  }

  /** Set up `n` times and report the median as `setup_s`. The first
    * set-up runs from JVM start (read from the RuntimeMXBean); each later
    * one tears the previous state and session down untimed, then times a
    * fresh session and `prepare`. */
  def setups[S](n: Int)(prepare: Int => S)(teardown: S => Unit): S = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var state: Option[S] = None
    val secs = (1 to n).map { k =>
      state.foreach { s => teardown(s); stopSession() }
      val t0 = System.nanoTime()
      session()
      state = Some(prepare(k))
      val took = if (k == 1) (System.currentTimeMillis() - jvmStartMs) / 1e3
        else (System.nanoTime() - t0) / 1e9
      note(f"set-up $k: $took%.3f s")
      took
    }
    metric("setup_s", Stats.median(secs), "s")
    state.get
  }

  /** A run-scoped directory; `release` deletes it, and the run fails if
    * any is still on disk at the end. */
  def runDir(name: String): String = {
    val p = dir.resolve(name)
    runDirs += p
    p.toString
  }

  def release(path: String): Unit = deleteTree(Paths.get(path))

  def sampleExternalLoad(): Unit = extLoad += graft.LoadGate.externalBusyCores(250)

  def guarded(what: String)(f: => Unit): Unit =
    try f catch {
      case e: Throwable =>
        failed += 1
        problem(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        e.printStackTrace()
    }

  /** Drop every table the run created and stop Spark. The run fails if a
    * table directory or a run directory is still on disk; the
    * per-table write-counter files the engine keeps beside its tables
    * outlive DROP TABLE, so they are deleted here. */
  def finish(): Unit = {
    if (spark != null) {
      spark.catalog.listTables().collect().foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
      spark.stop()
    }
    val wh = dir.resolve("warehouse")
    val (tables, files) = (if (Files.isDirectory(wh))
      Files.list(wh).iterator().asScala.toList else Nil).partition(Files.isDirectory(_))
    (tables ++ runDirs.filter(Files.exists(_))).foreach { p =>
      problem(s"left behind: ${dir.relativize(p)}")
      deleteTree(p)
    }
    files.foreach(Files.delete)
  }

  def perLayerCommon(): Unit = {
    val heapPeak = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    metric("bench.heap_peak_mb", heapPeak / 1048576.0, "MB")
    metric("bench.ext_load_cores", if (extLoad.isEmpty) 0.0 else extLoad.max, "cores")
  }

  def writeResult(): Unit = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    val probs = problems.map(p => "\"" + p.replace("\\", "\\\\")
      .replace("\"", "'").replace("\n", " ") + "\"").mkString(",")
    Files.write(dir.resolve("result.json"), (s"""{"correct":${problems.isEmpty},""" +
      s""""attempted":$attempted,"failed":$failed,"metrics":{$ms},""" +
      s""""problems":[$probs]}""").getBytes("UTF-8"))
    ()
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).iterator().asScala.toList.reverse.foreach(Files.delete)
  }
}

/** `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --dir <run dir> --data <table dir> [--spans <file>]` — one run of one
  * workload; `run.py` is the entry point that builds, prepares inputs
  * and prints the result. */
object Main {
  val Workloads: Map[String, Run => Unit] = Map(
    "ingest_passthrough" -> Ingest.passthrough,
    "ingest_curate" -> Ingest.curate,
    "index_maintain" -> IndexMaintain.run,
    "query_mix" -> QueryMix.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val body = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val run = new Run(workload, opts("seed").toLong, opts("seconds").toInt,
      opts.get("trace").contains("1"), Paths.get(opts("dir")),
      opts.getOrElse("data", ""))
    run.guarded(workload)(body(run))
    if (run.traced) {
      run.perLayerCommon()
      PerLayer.fill(run)
    }
    opts.get("spans").foreach(p => run.tracer.write(Paths.get(p)))
    run.guarded("cleanup")(run.finish())
    run.writeResult()
    System.exit(0)
  }
}
