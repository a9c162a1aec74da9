package graft

import graft.ops.{Dedup, IndexLog, TfIdf}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** The lifecycle job budget: the Spark jobs (scheduler round trips)
  * each lifecycle op runs on small fixtures. Bookkeeping reads go to the
  * index's [[IndexLog]] — a file read, no job — so an op's
  * jobs are its data work plus the retry bookkeeping the log cannot see.
  * The counts are pinned exactly: a change that re-adds a bookkeeping
  * job (or drops a data job) moves them and must say why. */
class LifecycleJobsSpec extends SparkSpec {

  private val Key = "graft.spec.jobBudget"

  /** Jobs started by `op` on this thread (tagged by a local property, so
    * concurrently running suites cannot contribute). */
  private def jobs(tag: String)(op: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Key) == tag))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(Key, tag)
    try {
      op
      org.apache.spark.graftbus.ListenerDrain.drain(sc)
    } finally {
      sc.setLocalProperty(Key, null)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  test("lifecycle job budget: a log head read runs no job; fingerprint and BM25 append/delete run their pinned counts") {
    val docs = spark.range(40).select(col("id").as("doc_id"),
      concat(lit("job budget fixture text "), col("id")).as("text"))
    val base = docs.filter(col("doc_id") < 30)
    val batch = docs.filter(col("doc_id") >= 30)
    val dels = docs.filter(col("doc_id") % 7 === 0)
    val fp = "graft_spec_jobs_fp"
    val bm = "graft_spec_jobs_bm25"
    try {
      Dedup.dedupIndexBuild(base, "text", "doc_id", fp, tableBuckets = 4)
      TfIdf.searchIndexBuild(base, "doc_id", "text", bm, tableBuckets = 4)
      var gen = -1L
      assert(jobs("head")({ gen = IndexLog(spark, bm).gen }) == 0 && gen == 0L,
        "reading the generation and pending state must run no Spark job")
      val counts = Seq(
        "dedupIndexAppend" -> jobs("dedup-append")(Dedup.dedupIndexAppend(
          spark, fp, batch, "text", "doc_id", tableBuckets = 4)),
        "dedupIndexDelete" -> jobs("dedup-delete")(Dedup.dedupIndexDelete(
          spark, fp, dels, "text")),
        "searchIndexAppend" -> jobs("bm25-append")(TfIdf.searchIndexAppend(
          batch, "doc_id", "text", bm, tableBuckets = 4)),
        "searchIndexDelete" -> jobs("bm25-delete")(TfIdf.searchIndexDelete(
          spark, bm, dels.select("doc_id"), "doc_id")))
      assert(counts == Seq("dedupIndexAppend" -> 3, "dedupIndexDelete" -> 3,
        "searchIndexAppend" -> 8, "searchIndexDelete" -> 10),
        s"lifecycle job counts moved: $counts")
    } finally
      Seq(fp, fp + "_del", bm, bm + "_del", bm + "_docs", bm + "_stats")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }
}
