package perfbench

import graft.ops.{Linkage, Similarity, TfIdf}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** index_maintain: one client, closed loop, over three persisted indexes
  * built from the sf0.1 `documents`, `customer` and `embeddings` tables —
  * a BM25 search index, an edit-distance (τ = 2) catalog and a residual
  * IVFADC index with its coarse quantizer and PQ codebooks trained in
  * the run.
  *
  * `work_s` times the fixed write script: train, build the three
  * indexes, then append, delete and compact — every write
  * goes to all three indexes, with seeded batches. Probes then run until
  * the run's time is up, round-robin over the three index kinds, against
  * the maintained state (base + appended delta + tombstones).
  * `latency_ms` is the median over kinds of each kind's median probe
  * time, `latency_tail_ms` the slowest kind's median. */
object IndexMaintain {
  val Buckets = 8
  val AppendRows = 50
  val DeleteRows = 20
  val Kinds = Seq("bm25", "edit", "ivfadc")
  val K = 10

  private def tbl(kind: String) = s"perfbench_$kind"

  /** What each index should hold, as the harness tracks it. */
  final class Live(ids: Seq[Long]) {
    val live = mutable.LinkedHashSet[Long](ids: _*)
    val retracted = mutable.Set[Long]()
    def add(xs: Seq[Long]): Unit = { live ++= xs; retracted --= xs }
    def remove(xs: Seq[Long]): Unit = { live --= xs; retracted ++= xs }
    def pick(r: java.util.SplittableRandom, n: Int): Seq[Long] = {
      val arr = live.toIndexedSeq
      Iterator.continually(arr(r.nextInt(arr.size))).distinct.take(n).toSeq
    }
  }

  final class State(val docs: DataFrame, val cust: DataFrame, val emb: DataFrame,
      val docText: mutable.Map[Long, String], val custName: mutable.Map[Long, String],
      val vecs: mutable.Map[Long, Array[Float]])

  def run(run: Run): Unit = {
    val seed = run.seed
    val st = run.setups(3) { _ =>
      val spark = run.spark
      val docs = graft.Tables.documents(spark, run.dataDir).select("doc_id", "text")
      val cust = graft.Tables.customer(spark, run.dataDir).select("c_custkey", "c_name")
      val emb = graft.Tables.embeddings(spark, run.dataDir).select("vec_id", "embedding")
      new State(docs, cust, emb,
        mutable.Map(docs.collect().map(r => r.getLong(0) -> r.getString(1)).toSeq: _*),
        mutable.Map(cust.collect().map(r => r.getLong(0) -> r.getString(1)).toSeq: _*),
        mutable.Map(emb.collect().map(r => r.getLong(0) ->
          r.getSeq[Float](1).toArray).toSeq: _*))
    } { _ => () }
    val spark = run.spark
    import spark.implicits._
    val t = run.tracer
    val live = Map("bm25" -> new Live(st.docText.keys.toSeq.sorted),
      "edit" -> new Live(st.custName.keys.toSeq.sorted),
      "ivfadc" -> new Live(st.vecs.keys.toSeq.sorted))
    run.note("input digest " + Gen.digest(Iterator(s"seed=$seed",
      s"append=$AppendRows delete=$DeleteRows k=$K")))
    run.sampleExternalLoad()
    if (run.traced) t.on()
    def op(name: String)(f: => Unit): Unit = {
      run.attempted += 1
      run.guarded(name)(t.span(name)(f))
    }

    // ---- the fixed write script ----------------------------------------
    var coarse: Array[Seq[Double]] = null
    var codebooks: Array[Array[Seq[Double]]] = null
    var nextId = 1000000L
    def append(round: Int): Unit = {
      val r = Gen.rng(seed, round, 11L)
      val ids = Seq.tabulate(AppendRows)(i => nextId + i)
      nextId += AppendRows
      val docs = ids.map { id =>
        id -> Seq.fill(8 + r.nextInt(80))(Gen.Words(r.nextInt(Gen.Words.length))).mkString(" ")
      }
      val names = ids.map(id => id -> f"Customer#$id%09d")
      val vecs = ids.map { id =>
        val base = st.vecs(live("ivfadc").pick(r, 1).head)
        id -> base.map(x => (x + (r.nextDouble() - 0.5) * 0.02).toFloat)
      }
      t.span("append") {
        op("append.bm25")(TfIdf.searchIndexAppend(docs.toDF("doc_id", "text"),
          "doc_id", "text", tbl("bm25"), Buckets))
        op("append.edit")(Linkage.editIndexAppend(names.toDF("c_custkey", "c_name"),
          "c_custkey", "c_name", tbl("edit"), Buckets))
        op("append.ivfadc")(Similarity.ivfPqIndexAppend(vecs.map { case (i, v) =>
          (i, v.toSeq) }.toDF("vec_id", "embedding"), "vec_id", "embedding",
          codebooks, coarse, tbl("ivfadc"), Buckets))
      }
      st.docText ++= docs; st.custName ++= names; st.vecs ++= vecs
      Kinds.foreach(k => live(k).add(ids))
    }
    def delete(round: Int): Unit = {
      val r = Gen.rng(seed, round, 12L)
      val del = Kinds.map(k => k -> live(k).pick(r, DeleteRows)).toMap
      t.span("delete") {
        op("delete.bm25")(TfIdf.searchIndexDelete(spark, tbl("bm25"),
          del("bm25").toDF("doc_id"), "doc_id"))
        op("delete.edit")(Linkage.editIndexDelete(del("edit").toDF("c_custkey"),
          "c_custkey", tbl("edit")))
        op("delete.ivfadc")(Similarity.ivfPqIndexDelete(del("ivfadc").toDF("vec_id"),
          "vec_id", tbl("ivfadc")))
      }
      Kinds.foreach(k => live(k).remove(del(k)))
    }
    val w0 = System.nanoTime()
    op("train") {
      coarse = Similarity.kmeansFit(st.emb, "vec_id", "embedding", k = 10,
        iters = 3, cosine = false)
    }
    t.span("build") {
      op("build.bm25")(TfIdf.searchIndexBuild(st.docs, "doc_id", "text",
        tbl("bm25"), Buckets))
      op("build.edit")(Linkage.editIndexBuild(st.cust, "c_custkey", "c_name",
        tau = 2, tableName = tbl("edit"), tableBuckets = Buckets))
      op("build.ivfadc") {
        codebooks = Similarity.ivfPqResidualIndexBuild(st.emb, "vec_id", "embedding",
          coarse, m = 16, k = 32, iters = 3, tableName = tbl("ivfadc"),
          tableBuckets = Buckets)
      }
    }
    append(1)
    delete(1)
    t.span("compact") {
      op("compact.bm25")(TfIdf.searchIndexCompact(spark, tbl("bm25"), Buckets))
      op("compact.edit")(Linkage.editIndexCompact(spark, tbl("edit"), Buckets))
      op("compact.ivfadc")(Similarity.ivfPqIndexCompact(spark, tbl("ivfadc"), Buckets))
    }
    val workS = (System.nanoTime() - w0) / 1e9
    if (!run.traced) run.metric("work_s", workS, "s")

    // ---- probes until the run's time is up ------------------------------
    val bm25Probes = mutable.ArrayBuffer[(Seq[String], Seq[(Long, Double, Long)])]()
    val editProbes = mutable.ArrayBuffer[(Seq[(Long, String)], Set[(Long, Long)])]()
    val ivfProbes = mutable.ArrayBuffer[(Seq[(Long, Array[Float])], Seq[(Long, Long)])]()
    val probeMs = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val deadline = System.nanoTime() + (run.seconds * 1e9).toLong
    var i = 0
    while (i < 3 * Kinds.size || System.nanoTime() < deadline) {
      val kind = Kinds(i % Kinds.size)
      val round = i / Kinds.size
      val r = Gen.rng(seed, i, 13L)
      if (run.traced) { if (round % 2 == 0) t.off() else t.on() }
      val p0 = System.nanoTime()
      run.attempted += 1
      run.guarded(s"probe.$kind")(t.span("probe")(t.span(s"probe.$kind")(kind match {
        case "bm25" =>
          val terms = Seq.fill(2)(Gen.Words(r.nextInt(Gen.Words.length))).distinct
          val got = TfIdf.searchIndexProbe(spark, tbl("bm25"), terms)
            .orderBy(desc("score"), col("doc_id")).limit(K).collect()
            .map(x => (x.getLong(0), x.getDouble(1), x.getLong(2))).toSeq
          bm25Probes += ((terms, got))
        case "edit" =>
          val dirty = live("edit").pick(r, 10).map(id => id -> dirtied(r, st.custName(id)))
          val got = Linkage.editIndexProbe(spark, tbl("edit"),
              dirty.toDF("d_id", "d_s"), "d_id", "d_s")
            .select("d_id", "c_id").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
          editProbes += ((dirty, got))
        case _ =>
          val qs = live("ivfadc").pick(r, 5).map(id => (-1L - id) ->
            st.vecs(id).map(x => (x + (r.nextDouble() - 0.5) * 0.02).toFloat))
          val got = Similarity.ivfPqResidualProbe(spark, tbl("ivfadc"),
              qs.map { case (q, v) => (q, v.toSeq) }.toDF("vec_id", "embedding"),
              "vec_id", "embedding", codebooks, coarse, k = K, nprobe = 4)
            .select("q_id", "n_id").collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
          ivfProbes += ((qs, got))
      })))
      if (!run.traced || round % 2 == 1)
        probeMs.getOrElseUpdate(kind, mutable.ArrayBuffer()) += (System.nanoTime() - p0) / 1e6
      if (run.traced && round % 2 == 0)
        probeMs.getOrElseUpdate(kind + ".off", mutable.ArrayBuffer()) += (System.nanoTime() - p0) / 1e6
      i += 1
    }
    t.off()
    val kindMedians = Kinds.flatMap(k => probeMs.get(k).map(xs => Stats.median(xs.toSeq)))
    if (!run.traced) {
      run.metric("latency_ms", Stats.median(kindMedians), "ms")
      run.metric("latency_tail_ms", kindMedians.max, "ms")
    } else {
      val off = Kinds.flatMap(k => probeMs.get(k + ".off").map(xs => Stats.median(xs.toSeq)))
      run.metric("bench.trace_overhead_pct", (kindMedians.sum / off.sum - 1) * 100, "%")
    }

    // ---- checks (untimed) -----------------------------------------------
    val liveDocs = st.docText.filter(kv => live("bm25").live(kv._1)).toSeq.toDF("doc_id", "text")
    bm25Probes.take(1).foreach { case (terms, top) =>
      def rows(df: DataFrame) = df.collect()
        .map(x => (x.getLong(0), math.rint(x.getDouble(1) * 1e6) / 1e6, x.getLong(2))).toSeq
      val got = rows(TfIdf.searchIndexProbe(spark, tbl("bm25"), terms))
      report(run, Checks.sameRows(s"bm25 probe '${terms.mkString(" ")}' vs a fresh scoring",
        got, rows(TfIdf.bm25(liveDocs, "doc_id", "text", terms))))
      report(run, Checks.sameRows("bm25 top-k vs the full probe",
        top.map(_._1), got.sortBy(x => (-x._2, x._1)).take(K).map(_._1)))
    }
    val liveCust = st.custName.filter(kv => live("edit").live(kv._1)).toSeq.toDF("c_id", "c_s")
    editProbes.take(1).foreach { case (dirty, got) =>
      val want = dirty.toDF("d_id", "d_s").crossJoin(liveCust)
        .filter(levenshtein(col("d_s"), col("c_s")) <= 2)
        .select("d_id", "c_id").collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
      report(run, Checks.sameRows("edit probe vs a naive levenshtein join",
        got.toSeq, want))
    }
    val dead = live("ivfadc").retracted.toSet
    report(run, Checks.noRetracted(ivfProbes.map(p => (dead, p._2.map(_._2))).toSeq))
    if (run.traced) {
      val liveVecs = live("ivfadc").live.toSeq.map(id => id -> st.vecs(id))
      val hits = ivfProbes.toSeq.flatMap { case (qs, got) =>
        qs.map { case (q, v) =>
          val exact = liveVecs.sortBy { case (id, w) => (l2(v, w), id) }.take(K).map(_._1).toSet
          got.count(g => g._1 == q && exact(g._2)).toDouble / K
        }
      }
      run.metric("ops.probe_recall", Stats.median(hits), "share")
      PerLayer.OpSpans.foreach(s => PerLayer.spanCounters(run, s, s"ops.$s", isOp = true))
    }
  }

  private def l2(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    s
  }

  /** One substitution and one deletion: within edit distance 2. */
  private def dirtied(r: java.util.SplittableRandom, s: String): String = {
    val p = 9 + r.nextInt(s.length - 10)
    val sub = s.substring(0, p) + "x" + s.substring(p + 1)
    val d = 9 + r.nextInt(sub.length - 9)
    sub.substring(0, d) + sub.substring(d + 1)
  }

  private def report(run: Run, p: Option[String]): Unit = p.foreach { msg =>
    run.failed += 1
    run.problem(msg)
  }
}
