package perfbench

import java.nio.file.{Files, Paths}

/** query_mix: one client, closed loop, sweeping six registry queries
  * through `SparkEntry.queries` over the sf0.1 tables, in an order the
  * seed fixes. A first, untimed sweep in the registry order warms the
  * session (and builds the serving index `q_sim_ivfpq_serve` keeps per
  * session) and writes each result as parquet for the oracle check; timed sweeps then force every
  * plan through the noop sink until the run's time is up (two at least;
  * a traced run makes three: untraced, traced, untraced).
  *
  * `work_s` is the median sweep; `latency_ms` the geometric mean over
  * the six queries of each query's median time; `latency_tail_ms` the
  * slowest query's median. */
object QueryMix {
  val Queries: Seq[String] = PerLayer.Queries

  def run(run: Run): Unit = {
    val order = {
      val r = Gen.rng(run.seed, 0L, 21L)
      val a = Queries.toArray
      for (i <- a.indices.reverse) {
        val j = r.nextInt(i + 1)
        val x = a(i); a(i) = a(j); a(j) = x
      }
      a.toSeq
    }
    run.note("input digest " + Gen.digest(order.iterator) + " order " + order.mkString(","))
    // set-up: a fresh session that has resolved every table's schema
    val qs = run.setups(3) { _ =>
      Seq("region", "nation", "supplier", "customer", "orders", "lineitem",
        "events", "documents", "embeddings")
        .foreach(t => graft.Tables.table(run.spark, run.dataDir, t).schema)
      val all = graft.SparkEntry.queries
      order.map(q => q -> all(q))
    } { _ => () }
    val spark = run.spark
    val t = run.tracer
    // the oracle SQL of each query, for a check against tables that have
    // no committed oracle hashes
    val sql = graft.SparkEntry.oracleSql
    Files.write(run.dir.resolve("oracle_sql.json"), order.map { q =>
      "\"" + q + "\":\"" + org.apache.commons.text.StringEscapeUtils.escapeJson(sql(q)) + "\""
    }.mkString("{", ",", "}").getBytes("UTF-8"))

    // read by run.py after the JVM exits; it removes the run directory
    val out = run.dir.resolve("results").toString
    val all = qs.toMap
    Queries.foreach { q =>
      val f = all(q)
      run.attempted += 1
      run.guarded(q)(t.span("warmup") {
        f(spark, run.dataDir).write.parquet(Paths.get(out, q).toString)
      })
    }
    run.sampleExternalLoad()
    val perQuery = Queries.map(_ -> scala.collection.mutable.ArrayBuffer[Double]()).toMap
    val sweeps = scala.collection.mutable.ArrayBuffer[(Boolean, Double)]()
    // untraced: two sweeps at least; traced: untraced, traced, untraced
    val pattern = if (run.traced) Seq(false, true, false) else Seq(false, false)
    val deadline = System.nanoTime() + (run.seconds * 1e9).toLong
    while (sweeps.size < pattern.size || (!run.traced && System.nanoTime() < deadline)) {
      val traceThis = pattern.lift(sweeps.size).getOrElse(false)
      if (traceThis) t.on() else t.off()
      val s0 = System.nanoTime()
      qs.foreach { case (q, f) =>
        run.attempted += 1
        val q0 = System.nanoTime()
        run.guarded(q)(t.span(q) {
          f(spark, run.dataDir).write.format("noop").mode("overwrite").save()
        })
        if (traceThis || !run.traced) perQuery(q) += (System.nanoTime() - q0) / 1e6
      }
      sweeps += ((traceThis, (System.nanoTime() - s0) / 1e9))
      run.note(f"sweep ${sweeps.size}: ${sweeps.last._2}%.3f s" + (if (traceThis) " (traced)" else ""))
    }
    t.off()
    val medians = Queries.map(q => Stats.median(perQuery(q).toSeq))
    if (run.traced) {
      val (on, off) = sweeps.partition(_._1)
      run.metric("bench.trace_overhead_pct",
        (Stats.median(on.map(_._2).toSeq) / Stats.median(off.map(_._2).toSeq) - 1) * 100, "%")
      Queries.foreach(q => PerLayer.spanCounters(run, q, s"queries.$q", isOp = false))
    } else {
      run.metric("work_s", Stats.median(sweeps.map(_._2).toSeq), "s")
      run.metric("latency_ms", math.exp(medians.map(math.log).sum / medians.size), "ms")
      run.metric("latency_tail_ms", medians.max, "ms")
    }
  }
}
