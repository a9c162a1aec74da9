package graft

import graft.functions.TextFunctions
import graft.ops.TfIdf
import org.apache.spark.sql.functions._

/** TF-IDF semantics: the run-length term-count kernel against hand-counted
  * documents, idf math against the textbook formula, keyword ranking and
  * tie-breaks, and the zero-shuffle plan shape of the TF half. */
class TfIdfSpec extends SparkSpec {
  import spark.implicits._

  test("termCounts: run-length counts equal hand-counted term frequencies") {
    val d = Seq(
      (1L, "b a b a b"),  // a:2 b:3
      (2L, "x"),          // x:1
      (3L, "")).toDF("doc_id", "text") // "" tokenizes to [""] → ("", 1)
    val got = d.select(col("doc_id"),
        TextFunctions.termCounts(col("text")).as("tc"))
      .as[(Long, Seq[(String, Int)])].collect().toMap
    assert(got(1L).toMap == Map("a" -> 2, "b" -> 3), s"doc 1: ${got(1L)}")
    assert(got(2L) == Seq(("x", 1)), s"doc 2: ${got(2L)}")
    assert(got(3L) == Seq(("", 1)), s"doc 3: ${got(3L)}")
    // terms emitted in sorted order, each exactly once
    assert(got(1L).map(_._1) == got(1L).map(_._1).sorted.distinct)
  }

  test("native termCounts kernel ≡ the Column-HOF reference form, bit for bit") {
    val edge = Seq(
      (1L, "b a b A b"),            // case folding + run-length
      (2L, "x\t y\n\n z  x"),       // every ASCII \s variant collapses
      (3L, ""), (4L, "   "),        // empty + all-whitespace → ("", 1)
      (5L, "é É zz aa")   // unicode lowercase é/É merge
    ).toDF("doc_id", "text")
    for (d <- Seq(edge, Tables.documents(spark, sf).select(col("doc_id"), col("text")))) {
      val kernel = d.select(col("doc_id"), TextFunctions.termCounts(col("text")).as("tc"))
      val hof = d.select(col("doc_id"), KernelTwins.termCountsHof(col("text")).as("tc"))
      // whole-array comparison: order inside the array must match too
      assert(kernel.exceptAll(hof).isEmpty && hof.exceptAll(kernel).isEmpty,
        "kernel and HOF termCounts must agree including array order")
    }
  }

  test("termCounts agrees with explode+groupBy on real corpus text") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 100)
    val kernel = docs.select(col("doc_id"),
        explode(TextFunctions.termCounts(col("text"))).as("p"))
      .select(col("doc_id"), col("p.term"), col("p.cnt").cast("long").as("cnt"))
    val naive = docs.select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("cnt"))
    assert(kernel.exceptAll(naive).isEmpty && naive.exceptAll(kernel).isEmpty,
      "kernel and explode+groupBy term counts must be identical")
  }

  test("tfIdf: textbook cnt·ln(N/df) on a hand-computed corpus") {
    // 4 docs; "rare" appears in 1 doc (twice), "common" in all 4
    val d = Seq(
      (1L, "common rare rare"), (2L, "common"), (3L, "common"),
      (4L, "common")).toDF("doc_id", "text")
    val scores = TfIdf.tfIdf(d, "doc_id", "text")
      .filter(col("doc_id") === 1L)
      .select("term", "tfidf").as[(String, Double)].collect().toMap
    assert(math.abs(scores("rare") - 2.0 * math.log(4.0 / 1.0)) < 1e-12)
    assert(math.abs(scores("common") - 1.0 * math.log(4.0 / 4.0)) < 1e-12)
  }

  test("keywords: rank by score desc, ties broken on term; k respected") {
    val d = Seq(
      (1L, "zz zz aa aa common"), (2L, "common qq")).toDF("doc_id", "text")
    val kw = TfIdf.keywords(d, "doc_id", "text", k = 2)
      .filter(col("doc_id") === 1L)
      .orderBy("rnk").select("term").as[String].collect()
    // aa and zz tie on score (cnt 2, df 1) → term ascending breaks it
    assert(kw.toSeq == Seq("aa", "zz"), s"got ${kw.toSeq}")
    assert(TfIdf.keywords(d, "doc_id", "text", k = 1)
      .filter(col("doc_id") === 1L).count() == 1)
  }

  test("plan shape: TF half is narrow; DF agg is the only pre-join shuffle") {
    val d = Seq((1L, "a b")).toDF("doc_id", "text")
    // the per-row kernel alone must not shuffle
    val kernelPlan = d.select(TextFunctions.termCounts(col("text")))
      .queryExecution.executedPlan.toString
    assert(!kernelPlan.contains("Exchange"),
      s"termCounts must stay narrow:\n$kernelPlan")
    // full tfIdf: expect shuffles only for the DF groupBy and the idf
    // join — never a (doc, term) occurrence shuffle (no shuffle whose
    // partitioning carries the doc id before the window stage)
    val p = TfIdf.tfIdf(d, "doc_id", "text")
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 3,
      s"tfIdf must shuffle at most thrice (DF agg + join sides), saw $exchanges:\n${p.take(1200)}")
    assert(!p.contains("hashpartitioning(doc_id"),
      s"TF relation must not be shuffled by doc id:\n${p.take(1200)}")
  }

  test("bm25: exact score on a symmetric corpus; tf and idf monotonicity") {
    // n=2 docs, query term in one: idf = ln(1 + 1.5/1.5) = ln 2; with
    // tf=1 and dl=avgdl the tf part is (k1+1)/(1+k1) = 1 → score = ln 2
    val d0 = Seq((1L, "a x"), (2L, "b y")).toDF("doc_id", "text")
    val r0 = TfIdf.bm25(d0, "doc_id", "text", Seq("a"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r0.keySet == Set(1L), s"only the matching doc scores: $r0")
    assert(math.abs(r0(1L) - math.log(2.0)) < 1e-9, s"got ${r0(1L)}")

    // same length, higher tf → higher score
    val d1 = Seq((1L, "a a a b"), (2L, "a b c d")).toDF("doc_id", "text")
    val r1 = TfIdf.bm25(d1, "doc_id", "text", Seq("a"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r1(1L) > r1(2L), s"tf monotonicity: $r1")

    // same tf and length, rarer term → higher score
    val d2 = Seq((1L, "a b"), (2L, "a c"), (3L, "a d"), (4L, "e f"))
      .toDF("doc_id", "text")
    val r2 = TfIdf.bm25(d2, "doc_id", "text", Seq("a", "e"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r2(4L) > r2(1L), s"idf monotonicity (df_e=1 < df_a=3): $r2")
  }

  test("bm25: query-term filter runs before explode; corpus never shuffled") {
    val d = Seq((1L, "a b")).toDF("doc_id", "text")
    val p = TfIdf.bm25(d, "doc_id", "text", Seq("a"))
      .queryExecution.executedPlan.toString
    // shuffles: df_t agg (tiny) + final per-doc agg; never an occurrence
    // shuffle of (doc, term) before the query-term filter
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2,
      s"bm25 must shuffle at most twice, saw $exchanges:\n${p.take(1200)}")
    assert(p.contains("BroadcastHashJoin"),
      s"df_t must broadcast back:\n${p.take(1200)}")
  }

  test("trigram substring index: probe ≡ direct contains scan; buckets prune") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    TfIdf.trigramIndexBuild(docs, "doc_id", "text", "graft_spec_trgm",
      tableBuckets = 8)
    for (q <- Seq("merge window", "spark", "xyz_never_present", "e m")) {
      if (q.length >= 3) {
        val got = TfIdf.trigramIndexProbe(spark, "graft_spec_trgm",
          docs, "doc_id", "text", q).as[Long].collect().toSet
        val want = docs.filter(col("text").contains(q))
          .select(col("doc_id")).as[Long].collect().toSet
        assert(got == want, s"query '$q': extra=${(got -- want).take(5)} " +
          s"missing=${(want -- got).take(5)}")
      }
    }
    assert(intercept[IllegalArgumentException](
      TfIdf.trigramIndexProbe(spark, "graft_spec_trgm", docs,
        "doc_id", "text", "ab")).getMessage.contains("3 characters"))
    // the trigram IN predicate must be pushed into the posting scan
    // with only (doc_id, tg) read — bucket pruning does NOT apply here
    // by planner design (DisableUnnecessaryBucketedScan: nothing
    // consumes tg-partitioning); row-group stats over the sortBy(tg)
    // clustering carry the skip instead
    val probed = TfIdf.trigramIndexProbe(spark, "graft_spec_trgm",
      docs, "doc_id", "text", "merge window")
    probed.collect()
    val p = probed.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(p.contains("PushedFilters: [In(tg, "),
      "trigram IN must reach the posting scan:\n" + p.take(900))
    // r16: the posting rows carry the retraction lifecycle's _gen
    // bookkeeping column (a constant-run RLE int64 — negligible read);
    // AQE's empty-relation propagation removes the tombstone join
    // itself when nothing is deleted, but the residual generation
    // filter keeps the column in the scan. The pin still proves the
    // text column never reaches the posting scan.
    assert(p.contains("ReadSchema: struct<doc_id:bigint,tg:string,_gen:bigint>"),
      "posting scan must read only (doc_id, tg, _gen):\n" + p.take(900))
    assert("Join".r.findAllIn(p).length == 1,
      "only the contains-verify join may remain — the empty tombstone " +
        "join must be AQE-pruned:\n" + p.take(900))
  }

  test("trigram fuzzy probe: typo still matches; count twin of the direct definition") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    TfIdf.trigramIndexBuild(docs, "doc_id", "text", "graft_spec_trgm_fz",
      tableBuckets = 8)
    val exactHits = TfIdf.trigramIndexProbe(spark, "graft_spec_trgm_fz",
      docs, "doc_id", "text", "merge window").as[Long].collect().toSet
    assume(exactHits.nonEmpty, "fixture needs real 'merge window' docs")
    // the typo'd query finds NOTHING exactly...
    assert(TfIdf.trigramIndexProbe(spark, "graft_spec_trgm_fz",
      docs, "doc_id", "text", "merge windoz").count() == 0)
    // ...but every exact-phrase doc survives the 0.9 fuzzy threshold
    // (a 1-char edit perturbs at most 3 of the 10 query trigrams, and
    // here only 'doz' is novel)
    val fuzzy = TfIdf.trigramFuzzyProbe(spark, "graft_spec_trgm_fz",
      "merge windoz", minFrac = 0.9)
      .select("doc_id").as[Long].collect().toSet
    assert(exactHits.subsetOf(fuzzy),
      s"missing=${(exactHits -- fuzzy).take(5)}")
    // count twin of the definition, computed without the index
    val qTgs = "merge windoz".sliding(3).toSeq.distinct
    val want = docs
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1), length(col("text")) - 2),
          i => col("text").substr(i, lit(3))))).as("tg"))
      .filter(col("tg").isin(qTgs: _*))
      .groupBy("doc_id").agg(count(lit(1)).as("m"))
      .filter(col("m") >= 9)
      .select("doc_id").as[Long].collect().toSet
    assert(fuzzy == want)
  }

  test("persisted inverted index: probe ≡ direct bm25; append ≡ rebuild; buckets prune") {
    val docs = Tables.documents(spark, sf)
    val terms = Seq("spark", "merge", "window")
    TfIdf.searchIndexBuild(docs, "doc_id", "text", "graft_spec_inv",
      tableBuckets = 8)
    val probed = TfIdf.searchIndexProbe(spark, "graft_spec_inv", terms)
    val direct = TfIdf.bm25(docs, "doc_id", "text", terms)
      .select(col("doc_id").cast("long").as("doc_id"), col("score"),
        col("n_terms"))
    val joined = probed.alias("p")
      .join(direct.alias("d"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("p.score").as("ps"), col("d.score").as("ds"),
        col("p.n_terms").as("pn"), col("d.n_terms").as("dn"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(!r.isNullAt(1) && !r.isNullAt(2),
        s"doc ${r.getLong(0)} present on only one side")
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-9,
        s"doc ${r.getLong(0)}: probe ${r.getDouble(1)} vs direct ${r.getDouble(2)}")
      assert(r.getLong(3) == r.getLong(4))
    }
    // incremental: build half + append half probes like the full build
    TfIdf.searchIndexBuild(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", "graft_spec_inv2", tableBuckets = 8)
    TfIdf.searchIndexAppend(docs.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", "graft_spec_inv2", tableBuckets = 8)
    val inc = TfIdf.searchIndexProbe(spark, "graft_spec_inv2", terms)
    assert(inc.exceptAll(probed).isEmpty && probed.exceptAll(inc).isEmpty,
      "incrementally-built index must probe identically to a full build")
    // scale pin: the term IN filter prunes the bucketed posting scan —
    // only the query terms' buckets are read, never the whole index
    probed.collect()
    val p = probed.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(p)
    assert(sel.isDefined, "posting scan must be bucket-pruned:\n" + p.take(900))
    assert(sel.get.group(1).toInt < sel.get.group(2).toInt,
      "probe must read a strict subset of buckets: " + sel.get.matched)
  }

  test("searchIndexScoreDocs: transposed probe — indexed docs score exactly their probe rows; unseen terms rank") {
    // r16: scoring an INCOMING doc against the index's statistics must
    // be the same arithmetic as ranking the INDEXED corpus — for a doc
    // that is in the index, the two paths must agree to fp noise.
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val terms = Seq("spark", "merge", "window")
    val tbl = "graft_spec_inv_score"
    try {
      TfIdf.searchIndexBuild(docs, "doc_id", "text", tbl, tableBuckets = 8)
      val probe = TfIdf.searchIndexProbe(spark, tbl, terms)
      val scored = TfIdf.searchIndexScoreDocs(spark, tbl, docs,
        "doc_id", "text", terms)
      val joined = scored.alias("s")
        .join(probe.alias("p"), Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("s.score").as("ss"), col("p.score").as("ps"),
          col("s.n_terms").as("sn"), col("p.n_terms").as("pn"))
        .collect()
      assert(joined.nonEmpty)
      joined.foreach { r =>
        assert(!r.isNullAt(1) && !r.isNullAt(2),
          s"doc ${r.getLong(0)} present on only one side")
        assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-9,
          s"doc ${r.getLong(0)}: scored ${r.getDouble(1)} vs probed ${r.getDouble(2)}")
        assert(r.getLong(3) == r.getLong(4))
      }
      // a query term ABSENT from the corpus still ranks (df_t = 0, the
      // standard unseen-term idf) — novel vocabulary must not zero out
      val novel = TfIdf.searchIndexScoreDocs(spark, tbl,
        Seq((9001L, "zzznovelterm appears here")).toDF("doc_id", "text"),
        "doc_id", "text", Seq("zzznovelterm"))
        .select("doc_id", "score").as[(Long, Double)].collect()
      assert(novel.length == 1 && novel.head._2 > 0.0,
        s"unseen query term must score via df_t=0 idf: ${novel.toSeq}")
      // a doc matching NO query term emits nothing
      assert(TfIdf.searchIndexScoreDocs(spark, tbl,
        Seq((9002L, "completely unrelated words")).toDF("doc_id", "text"),
        "doc_id", "text", terms).isEmpty)
    } finally
      Seq(tbl, tbl + "_del", tbl + "_docs", tbl + "_stats").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("trigramIndexDelete: exact + fuzzy probes drop retracted docs; append revives; compact folds") {
    // r16: the trigram posting index joins the retraction lifecycle —
    // the direct-definition twin over the SURVIVING corpus is the
    // oracle for both probe flavors.
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val tbl = "graft_spec_trgm_tomb"
    try {
      TfIdf.trigramIndexBuild(docs.filter(col("doc_id") % 3 =!= 2),
        "doc_id", "text", tbl, tableBuckets = 8)
      TfIdf.trigramIndexAppend(docs.filter(col("doc_id") % 3 === 2),
        "doc_id", "text", tbl, tableBuckets = 8)
      TfIdf.trigramIndexDelete(spark, tbl,
        docs.filter(col("doc_id") % 4 === 0).select("doc_id"), "doc_id")
      def exact() = TfIdf.trigramIndexProbe(spark, tbl,
        docs, "doc_id", "text", "merge window").as[Long].collect().toSet
      val got = exact()
      val want = docs.filter(col("doc_id") % 4 =!= 0 &&
          col("text").contains("merge window"))
        .select("doc_id").as[Long].collect().toSet
      assert(got == want, s"exact probe must equal the contains scan over " +
        s"the survivors: extra=${(got -- want).take(5)} missing=${(want -- got).take(5)}")
      val deletedHits = docs.filter(col("doc_id") % 4 === 0 &&
        col("text").contains("merge window")).count()
      assert(deletedHits > 0 && got.nonEmpty,
        "fixture must delete docs that matched AND keep some that match")
      // fuzzy probe: same count twin, restricted to the survivors
      val qTgs = "merge windoz".sliding(3).toSeq.distinct
      val fuzzy = TfIdf.trigramFuzzyProbe(spark, tbl, "merge windoz",
        minFrac = 0.9).select("doc_id").as[Long].collect().toSet
      val wantFuzzy = docs.filter(col("doc_id") % 4 =!= 0)
        .select(col("doc_id"),
          explode(array_distinct(transform(
            sequence(lit(1), length(col("text")) - 2),
            i => col("text").substr(i, lit(3))))).as("tg"))
        .filter(col("tg").isin(qTgs: _*))
        .groupBy("doc_id").agg(count(lit(1)).as("m"))
        .filter(col("m") >= 9)
        .select("doc_id").as[Long].collect().toSet
      assert(fuzzy == wantFuzzy, "fuzzy probe must count over live postings only")
      // re-append revives a deleted matching doc
      val revId = docs.filter(col("doc_id") % 4 === 0 &&
          col("text").contains("merge window"))
        .select("doc_id").as[Long].head()
      TfIdf.trigramIndexAppend(docs.filter(col("doc_id") === revId),
        "doc_id", "text", tbl, tableBuckets = 8)
      assert(exact() == got + revId, "re-appended doc must match again")
      // compact folds; probe results unchanged
      TfIdf.trigramIndexCompact(spark, tbl, tableBuckets = 8)
      assert(spark.table(tbl + "_del").isEmpty,
        "compact must truncate the tombstone table")
      assert(exact() == got + revId, "compaction must not change probe results")
    } finally
      Seq(tbl, tbl + "_del").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("searchIndexDelete: probe ≡ rebuilt over survivors; re-delete retracts zero; compact folds") {
    // r16: BM25 postings join the tombstone lifecycle. A delete must
    // retract BOTH the doc's postings and its additive-stats
    // contribution (n_docs, total_dl) — otherwise a retracted document
    // keeps ranking and its length keeps skewing avgdl for everyone.
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val terms = Seq("spark", "merge", "window")
    val tbl = "graft_spec_inv_tomb"
    val tbl2 = tbl + "_rebuilt"
    try {
      TfIdf.searchIndexBuild(docs.filter(col("doc_id") % 3 =!= 2),
        "doc_id", "text", tbl, tableBuckets = 8)
      TfIdf.searchIndexAppend(docs.filter(col("doc_id") % 3 === 2),
        "doc_id", "text", tbl, tableBuckets = 8)
      val delIds = docs.filter(col("doc_id") % 5 === 0).select("doc_id")
      TfIdf.searchIndexDelete(spark, tbl, delIds, "doc_id")
      // survivors twin: a from-scratch build without the deleted docs —
      // scores must agree to fp noise (same integer stats arithmetic)
      TfIdf.searchIndexBuild(docs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", tbl2, tableBuckets = 8)
      def compare(): Unit = {
        val got = TfIdf.searchIndexProbe(spark, tbl, terms)
        val want = TfIdf.searchIndexProbe(spark, tbl2, terms)
        val joined = got.alias("g").join(want.alias("w"), Seq("doc_id"), "full_outer")
          .select(col("doc_id"), col("g.score").as("gs"), col("w.score").as("ws"),
            col("g.n_terms").as("gn"), col("w.n_terms").as("wn"))
          .collect()
        assert(joined.nonEmpty)
        joined.foreach { r =>
          assert(!r.isNullAt(1) && !r.isNullAt(2),
            s"doc ${r.getLong(0)} present on only one side")
          assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 1e-9,
            s"doc ${r.getLong(0)}: tombstoned ${r.getDouble(1)} vs rebuilt ${r.getDouble(2)}")
          assert(r.getLong(3) == r.getLong(4))
        }
        assert(joined.forall(_.getLong(0) % 5 != 0), "no deleted doc may rank")
      }
      compare()
      def stats() = spark.table(tbl + "_stats")
        .agg(sum("n_docs"), sum("total_dl")).as[(Long, Long)].head()
      val s1 = stats()
      assert(s1 == (docs.filter(col("doc_id") % 5 =!= 0)
          .agg(count(lit(1)), sum(size(graft.functions.TextFunctions.tokens(col("text")))))
          .as[(Long, Long)].head()),
        "net stats must equal the survivors' exact totals")
      // re-deleting already-deleted ids (and a never-indexed one) must
      // retract ZERO — the negative row is computed from the LIVE docs
      TfIdf.searchIndexDelete(spark, tbl, delIds, "doc_id")
      TfIdf.searchIndexDelete(spark, tbl,
        Seq(99999999L).toDF("doc_id"), "doc_id")
      assert(stats() == s1, "re-delete must not double-retract the stats")
      compare()
      // compact folds postings + _docs + stats, truncates _del
      TfIdf.searchIndexCompact(spark, tbl, tableBuckets = 8)
      assert(spark.table(tbl + "_del").isEmpty,
        "compact must truncate the tombstone table")
      assert(spark.table(tbl + "_stats").count() == 1,
        "compact must collapse the stats log to one net row")
      assert(stats() == s1, "compact must preserve the net stats")
      compare()
      // delete → re-append revives the doc with fresh stats
      TfIdf.searchIndexDelete(spark, tbl,
        docs.filter(col("doc_id") === 1).select("doc_id"), "doc_id")
      TfIdf.searchIndexAppend(docs.filter(col("doc_id") === 1),
        "doc_id", "text", tbl, tableBuckets = 8)
      assert(stats() == s1, "delete + re-append must round-trip the stats")
      compare()
    } finally
      Seq(tbl, tbl + "_del", tbl + "_docs", tbl + "_stats",
        tbl2, tbl2 + "_del", tbl2 + "_docs", tbl2 + "_stats").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("searchIndexDelete retry: partial failure (stats landed, tombstones did not) converges exactly") {
    // r16 ADVICE: the delete's two appends are not atomic. The delete
    // is committed in flight on the index log (claiming its sequence
    // under its id-set digest) and the retraction row, stamped with the
    // sequence and digest, is written FIRST, so re-running the same
    // delete after a crash between the two appends finds its own delete
    // in flight, sees the already-applied retraction in _stats, skips
    // it, and completes the tombstone append: no double-retract, exact
    // final state.
    import graft.ops.{Bucketing, IndexLog}
    val docs = Tables.documents(spark, sf)
    val tbl = "graft_spec_inv_retry"
    try {
      TfIdf.searchIndexBuild(docs, "doc_id", "text", tbl, tableBuckets = 4)
      val delIds = docs.filter(col("doc_id") % 5 === 0).select("doc_id")
      // simulate the crash: replay ONLY the first half of the delete —
      // the in-flight commit and the (seq, digest)-stamped retraction —
      // tombstones unwritten
      val log = IndexLog(spark, tbl)
      val seq = log.gen + 1L
      val sig = delIds.select(col("doc_id").cast("long").as("doc_id"))
        .distinct().select(xxhash64(col("doc_id")).as("_h"))
        .agg(expr("bit_xor(_h)")).as[Long].head()
      log.commit(gen = seq, op = Some(IndexLog.Op("delete", sig)))
      spark.table(tbl + "_docs").join(delIds, "doc_id")
        .agg((count(lit(1)) * -1L).cast("long").as("n_docs"),
          (coalesce(sum("dl"), lit(0L)) * -1L).cast("long").as("total_dl"))
        .withColumn("seq", lit(seq)).withColumn("del_sig", lit(sig))
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .format("parquet").saveAsTable(tbl + "_stats")
      assert(spark.table(tbl + "_del").isEmpty,
        "crash state: stats retracted, no tombstones yet")
      // a DIFFERENT delete while the partial one is in flight must fail
      // LOUDLY (a different id set than the in-flight one): silently
      // skipping ITS retraction would skew every score — and silently applying
      // it would leave the abandoned delete's retraction dangling
      val ex0 = intercept[IllegalStateException](
        TfIdf.searchIndexDelete(spark, tbl,
          docs.filter(col("doc_id") === 7L).select("doc_id"), "doc_id"))
      assert(ex0.getMessage.contains("partial retraction"), ex0.getMessage)
      TfIdf.searchIndexDelete(spark, tbl, delIds, "doc_id") // the retry
      val got = spark.table(tbl + "_stats")
        .agg(sum("n_docs"), sum("total_dl")).as[(Long, Long)].head()
      val want = docs.filter(col("doc_id") % 5 =!= 0)
        .agg(count(lit(1)),
          sum(size(TextFunctions.tokens(col("text")))))
        .as[(Long, Long)].head()
      assert(got == want, s"retry must not double-retract: $got vs $want")
      assert(spark.table(tbl + "_del").select("seq").as[Long].collect()
          .forall(_ == seq), "retry must tombstone at the pre-claimed seq")
      assert(TfIdf.searchIndexProbe(spark, tbl, Seq("merge"))
          .filter(col("doc_id") % 5 === 0).isEmpty,
        "retry must complete the tombstone half: deleted docs stop ranking")
      // legacy-schema migration: rewrite _stats WITHOUT the bookkeeping
      // columns (an index persisted before they existed) — the next
      // lifecycle op must migrate in place instead of failing analysis
      val legacy = spark.table(tbl + "_stats")
        .select("n_docs", "total_dl").localCheckpoint(true)
      Bucketing.writeTable(legacy, tbl + "_stats")
      TfIdf.searchIndexDelete(spark, tbl,
        docs.filter(col("doc_id") === 7L).select("doc_id"), "doc_id")
      assert(spark.table(tbl + "_stats").columns.toSet ==
        Set("n_docs", "total_dl", "seq", "del_sig"),
        "legacy _stats must be migrated in place")
      assert(TfIdf.searchIndexProbe(spark, tbl, Seq("merge"))
        .filter(col("doc_id") === 7L).isEmpty)
    } finally
      Seq(tbl, tbl + "_del", tbl + "_docs", tbl + "_stats").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("searchIndexCompact refuses a dangling partial-delete retraction; compacts exactly after the retry") {
    // r17 ADVICE (medium): compact blindly summing _stats would net a
    // crashed delete's retraction (seq past the latest tombstone — its
    // tombstones never landed) into the collapsed stats row while the
    // docs it retracted stay LIVE, then reset seq to 0 — permanently
    // and undetectably baking in the corpus-stats skew the (seq,
    // del_sig) retry machinery exists to prevent. Compact must fail
    // loudly instead, with the same retry-to-completion contract as
    // searchIndexDelete's digest-mismatch path.
    import graft.ops.IndexLog
    val docs = Tables.documents(spark, sf)
    val tbl = "graft_spec_inv_cmp_dangle"
    try {
      TfIdf.searchIndexBuild(docs, "doc_id", "text", tbl, tableBuckets = 4)
      val delIds = docs.filter(col("doc_id") % 7 === 0).select("doc_id")
      // crash state: the delete committed in flight and its (seq,
      // digest)-stamped retraction landed, the tombstone append did not
      // (stats land FIRST by design)
      val log = IndexLog(spark, tbl)
      val seq = log.gen + 1L
      val sig = delIds.select(col("doc_id").cast("long").as("doc_id"))
        .distinct().select(xxhash64(col("doc_id")).as("_h"))
        .agg(expr("bit_xor(_h)")).as[Long].head()
      log.commit(gen = seq, op = Some(IndexLog.Op("delete", sig)))
      spark.table(tbl + "_docs").join(delIds, "doc_id")
        .agg((count(lit(1)) * -1L).cast("long").as("n_docs"),
          (coalesce(sum("dl"), lit(0L)) * -1L).cast("long").as("total_dl"))
        .withColumn("seq", lit(seq)).withColumn("del_sig", lit(sig))
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .format("parquet").saveAsTable(tbl + "_stats")
      val ex = intercept[IllegalStateException](
        TfIdf.searchIndexCompact(spark, tbl, tableBuckets = 4))
      assert(ex.getMessage.contains("partial retraction") &&
        ex.getMessage.contains("compact"),
        s"compact must name the pending delete and the remedy: ${ex.getMessage}")
      // retry the delete to completion, then compact proceeds and the
      // probe is unchanged by construction
      TfIdf.searchIndexDelete(spark, tbl, delIds, "doc_id")
      val before = TfIdf.searchIndexProbe(spark, tbl, Seq("merge", "data"))
        .as[(Long, Double, Long)].collect().sortBy(_._1).toSeq
      val n = TfIdf.searchIndexCompact(spark, tbl, tableBuckets = 4)
      assert(n > 0L)
      val after = TfIdf.searchIndexProbe(spark, tbl, Seq("merge", "data"))
        .as[(Long, Double, Long)].collect().sortBy(_._1).toSeq
      assert(after.map(_._1) == before.map(_._1) &&
        after.zip(before).forall { case (a, b) =>
          math.abs(a._2 - b._2) < 1e-9 && a._3 == b._3 },
        "compact after the completed retry must not move any score")
      assert(spark.table(tbl + "_stats")
          .agg(coalesce(max("seq"), lit(0L))).as[Long].head() == 0L,
        "compact must collapse _stats to the net row at seq 0")
    } finally
      Seq(tbl, tbl + "_del", tbl + "_docs", tbl + "_stats").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }
}
