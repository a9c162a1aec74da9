package graft

import graft.ops.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Semantics of the hash-based operators the DuckDB oracle can't express:
  * MinHash-LSH recall against exact Jaccard, SimHash self-consistency,
  * LSH ANN recall against brute-force cosine.
  */
class DedupSimilaritySpec extends SparkSpec {

  lazy val docs = Tables.documents(spark, sf)
  lazy val emb = Tables.embeddings(spark, sf)

  test("minhash LSH finds every high-jaccard pair (recall on j >= 0.7)") {
    val exact = Dedup.ngramJaccardPairs(docs, "text", "doc_id", "lang",
        threshold = 0.7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    val cand = Dedup.minhashNearDup(docs, "text", "doc_id", threshold = 0.7)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = exact -- cand
    assert(missed.isEmpty, s"LSH missed high-similarity pairs: $missed")
  }

  test("minhash emits no pair below its verification threshold") {
    val cand = Dedup.minhashNearDup(docs, "text", "doc_id", threshold = 0.5)
    val below = cand.filter(col("jaccard") < 0.5).count()
    assert(below == 0)
  }

  test("image near-dup: planted 1-pixel pairs land in a shared band; distinct images die in verify") {
    import graft.ops.{Codecs, Multimodal}
    import spark.implicits._
    // 60 images in 30 planted pairs: (2i, 2i+1) share seed i, the odd
    // sibling perturbed by one pixel byte — the q_image_phash corpus shape
    val bmpUdf = udf((id: Long) => Codecs.synthBmpNear(id / 2, (id % 2).toInt * 128))
    val media = (0L until 60L).toDF("media_id")
      .select(col("media_id"), bmpUdf(col("media_id")).as("payload"))
    val sigs = Multimodal.imageDHash(media)
    val pairs = Dedup.hammingNearDup(sigs,
        prefixBits = 16, maxHamming = 3, bands = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val planted = (0L until 30L).map(i => (2 * i, 2 * i + 1)).toSet
    assert(planted.subsetOf(pairs),
      s"missed planted pairs: ${(planted -- pairs).take(5)}")
    // exact twin: ALL pairs at hamming <= 3 (pigeonhole: 4 bands never
    // miss a <=3-bit pair), nothing else
    val sv = sigs.as[(Long, Long)].collect()
    val exact = (for {
      (ia, sa) <- sv; (ib, sb) <- sv
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    assert(pairs == exact, "banded result must equal the exact hamming<=3 pair set")
    // distinct-seed images are far apart — the verify kills every
    // accidental band collision
    assert(pairs == planted, "unrelated images must not pair at hamming<=3")
  }

  test("hammingNearDupAcross: cross-modal planted pairs found, banded result == exact cross hamming set") {
    import graft.ops.{Codecs, Multimodal}
    import spark.implicits._
    // the q_crossmodal_dup shape at unit scale: 60 images (seed = id),
    // 60 videos — id % 3 == 0 reuses image id's pixels as frame 0 (odd
    // ids with a 1-pixel edit), others draw from a disjoint seed range
    val bmpUdf = udf((id: Long) => Codecs.synthBmpNear(id, 0))
    val aviUdf = udf((id: Long) => Codecs.synthAviNear(
      if (id % 3 == 0) id else 500000L + id % 200000L, (id % 2).toInt * 128))
    val ids = (0L until 60L).toDF("media_id")
    val iSigs = Multimodal.imageDHash(
      ids.select(col("media_id"), bmpUdf(col("media_id")).as("payload")))
    val vSigs = Multimodal.videoKeyframeDHash(
      ids.select(col("media_id"), aviUdf(col("media_id")).as("payload")))
    val pairs = Dedup.hammingNearDupAcross(iSigs, vSigs,
        prefixBits = 16, maxHamming = 3, bands = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val planted = (0L until 60L).filter(_ % 3 == 0).map(i => (i, i)).toSet
    assert(planted.subsetOf(pairs),
      s"missed planted cross-modal pairs: ${(planted -- pairs).take(5)}")
    // exact twin over the CROSS product (no a<b — distinct id spaces)
    val iv = iSigs.as[(Long, Long)].collect()
    val vv = vSigs.as[(Long, Long)].collect()
    val exact = (for {
      (ia, sa) <- iv; (ib, sb) <- vv
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    assert(pairs == exact, "banded cross result must equal the exact hamming<=3 set")
    assert(pairs == planted, "disjoint-seed videos must not pair with any image")
  }

  test("multi-frame cross-modal: NON-frame-0 reuse found; banded == exact over all (video, frame) signatures") {
    // r14 verdict item 3: q_crossmodal_dup fingerprints frame 0 only —
    // the q_crossmodal_frames shape bands EVERY frame's dHash, catching
    // a still embedded at an arbitrary frame offset.
    import graft.ops.{Codecs, Multimodal}
    import spark.implicits._
    val bmpUdf = udf((id: Long) => Codecs.synthBmpNear(id, 0))
    val aviUdf = udf((id: Long) => Codecs.synthAviNearAt(
      if (id % 3 == 0) id else 500000L + id % 200000L,
      (id % 2).toInt * 128, ((id / 3) % 8).toInt))
    val ids = (0L until 60L).toDF("media_id")
    val iSigs = Multimodal.imageDHash(
      ids.select(col("media_id"), bmpUdf(col("media_id")).as("payload")))
    val fSigs = Multimodal.videoFrameDHashes(
      ids.select(col("media_id"), aviUdf(col("media_id")).as("payload")))
    val structSigs = fSigs
      .select(struct(col("id").as("media_id"), col("frame_idx")).as("id"),
        col("sig"))
    val got = Dedup.hammingNearDupAcross(iSigs, structSigs,
        prefixBits = 16, maxHamming = 3, bands = 4)
      .select(col("id_a"), col("id_b.media_id"), col("id_b.frame_idx"))
      .as[(Long, Long, Int)].collect().toSet
    // planted: video id (id % 3 == 0) reuses image id's plane at frame
    // rf = ((id/3) % 8) mod nf — computed from the REAL decoded frame
    // count, and nonzero for most planted ids (assert so: a fixture
    // whose reuse all landed on frame 0 would not test the new surface)
    val planted = (0L until 60L).filter(_ % 3 == 0).map { id =>
      val nf = 4 + (id % 1000000) % 5
      (id, id, (((id / 3) % 8) % nf).toInt)
    }.toSet
    assert(planted.exists(_._3 > 0), "fixture must plant non-frame-0 reuse")
    assert(planted.subsetOf(got),
      s"missed planted frame reuse: ${(planted -- got).take(5)}")
    // exact twin over the full image × (video, frame) cross product
    val iv = iSigs.as[(Long, Long)].collect()
    val fv = fSigs.select("id", "frame_idx", "sig")
      .as[(Long, Int, Long)].collect()
    val exact = (for {
      (ia, sa) <- iv; (vb, f, sb) <- fv
      if java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, vb, f)).toSet
    assert(got == exact,
      "banded multi-frame result must equal the exact hamming<=3 cross set")
    // NOTE: got may strictly contain planted — dHashes of structured
    // gradients are not uniform 64-bit values, and with ~6 frames per
    // video the (image × frame) space is large enough that an accidental
    // TRUE hamming<=3 near-match occurs (observed: one extra pair at 60
    // docs). The contract is got == exact, which includes such pairs on
    // both sides; only the planted set is additionally pinned present.
  }

  test("audio near-dup: planted 1-sample pairs found, banded result == exact hamming set") {
    import graft.ops.{Codecs, Multimodal}
    import spark.implicits._
    val wavUdf = udf((id: Long) => Codecs.synthWavNear(id / 2, (id % 2).toInt * 1024))
    val media = (0L until 60L).toDF("media_id")
      .select(col("media_id"), wavUdf(col("media_id")).as("payload"))
    val sigs = Multimodal.audioFingerprint(media)
    val pairs = Dedup.hammingNearDup(sigs,
        prefixBits = 16, maxHamming = 3, bands = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val planted = (0L until 30L).map(i => (2 * i, 2 * i + 1)).toSet
    val sv = sigs.as[(Long, Long)].collect()
    val exact = (for {
      (ia, sa) <- sv; (ib, sb) <- sv
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (ia, ib)).toSet
    assert(pairs == exact && pairs == planted,
      s"audio banded pairs must equal the exact hamming<=3 set (= planted): $pairs")
  }

  test("simhash: near-identical docs collide, hamming is symmetric-free") {
    val pairs = Dedup.simhashNearDup(docs, "text", "doc_id",
      prefixBits = 4, maxHamming = 16)
    val rows = pairs.collect()
    // candidate pairs are ordered and unique
    assert(rows.forall(r => r.getAs[Long]("id_a") < r.getAs[Long]("id_b")))
    val distinct = rows.map(r => (r.getLong(0), r.getLong(1))).distinct
    assert(distinct.length == rows.length)
  }

  test("simhash: planted hot bucket is dropped with a count, not exploded") {
    import spark.implicits._
    // 40 byte-identical docs → one signature → a size-40 bucket in every
    // band: must be anti-joined away (780 quadratic pairs avoided), while
    // a size-2 bucket of identical docs elsewhere must still pair up.
    val hot = (0L until 40L).map(i =>
      (i, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val near = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight again"),
      (101L, "the quick brown fox jumps over the lazy dog tonight again"))
    val d = (hot ++ near).toDF("doc_id", "text")
    val result = Dedup.simhashNearDup(d, "text", "doc_id",
      prefixBits = 16, maxHamming = 8, bands = 4, maxBucket = 10)
    val pairs = result
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.exists { case (a, b) => a < 40 && b < 40 },
      "oversized bucket must be dropped, not self-joined")
    assert(pairs((100L, 101L)),
      "small-bucket identical pair must survive the cap")
    // r14 ADVICE: the drop is OBSERVED — a capped run is visibly
    // distinguishable from an exact one through observedMetrics (the
    // oracle models no cap, so at unchecked scales this is the evidence).
    // The 40 identical docs share one signature → one size-40 bucket in
    // each of the 4 bands → 4 dropped buckets, 160 dropped bucket rows.
    val drops = result.queryExecution.observedMetrics.collect {
      case (name, row) if name.startsWith(Dedup.DroppedBucketsMetricPrefix) =>
        (row.getAs[Long]("n_dropped_buckets"), row.getAs[Long]("n_dropped_rows"))
    }
    assert(drops.size == 1, s"exactly one drop observation: $drops")
    assert(drops.head == ((4L, 160L)),
      s"hot signature drops 4 band buckets x 40 rows: ${drops.head}")
    // an exact (uncapped) run observes NO drops: either a zero row or —
    // when AQE's empty-relation propagation prunes the empty oversized
    // side, observe node included — no metric at all. Both read "exact";
    // a capped run always reports (a non-empty side is never pruned).
    val exact = Dedup.simhashNearDup(d, "text", "doc_id",
      prefixBits = 16, maxHamming = 8, bands = 4, maxBucket = 1000)
    exact.collect()
    val exactDrops = exact.queryExecution.observedMetrics.collect {
      case (name, row) if name.startsWith(Dedup.DroppedBucketsMetricPrefix) =>
        row.getAs[Long]("n_dropped_buckets")
    }
    assert(exactDrops.forall(_ == 0L),
      s"uncapped run must observe zero dropped buckets: $exactDrops")
  }

  test("simhash: multi-band buckets find pairs a single prefix misses") {
    import spark.implicits._
    // Two identical docs always share all band buckets regardless of
    // where their (zero) differing bits fall; with bands=1 the operator
    // still finds them, with bands=4 the candidate set can only grow.
    val d = Seq(
      (1L, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"),
      (2L, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"),
      (3L, "completely different words about rivers mountains and weather"))
      .toDF("doc_id", "text")
    val single = Dedup.simhashNearDup(d, "text", "doc_id",
        prefixBits = 12, maxHamming = 4, bands = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = Dedup.simhashNearDup(d, "text", "doc_id",
        prefixBits = 12, maxHamming = 4, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(single((1L, 2L)) && multi((1L, 2L)))
    assert(single.subsetOf(multi), "multi-band candidates are a superset")
  }

  test("simhash precision: tight params pair only related docs") {
    import spark.implicits._
    // Registry params (prefixBits=12, maxHamming=8) must discriminate:
    // byte-identical pairs (hamming 0 — deterministic) surface, while
    // vocabulary-disjoint filler docs (signatures ≈ independent 64-bit
    // values; P[hamming <= 8] ~ 1e-10 even before bucketing) never pair
    // with anything outside their group.
    val groupA = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val groupB = Seq(
      (10L, "river mountain forest valley ocean desert canyon tundra"),
      (11L, "river mountain forest valley ocean desert canyon tundra"))
    val filler = (100L until 130L).map(i =>
      (i, s"w${i}a q${i}b z${i}c k${i}d j${i}e v${i}f x${i}g n${i}h"))
    val d = (groupA ++ groupB ++ filler).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDup(d, "text", "doc_id",
        prefixBits = 12, maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs((0L, 1L)) && pairs((10L, 11L)),
      "identical in-group pairs must surface (recall)")
    val group = (id: Long) => id / 10 // 0, 1, >=10 → distinct groups
    val cross = pairs.filter { case (a, b) => group(a) != group(b) }
    assert(cross.isEmpty, s"unrelated docs paired: $cross")
  }

  test("simhash tight registry params cut the loose-param candidate set") {
    // The round-2 registry entry (8/16) emitted mostly-noise pairs on the
    // shared-vocabulary corpus; the round-3 params (12/8) must be a strict
    // subset and materially smaller — pinning that the registry query
    // demonstrates discrimination, not bucket noise.
    // bucket cap disabled on BOTH runs: with the cap, a coarser 8-bit
    // bucket can be dropped as oversized while its 12-bit sub-buckets
    // survive, which would break the subset relation on a denser corpus
    // even though both operators behave correctly. Uncapped, subset
    // follows from prefix-of-prefix bucketing alone.
    val loose = Dedup.simhashNearDup(docs, "text", "doc_id",
        prefixBits = 8, maxHamming = 16, maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val tight = Dedup.simhashNearDup(docs, "text", "doc_id",
        prefixBits = 12, maxHamming = 8, maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight.subsetOf(loose), "hamming<=8 pairs are a subset of <=16")
    if (loose.size >= 10)
      assert(tight.size * 2 <= loose.size,
        s"tight params should prune the noise: ${tight.size} vs ${loose.size}")
  }

  test("ngramJaccard probe is memoized: re-construction runs zero Spark jobs") {
    import java.util.concurrent.atomic.AtomicInteger
    // first construction pays the plan-time probe jobs (and warms the memo)
    Dedup.ngramJaccardPairs(docs, "text", "doc_id", "lang", threshold = 0.7)
    val jobs = new AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // same input, same params → memo hit → plan construction only
      Dedup.ngramJaccardPairs(docs, "text", "doc_id", "lang", threshold = 0.7)
      Thread.sleep(1500) // listener bus is async
      assert(jobs.get() == 0,
        s"re-construction ran ${jobs.get()} probe job(s); memo failed")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("hll approx_count_distinct within rsd of exact") {
    val ev = Tables.events(spark, sf)
    val rows = ev.groupBy("event_type")
      .agg(approx_count_distinct(col("user_id")).as("approx_u"),
        count_distinct(col("user_id")).as("exact_u"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val a = r.getAs[Long]("approx_u").toDouble
      val e = r.getAs[Long]("exact_u").toDouble
      // default HLL++ rsd is 5%; allow 3 sigma
      assert(math.abs(a - e) / e <= 0.15,
        s"HLL estimate $a too far from exact $e for ${r.get(0)}")
    }
  }

  test("ngramJaccard hot/cold split stays exact when shingles exceed the df cap") {
    import spark.implicits._
    import graft.functions.TextFunctions
    // "common words here" appears in all 12 docs → df=12 > hotDf=2 → hot.
    // Docs 100/101 share ONLY that hot shingle with everyone (and each
    // other) — the pairs the hot-prefix residual path must recover.
    val d = ((0L until 10L).map(i =>
        (i, "en", s"common words here extra$i more$i tail$i")) ++
      Seq((100L, "en", "common words here"),
          (101L, "en", "common words here"))).toDF("doc_id", "lang", "text")
    val got = Dedup.ngramJaccardPairs(d, "text", "doc_id", "lang",
        threshold = 0.2, hotDf = 2)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        math.round(r.getAs[Double]("jaccard") * 10000))).toSet
    // brute-force truth over full shingle sets
    val sh = d.select(col("doc_id"), col("lang"),
      array_distinct(TextFunctions.shinglesN(col("text"), 3)).as("sh"))
    val truth = sh.as("a").join(sh.as("b"),
        col("a.lang") === col("b.lang") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        TextFunctions.jaccard(col("a.sh"), col("b.sh")).as("j"))
      .filter(col("j") >= 0.2)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        math.round(r.getAs[Double]("j") * 10000))).toSet
    assert(truth.exists { case (a, b, _) => a == 100L && b == 101L },
      "fixture must contain a hot-only pair")
    assert(got == truth, s"hot/cold split diverged: missing=${truth -- got} extra=${got -- truth}")
  }

  test("exact dedup keeps one row per fingerprint") {
    val deduped = Dedup.exactDedup(docs, "text", "doc_id")
    assert(deduped.count() == docs.select(
      graft.functions.TextFunctions.fingerprint(col("text"))).distinct().count())
  }

  test("duplicateSpans: cross-doc offset spans, within-doc repetition, merge/gap/short-doc rules") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d e f"),          // source of the shared run
      (2L, "x a b c d e y"),        // same 5-run at offset 1
      (3L, "p q r s t p q r s t"),  // repeats ITSELF: second copy is dup
      (4L, "a b c"),                // shorter than k → no windows
      (5L, "a b c d e z z z z z z z z a b c d e") // leading dup + z-run self-dup + trailing dup
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d, "text", "doc_id", k = 5)
      .orderBy("doc_id", "span_start")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 2: window at pos 1 == doc 1 pos 0 → one span [1,5], 1 window.
    // doc 3: window at pos 5 (pqrst, first at pos 0) → span [5,9];
    //        pos 1..4 (qrstp, rstpq, ...) occur once each → not dups.
    // doc 5: "a b c d e" at pos 0 dups doc 1 pos 0 → span [0,4] (pos 1
    //        window "b c d e z" is unique → gap → break);
    //        z-run: zzzzz FIRST at pos 5 (not a dup), dups at 6,7,8
    //        (window [8,12]); pos 13 ("a b c d e" again, dup) starts
    //        exactly at 12+1 → ADJACENT → merges: span [6,17], 4 windows.
    assert(spans.toSeq == Seq(
      (2L, 1L, 5L, 1L),
      (3L, 5L, 9L, 1L),
      (5L, 0L, 4L, 1L), (5L, 6L, 17L, 4L)))
  }

  test("cdcChunks: lossless reassembly, edit-resync property, short/empty docs") {
    import spark.implicits._
    def chunksOf(t: String): Seq[String] =
      Dedup.cdcChunks(Seq((1L, t)).toDF("doc_id", "text"), "text", "doc_id")
        .orderBy("chunk_id").select("chunk").as[String].collect().toSeq
    val base = Tables.documents(spark, sf)
      .filter(length(col("text")) > 200).select("text")
      .as[String].first()
    // lossless: chunks concatenate back to the document
    val c1 = chunksOf(base)
    assert(c1.mkString == base)
    assert(c1.size >= 3, s"fixture needs >=3 chunks, got ${c1.size}")
    // THE content-defined property: an insertion at the front shifts
    // every offset, but boundaries are decided by window content, so
    // they re-synchronize — all chunks after each text's first boundary
    // are identical (a fixed grid or fixed-k slide re-cuts everything)
    val edited = "Z " + base
    val c2 = chunksOf(edited)
    assert(c2.mkString == edited)
    assert(c1.tail == c2.drop(c2.size - (c1.size - 1)),
      s"post-boundary chunks must re-sync after a front edit")
    // degenerate docs
    assert(chunksOf("short") == Seq("short")) // < window → one chunk
    assert(chunksOf("") == Seq.empty)
  }

  test("graft_cdc_boundaries kernel ≡ the HOF xxhash64(substr) reference form") {
    import spark.implicits._
    // the r11 HOF formulation, kept verbatim as the semantic reference
    def hofBoundaries(w: Int, m: Int): org.apache.spark.sql.Column = {
      val n = length(col("text"))
      when(n < w, array().cast("array<int>"))
        .otherwise(filter(sequence(lit(1), n - (w - 1)), i =>
          pmod(xxhash64(col("text").substr(i, lit(w))), lit(m)) === 0))
    }
    // real corpus text + handcrafted edges: empty, shorter-than-window,
    // exactly-window, and multi-byte chars (substr is CHARACTER-based —
    // the kernel must window over UTF-8 char offsets, not bytes)
    val edge = Seq("", "ab", "abcdefgh", "héllo wörld ünïcode δοκιμή 試験テキスト",
      "aaaaaaaaaaaaaaaaaaaaaaaa").toDF("text")
    val sample = Tables.documents(spark, sf).select("text").limit(200)
      .unionByName(edge)
    for ((w, m) <- Seq((8, 64), (4, 16), (1, 3))) {
      val diff = sample
        .select(col("text"),
          call_function("graft_cdc_boundaries", col("text"), lit(w), lit(m)).as("k"),
          hofBoundaries(w, m).as("h"))
        .filter(not(col("k") <=> col("h")))
        .count()
      assert(diff == 0, s"kernel diverged from HOF form for w=$w m=$m on $diff rows")
    }
  }

  test("LSH ANN recall@5 against brute force") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(queries, emb, "vec_id", "embedding",
        dim = 64, k = 5, bits = 4, tables = 8, probes = 2)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // testdata embeddings are uniform random (no cluster structure), the
    // hardest case for LSH — multi-table OR-construction still has to
    // recover a solid share of the true top-5.
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.4, f"LSH recall too low: $recall%.2f")
    // approx returns at most k per query and only valid neighbors
    assert(approx.forall { case (q, n) => q != n })
  }

  test("filtered vector search ≡ searching an index built over the pre-filtered corpus") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 10)
    graft.ops.Similarity.lshIndexBuild(e, "vec_id", "embedding", dim = 64,
      tableName = "graft_spec_lshf", tableBuckets = 4, bits = 6, tables = 4,
      metaCols = Seq("label"))
    val filtered = graft.ops.Similarity.lshIndexProbe(spark,
      "graft_spec_lshf", q, "vec_id", "embedding", dim = 64, k = 5,
      bits = 6, tables = 4, probes = 2,
      corpusFilter = Some(col("label") === 3))
    graft.ops.Similarity.lshIndexBuild(e.filter(col("label") === 3),
      "vec_id", "embedding", dim = 64,
      tableName = "graft_spec_lshf_pre", tableBuckets = 4, bits = 6, tables = 4)
    val prebuilt = graft.ops.Similarity.lshIndexProbe(spark,
      "graft_spec_lshf_pre", q, "vec_id", "embedding", dim = 64, k = 5,
      bits = 6, tables = 4, probes = 2)
    assert(filtered.exceptAll(prebuilt).isEmpty &&
      prebuilt.exceptAll(filtered).isEmpty,
      "pre-filtering the index scan must equal indexing the filtered corpus")
    assert(filtered.count() > 0)
    // the predicate must reach the parquet scan of the bucketed index
    filtered.collect()
    val p = filtered.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(p.contains("PushedFilters: [") && p.contains("EqualTo(label,3)"),
      "label predicate must be pushed into the index scan:\n" + p.take(1200))
  }

  test("filtered IVF probe ≡ probing an index built over the pre-filtered corpus") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") < 10)
    graft.ops.Similarity.ivfIndexBuild(e, "vec_id", "embedding",
      tableName = "graft_spec_ivff", tableBuckets = 4, nlist = 16,
      metaCols = Seq("label"))
    val filtered = graft.ops.Similarity.ivfIndexProbe(spark,
      "graft_spec_ivff", q, "vec_id", "embedding", k = 5,
      nlist = 16, nprobe = 4, corpusFilter = Some(col("label") === 3))
    graft.ops.Similarity.ivfIndexBuild(e.filter(col("label") === 3),
      "vec_id", "embedding",
      tableName = "graft_spec_ivff_pre", tableBuckets = 4, nlist = 16)
    val prebuilt = graft.ops.Similarity.ivfIndexProbe(spark,
      "graft_spec_ivff_pre", q, "vec_id", "embedding", k = 5,
      nlist = 16, nprobe = 4)
    assert(filtered.exceptAll(prebuilt).isEmpty &&
      prebuilt.exceptAll(filtered).isEmpty,
      "pre-filtering the inverted file must equal indexing the filtered corpus")
    assert(filtered.count() > 0)
  }

  test("IVF ANN recall@5 against brute force") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(queries, emb, "vec_id", "embedding",
        k = 5, nlist = 16, nprobe = 8)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // coarse one-cell-per-vector quantization on uniform random data:
    // nprobe=8 of 32 cells must still recover a meaningful share
    assert(recall >= 0.2, f"IVF recall too low: $recall%.2f")
    assert(approx.forall { case (q, n) => q != n })
  }

  test("cosine near-dup pairs match the brute-force definition") {
    val pairs = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding",
      "label", threshold = 0.35)
    val rows = pairs.collect()
    assert(rows.forall(r => r.getAs[Long]("id_a") < r.getAs[Long]("id_b")))
    assert(rows.forall(r => r.getAs[Double]("cos") >= 0.35))
    // spot-check one pair against the unnormalized kernel
    if (rows.nonEmpty) {
      val r0 = rows.head
      val ids = Seq(r0.getAs[Long]("id_a"), r0.getAs[Long]("id_b"))
      val vecs = emb.filter(col("vec_id").isin(ids: _*))
        .orderBy("vec_id").collect()
        .map(_.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray)
      val dot = vecs(0).zip(vecs(1)).map { case (a, b) => a * b }.sum
      val cos = dot / (math.sqrt(vecs(0).map(x => x * x).sum) *
        math.sqrt(vecs(1).map(x => x * x).sum))
      assert(math.abs(cos - r0.getAs[Double]("cos")) < 1e-9)
    }
  }

  test("winnowing fingerprints: shared-prefix docs share fingerprints") {
    val fps = Dedup.winnowFingerprints(docs, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Seq[String]]("fps").toSet).toMap
    // every doc with >= window shingles has at least one fingerprint,
    // and fingerprint sets are far smaller than shingle counts
    assert(fps.values.count(_.nonEmpty) > fps.size / 2)
    // determinism
    val again = Dedup.winnowFingerprints(docs, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Seq[String]]("fps").toSet).toMap
    assert(fps == again)
    // near-dup docs (high exact jaccard) overlap in winnow space
    val near = Dedup.ngramJaccardPairs(docs, "text", "doc_id", "lang",
      threshold = 0.7).select("id_a", "id_b").collect()
    if (near.nonEmpty) {
      val overlapping = near.count { r =>
        (fps(r.getLong(0)) & fps(r.getLong(1))).nonEmpty
      }
      assert(overlapping.toDouble / near.length >= 0.9,
        "winnow fingerprints should overlap for near-duplicate docs")
    }
  }

  test("TopKSketch: exact regime matches groupBy; lossy regime keeps heavy hitters") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
    // exact regime: capacity >> |distinct event_type|
    val sketch = udaf(graft.functions.TopKSketch(64))
    val got = ev.agg(sketch(col("event_type")).as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e._1"), col("e._2")).as[(String, Long)].collect().toMap
    val exact = ev.groupBy("event_type").count()
      .as[(String, Long)].collect().toMap
    assert(got == exact)
    // lossy regime: capacity 4 over a skewed stream still surfaces the
    // dominant item with count error <= n/capacity
    val n = 4000
    val skewed = ((1 to (n / 2)).map(_ => "hot") ++
      (1 to (n / 2)).map(i => s"cold_${i % 100}")).toDF("x")
    val small = udaf(graft.functions.TopKSketch(4))
    val lossy = skewed.agg(small(col("x")).as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e._1"), col("e._2")).as[(String, Long)].collect().toMap
    assert(lossy.contains("hot"), "true heavy hitter must survive")
    assert(lossy("hot") <= n / 2 && lossy("hot") >= n / 2 - n / 4,
      s"count error exceeds n/capacity: ${lossy("hot")}")
  }

  test("connectedComponents labels are transitive and min-id-canonical") {
    import spark.implicits._
    // known graph: {1-2, 2-3} ∪ {10-11} ∪ {20-21, 21-22, 20-22}
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("id_a", "id_b")
    val lbl = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lbl == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
    // long chain exercises multi-round propagation
    val chain = (0L until 12L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("id_a", "id_b")
    val chainLbl = Dedup.connectedComponents(chain)
      .collect().map(r => r.getLong(1)).distinct
    assert(chainLbl.toSeq == Seq(0L))
  }

  test("native graft_shingles equals the Column tokenize→shingle formulation") {
    import graft.functions.TextFunctions._
    for (n <- Seq(2, 3, 5)) {
      val bad = docs.select(
          shingles(tokens(col("text")), n).as("hof"),
          shinglesN(col("text"), n).as("nat"))
        .filter(col("hof") =!= col("nat")).count()
      assert(bad == 0, s"shingle mismatch for n=$n")
    }
    // edge cases: empty, whitespace-only, fewer-than-n tokens, mixed case
    import spark.implicits._
    val edge = Seq("", "   ", "one", "one two", "  A  b\tC ", "x y z w")
      .toDF("text")
    val bad = edge.select(
        shingles(tokens(col("text")), 3).as("hof"),
        shinglesN(col("text"), 3).as("nat"))
      .filter(col("hof") =!= col("nat")).count()
    assert(bad == 0)
  }

  test("native graft_shingle_hashes equals array_distinct∘xxhash64∘shingles") {
    import graft.functions.TextFunctions._
    for (n <- Seq(2, 3, 5)) {
      val bad = docs.select(
          array_distinct(transform(shinglesN(col("text"), n), s => xxhash64(s))).as("hof"),
          shingleHashes(col("text"), n).as("nat"))
        .filter(col("hof") =!= col("nat")).count()
      assert(bad == 0, s"shingle-hash mismatch for n=$n")
    }
    import spark.implicits._
    val edge = Seq("", "   ", "one", "one two", "  A  b\tC ", "x y z w",
        "dup dup dup dup dup") // repeated shingles → dedup order matters
      .toDF("text")
    val bad = edge.select(
        array_distinct(transform(shinglesN(col("text"), 3), s => xxhash64(s))).as("hof"),
        shingleHashes(col("text"), 3).as("nat"))
      .filter(col("hof") =!= col("nat")).count()
    assert(bad == 0)
  }

  test("native graft_shingle_sketch equals the explode/aggregate minhash formulation") {
    import graft.functions.TextFunctions._
    val p = graft.functions.MinhashCoeffs.P
    val (ca, cb) = graft.functions.MinhashCoeffs.get(8)
    val base = docs.select(col("doc_id").as("id"), shingleHashes(col("text"), 3).as("shh"))
      .filter(size(col("shh")) > 0)
    val ex = base.select(col("id"), explode(col("shh")).as("h0"))
      .select(col("id"), pmod(col("h0"), lit(p)).as("h"))
    val mins = (0 until 8).map(i =>
      min(pmod(lit(ca(i)) * col("h") + lit(cb(i)), lit(p))).as(s"m$i"))
    val aggSig = ex.groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until 8).map(i => col(s"m$i")): _*).as("agg_sig"))
    val kernel = docs.select(col("doc_id").as("id"), shingleSketch(col("text"), 3, 8).as("sk"))
      .select(col("id"), col("sk.shh").as("k_shh"), col("sk.sig").as("k_sig"))
      .filter(size(col("k_shh")) > 0)
    val joined = kernel.join(aggSig, "id")
    assert(joined.count() > 0)
    val badSig = joined.filter(col("k_sig") =!= col("agg_sig")).count()
    assert(badSig == 0, "kernel signature must equal the aggregate formulation")
    val badShh = kernel.join(base, "id").filter(col("k_shh") =!= col("shh")).count()
    assert(badShh == 0, "kernel shingle-hash set must equal graft_shingle_hashes")
  }

  test("native graft_simhash equals the explode/vote-aggregate formulation") {
    import graft.functions.TextFunctions._
    val ex = docs.select(col("doc_id").as("id"), explode(tokens(col("text"))).as("t"))
      .select(col("id"), xxhash64(col("t")).as("h"))
    val votes = (0 until 64).map(i =>
      sum(when(col("h").bitwiseAND(lit(1L << i)) =!= 0, 1L).otherwise(-1L)).as(s"v$i"))
    val aggSig = ex.groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id"),
        (0 until 64).map(i => when(col(s"v$i") > 0, lit(1L << i)).otherwise(0L))
          .reduce(_ + _).as("agg_sig"))
    val kernel = docs.select(col("doc_id").as("id"), simhash64(col("text")).as("k_sig"))
    val bad = kernel.join(aggSig, "id").filter(col("k_sig") =!= col("agg_sig")).count()
    assert(bad == 0, "kernel simhash must equal the vote-aggregate formulation")
  }

  test("native graft_winnow equals the windowed-min Column formulation") {
    import graft.functions.TextFunctions._
    def hofWinnow(w: Int): org.apache.spark.sql.Column = {
      val hs = transform(shinglesN(col("text"), 3), sh => md5(sh))
      when(size(hs) === 0, array().cast("array<string>"))
        .otherwise(array_distinct(
          transform(sequence(lit(0), greatest(size(hs) - w, lit(0))), j =>
            array_min(slice(hs, j + 1, lit(w))))))
    }
    for (w <- Seq(2, 4, 8)) {
      val bad = docs.select(hofWinnow(w).as("hof"), winnowN(col("text"), 3, w).as("nat"))
        .filter(col("hof") =!= col("nat")).count()
      assert(bad == 0, s"winnow mismatch for window=$w")
    }
    import spark.implicits._
    val edge = Seq("", "   ", "one two", "one two three",
        "a b c d e f g h i j k l") // multiple full windows
      .toDF("text")
    val bad = edge.select(hofWinnow(4).as("hof"), winnowN(col("text"), 3, 4).as("nat"))
      .filter(col("hof") =!= col("nat")).count()
    assert(bad == 0)
  }

  test("every native kernel resolves from plain SQL (SparkSessionExtensions)") {
    val r = spark.sql("""
      SELECT graft_shingles('a b c d', 3) AS sh,
             graft_shingle_hashes('a b c d', 3) AS shh,
             graft_winnow('a b c d e f', 3, 2) AS fps,
             graft_simhash('hello world') AS sim,
             graft_shingle_sketch('a b c d', 3, 4).sig AS sig,
             graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dot,
             graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS cos
    """).collect().head
    assert(r.getAs[collection.Seq[String]]("sh").toSeq == Seq("a b c", "b c d"))
    assert(r.getAs[collection.Seq[Long]]("shh").length == 2)
    assert(r.getAs[collection.Seq[String]]("fps").nonEmpty)
    assert(r.getAs[collection.Seq[Long]]("sig").length == 4)
    assert(r.getAs[Double]("dot") == 11.0)
    assert(math.abs(r.getAs[Double]("cos") - 1.0) < 1e-12)
  }

  test("native graft_dot/graft_cosine are bit-identical to the HOF kernels") {
    import graft.functions.VectorFunctions._
    val pairs = emb.limit(50).select(col("vec_id"), col("embedding"))
      .crossJoin(emb.limit(50).select(col("vec_id").as("id2"), col("embedding").as("e2")))
      .select(
        dotD(col("embedding"), col("e2")).as("d_hof"),
        dotN(col("embedding"), col("e2")).as("d_nat"),
        cosineD(col("embedding"), col("e2")).as("c_hof"),
        cosineN(col("embedding"), col("e2")).as("c_nat"))
    val bad = pairs.filter(
      col("d_hof") =!= col("d_nat") || col("c_hof") =!= col("c_nat")).count()
    assert(bad == 0, "native expressions must match HOF formulation bitwise")
  }

  test("knnLabel emits one deterministic majority vote per query") {
    val preds = Similarity.knnLabel(emb.filter(col("vec_id") < 20), emb,
      "vec_id", "embedding", "label", k = 10)
    val rows = preds.collect()
    assert(rows.length == 20)
    assert(rows.forall { r =>
      val v = r.getAs[Long]("votes"); v >= 1 && v <= 10
    })
    // deterministic across runs (ties broken by label id)
    val again = Similarity.knnLabel(emb.filter(col("vec_id") < 20), emb,
      "vec_id", "embedding", "label", k = 10).collect()
    assert(rows.map(_.toSeq).sortBy(_.toString).toSeq ==
      again.map(_.toSeq).sortBy(_.toString).toSeq)
  }

  test("centroids: element-wise mean per label, coordinates in position order") {
    import spark.implicits._
    val d = Seq(
      (0, Array(1.0f, 2.0f, 30.0f)),
      (0, Array(3.0f, 4.0f, 10.0f)),
      (1, Array(10.0f, 20.0f, 0.0f)))
      .toDF("label", "embedding")
    val out = Similarity.centroids(d, "embedding", "label")
      .collect().map(r => r.getInt(0) ->
        (r.getSeq[Double](1), r.getLong(2))).toMap
    assert(out(0)._1 == Seq(2.0, 3.0, 20.0),
      s"label-0 centroid must average position-wise in order: ${out(0)._1}")
    assert(out(1)._1 == Seq(10.0, 20.0, 0.0),
      s"singleton label is its own centroid: ${out(1)._1}")
    assert(out(0)._2 == 2L && out(1)._2 == 1L, "n must count the label's vectors")
  }

  test("kmeans: separated direction clusters recovered, deterministic across runs") {
    import spark.implicits._
    // three well-separated cosine directions; ids 6/7/4 (the 3 smallest
    // md5(id) — the deterministic init) sit one per ground-truth group,
    // so 5 Lloyd iterations must recover the exact partition
    val d = Seq(
      (6L, Array(10f, 0f)), (1L, Array(9f, 1f)), (2L, Array(11f, -1f)),
      (7L, Array(0f, 10f)), (3L, Array(1f, 9f)), (5L, Array(-1f, 11f)),
      (4L, Array(-10f, -10f)), (8L, Array(-9f, -11f)))
      .toDF("id", "embedding")
    val out = Similarity.kmeans(d, "id", "embedding", k = 3, iters = 5)
      .select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val groups = Seq(Set(6L, 1L, 2L), Set(7L, 3L, 5L), Set(4L, 8L))
      .map(_.map(out))
    groups.foreach(g =>
      assert(g.size == 1, s"ground-truth group split across clusters: $out"))
    assert(groups.flatten.toSet.size == 3,
      s"distinct groups must land in distinct clusters: $out")
    assert(out.values.forall(c => c >= 0 && c < 3))
    // deterministic: same input → identical assignment
    val again = Similarity.kmeans(d, "id", "embedding", k = 3, iters = 5)
      .select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == again, "kmeans must be deterministic")
  }

  test("CentroidArgmax kernel bit-equal to the HOF array_max form on real embeddings") {
    // both modes, real data, deliberately tie-prone centroids (duplicated
    // row) — every row must agree, and the kernel must be the one in the
    // kmeans plan (codegen'd, constant-size in k)
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val cents: Array[Seq[Double]] = e.orderBy("vec_id").limit(4)
      .collect().map(_.getSeq[Double](1)) :+
      e.orderBy("vec_id").limit(1).collect()(0).getSeq[Double](1)
    for (cosine <- Seq(true, false)) {
      val kernel = call_function("graft_centroid_argmax", col("v"),
        typedLit(cents.flatten.toIndexedSeq),
        typedLit(graft.ops.Similarity.centroidBias(cents, cosine).toIndexedSeq))
      val hof = KernelTwins.centroidArgmaxHof(col("v"), cents, cosine)
      val diff = e.select(col("vec_id"), kernel.as("a"), hof.as("b"))
        .filter(!(col("a") <=> col("b"))).count()
      assert(diff == 0, s"kernel diverged from HOF on $diff rows (cosine=$cosine)")
    }
    // the kmeans assignment plan carries the kernel, inside codegen
    val p = graft.ops.Similarity.kmeans(
        Tables.embeddings(spark, sf), "vec_id", "embedding", k = 4, iters = 1)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_centroid_argmax"), p.take(600))
  }

  test("quantizeInt8 round-trips within scale/2 per element; zero vector safe") {
    import spark.implicits._
    val d = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.127f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("id", "embedding")
    val q = Similarity.dequantizeInt8(Similarity.quantizeInt8(d, "embedding"))
      .select("id", "embedding", "q_scale", "q_vec", "deq_vec").collect()
      .map(r => r.getLong(0) ->
        (r.getSeq[Float](1), r.getDouble(2), r.getSeq[Byte](3), r.getSeq[Double](4)))
      .toMap
    val (v1, s1, q1, dq1) = q(1L)
    assert(math.abs(s1 - 1.0 / 127.0) < 1e-12, s"scale: $s1")
    assert(q1.head == 127 && q1.forall(b => b >= -127 && b <= 127), s"q: $q1")
    v1.zip(dq1).foreach { case (orig, deq) =>
      assert(math.abs(orig - deq) <= s1 / 2 + 1e-12,
        s"reconstruction off by more than scale/2: $orig vs $deq") }
    val (_, s2, q2, dq2) = q(2L)
    assert(s2 == 0.0 && q2.forall(_ == 0) && dq2.forall(_ == 0.0),
      "zero vector must quantize to zeros without dividing by zero")
  }

  test("spanDedup: first span occurrence survives, later ones drop, docs reassemble") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d"),   // spans [a b][c d] — both first occurrences
      (2L, "a b x y"),   // [a b] duplicates doc 1 → dropped; [x y] kept
      (3L, "c d"),       // single span duplicates doc 1 → doc emptied
      (4L, "c"))         // short doc, own 1-token span, kept
      .toDF("doc_id", "text")
    val out = Dedup.spanDedup(d, "doc_id", "text", windowTokens = 2)
      .select("doc_id", "text_dedup", "n_chunks_kept", "n_tokens_kept")
      .as[(Long, String, Int, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == (("a b c d", 2, 4L)), s"doc 1: ${out(1L)}")
    assert(out(2L) == (("x y", 1, 2L)), s"doc 2: ${out(2L)}")
    assert(out(3L) == (("", 0, 0L)), s"doc 3 must be emptied: ${out(3L)}")
    assert(out(4L) == (("c", 1, 1L)), s"doc 4: ${out(4L)}")
    // election shuffles the 8-byte span hash, never the span text
    val p = Dedup.spanDedup(d, "doc_id", "text", 2)
      .queryExecution.executedPlan.toString
    assert(!p.contains("hashpartitioning(chunk_text"),
      s"span text must not be a shuffle key:\n${p.take(800)}")
  }

  test("diversitySample: quotas honored, rows from input, deterministic") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
    val run1 = graft.ops.Similarity.diversitySample(
      e, "vec_id", "embedding", k = 4, perCluster = 3, iters = 2)
    val perCluster = run1.groupBy("cluster").count().collect()
    assert(perCluster.nonEmpty)
    perCluster.foreach(r =>
      assert(r.getLong(1) <= 3, s"cluster ${r.get(0)} over quota: $r"))
    val ids1 = run1.select("vec_id").as[Long].collect().sorted
    val allIds = e.select("vec_id").as[Long].collect().toSet
    assert(ids1.forall(allIds), "sample must come from the input")
    val ids2 = graft.ops.Similarity.diversitySample(
        e, "vec_id", "embedding", k = 4, perCluster = 3, iters = 2)
      .select("vec_id").as[Long].collect().sorted
    assert(ids1.toSeq == ids2.toSeq, "md5-rank selection must be deterministic")
  }

  test("kmeans cosine=false: raw-L2 clustering separates 1-D magnitude clusters") {
    import spark.implicits._
    // 1-D vectors normalize to ±1, so cosine mode CANNOT separate these;
    // L2 mode must: {0.0, 0.1} vs {10.0, 10.1}
    val d = Seq((1L, Seq(0.0f)), (2L, Seq(0.1f)), (3L, Seq(10.0f)),
      (4L, Seq(10.1f))).toDF("vec_id", "embedding")
    val out = Similarity.kmeans(d, "vec_id", "embedding", k = 2, iters = 3,
        cosine = false)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(out(1L) == out(2L) && out(3L) == out(4L) && out(1L) != out(3L),
      s"magnitude clusters must separate under L2: $out")
  }

  test("PQ: codes bounded, deterministic, reconstruction within cluster spread") {
    import spark.implicits._
    val d = Seq(
      (1L, Seq(0.0f, 10.0f)), (2L, Seq(0.0f, 12.0f)),
      (3L, Seq(6.0f, 0.0f)), (4L, Seq(8.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val cb = Similarity.pqTrain(d, "vec_id", "embedding", m = 2, k = 2,
      iters = 3)
    assert(cb.length == 2 && cb.forall(_.forall(_.length == 1)))
    val enc = Similarity.pqEncode(d, "embedding", cb)
    val codes = enc.select("vec_id", "pq_code")
      .as[(Long, Seq[Int])].collect().toMap
    codes.values.foreach { c =>
      assert(c.length == 2)
      c.zipWithIndex.foreach { case (ci, j) =>
        assert(ci >= 0 && ci < cb(j).length, s"code out of range: $codes")
      }
    }
    val codes2 = Similarity.pqEncode(d, "embedding",
        Similarity.pqTrain(d, "vec_id", "embedding", m = 2, k = 2, iters = 3))
      .select("vec_id", "pq_code").as[(Long, Seq[Int])].collect().toMap
    assert(codes == codes2, "PQ must be deterministic")
    // reconstruction error per element bounded by the within-cluster
    // spread of the planted data (≤ 2.0 per coordinate)
    val errs = Similarity.pqDecode(enc, cb)
      .select(col("vec_id"), zip_with(
        transform(col("embedding"), _.cast("double")), col("pq_vec"),
        (x, y) => abs(x - y)).as("e"))
      .as[(Long, Seq[Double])].collect()
    errs.foreach { case (id, e) =>
      assert(e.forall(_ <= 2.0), s"vec $id reconstruction too lossy: $e")
    }
  }

  test("pqTopK: ADC neighbors come from the query's own cluster; no corpus shuffle before top-k") {
    import spark.implicits._
    // two well-separated direction clusters in 2-D, m=2 subspaces
    val corpus = Seq(
      (1L, Seq(10.0f, 0.1f)), (2L, Seq(11.0f, 0.2f)), (3L, Seq(12.0f, 0.0f)),
      (4L, Seq(0.1f, 10.0f)), (5L, Seq(0.0f, 11.0f)), (6L, Seq(0.2f, 12.0f)))
      .toDF("vec_id", "embedding")
    val cb = Similarity.pqTrain(corpus, "vec_id", "embedding", m = 2, k = 2,
      iters = 3)
    val codes = Similarity.pqEncode(corpus, "embedding", cb)
    val queries = Seq((100L, Seq(10.5f, 0.0f)), (200L, Seq(0.0f, 10.5f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.pqTopK(queries, codes, cb,
        "vec_id", "embedding", "vec_id", "pq_code", k = 3)
      .select("q_id", "n_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    assert(top(100L) == Set(1L, 2L, 3L), s"x-cluster query: ${top(100L)}")
    assert(top(200L) == Set(4L, 5L, 6L), s"y-cluster query: ${top(200L)}")
    // plan: query side broadcasts; the only corpus shuffle is the
    // per-query top-k window
    val p = Similarity.pqTopK(queries, codes, cb,
        "vec_id", "embedding", "vec_id", "pq_code", k = 3)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query side must broadcast:\n${p.take(600)}")
  }

  test("repartitionForWrite: partition count tracks the plan-size estimate") {
    val df = Tables.lineitem(spark, sf)
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = (est / 4).max(BigInt(1)).toLong
    // ratio 1.0 isolates the sizing math; the default 3× compression
    // ratio divides the estimate before sizing (ADVICE r8)
    val out = graft.ops.Layout.repartitionForWrite(df, target,
      compressionRatio = 1.0)
    val expect = ((est + target - 1) / target).toInt
    assert(out.rdd.getNumPartitions == expect,
      s"est=$est target=$target")
    // default ratio shrinks the count ~3× (estimate is in-memory bytes,
    // parquet lands smaller)
    val shrunk = graft.ops.Layout.repartitionForWrite(df, target)
    val expectShrunk = ((est / 3 + target - 1) / target).max(BigInt(1)).toInt
    assert(math.abs(shrunk.rdd.getNumPartitions - expectShrunk) <= 1,
      s"est=$est target=$target shrunk=${shrunk.rdd.getNumPartitions}")
    // a tiny input never explodes into many files
    val one = graft.ops.Layout.repartitionForWrite(
      Tables.nation(spark, sf), 128L * 1024 * 1024)
    assert(one.rdd.getNumPartitions == 1)
  }

  test("hardNegatives: never same-label, sims descend, and each is the true cross-label top") {
    val q = emb.filter(col("vec_id") < 10)
    val rows = Similarity.hardNegatives(q, emb, "vec_id", "embedding", "label", k = 3)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Int]("q_label") != r.getAs[Int]("n_label"),
        s"hard negative must differ in label: $r")
    }
    // per query: ranks 1..3, sims non-increasing
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (qid, rs) =>
      val byRank = rs.sortBy(_.getAs[Int]("rnk"))
      assert(byRank.map(_.getAs[Int]("rnk")).toSeq == Seq(1, 2, 3), s"q=$qid")
      val sims = byRank.map(_.getAs[Double]("sim")).toSeq
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b }, s"q=$qid $sims")
    }
    // the rank-1 negative matches a brute-force cross-label argmax
    val brute = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 50)
      .join(emb.select(col("vec_id").as("n_id"), col("label").as("n_label")), "n_id")
      .join(emb.select(col("vec_id").as("q_id"), col("label").as("q_label")), "q_id")
      .filter(col("q_label") =!= col("n_label"))
      .withColumn("rr", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("sim").desc, col("n_id"))))
      .filter(col("rr") === 1)
      .select("q_id", "n_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.filter(_.getAs[Int]("rnk") == 1).foreach { r =>
      val qid = r.getAs[Long]("q_id")
      brute.get(qid).foreach { expect =>
        assert(r.getAs[Long]("n_id") == expect,
          s"rank-1 negative for $qid should be $expect")
      }
    }
  }

  test("containmentPairs: embedded excerpt scores 1.0 forward, low backward") {
    import spark.implicits._
    val long = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val short = "delta epsilon zeta eta theta" // verbatim excerpt
    val docs = Seq((1L, long, "en"), (2L, short, "en"),
      (3L, "totally different words about other things entirely here", "en"))
      .toDF("doc_id", "text", "lang")
    val pairs = Dedup.containmentPairs(docs, "text", "doc_id", "lang",
        shingleLen = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // every trigram of the excerpt occurs in the long doc
    assert(pairs((2L, 1L)) == 1.0, s"forward containment: $pairs")
    // backward: only 3 of the long doc's 18 trigrams are in the excerpt
    assert(!pairs.contains((1L, 2L)), s"backward must stay under 0.5: $pairs")
    assert(!pairs.keys.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("semDedup: duplicate group keeps its lowest id, singletons survive") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.001f, 0.0f)),  // near-dup of 1 → dropped
      (5L, Array(0.999f, 0.01f, 0.0f)), // near-dup of 1 → dropped
      (3L, Array(0.0f, 1.0f, 0.0f)),    // orthogonal → kept
      (4L, Array(0.0f, 0.0f, 1.0f)))    // orthogonal → kept
      .toDF("vec_id", "embedding")
    val kept = Similarity.semDedup(vecs, "vec_id", "embedding",
        k = 1, iters = 1, threshold = 0.95)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L), s"kept: $kept")
  }

  test("randomProjection: JL norm preservation in expectation, deterministic") {
    val e = Tables.embeddings(spark, sf)
    val p = Similarity.randomProjection(e, "embedding", dim = 64, dOut = 16)
    import graft.functions.VectorFunctions.dotN
    val vd = transform(col("embedding"), _.cast("double"))
    val ratios = p.select(
        (dotN(col("proj"), col("proj")) / dotN(vd, vd)).as("r"))
      .agg(avg("r"), min("r"), max("r")).first()
    // E[||y||^2] = ||x||^2 for ±1/√d rows; with d'=16 individual rows
    // spread but the corpus mean concentrates hard
    assert(math.abs(ratios.getDouble(0) - 1.0) < 0.15,
      s"mean norm ratio must be ~1: $ratios")
    assert(ratios.getDouble(1) > 0.05 && ratios.getDouble(2) < 5.0,
      s"per-row ratios stay in the JL envelope for d'=16: $ratios")
    // same (seed, dims) → bit-identical projection
    val p2 = Similarity.randomProjection(e, "embedding", 64, 16)
      .select("vec_id", "proj")
    assert(p.select("vec_id", "proj").except(p2).isEmpty)
  }

  test("IVFADC: probing ALL cells recovers the full ADC scan exactly; fewer cells nest") {
    val e = Tables.embeddings(spark, sf)
    val cb = Similarity.pqTrain(e, "vec_id", "embedding", m = 4, k = 8, iters = 2)
    val coarse = Similarity.kmeansFit(e, "vec_id", "embedding",
      k = 4, iters = 2, cosine = false)
    val tbl = "ivfpq_spec_" + System.nanoTime()
    Similarity.ivfPqIndexBuild(e, "vec_id", "embedding", cb, coarse, tbl,
      tableBuckets = 4)
    val queries = e.filter(col("vec_id") < 3)
    val full = Similarity.pqTopKL2(queries,
      Similarity.pqEncode(e, "embedding", cb), cb,
      "vec_id", "embedding", "vec_id", "pq_code", k = 4)
    // nprobe = k (all cells): the cell partition is exhaustive, so the
    // pruned search IS the full scan — row-for-row, scores included
    val all = Similarity.ivfPqProbe(spark, tbl, queries,
      "vec_id", "embedding", cb, coarse, k = 4, nprobe = 4)
    assert(all.exceptAll(full).isEmpty && full.exceptAll(all).isEmpty,
      "nprobe=k must equal the exhaustive ADC scan exactly")
    // fewer probes return a subset of candidates: every reported
    // neighbor must also appear in the nprobe=k candidate ranking with
    // a distance no better than its own rank position allows
    val two = Similarity.ivfPqProbe(spark, tbl, queries,
      "vec_id", "embedding", cb, coarse, k = 4, nprobe = 2)
    val pairs = two.select("q_id", "n_id", "dist_adc")
    assert(pairs.join(full.select(col("q_id"), col("n_id"), col("dist_adc").as("d2")),
        Seq("q_id", "n_id"))
      .filter(col("dist_adc") =!= col("d2")).isEmpty,
      "shared (q,n) pairs must carry identical ADC distances")
  }

  test("ivfPqIndexDelete: probe(build∪append−delete) ≡ probe(rebuilt over survivors); re-append revives; compact folds") {
    // r16: the IVFADC code table joins the tombstone lifecycle. The
    // tombstone key is the VECTOR ID (one delete suppresses the id
    // wherever its cell landed); codebooks/centroids are frozen and
    // shared, so a rebuild over the survivors codes identically and the
    // probes must agree row-for-row, scores included.
    val e = Tables.embeddings(spark, sf)
    val cb = Similarity.pqTrain(e, "vec_id", "embedding", m = 4, k = 8, iters = 2)
    val coarse = Similarity.kmeansFit(e, "vec_id", "embedding",
      k = 4, iters = 2, cosine = false)
    val tbl = "ivfpq_tomb_" + System.nanoTime()
    val tbl2 = tbl + "_rebuilt"
    try {
      Similarity.ivfPqIndexBuild(e.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", cb, coarse, tbl, tableBuckets = 4)
      Similarity.ivfPqIndexAppend(e.filter(col("vec_id") % 2 =!= 0),
        "vec_id", "embedding", cb, coarse, tbl, tableBuckets = 4)
      Similarity.ivfPqIndexDelete(
        e.filter(col("vec_id") % 7 === 0).select("vec_id"), "vec_id", tbl)
      val queries = e.filter(col("vec_id") < 3)
      def probe(t: String) = Similarity.ivfPqProbe(spark, t, queries,
        "vec_id", "embedding", cb, coarse, k = 4, nprobe = 4)
      val probed = probe(tbl).localCheckpoint()
      Similarity.ivfPqIndexBuild(e.filter(col("vec_id") % 7 =!= 0),
        "vec_id", "embedding", cb, coarse, tbl2, tableBuckets = 4)
      val want = probe(tbl2)
      assert(probed.exceptAll(want).isEmpty && want.exceptAll(probed).isEmpty,
        "tombstoned probe must equal a rebuild over the survivors")
      import spark.implicits._
      assert(probed.filter(col("n_id") % 7 === 0).isEmpty,
        "no deleted id may surface as a neighbor")
      // deletion is load-bearing: some query's top-4 held a %7 id
      val fullBuild = tbl + "_full"
      Similarity.ivfPqIndexBuild(e, "vec_id", "embedding", cb, coarse,
        fullBuild, tableBuckets = 4)
      try assert(probe(fullBuild).filter(col("n_id") % 7 === 0).count() > 0,
        "fixture must delete ids that ranked")
      finally spark.sql(s"DROP TABLE IF EXISTS `$fullBuild`")
      // re-append revives (fresh generation outlives the delete); the
      // append never touches _del's files — stream-safe by construction
      Similarity.ivfPqIndexAppend(e.filter(col("vec_id") === 7),
        "vec_id", "embedding", cb, coarse, tbl, tableBuckets = 4)
      assert(!spark.table(tbl + "_del").isEmpty,
        "re-append must NOT rewrite the tombstone table (append-only contract)")
      assert(Similarity.liveIvfPqIndex(spark, tbl)
          .filter(col("n_id") === 7).count() == 1,
        "a re-appended id must be live again, exactly once")
      // compact folds; probe over the revived index is stable across it
      val preCompact = probe(tbl).localCheckpoint()
      Similarity.ivfPqIndexCompact(spark, tbl, tableBuckets = 4)
      assert(spark.table(tbl + "_del").isEmpty,
        "compact must truncate the tombstone table")
      val post = probe(tbl)
      assert(post.exceptAll(preCompact).isEmpty && preCompact.exceptAll(post).isEmpty,
        "compaction must not change probe results")
    } finally
      Seq(tbl, tbl + "_del", tbl2, tbl2 + "_del").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("residual IVFADC delete: matches drop the tombstoned ids exactly (threshold emission)") {
    // the residual build trains its codebooks inside, so a
    // rebuild-over-survivors twin would train DIFFERENT codebooks; the
    // exact assertion here is set algebra instead: with an exhaustive
    // threshold probe, delete(D) ≡ (all pairs) − (pairs with n_id ∈ D).
    val e = Tables.embeddings(spark, sf)
    val coarse = Similarity.kmeansFit(e, "vec_id", "embedding",
      k = 4, iters = 2, cosine = false)
    val tbl = "ivfpqres_tomb_" + System.nanoTime()
    try {
      val cb = Similarity.ivfPqResidualIndexBuild(e, "vec_id", "embedding",
        coarse, m = 4, k = 8, iters = 2, tableName = tbl, tableBuckets = 4)
      val queries = e.filter(col("vec_id") < 3)
      def pairs() = Similarity.ivfPqResidualProbe(spark, tbl, queries,
          "vec_id", "embedding", cb, coarse, k = Int.MaxValue, nprobe = 4)
        .select("q_id", "n_id")
      import spark.implicits._
      val before = pairs().as[(Long, Long)].collect().toSet
      Similarity.ivfPqIndexDelete(
        e.filter(col("vec_id") % 5 === 0).select("vec_id"), "vec_id", tbl)
      val after = pairs().as[(Long, Long)].collect().toSet
      assert(after == before.filterNot(_._2 % 5 == 0),
        "residual probe must drop exactly the tombstoned ids")
      assert(after.size < before.size, "deletion must be load-bearing")
    } finally
      Seq(tbl, tbl + "_del").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS `$t`"))
  }

  test("residual IVFADC: all-cells probe == exhaustive residual scan; fidelity beats raw-PQ") {
    val e = Tables.embeddings(spark, sf)
    val coarse = Similarity.kmeansFit(e, "vec_id", "embedding",
      k = 4, iters = 2, cosine = false)
    val tbl = "ivfpqres_spec_" + System.nanoTime()
    val cb = Similarity.ivfPqResidualIndexBuild(e, "vec_id", "embedding",
      coarse, m = 4, k = 8, iters = 2, tableName = tbl, tableBuckets = 4)
    val queries = e.filter(col("vec_id") < 3)
    val corpusCodes = spark.table(tbl)
    val full = Similarity.pqResidualTopKL2(queries, corpusCodes, cb, coarse,
      "vec_id", "embedding", "n_id", "pq_code", "cell", k = 4)
    val all = Similarity.ivfPqResidualProbe(spark, tbl, queries,
      "vec_id", "embedding", cb, coarse, k = 4, nprobe = 4)
    assert(all.exceptAll(full).isEmpty && full.exceptAll(all).isEmpty,
      "nprobe=k must equal the exhaustive residual-ADC scan exactly")
    // residual codes must reconstruct better than raw-vector codes at
    // the same (m, k) budget — THE reason residual IVFADC exists: mean
    // squared reconstruction error via decode on each representation
    import graft.functions.VectorFunctions.l2sqD
    val rawCb = Similarity.pqTrain(e, "vec_id", "embedding", m = 4, k = 8, iters = 2)
    val rawErr = Similarity.pqDecode(
        Similarity.pqEncode(e, "embedding", rawCb), rawCb)
      .select(l2sqD(col("embedding"), col("pq_vec")).as("err"))
      .agg(avg("err")).collect()(0).getDouble(0)
    val centsLit = typedLit(coarse.map(_.toIndexedSeq).toIndexedSeq)
    val vd = transform(col("embedding"), (x: org.apache.spark.sql.Column) => x.cast("double"))
    val withRes = e
      .withColumn("_cell", call_function("graft_centroid_argmax", vd,
        typedLit(coarse.flatten.toIndexedSeq),
        typedLit(Similarity.centroidBias(coarse, cosine = false).toIndexedSeq)))
      .withColumn("_res",
        zip_with(vd, element_at(centsLit, col("_cell") + 1), (x, c) => x - c))
    // |res − decode(code)|² == |x − (centroid + decode(code))|²: the
    // full reconstruction error of the residual representation
    val resErr = Similarity.pqDecode(
        Similarity.pqEncode(withRes, "_res", cb), cb)
      .select(l2sqD(col("_res"), col("pq_vec")).as("err"))
      .agg(avg("err")).collect()(0).getDouble(0)
    assert(resErr < rawErr,
      f"residual coding must cut reconstruction error at equal budget: " +
        f"residual $resErr%.4f vs raw $rawErr%.4f")
  }

  test("AdcTables kernel bit-equal to the HOF zip_with form (L2 + dot, ragged codebooks, degenerate rows)") {
    import spark.implicits._
    val e = emb.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
    val dim = e.select(size(col("v"))).first().getInt(0)
    val m = 4
    val sub = dim / m
    // codebooks from real rows, RAGGED on purpose (subspace 2 has one
    // codeword fewer — pqTrain drops empty clusters, so inner table
    // lengths must track per-subspace codeword counts)
    val rows = e.orderBy("vec_id").limit(3).collect().map(_.getSeq[Double](1))
    val cbs: Array[Array[Seq[Double]]] = (0 until m).toArray.map { j =>
      val words = rows.map(r => r.slice(j * sub, (j + 1) * sub): Seq[Double])
      if (j == 2) words.take(2) else words
    }
    // degenerate rows the HOF nulls: too-short vector, null element
    val degen = Seq(
      (-1L, Seq(1.0, 2.0)),                      // shorter than dim
      (-2L, (0 until dim).map(_.toDouble))       // full-length control
    ).toDF("vec_id", "v")
      .unionByName(Seq(-3L).toDF("vec_id")
        .withColumn("v", array((0 until dim).map(i =>
          if (i == sub + 1) lit(null).cast("double")
          else lit(i.toDouble)): _*)))
    for (squared <- Seq(true, false)) {
      val kernel = Similarity.adcTablesCol(col("v"), cbs, squared)
      val hof = KernelTwins.adcTablesHof(col("v"), cbs, squared)
      for (src <- Seq(e, degen)) {
        val diff = src.select(col("vec_id"), kernel.as("a"), hof.as("b"))
          .filter(!(col("a") <=> col("b"))).count()
        assert(diff == 0, s"kernel diverged from HOF on $diff rows (squared=$squared)")
      }
      // the ONE documented divergence: a NULL input vector — kernel
      // NULLs the whole table, HOF yields m arrays of nulls; every
      // consumer is an element_at chain that maps both to a NULL
      // distance, pinned here
      val nulled = Seq(-9L).toDF("vec_id")
        .withColumn("v", lit(null).cast("array<double>"))
      val consumed = nulled.select(
        element_at(element_at(kernel, 1), 1).as("ck"),
        element_at(element_at(hof, 1), 1).as("ch")).first()
      assert(consumed.isNullAt(0) && consumed.isNullAt(1),
        "both forms must null the consumer's lookup for a NULL vector")
    }
    // the kernel is what the probe plan actually executes, in codegen
    val p = e.select(Similarity.adcTablesCol(col("v"), cbs, squared = true))
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_adc_tables"), p.take(600))
  }

  test("CentroidTopK kernel bit-equal to the HOF sort form (real embeddings, ties, degenerate rows)") {
    import spark.implicits._
    val e = emb.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
    val dim = e.select(size(col("v"))).first().getInt(0)
    // tie-prone: one duplicated centroid
    val cents: Array[Seq[Double]] = e.orderBy("vec_id").limit(4)
      .collect().map(_.getSeq[Double](1)) :+
      e.orderBy("vec_id").limit(1).collect()(0).getSeq[Double](1)
    // degenerate rows: null vector, too-short vector, null element —
    // the HOF nulls every score and falls through to 0..nprobe−1
    val degen = Seq((-1L, Seq(1.0, 2.0)))
      .toDF("vec_id", "v")
      .unionByName(Seq(-2L).toDF("vec_id")
        .withColumn("v", lit(null).cast("array<double>")))
      .unionByName(Seq(-3L).toDF("vec_id")
        .withColumn("v", array((0 until dim).map(i =>
          if (i == 1) lit(null).cast("double")
          else lit(i.toDouble)): _*)))
    for (nprobe <- Seq(1, 3, cents.length + 2)) {
      val kernel = call_function("graft_centroid_topk", col("v"),
        typedLit(cents.flatten.toIndexedSeq),
        typedLit(Similarity.centroidBias(cents, cosine = false).toIndexedSeq),
        lit(nprobe))
      val hof = KernelTwins.coarseProbeCellsHof(col("v"), cents, nprobe)
      for (src <- Seq(e, degen)) {
        val diff = src.select(col("vec_id"), kernel.as("a"), hof.as("b"))
          .filter(!(col("a") <=> col("b"))).count()
        assert(diff == 0, s"kernel diverged from HOF on $diff rows (nprobe=$nprobe)")
      }
    }
    val p = e.select(call_function("graft_centroid_topk", col("v"),
        typedLit(cents.flatten.toIndexedSeq),
        typedLit(Similarity.centroidBias(cents, cosine = false).toIndexedSeq),
        lit(3)))
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_centroid_topk"), p.take(600))
  }

  test("CoarseResidual kernel bit-equal to the HOF zip_with form (real cells, degenerate rows)") {
    import spark.implicits._
    val e = emb.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
    val dim = e.select(size(col("v"))).first().getInt(0)
    val cents: Array[Seq[Double]] = e.orderBy("vec_id").limit(3)
      .collect().map(_.getSeq[Double](1))
    val cell = call_function("graft_centroid_argmax", col("v"),
      typedLit(cents.flatten.toIndexedSeq),
      typedLit(Similarity.centroidBias(cents, cosine = false).toIndexedSeq))
    // degenerate rows: short vector (zip_with null-pads), null element,
    // null vector, null cell
    val degen = Seq((-1L, Seq(1.0, 2.0), 0), (-2L, Seq(1.0, 2.0), 2))
      .toDF("vec_id", "v", "c")
      .unionByName(Seq(-3L).toDF("vec_id")
        .withColumn("v", lit(null).cast("array<double>"))
        .withColumn("c", lit(1)))
      .unionByName(Seq(-4L).toDF("vec_id")
        .withColumn("v", array((0 until dim).map(i =>
          if (i == 2) lit(null).cast("double")
          else lit(i.toDouble)): _*))
        .withColumn("c", lit(null).cast("int")))
    def diffOn(src: org.apache.spark.sql.DataFrame,
        cellCol: org.apache.spark.sql.Column): Long =
      src.select(col("vec_id"),
          call_function("graft_residual", transform(col("v"), _.cast("double")),
            cellCol.cast("int"), typedLit(cents.flatten.toIndexedSeq),
            lit(cents.length)).as("a"),
          KernelTwins.residualColHof(col("v"), cellCol, cents).as("b"))
        .filter(!(col("a") <=> col("b"))).count()
    assert(diffOn(e, cell) == 0, "kernel diverged from HOF on real cells")
    assert(diffOn(degen, col("c")) == 0, "kernel diverged from HOF on degenerate rows")
  }

  test("duplicateSpans computes its window-hash explode once — the shared _wh exchange is reused at runtime") {
    val spans = Dedup.duplicateSpans(docs, "text", "doc_id", k = 5)
    spans.collect() // materialize THIS QueryExecution so AQE finalizes it
    val p = spans.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"expected a reused exchange in the final adaptive plan:\n${p.take(4000)}")
  }

  test("CentroidArgmax non-finite scores: NaN vector agrees with HOF; ±Inf divergence is the decided contract (r18 ADVICE)") {
    import spark.implicits._
    val cents: Array[Seq[Double]] =
      Array(Seq(1.0, 2.0), Seq(-1.0, 0.5), Seq(0.0, 0.0))
    def kernelCol = call_function("graft_centroid_argmax", col("v"),
      typedLit(cents.flatten.toIndexedSeq),
      typedLit(Similarity.centroidBias(cents, cosine = false).toIndexedSeq))
    def hofCol = KernelTwins.centroidArgmaxHof(col("v"), cents, cosine = false)
    // a NaN ELEMENT poisons every centroid's dot product, so all scores
    // are NaN and both forms keep index 0 — no divergence
    val nan = Seq((1L, Seq(Double.NaN, 1.0)), (2L, Seq(1.0, Double.NaN)))
      .toDF("id", "v")
    val nanOut = nan.select(kernelCol.as("a"), hofCol.as("b")).collect()
    assert(nanOut.forall(r => r.getInt(0) == 0 && r.getInt(1) == 0),
      s"NaN vector must keep index 0 in both forms: ${nanOut.mkString(",")}")
    // an INFINITE element yields MIXED NaN/finite scores (Inf·0 = NaN):
    // the HOF struct-max ranks NaN above every double and picks the
    // NaN-scored centroid; the kernel's strict > never selects a later
    // NaN. Non-finite embeddings are OUT OF CONTRACT for the trained-
    // codebook operators — this pin makes the divergence an explicit,
    // tested decision rather than a silent one.
    val inf = Seq((3L, Seq(Double.PositiveInfinity, 1.0))).toDF("id", "v")
    val infOut = inf.select(kernelCol.as("a"), hofCol.as("b")).first()
    assert(infOut.getInt(0) == 0, s"kernel must keep the first finite max: $infOut")
    assert(infOut.getInt(1) == 2, s"HOF ranks the NaN score highest: $infOut")
  }
}
