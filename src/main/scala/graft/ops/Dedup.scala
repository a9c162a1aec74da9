package graft.ops

import graft.core.Transforms
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale corpus curation
  * (SURVEY.md §2.3 north-star "Near-dup / similarity" row).
  *
  * Scale design (the point at 100 TB):
  *   - Exact dedup is a hash-partitioned groupBy on the fingerprint — one
  *     shuffle, map-side combine, no driver state.
  *   - MinHash/LSH near-dup never compares all pairs: signatures are
  *     computed per-row (narrow), banded, and only rows sharing a
  *     (band, band-hash) bucket are self-joined. Bucket sizes are bounded
  *     by `maxBucket` (oversized buckets = degenerate content, dropped
  *     with a count, never exploded into O(n²) work).
  *   - SimHash near-dup buckets by prefix windows of `bands` rotations of
  *     the 64-bit signature (union of per-band buckets, same `maxBucket`
  *     cap), so candidate generation is also a bounded equi-join.
  */
object Dedup {

  /** Observed-metric name prefix for degenerate-bucket drops — see
    * [[observeDroppedBuckets]]. Bench and specs match on this prefix. */
  val DroppedBucketsMetricPrefix = "graft_dropped_buckets/"

  private val dropObsId = new java.util.concurrent.atomic.AtomicLong()

  /** Make a capped run VISIBLY distinguishable from an exact one (r14
    * ADVICE): the oversized-bucket side of every maxBucket drop carries
    * an `observe` node, so any action on the final DataFrame reports
    * (n_dropped_buckets, n_dropped_rows) through
    * `QueryExecution.observedMetrics` — a zero (or, once AQE's
    * empty-relation propagation prunes the empty oversized side, an
    * absent) metric means the run was exact, and any drop ALWAYS
    * reports (a non-empty side is never pruned); the DuckDB oracles
    * model no cap, so at scales the oracle
    * never checks (the hash gate runs at sf0.1) this metric is the
    * evidence a skewed band value silently crossed the cap. Bench
    * aggregates the metric per query into the detail record; unique
    * per-call names keep composed plans legal (observe names must not
    * collide within one query). */
  private def observeDroppedBuckets(oversized: DataFrame): DataFrame =
    oversized.observe(
      DroppedBucketsMetricPrefix + dropObsId.incrementAndGet(),
      count(lit(1)).as("n_dropped_buckets"),
      coalesce(sum("bsz"), lit(0L)).as("n_dropped_rows"))

  /** Exact duplicate groups by normalized-text fingerprint.
    * Returns (fingerprint, n_dups, min_doc_id = canonical representative).
    */
  def exactDupGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_dups"), min(idCol).as("canonical_id"))

  /** Keep one row per normalized-text fingerprint (the min-id row wins —
    * deterministic, unlike dropDuplicates). */
  def exactDedup(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = exactDupGroups(docs, textCol, idCol)
      .select(col("canonical_id").as(idCol))
    docs.join(keep, idCol) // canonical ids are unique → inner join keeps one per group
  }

  /** Build a PERSISTED exact-dedup fingerprint index — the incremental-
    * ingestion shape of [[exactDedup]]. At 100 TB the corpus is not
    * re-deduplicated per crawl batch: the historical fingerprint set
    * lives as a bucketed table (one row per distinct fingerprint, with
    * its canonical first id), and each new batch anti-joins against it
    * with ZERO index-side Exchange ([[dedupAgainstIndex]]), then appends
    * only its NOVEL fingerprints ([[dedupIndexAppend]]) — writes are
    * delta-sized, reads stay bucketed. Mirrors the persisted-ANN-index
    * lifecycle ([[Similarity.lshIndexBuild]]). */
  def dedupIndexBuild(docs: DataFrame, textCol: String, idCol: String,
      tableName: String, tableBuckets: Int = 32): Unit =
    fingerprintIndexBuild(
      docs.select(fingerprint(col(textCol)).as("fp"),
        col(idCol).cast("long").as("first_id")),
      tableName, tableBuckets)

  /** Modality-agnostic persisted fingerprint index from ANY
    * (fp, first_id) table — text fingerprints ([[dedupIndexBuild]]),
    * image dHashes, audio energy fingerprints, video keyframe hashes
    * all share this one bucketed-index lifecycle; `fp` may be any
    * equi-joinable type. */
  def fingerprintIndexBuild(fps: DataFrame, tableName: String,
      tableBuckets: Int = 32): Unit = {
    // empty tombstone table up front: discards a previous same-name
    // index's deletes AND makes mid-stream deletes visible to streaming
    // probes (they plan the live-view join at stream definition —
    // see Bucketing.initTombstones)
    Bucketing.initTombstones(fps, "fp", tableName)
    Bucketing.writeBucketed(
      Bucketing.withGen(
        fps.groupBy("fp").agg(min("first_id").as("first_id")), 0L),
      tableName, "fp", tableBuckets)
  }

  /** Delta append of NOVEL fingerprints to a [[fingerprintIndexBuild]]
    * table (eager localCheckpoint for the same self-referential-write
    * reason as [[dedupIndexAppend]]). Rows are stamped with the index's
    * current generation, so a deleted-then-re-inserted fingerprint is
    * live again from this append on — while its STALE pre-delete row
    * stays suppressed (its generation predates the delete), keeping the
    * live view one-row-per-fingerprint. Pure file append: safe under a
    * running streaming probe. */
  def fingerprintIndexAppend(novelFps: DataFrame, tableName: String,
      tableBuckets: Int = 32): Unit =
    Bucketing.appendAtGen(
      novelFps.groupBy("fp").agg(min("first_id").as("first_id"))
        .localCheckpoint(true),
      tableName, "fp", tableBuckets)

  /** Tombstone RETRACTION for a [[fingerprintIndexBuild]] table (r15 —
    * the index family was append-only; nothing could remove a retracted
    * document). Deletes accumulate in a SMALL append-only side table
    * `<tableName>_del` of (fingerprint, seq) rows: probes filter
    * through it ([[liveFingerprintIndex]] — broadcast, so the bucketed
    * base scan keeps its zero-Exchange shape), and
    * [[fingerprintIndexCompact]] folds it into the base — the index is
    * never rewritten per delete, the same delta discipline as appends,
    * and no lifecycle op outside compact rewrites any file (safe under
    * live streams). Semantics are per-FINGERPRINT: deleting a
    * fingerprint retracts its rows written so far (a later batch
    * re-inserts it as novel at a newer generation), so
    * probe(build(A) ∪ append(B) − delete(D)) ≡ probe(build(A∪B−D)) with
    * −D removing every doc holding a deleted fingerprint — spec-pinned
    * in LayoutBucketingSpec, oracled by q_dedup_tombstone. */
  def fingerprintIndexDelete(delFps: DataFrame, tableName: String): Unit =
    Bucketing.tombstoneAppend(delFps, "fp", tableName)

  /** Text-level convenience for [[fingerprintIndexDelete]]: retract the
    * normalized-text fingerprints of `retracted` from a
    * [[dedupIndexBuild]] table. */
  def dedupIndexDelete(spark: SparkSession, tableName: String,
      retracted: DataFrame, textCol: String): Unit =
    fingerprintIndexDelete(
      retracted.select(fingerprint(col(textCol)).as("fp")), tableName)

  /** The LIVE rows of a fingerprint index: base rows not suppressed by
    * a later tombstone ([[Bucketing.liveView]]). The tombstone side is
    * broadcast (deletes are a small delta by contract — fold them with
    * [[fingerprintIndexCompact]] before they grow; probes report the
    * tombstoned-key count as an observed metric); the broadcast join
    * preserves the base scan's bucketed partitioning, so downstream
    * probe joins stay index-Exchange-free. Indexes with no delete table
    * read through unchanged (identical plan). */
  def liveFingerprintIndex(spark: SparkSession, tableName: String): DataFrame =
    Bucketing.liveView(spark, tableName, "fp")

  /** Fold tombstones into the base: rewrite the index to its live rows
    * (one file per bucket, the [[Bucketing.compactBucketed]] layout
    * contract) and truncate the tombstone table. Probe results are
    * unchanged by construction — the probe already read the live view.
    * Returns the live row count. */
  def fingerprintIndexCompact(spark: SparkSession, tableName: String,
      tableBuckets: Int = 32): Long =
    Bucketing.tombstoneCompact(spark, tableName, "fp", "fp", tableBuckets)

  /** Rows of `batch` that are NOVEL against a [[dedupIndexBuild]] table:
    * fingerprint unseen by the index AND first (min-id) within the batch.
    * The anti-join streams the bucketed index with no Exchange (only the
    * batch shuffles — pinned in LayoutBucketingSpec); the within-batch
    * election rides the same fp partitioning. */
  def dedupAgainstIndex(spark: SparkSession, tableName: String,
      batch: DataFrame, textCol: String, idCol: String): DataFrame = {
    val withFp = batch.withColumn("_fp", fingerprint(col(textCol)))
    val unseen = withFp.hint("shuffle_merge")
      .join(liveFingerprintIndex(spark, tableName),
        col("_fp") === col("fp"), "left_anti")
    val winners = unseen // aliased group key: no self-join exprId clash
      .groupBy(col("_fp").as("_wfp"))
      .agg(min(col(idCol).cast("long")).as("_wid"))
    unseen.join(winners,
        col("_fp") === col("_wfp") &&
          col(idCol).cast("long") === col("_wid"),
        "left_semi")
      .drop("_fp")
  }

  /** Append a deduplicated batch's fingerprints to the index — the
    * write is proportional to the NOVEL delta, not the corpus. Feed it
    * [[dedupAgainstIndex]]'s output (rows already unseen + in-batch
    * unique), so build(b0) + append(novel(b1)) holds exactly the same
    * (fp, first_id) set as a from-scratch build over the survivors.
    *
    * The delta is materialized (eager localCheckpoint) BEFORE the write:
    * [[dedupAgainstIndex]]'s plan reads `spark.table(tableName)` (the
    * anti-join), so appending its un-materialized output back to the
    * same table would be a self-referential write — Spark's
    * cannot-insert-into-table-being-read error, or a survivor set that
    * silently shifts if the plan re-evaluates after an earlier append
    * (r11 ADVICE). */
  def dedupIndexAppend(spark: SparkSession, tableName: String,
      novel: DataFrame, textCol: String, idCol: String,
      tableBuckets: Int = 32): Unit =
    fingerprintIndexAppend(
      novel.select(fingerprint(col(textCol)).as("fp"),
        col(idCol).cast("long").as("first_id")),
      tableName, tableBuckets)

  /** Corpus-wide exact SPAN dedup — the distributed, windowed variant of
    * duplicated-substring removal (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better": repeated long spans,
    * not just whole documents, are what LMs memorize). Each document is
    * chunked into fixed non-overlapping `windowTokens`-token spans
    * ([[Curation.chunkByTokens]], purely narrow); only the corpus-wide
    * FIRST occurrence of each distinct span — ordered by (document id,
    * chunk position) — survives, and documents are reassembled from their
    * surviving spans in order.
    *
    * Scale shape: winner election is a groupBy on the span's xxhash64
    * (fixed 8-byte shuffle key — the span TEXT never shuffles) with a
    * map-side-combined `min(struct(id, pos))`, then a semi-join back;
    * reassembly is one groupBy on the document id. Nothing is quadratic
    * and no suffix array is needed.
    *
    * Output: all columns of `df` plus `text_dedup` (surviving spans
    * joined by `delim`; "" when every span was dropped), `n_chunks_kept`,
    * `n_tokens_kept`.
    */
  def spanDedup(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int, delim: String = " "): DataFrame = {
    val c = Curation.chunkByTokens(df, textCol, idCol,
      chunkSize = windowTokens, overlap = 0, delim = delim)
    val winners = c
      .groupBy(xxhash64(col("chunk_text")).as("_ch"))
      .agg(min(struct(col(idCol), col("chunk_id"))).as("_w"))
      .select(col("_ch"), col("_w")(idCol).as("_wid"),
        col("_w")("chunk_id").as("_wcid"))
    val kept = c.join(winners,
      xxhash64(col("chunk_text")) === col("_ch") &&
        col(idCol) === col("_wid") && col("chunk_id") === col("_wcid"),
      "left_semi")
    val rebuilt = kept
      .groupBy(idCol)
      .agg(array_sort(collect_list(
        struct(col("chunk_id"), col("chunk_text"), col("n_tokens")))).as("_cs"))
      .select(col(idCol),
        concat_ws(delim, transform(col("_cs"), p => p("chunk_text")))
          .as("text_dedup"),
        size(col("_cs")).as("n_chunks_kept"),
        aggregate(col("_cs"), lit(0L),
          (a, p) => a + p("n_tokens").cast("long")).as("n_tokens_kept"))
    df.join(rebuilt, Seq(idCol), "left")
      .withColumn("text_dedup", coalesce(col("text_dedup"), lit("")))
      .withColumn("n_chunks_kept", coalesce(col("n_chunks_kept"), lit(0)))
      .withColumn("n_tokens_kept", coalesce(col("n_tokens_kept"), lit(0L)))
  }

  /** Maximal duplicated substrings at ARBITRARY alignment — the full
    * sliding-window form of Lee et al. 2022's duplicated-span removal
    * ([[spanDedup]] is the fixed-grid approximation: it only catches
    * spans that happen to line up with the chunk grid). Every
    * overlapping `k`-token window is fingerprinted; a window is a
    * duplicate iff it is not the corpus-wide FIRST occurrence of its
    * token sequence (ordered by (document id, position)); per document,
    * overlapping or adjacent duplicate windows merge into maximal spans.
    * Catches cross-document boilerplate at any offset AND within-document
    * repetition (a doc that repeats its own opening paragraph).
    *
    * Scale shape: the corpus-wide step is one groupBy on the window's
    * 8-byte xxhash64 with a map-side-combined `min(struct(id, pos))`
    * election — robust to hot n-grams, where a row_number window over
    * the hash would single-task the head key. The span merge is a
    * lag/cumsum window PARTITIONED BY DOCUMENT, so its state is bounded
    * by one document's token count. Window text never shuffles — only
    * (hash, id, pos) triples do.
    *
    * Output: (idCol, span_start, span_end, n_dup_windows) — inclusive
    * token positions, one row per maximal duplicated span.
    */
  def duplicateSpans(docs: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame = {
    // fanOut: the tokenize+window-hash pass is CPU-heavy and otherwise
    // runs in as few tasks as the corpus has file splits (r18; no-op at
    // real scale)
    val t = graft.core.Transforms.fanOut(
        docs.select(col(idCol), col(textCol)))
      .select(col(idCol), split(lower(trim(col(textCol))), "\\s+").as("_toks"))
      .withColumn("_n", size(col("_toks")))
      .filter(col("_n") >= k)
    // xxhash64 over the token-array SLICE: equality classes are exactly
    // token-sequence equality (tokens cannot contain whitespace), so no
    // string join/concat is ever built.
    // `w` feeds BOTH the first-occurrence election and the duplicate
    // join. r18 localCheckpoint'd it so the tokenize+hash explode runs
    // once — but localCheckpoint pins the expansion in unreplicated
    // executor blocks (an executor loss on a cluster kills the job) and
    // truncates lineage. r19: repartition by _wh instead — both
    // consumers need exactly that clustering (the election's groupBy
    // and the duplicate join are _wh-keyed), so the planner's
    // ReuseExchange computes the explode ONCE into shuffle files (fault-
    // tolerant, spillable, freed with the job) and both branches read
    // them with no further exchange. Fewer exchanges than the
    // checkpoint shape AND recoverable — the best of both (guide §2.4
    // "two operations keyed the same way can share one exchange").
    val w = t.select(col(idCol),
      posexplode(transform(sequence(lit(0), col("_n") - k),
        i => xxhash64(slice(col("_toks"), i + 1, lit(k))))).as(Seq("pos", "_wh")))
      .repartition(col("_wh"))
    val firsts = w.groupBy("_wh")
      .agg(count(lit(1)).as("_c"), min(struct(col(idCol), col("pos"))).as("_w"))
      .filter(col("_c") >= 2)
      .select(col("_wh"), col("_w")(idCol).as("_fid"), col("_w")("pos").as("_fpos"))
    val dups = w.join(firsts, Seq("_wh"))
      .filter(!(col(idCol) === col("_fid") && col("pos") === col("_fpos")))
      .select(col(idCol), col("pos"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("pos")
    dups
      .withColumn("_brk",
        when(col("pos") >
          coalesce(lag(col("pos"), 1).over(byDoc), lit(-k - 1)) + k, 1)
          .otherwise(0))
      .withColumn("_g", sum(col("_brk")).over(byDoc))
      .groupBy(col(idCol), col("_g"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + k - 1).cast("long").as("span_end"),
        count(lit(1)).as("n_dup_windows"))
      .select(col(idCol), col("span_start"), col("span_end"),
        col("n_dup_windows"))
  }

  /** Content-defined chunking (the rsync/casync/restic primitive,
    * adapted to text): a chunk boundary opens wherever the rolling
    * window's hash lands in a fixed residue class —
    * `xxhash64(substr(text, i, w)) % modulus == 0` — so boundaries are
    * decided by CONTENT, not position. Insertions or deletions shift
    * every downstream offset, which re-cuts every chunk of a fixed grid
    * ([[spanDedup]]) and every window of a fixed-k slide
    * ([[duplicateSpans]]); CDC boundaries re-synchronize one window
    * past the edit, so block-level dedup keeps matching the unedited
    * remainder. Expected chunk length ≈ `modulus` characters. Pure
    * content-defined form: no min/max chunk clamps (a doc shorter than
    * `w` is one chunk; empty text yields none).
    *
    * Scale shape: boundary detection is the one-pass codegen kernel
    * [[graft.functions.CdcBoundariesKernel]] — O(len) character-offset
    * walk + one XXH64 call per window, replacing the r11 HOF form
    * (`filter(sequence(...), i => pmod(xxhash64(substr(text,i,w)),m)=0)`)
    * that was CodegenFallback with per-position Column machinery
    * (O(len·w) — the same lambda-scope trap graft_term_counts fixed;
    * DedupSpec pins bit-equality of the two forms). Chunk extraction is
    * zip_with on the boundary array — the corpus never shuffles to be
    * chunked. Output: (idCol, chunk_id, chunk).
    */
  def cdcChunks(docs: DataFrame, textCol: String, idCol: String,
      w: Int = 8, modulus: Int = 64): DataFrame = {
    val n = length(col(textCol))
    val bpos = call_function("graft_cdc_boundaries",
      col(textCol), lit(w), lit(modulus))
    val starts = when(n >= 1, array_union(array(lit(1)), bpos))
      .otherwise(array().cast("array<int>"))
    docs
      .withColumn("_st", starts)
      .withColumn("_en",
        when(size(col("_st")) === 0, array().cast("array<int>"))
          .otherwise(concat(
            slice(col("_st"), lit(2), greatest(size(col("_st")) - 1, lit(0))),
            array(n + 1))))
      .select(col(idCol),
        posexplode(zip_with(col("_st"), col("_en"),
          (s, e) => col(textCol).substr(s, e - s))).as(Seq("chunk_id", "chunk")))
  }

  /** Candidate near-duplicate pairs via MinHash + banded LSH.
    *
    * numHashes = bands * rowsPerBand. Two docs become a candidate pair iff
    * they agree on all rows of at least one band. Output:
    * (id_a, id_b, jaccard) with id_a < id_b, verified against the exact
    * shingle-set Jaccard and filtered to >= threshold.
    *
    * Scale shape: candidate (id_a, id_b) pairs are deduplicated BEFORE the
    * exact-Jaccard verification, so a pair colliding in k bands is verified
    * once, not k times; the bucket join carries only (id, band, bh) — the
    * shingle sets rejoin by id afterwards, keeping the wide arrays out of
    * the quadratic step entirely.
    */
  def minhashNearDup(
      docs: DataFrame, textCol: String, idCol: String,
      shingleLen: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    val numHashes = bands * rowsPerBand
    // The shingle base feeds three consumers (bucketing + both sides of
    // the verify join). ONE narrow kernel pass
    // ([[graft.functions.ShingleSketch]]) tokenizes each doc once and
    // emits both the distinct 64-bit shingle-hash set and the full
    // minhash signature — no explode, no 64-min aggregation, no shuffle
    // (the former explode/hash-aggregate shape materialized ~|shingles|
    // rows per doc and shuffled them by id just to take minima a tight
    // per-row loop computes for free). A localCheckpoint stages the
    // result — the run-local form of the staged (id, shingles, signature)
    // table the 100 TB plan calls for; staging the *hashed* sets (8-byte
    // longs) is what makes the checkpoint pay, the wide string arrays
    // measured slower to materialize than to recompute (BENCH_r02/r03).
    // 64-bit collisions are negligible at corpus scale (~n²/2⁶⁵).
    val staged = Transforms.fanOut(docs.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"), shingleSketch(col(textCol), shingleLen, numHashes).as("sk"))
      .select(col("id"), col("sk.shh").as("shh"), col("sk.sig").as("sig"))
      .filter(size(col("shh")) > 0)
      .localCheckpoint()
    val withSig = staged.select("id", "sig")
    // explode into (band, hash-of-band-slice) buckets; drop the signature
    val banded = withSig.select(
      col("id"),
      explode(transform(sequence(lit(0), lit(bands - 1)), b =>
        struct(b.as("band"),
          // xxhash64 hashes the LONG array natively (seed-chained per
          // element) — no per-band long→string formatting; only the
          // equality classes of band slices matter, not the hash values
          xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))
            .as("bh")))).as("bucket"))
      .select(col("id"), col("bucket.band"), col("bucket.bh"))
    // Drop degenerate buckets instead of exploding them quadratically.
    // The oversized-bucket list is tiny (hot buckets are rare by
    // construction), so this is a broadcast anti-join — NOT a window
    // count, which would hash+sort the entire banded table just to
    // discover the few hot buckets.
    val oversized = observeDroppedBuckets(
      banded.groupBy("band", "bh")
        .agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") > maxBucket))
      .select("band", "bh")
    val kept = banded.join(broadcast(oversized), Seq("band", "bh"), "left_anti")
    val l = kept.select(col("band"), col("bh"), col("id").as("id_a"))
    val r = kept.select(col("band"), col("bh"), col("id").as("id_b"))
    val cand = l.join(r, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val setsA = staged.select(col("id").as("id_a"), col("shh").as("shh_a"))
    val setsB = staged.select(col("id").as("id_b"), col("shh").as("shh_b"))
    cand.join(setsA, "id_a").join(setsB, "id_b")
      .withColumn("common",
        size(array_intersect(col("shh_a"), col("shh_b"))).cast("long"))
      .select(col("id_a"), col("id_b"),
        (col("common").cast("double") /
          (size(col("shh_a")) + size(col("shh_b")) - col("common")).cast("double"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash near-dup candidates, multi-band (Manku/Jain/Das Sarma,
    * WWW'07 rotation scheme): for each of `bands` rotations of the 64-bit
    * signature, bucket by the top `prefixBits` of the rotated value; the
    * candidate set is the union over bands of the within-bucket pairs,
    * deduplicated, then verified with the exact Hamming distance.
    *
    * Scale shape — mirrors [[minhashNearDup]]:
    *   - recall does not hinge on a single prefix window: a pair with few
    *     differing bits survives if ANY of the `bands` windows is clean
    *     (one fixed prefix misses every pair whose flipped bits happen to
    *     land in the top bits);
    *   - `bands * 2^prefixBits` buckets instead of `2^prefixBits`, and
    *     any bucket larger than `maxBucket` (boilerplate-heavy corpora
    *     concentrate signatures) is dropped via a broadcast anti-join with
    *     only its count paid, never its O(|bucket|²) self-join;
    *   - candidate pairs are deduped BEFORE the Hamming verify, so a pair
    *     colliding in k bands is verified once.
    */
  def simhashNearDup(
      docs: DataFrame, textCol: String, idCol: String,
      prefixBits: Int = 12, maxHamming: Int = 8,
      bands: Int = 4, maxBucket: Int = 1000): DataFrame = {
    // ONE narrow kernel pass ([[graft.functions.SimhashKernel]]) computes
    // the 64-bit signature per row — no explode, no 64-sum aggregation,
    // no shuffle (bit-equality with that formulation is spec-enforced).
    val sigs = Transforms.fanOut(docs.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"), simhash64(col(textCol)).as("sig"))
    hammingNearDup(sigs, prefixBits, maxHamming, bands, maxBucket)
  }

  /** The rotated-prefix band buckets shared by [[hammingNearDup]] and
    * [[hammingNearDupAcross]]: band b's bucket is the top `prefixBits`
    * of the signature rotated left by b·(64/bands) — `bands` disjoint
    * windows when prefixBits = 64/bands. Output: (id, band, bh). */
  private def bandBuckets(sigs: DataFrame, bands: Int,
      prefixBits: Int): DataFrame = {
    val stride = 64 / bands
    sigs.select(col("id"),
      explode(array((0 until bands).map { b =>
        val r = b * stride
        val rot = if (r == 0) col("sig")
          else shiftleft(col("sig"), r)
            .bitwiseOR(shiftrightunsigned(col("sig"), 64 - r))
        struct(lit(b).as("band"),
          shiftrightunsigned(rot, 64 - prefixBits).as("bh"))
      }: _*)).as("bucket"))
      .select(col("id"), col("bucket.band"), col("bucket.bh"))
  }

  private def requireBandParams(bands: Int, prefixBits: Int): Unit = {
    require(64 % bands == 0, s"bands must divide 64, got $bands")
    // prefixBits=0 would make shiftrightunsigned(rot, 64) a JVM no-op
    // (shift masked to 0 → bucket = full signature); >=64 misbehaves the
    // same way. Fail loudly instead of silently losing recall.
    require(prefixBits >= 1 && prefixBits <= 63,
      s"prefixBits must be in [1, 63], got $prefixBits")
  }

  /** Hamming-banded near-duplicate pairs over ANY 64-bit signature table
    * `(id, sig)` — the banding/cap/verify engine behind
    * [[simhashNearDup]], reusable for every fingerprint whose distance
    * is Hamming (SimHash over text, dHash/aHash over images). With
    * `bands` = 64/prefixBits disjoint windows (e.g. 4 bands × 16 bits),
    * pigeonhole guarantees any pair at Hamming < bands collides in at
    * least one band — recall 1.0 up to `bands − 1` flipped bits.
    * Output: (id_a, id_b, hamming) with id_a < id_b. */
  def hammingNearDup(sigTable: DataFrame,
      prefixBits: Int = 12, maxHamming: Int = 8,
      bands: Int = 4, maxBucket: Int = 1000): DataFrame = {
    requireBandParams(bands, prefixBits)
    // The checkpoint stages the tiny (id, sig) table once for its three
    // consumers (bucketing + both verify sides).
    val sigs = sigTable.localCheckpoint()
    val banded = bandBuckets(sigs, bands, prefixBits)
    // degenerate-bucket cap: same broadcast anti-join as minhashNearDup
    val oversized = observeDroppedBuckets(
      banded.groupBy("band", "bh")
        .agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") > maxBucket))
      .select("band", "bh")
    val kept = banded.join(broadcast(oversized), Seq("band", "bh"), "left_anti")
    val l = kept.select(col("band"), col("bh"), col("id").as("id_a"))
    val r = kept.select(col("band"), col("bh"), col("id").as("id_b"))
    val cand = l.join(r, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val sigA = sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))
    val sigB = sigs.select(col("id").as("id_b"), col("sig").as("sig_b"))
    cand.join(sigA, "id_a").join(sigB, "id_b")
      .withColumn("hamming", hamming64(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Cross-TABLE Hamming-banded near-dup (r14): pairs (left.id,
    * right.id) with Hamming(sig_l, sig_r) ≤ maxHamming between two
    * DIFFERENT signature tables — the cross-modal dedup shape (e.g.
    * image dHash vs video keyframe dHash: which stills appear as video
    * thumbnails; or one corpus snapshot vs another). Same rotated-band
    * buckets, degenerate-bucket cap (combined bucket population), and
    * verify as [[hammingNearDup]]; recall 1.0 up to bands−1 flipped
    * bits by the same pigeonhole, no a<b filter because the id spaces
    * are distinct tables. Output: (id_a, id_b, hamming) with id_a from
    * `left`, id_b from `right`. */
  def hammingNearDupAcross(left: DataFrame, right: DataFrame,
      prefixBits: Int = 12, maxHamming: Int = 8,
      bands: Int = 4, maxBucket: Int = 1000): DataFrame = {
    requireBandParams(bands, prefixBits)
    val l = left.localCheckpoint()
    val r = right.localCheckpoint()
    val lb = bandBuckets(l, bands, prefixBits)
    val rb = bandBuckets(r, bands, prefixBits)
    val oversized = observeDroppedBuckets(
      lb.select("band", "bh")
        .unionByName(rb.select("band", "bh"))
        .groupBy("band", "bh").agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") > maxBucket))
      .select("band", "bh")
    val lk = lb.join(broadcast(oversized), Seq("band", "bh"), "left_anti")
    val rk = rb.join(broadcast(oversized), Seq("band", "bh"), "left_anti")
    val cand = lk.select(col("band"), col("bh"), col("id").as("id_a"))
      .join(rk.select(col("band"), col("bh"), col("id").as("id_b")),
        Seq("band", "bh"))
      .select("id_a", "id_b")
      .distinct()
    cand
      .join(l.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(r.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("hamming", hamming64(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Connected components over a near-duplicate pair list — the cluster
    * step a dedup pipeline needs between "pairs above threshold" and
    * "keep one representative per group" (the min-id member is the
    * canonical representative, matching [[exactDedup]]).
    *
    * Iterative min-label propagation: each node adopts the minimum label
    * among itself and its neighbors until fixpoint (≤ graph diameter
    * rounds). Each round is one shuffle join + aggregate; lineage is cut
    * per round with localCheckpoint so the plan stays O(1) deep — the
    * standard Spark shape for iterative graph algorithms at scale (the
    * pair graph is orders of magnitude smaller than the corpus).
    * Input: (aCol, bCol) pairs; output: (id, comp).
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", maxIter: Int = 20): DataFrame = {
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")).localCheckpoint()
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("comp").as("nc")), "dst")
        .groupBy(col("src").as("id")).agg(min("nc").as("nmin"))
      val updated = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("comp"),
          least(col("comp"), coalesce(col("nmin"), col("comp"))).as("next"))
        .localCheckpoint()
      changed = updated.filter(col("next") < col("comp")).count()
      labels = updated.select(col("id"), col("next").as("comp"))
      i += 1
    }
    labels
  }

  /** The end-to-end "dedup my corpus" composition: given near-duplicate
    * pairs (from [[ngramJaccardPairs]], [[minhashNearDup]], or
    * [[simhashNearDup]]), cluster them with [[connectedComponents]] and
    * keep ONE representative per cluster — the minimum id, matching
    * [[exactDedup]]'s canonical choice — plus every unpaired document.
    * The non-canonical id set scales with the number of DUPLICATE
    * documents — routinely a large fraction of a web corpus — so the
    * anti-join is left un-hinted: AQE broadcasts it when the measured
    * size fits and falls back to a shuffled anti-join when it doesn't
    * (a forced broadcast here would blow the driver at exactly the
    * scale this operator targets). */
  def keepCanonical(docs: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val comp = connectedComponents(pairs, aCol, bCol)
    val canonical = comp.groupBy("comp").agg(min("id").as("keep"))
    val drop = comp.join(canonical, "comp")
      .filter(col("id") =!= col("keep"))
      .select(col("id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    * hash every positional k-gram, slide a window of `window` hashes, keep
    * the minimum of each window, distinct the kept set. Robust to
    * insertions/reordering in a way a whole-document hash is not, and the
    * fingerprint set size is ~|doc|/window — the standard plagiarism /
    * near-dup sketch. md5 (lexicographic min) keeps it DuckDB-mirrorable.
    * Output: (id, fps: array<string>) plus any `keep` columns (`keep`
    * may include `textCol` to carry the document body through).
    */
  def winnowFingerprints(docs: DataFrame, textCol: String, idCol: String,
      shingleLen: Int = 3, window: Int = 4, keep: Seq[String] = Nil): DataFrame = {
    // `keep` may name textCol/idCol (to carry the payload through); they
    // are already selected, so drop them from the input projection to
    // avoid duplicate columns.
    val keepIn = keep.filterNot(c => c == textCol || c == idCol)
    // one native kernel call per row ([[graft.functions.WinnowKernel]]):
    // tokenize → positional shingles → md5 → sliding-window min →
    // distinct, all inside whole-stage codegen. Replaces the former
    // Generate barrier + interpreted windowed-min HOF; bit-equality with
    // that formulation is spec-enforced, and the DuckDB oracle
    // (q_fingerprint_winnow) pins the semantics independently.
    Transforms.fanOut(
      docs.select((Seq(col(idCol).as("id"), col(textCol)) ++ keepIn.map(col)): _*))
      .select((Seq(col("id"),
        winnowN(col(textCol), shingleLen, window).as("fps")) ++
        keep.filterNot(_ == idCol).map(col)): _*)
  }

  /** Exact n-gram Jaccard pairs within a blocking key, via a hot/cold
    * split inverted index.
    *
    * The plain inverted index (explode distinct shingles, self-join on
    * (block, shingle), count common per pair) does Σ_shingle df(shingle)²
    * join work: one corpus-common trigram ("of the and"-class) becomes a
    * single quadratic hot key at 100× scale. The fix splits the index on a
    * document-frequency cap `hotDf`:
    *
    *   - COLD shingles (df <= hotDf) keep the one-join count formulation —
    *     work is bounded by hotDf · |index|, i.e. linear in the corpus;
    *   - HOT shingles (df > hotDf — the heavy-tail head: stopword
    *     shingles; a tiny, broadcastable set by construction) are evicted
    *     from the counting join. Pairs whose ONLY shared shingles are hot
    *     are recovered exactly with a PPJoin-style prefix index
    *     (Xiao/Wang/Lin/Yu, WWW'08) built ONLY over docs containing hot
    *     shingles: rank each such doc's shingles rarest-first by (df, s);
    *     its prefix is the first |sh| - ceil(t·|sh|) + 1. Prefix-filter
    *     lemma: a pair with J >= t shares >= ceil(t·|A|) shingles, so the
    *     globally-minimal common shingle c₁ must sit in both prefixes (if
    *     c₁ were outside A's prefix, fewer than ceil(t·|A|) of A's
    *     shingles could be >= c₁ — contradiction). If c₁ is cold the cold
    *     index finds the pair; if hot, the hot-prefix index does. Exact,
    *     unlike a bare df-cap, which silently misses hot-only pairs.
    *   - common(A,B) = common_cold (from the counting join) +
    *     |hot(A) ∩ hot(B)| (per-doc hot-shingle arrays are tiny);
    *     jaccard = common / (|A| + |B| - common).
    *
    * At a scale where no shingle exceeds hotDf (the common case below
    * corpus scale) the hot machinery is not merely shape-degenerate — it is
    * not planned at all: a driver-side probe decides between the plain
    * single-join plan and the full hot/cold split. The unconditional split
    * cost +53% wall time on a clean corpus (BENCH_r02); an exact probe
    * (full df aggregate) still cost the whole shingle+count pass, so the
    * probe is hybrid — see [[corpusHasHotShingles]].
    */
  /** Asymmetric shingle-CONTAINMENT pairs: all ordered (a, b), a ≠ b,
    * in the same block with |S_a ∩ S_b| / |S_a| ≥ threshold — the
    * sub/superset detector Jaccard misses (a short doc fully embedded
    * in a long one has low Jaccard but containment 1.0; the classic
    * quote/excerpt/boilerplate-inclusion case).
    *
    * Scale shape: the same inverted-index candidate join as
    * [[ngramJaccardPairs]] — (block, shingle-hash) equi-join, work
    * bounded by per-shingle document frequency within the block; on
    * boilerplate-heavy corpora apply that method's hot/cold shingle
    * split before this join. Directional scores come from ONE symmetric
    * intersection count joined against the probe side's set size.
    */
  def containmentPairs(docs: DataFrame, textCol: String, idCol: String,
      blockCol: String, shingleLen: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val base = Transforms.fanOut(docs.withColumnRenamed(blockCol, "blk")
        .select(col(idCol).as("id"), col(textCol), col("blk")))
      .select(col("id"),
        shingleHashes(col(textCol), shingleLen).as("sh"), col("blk"))
      .filter(size(col("sh")) > 0)
    val inv = base.select(col("blk"), col("id"),
      size(col("sh")).as("sz"), explode(col("sh")).as("s"))
    val a = inv.select(col("blk"), col("s"), col("id").as("id_a"),
      col("sz").as("sz_a"))
    val b = inv.select(col("blk"), col("s"), col("id").as("id_b"))
    a.join(b, Seq("blk", "s"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b", "sz_a").agg(count(lit(1)).as("inter"))
      .withColumn("containment",
        col("inter").cast("double") / col("sz_a"))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  def ngramJaccardPairs(
      docs: DataFrame, textCol: String, idCol: String, blockCol: String,
      shingleLen: Int = 3, threshold: Double = 0.2,
      hotDf: Int = 1000): DataFrame = {
    val renamed = docs.withColumnRenamed(blockCol, "blk")
    // the index never needs the shingle strings, only equality and a
    // consistent total order (the PPJoin prefix lemma holds under ANY
    // fixed global ordering) — so index 64-bit shingle hashes
    // ([[graft.functions.TokenShingleHashes]]): one narrow kernel pass
    // and every downstream shuffle carries 8-byte keys instead of
    // shingle strings. Jaccard values are count ratios, unchanged.
    // base is deliberately NOT checkpointed (unlike minhash's staged
    // sketch): the kernel re-pass per join side measured within 3% of the
    // staged variant here, and staying lazy keeps reconstruction free of
    // plan-time jobs beyond the memoized probe.
    val base = Transforms.fanOut(
        renamed.select(col(idCol).as("id"), col(textCol), col("blk")))
      .select(col("id"), shingleHashes(col(textCol), shingleLen).as("sh"), col("blk"))
      .filter(size(col("sh")) > 0)
    val inv = base.select(col("blk"), col("id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("s"))
    // CONTRACT: on batch inputs this method is eager at construction time —
    // the probe below runs Spark jobs (memoized per (plan, shingleLen,
    // hotDf), so repeated construction over the same input pays once per
    // session). Streaming inputs cannot run plan-time jobs, so they skip
    // the probe and always plan the robust hot/cold split.
    if (!docs.isStreaming &&
        !corpusHasHotShingles(renamed, inv, textCol, shingleLen, hotDf))
      return coldOnlyJaccard(inv, threshold)
    val dfreq = inv.groupBy("blk", "s").agg(count(lit(1)).as("df"))
    val hot = dfreq.filter(col("df") > hotDf).select("blk", "s")
    // cold counting join — the original exact shape, minus hot keys
    val coldInv = inv.join(broadcast(hot), Seq("blk", "s"), "left_anti")
    val cl = coldInv.select(col("blk"), col("s"), col("id").as("id_a"), col("sz").as("sz_a"))
    val cr = coldInv.select(col("blk"), col("s"), col("id").as("id_b"), col("sz").as("sz_b"))
    val coldPairs = cl.join(cr, Seq("blk", "s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("common_cold"))
    // hot residual: per-doc hot-shingle arrays + rarest-first prefix index
    val hotEntries = inv.join(broadcast(hot), Seq("blk", "s"))
    val hotSets = hotEntries.groupBy("id")
      .agg(collect_list(col("s")).as("hsh"))
    val hotDocs = hotEntries.select("blk", "id").distinct()
    val rankBase = inv.join(hotDocs, Seq("blk", "id"), "left_semi")
      .join(dfreq, Seq("blk", "s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("blk", "id").orderBy(col("df"), col("s"))
    val hotPrefix = rankBase
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .join(broadcast(hot), Seq("blk", "s"), "left_semi")
      .select("blk", "s", "id", "sz")
    val hl = hotPrefix.select(col("blk"), col("s"), col("id").as("id_a"), col("sz").as("sz_a"))
    val hr = hotPrefix.select(col("blk"), col("s"), col("id").as("id_b"), col("sz").as("sz_b"))
    val hotPairs = hl.join(hr, Seq("blk", "s"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sz_a", "sz_b")
      .distinct()
      .withColumn("common_cold", lit(0L))
    // union (a pair can surface on both paths — keep the counted row),
    // then add the exact hot-overlap correction
    val cand = coldPairs.unionByName(hotPairs)
      .groupBy("id_a", "id_b", "sz_a", "sz_b")
      .agg(max("common_cold").as("common_cold"))
    val hsA = hotSets.select(col("id").as("id_a"), col("hsh").as("hsh_a"))
    val hsB = hotSets.select(col("id").as("id_b"), col("hsh").as("hsh_b"))
    // hot-overlap term guarded explicitly against null arrays (a doc with
    // no hot shingles misses the left join): under the legacy
    // spark.sql.legacy.sizeOfNull config size(null) is -1, not null, so a
    // bare coalesce(size(...)) would silently decrement `common` by 1 per
    // null-sided pair. The when() keeps correctness config-independent.
    cand.join(hsA, Seq("id_a"), "left").join(hsB, Seq("id_b"), "left")
      .withColumn("common", col("common_cold") +
        when(col("hsh_a").isNull || col("hsh_b").isNull, lit(0L))
          .otherwise(size(array_intersect(col("hsh_a"), col("hsh_b"))).cast("long")))
      .withColumn("jaccard", col("common").cast("double") /
        (col("sz_a") + col("sz_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Probe verdict memo: same (canonicalized input plan, shingleLen,
    * hotDf) → same verdict, paid once per session (registry/bench callers
    * reconstruct the query per repetition). Bounded: cleared wholesale if
    * it ever grows past 256 distinct inputs. */
  // Perf-only cache, keyed on the canonicalized logical plan: if the files
  // BEHIND an identical plan are overwritten mid-session, the stale verdict
  // is reused — acceptable because both plans are exact (a wrong verdict
  // costs time, never correctness). Entries are inserted via
  // computeIfAbsent so one caller computes per key; the coarse size bound
  // below can race with it, but a lost entry only shrinks the cache.
  private val probeMemo =
    new java.util.concurrent.ConcurrentHashMap[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int, Int), java.lang.Boolean]()

  /** Decide whether the corpus contains any shingle with document
    * frequency above hotDf — the gate between the plain counting-join plan
    * and the hot/cold split. Both plans are EXACT, so the gate is a pure
    * performance decision and may be probabilistic on the expensive side.
    * NOTE: runs Spark jobs at DataFrame-construction time (memoized —
    * see [[probeMemo]]); callers guard streaming inputs.
    *
    *   - small corpora (logical-stats size <= 128 KB — also every
    *     in-memory test fixture): exact df aggregate, keeping the hot-path
    *     spec fixtures deterministic. The budget is deliberately tiny:
    *     probe cost is per-row CPU (tokenize + shingle), not I/O, so even
    *     a few-hundred-KB compressed text column is a real pass.
    *   - large corpora: shingle only a seeded document sample at
    *     rate = clamp(20/hotDf, 0.05, 1.0) and test the estimate against
    *     cutoff = max(rate·hotDf/4, 2) — 4× conservative, so borderline
    *     keys route to the robust split. The rate scales with hotDf so the
    *     detection margin holds for small caps too: a true hot shingle
    *     samples at Binomial(df > hotDf, rate) with mean ≥ 20 · df/hotDf
    *     vs a cutoff ≤ 5 · df/hotDf, so P[miss] < 1e-9 across the range
    *     (at the default hotDf=1000: rate 0.05, cutoff 12.5, mean > 50;
    *     small hotDf drives the rate to 1.0 = the exact probe). A false
    *     positive costs the split's overhead; a miss costs performance
    *     only at the df² join, never correctness.
    */
  private def corpusHasHotShingles(renamed: DataFrame, inv: DataFrame,
      textCol: String, shingleLen: Int, hotDf: Int): Boolean = {
    val key = (renamed.queryExecution.analyzed.canonicalized, shingleLen, hotDf)
    if (probeMemo.size > 256) probeMemo.clear()
    probeMemo.computeIfAbsent(key, _ => {
      val exactMaxBytes = 128L << 10
      val bytes = renamed.queryExecution.analyzed.stats.sizeInBytes
      if (bytes <= exactMaxBytes) {
        !inv.groupBy("blk", "s").agg(count(lit(1)).as("df"))
          .filter(col("df") > hotDf).isEmpty
      } else {
        val rate = math.min(1.0, math.max(0.05, 20.0 / hotDf))
        val cutoff = math.max(rate * hotDf / 4.0, 2.0)
        // no fanOut here: the sample is tiny by construction, and the probe
        // should not pay a repartition shuffle of its own
        val sampleInv = renamed.sample(rate, 42L)
          .select(col("blk"),
            explode(shingleHashes(col(textCol), shingleLen)).as("s"))
        !sampleInv.groupBy("blk", "s").agg(count(lit(1)).as("df"))
          .filter(col("df") > cutoff).isEmpty
      }
    }).booleanValue()
  }

  /** The pre-split exact formulation, planned when the df aggregate proves
    * no shingle exceeds hotDf: one counting self-join on (block, shingle),
    * work bounded by hotDf · |index|. Same output contract as
    * [[ngramJaccardPairs]]. */
  private def coldOnlyJaccard(inv: DataFrame, threshold: Double): DataFrame = {
    val cl = inv.select(col("blk"), col("s"), col("id").as("id_a"), col("sz").as("sz_a"))
    val cr = inv.select(col("blk"), col("s"), col("id").as("id_b"), col("sz").as("sz_b"))
    cl.join(cr, Seq("blk", "s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard", col("common").cast("double") /
        (col("sz_a") + col("sz_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }
}
