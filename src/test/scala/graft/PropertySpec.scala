package graft

import org.apache.spark.sql.functions._

/** Randomized-equivalence checks (fixed seeds — deterministic): the
  * operators here have a slow-but-obviously-correct reference
  * implementation, so equivalence on many random shapes pins the
  * distributed formulation against the naive one across edge cases an
  * example-based spec would never enumerate (ties on both axes, empty
  * partitions, frontier-of-one).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def naiveSkyline(pts: List[(Int, Double, Int)]): Set[Int] =
    pts.filter { case (_, x, y) =>
      !pts.exists { case (_, x2, y2) =>
        x2 <= x && y2 >= y && (x2 < x || y2 > y)
      }
    }.map(_._1).toSet

  test("skyline2D equals the naive dominance filter on random point sets") {
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      val n = 5 + rnd.nextInt(56)
      // coarse grids force ties on both axes — the frontier edge cases
      val pts = List.tabulate(n)(i =>
        (i, (rnd.nextInt(20) + 1) * 1.5, rnd.nextInt(15)))
      val df = pts.toDF("id", "x", "y").repartition(3)
      val got = graft.ops.Skyline.skyline2D(df, "x", "y")
        .select("id").as[Int].collect().toSet
      assert(got == naiveSkyline(pts),
        s"seed=$seed points=$pts expected=${naiveSkyline(pts)} got=$got")
    }
  }

  test("hashSplit is monotone in trainFrac (train sets are nested)") {
    val ids = (1 to 400).toDF("id")
    def trainSet(f: Double): Set[Int] =
      graft.ops.Curation.hashSplit(ids, "id", trainFrac = f)
        .filter(col("split") === "train")
        .select("id").as[Int].collect().toSet
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      val f1 = 0.05 + rnd.nextDouble() * 0.40
      val f2 = 0.50 + rnd.nextDouble() * 0.45
      val (lo, hi) = (trainSet(f1), trainSet(f2))
      assert(lo.subsetOf(hi),
        s"f1=$f1 f2=$f2: smaller fraction must be a subset " +
          s"(diff=${lo.diff(hi).take(5)})")
    }
  }

  test("intervalOverlapJoin equals the naive join on random interval sets") {
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(100 + seed)
      def intervals(n: Int, tag: String) = List.tabulate(n) { i =>
        val s = rnd.nextInt(200).toLong
        // mix of degenerate points, short and bucket-spanning intervals
        (rnd.nextInt(3).toLong + 1, s, s + rnd.nextInt(60), s"$tag$i")
      }
      val l = intervals(5 + rnd.nextInt(30), "L")
        .toDF("k", "ls", "le", "lid").repartition(3)
      val r = intervals(5 + rnd.nextInt(30), "R")
        .toDF("k", "rs", "re", "rid").repartition(2)
      val got = graft.ops.TemporalJoins.intervalOverlapJoin(
          l, "ls", "le", r, "rs", "re", key = "k",
          bucketWidth = 1 + rnd.nextInt(40), payload = Seq("rid"))
        .select("lid", "rid").collect()
        .map(x => (x.getString(0), x.getString(1))).toList
      val naive = l.join(r, l("k") === r("k") &&
          col("ls") <= col("re") && col("rs") <= col("le"))
        .select("lid", "rid").collect()
        .map(x => (x.getString(0), x.getString(1))).toList
      assert(got.sorted == naive.sorted,
        s"seed=$seed: bucketed must equal naive exactly once each " +
          s"(got=${got.size}, naive=${naive.size})")
    }
  }

  test("ddsketch build is partition-invariant and merge-associative") {
    val rnd = new scala.util.Random(7)
    val vals = List.fill(500)(("g", math.exp(rnd.nextGaussian() * 2)))
    val whole = graft.ops.Sketches.ddsketchBuild(
      vals.toDF("g", "v").repartition(7), "v", Seq("g"))
    // any 3-way split, merged in either association order, equals whole
    val (a, rest) = vals.splitAt(150)
    val (b, c) = rest.splitAt(150)
    def sk(x: List[(String, Double)]) =
      graft.ops.Sketches.ddsketchBuild(x.toDF("g", "v"), "v", Seq("g"))
    val m1 = graft.ops.Sketches.ddsketchMerge(
      graft.ops.Sketches.ddsketchMerge(sk(a), sk(b), Seq("g")), sk(c), Seq("g"))
    val m2 = graft.ops.Sketches.ddsketchMerge(
      sk(a), graft.ops.Sketches.ddsketchMerge(sk(b), sk(c), Seq("g")), Seq("g"))
    assert(whole.except(m1).isEmpty && m1.except(whole).isEmpty)
    assert(m1.except(m2).isEmpty && m2.except(m1).isEmpty)
  }

  test("WAV parser round-trips arbitrary hand-encoded PCM files (random layouts)") {
    import graft.ops.Codecs
    // Encode fully random WAVs with our OWN bytes here (not synthWav):
    // random channel/rate/bit configs, random junk chunks BEFORE and
    // AFTER fmt, odd-sized chunks (word-alignment padding) — the parser
    // must recover exactly the written facts from layouts the library
    // encoder never produces.
    for (seed <- 1 to 12) {
      val rnd = new scala.util.Random(seed)
      val ch = 1 + rnd.nextInt(4)
      val sr = 4000 + rnd.nextInt(92000)
      val bits = Seq(8, 16, 24)(rnd.nextInt(3))
      val blockAlign = ch * (bits / 8)
      val nFrames = rnd.nextInt(50)
      val dataSize = nFrames * blockAlign
      val out = new java.io.ByteArrayOutputStream()
      def u16w(v: Int) = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
      def u32w(v: Long) = (0 until 4).foreach(i => out.write(((v >> (8 * i)) & 0xFF).toInt))
      def tag(s: String) = out.write(s.getBytes("US-ASCII"))
      // random junk chunk helper, odd sizes allowed (writer pads)
      def junk(): Int = {
        val sz = rnd.nextInt(7)
        tag(Seq("LIST", "fact", "bext")(rnd.nextInt(3))); u32w(sz)
        (0 until sz).foreach(_ => out.write(rnd.nextInt(256)))
        if (sz % 2 == 1) out.write(0) // word alignment
        8 + sz + (sz % 2)
      }
      tag("RIFF"); u32w(0) // patch later
      tag("WAVE")
      var extra = 0
      if (rnd.nextBoolean()) extra += junk()
      tag("fmt "); u32w(16); u16w(1); u16w(ch); u32w(sr)
      u32w(sr.toLong * blockAlign); u16w(blockAlign); u16w(bits)
      if (rnd.nextBoolean()) extra += junk()
      tag("data"); u32w(dataSize)
      (0 until dataSize).foreach(_ => out.write(rnd.nextInt(256)))
      val bytes = out.toByteArray
      // patch RIFF size
      val riffSz = bytes.length - 8
      for (i <- 0 until 4) bytes(4 + i) = ((riffSz >> (8 * i)) & 0xFF).toByte
      val m = Codecs.parseWav(bytes).get
      assert(m.channels == ch && m.sampleRate == sr &&
        m.bitsPerSample == bits && m.nFrames == nFrames,
        s"seed=$seed: $m vs ch=$ch sr=$sr bits=$bits nf=$nFrames")
    }
  }

  test("BMP pixel sum equals the naive matrix walk on random images (both row orders)") {
    import graft.ops.Codecs
    for (seed <- 1 to 10) {
      val rnd = new scala.util.Random(seed)
      val w = 1 + rnd.nextInt(9)
      val h = 1 + rnd.nextInt(6)
      val topDown = rnd.nextBoolean()
      val px = Array.tabulate(h, w, 3)((_, _, _) => rnd.nextInt(256))
      val rowSize = ((3 * w + 3) / 4) * 4
      val out = new java.io.ByteArrayOutputStream()
      def u16w(v: Int) = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
      def u32w(v: Long) = (0 until 4).foreach(i => out.write(((v >> (8 * i)) & 0xFF).toInt))
      out.write('B'); out.write('M'); u32w(54L + rowSize * h); u32w(0); u32w(54)
      u32w(40); u32w(w.toLong)
      u32w((if (topDown) -h else h).toLong & 0xFFFFFFFFL)
      u16w(1); u16w(24); u32w(0); u32w(rowSize.toLong * h)
      u32w(0); u32w(0); u32w(0); u32w(0)
      val fileRows = if (topDown) 0 until h else (h - 1) to 0 by -1
      for (y <- fileRows) {
        for (x <- 0 until w; k <- 0 until 3) out.write(px(y)(x)(k))
        (3 * w until rowSize).foreach(_ => out.write(0xAB)) // nonzero pad
      }
      val bytes = out.toByteArray
      val m = Codecs.parseBmp(bytes).get
      assert(m.width == w && m.height == h && m.topDown == topDown, s"seed=$seed: $m")
      val want = px.flatten.flatten.map(_.toLong).sum
      assert(Codecs.bmpPixelSum(bytes) == want,
        s"seed=$seed w=$w h=$h topDown=$topDown")
    }
  }

  // random text with every whitespace the tokenizer treats specially,
  // repeats (to force multi-count terms), unicode case pairs, and digits
  private def randomText(rnd: scala.util.Random): String = {
    val words = Vector("spark", "Spark", "merge", "é", "É", "中文", "a", "A",
      "x1", "", "zz")
    val seps = Vector(" ", "  ", "\t", "\n", " \t ", "", "\r\n")
    (0 until rnd.nextInt(40)).map { _ =>
      words(rnd.nextInt(words.size)) + seps(rnd.nextInt(seps.size))
    }.mkString
  }

  test("native termCounts kernel ≡ HOF reference on random whitespace-heavy text") {
    import graft.functions.TextFunctions
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(400 + seed)
      val docs = (0 until 150).map(i => (i.toLong, randomText(rnd)))
        .toDF("doc_id", "text").repartition(4)
      val kernel = docs.select(col("doc_id"),
        TextFunctions.termCounts(col("text")).as("tc"))
      val hof = docs.select(col("doc_id"),
        KernelTwins.termCountsHof(col("text")).as("tc"))
      // exceptAll on the whole array pins element ORDER, not just content
      assert(kernel.exceptAll(hof).isEmpty && hof.exceptAll(kernel).isEmpty,
        s"seed=$seed: kernel and HOF termCounts diverge")
    }
  }

  test("cdcChunks reassembles every random document losslessly") {
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(500 + seed)
      val docs = (0 until 120).map(i => (i.toLong, randomText(rnd)))
      val df = docs.toDF("doc_id", "text").repartition(4)
      val got = graft.ops.Dedup.cdcChunks(df, "text", "doc_id")
        .groupBy("doc_id")
        .agg(concat_ws("", array_sort(collect_list(
          struct(col("chunk_id"), col("chunk")))).getField("chunk"))
          .as("re"))
        .as[(Long, String)].collect().toMap
      docs.foreach { case (id, t) =>
        assert(got.getOrElse(id, "") == t,
          s"seed=$seed doc=$id: reassembly diverges (len ${t.length})")
      }
    }
  }
}
