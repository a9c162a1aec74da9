package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {
  private val ids = (0 until 1000).map(_.toString)

  test("exactly-once: the generated key set passes") {
    assert(Checks.exactlyOnce(Checks.Summary.of(ids.iterator),
      Checks.Summary.of(ids.reverseIterator)).isEmpty)
  }

  test("exactly-once: one dropped message is rejected") {
    val want = Checks.Summary.of(ids.iterator)
    assert(Checks.exactlyOnce(want, Checks.Summary.of(ids.iterator.filter(_ != "417"))).nonEmpty)
  }

  test("exactly-once: a message lost and another duplicated is rejected") {
    val want = Checks.Summary.of(ids.iterator)
    val got = ids.map(k => if (k == "9") "10" else k)
    assert(Checks.exactlyOnce(want, Checks.Summary.of(got.iterator)).nonEmpty)
  }

  test("exactly-once summary matches Spark's xxhash64") {
    // xxhash64('a') with Spark's seed 42, as `SELECT xxhash64('a')` returns it
    assert(Checks.Summary.hash("a") == -8582455328737087284L)
  }

  private val seed = 11L
  private val total = 3000L
  /** What a correct curation keeps: clean documents, no copy, no contaminated. */
  private val kept = (0L until total).filter(Gen.kind(seed, _) == Gen.Clean)

  test("curation: the expected survivors pass") {
    assert(Checks.curated(seed, total, kept).isEmpty)
  }

  test("curation: keeping a copy instead of its original passes") {
    val (id, Gen.Dup(of)) = (0L until total).map(i => (i, Gen.kind(seed, i)))
      .collectFirst { case (i, d: Gen.Dup) => (i, d) }.get
    assert(Checks.curated(seed, total, kept.filterNot(_ == of) :+ id).isEmpty)
  }

  test("curation: one surviving contaminated doc is rejected") {
    val bad = (0L until total).find(Gen.kind(seed, _) == Gen.Contaminated).get
    assert(Checks.curated(seed, total, kept :+ bad).exists(_.contains(s"contaminated doc $bad")))
  }

  test("curation: a surviving duplicate or a lost clean doc is rejected") {
    val dup = (0L until total).find(i => Gen.kind(seed, i).isInstanceOf[Gen.Dup]).get
    assert(Checks.curated(seed, total, kept :+ dup).nonEmpty)
    assert(Checks.curated(seed, total, kept.tail).nonEmpty)
  }

  test("probes: one retracted id in a probe result is rejected") {
    val dead = Set(5L, 6L)
    assert(Checks.noRetracted(Seq((dead, Seq(1L, 2L)), (dead, Seq(3L)))).isEmpty)
    assert(Checks.noRetracted(Seq((dead, Seq(1L, 2L)), (dead, Seq(3L, 6L))))
      .exists(_.contains("retracted id 6")))
  }

  test("row sets compare as multisets") {
    assert(Checks.sameRows("r", Seq(1, 2, 2), Seq(2, 1, 2)).isEmpty)
    assert(Checks.sameRows("r", Seq(1, 2), Seq(1, 2, 2)).nonEmpty)
  }
}
