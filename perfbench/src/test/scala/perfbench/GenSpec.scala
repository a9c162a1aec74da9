package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def digests(seed: Long) = Seq(
    Gen.digestRecords(500)(Gen.passthrough(seed, _, "rate", 0L)),
    Gen.digestRecords(500)(Gen.curate(seed, 2000)(_, "rate", 0L)))

  test("one seed gives one input digest") {
    assert(digests(7) == digests(7))
  }

  test("two seeds give two input digests") {
    digests(7).zip(digests(8)).foreach { case (a, b) => assert(a != b) }
  }

  test("planted documents: duplicates copy an earlier clean document") {
    val seed = 3L
    val kinds = (0L until 5000L).map(Gen.kind(seed, _))
    val dups = kinds.collect { case d: Gen.Dup => d }
    assert(dups.nonEmpty && kinds.contains(Gen.Contaminated))
    kinds.zipWithIndex.foreach {
      case (Gen.Dup(of), id) =>
        assert(of < id && id - of <= 50 && Gen.kind(seed, of) == Gen.Clean)
        assert(Gen.docText(seed, of) == Gen.docText(seed, id))
      case _ =>
    }
  }

  test("distinct documents share no 3-word shingle outside the planted ones") {
    val seed = 5L
    def shingles(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val bench = Gen.BenchCorpus.flatMap(shingles).toSet
    val owners = scala.collection.mutable.Map[String, Long]()
    (0L until 3000L).foreach { id =>
      Gen.kind(seed, id) match {
        case Gen.Dup(_) =>
        case k =>
          val sh = shingles(Gen.docText(seed, id))
          assert((sh & bench).nonEmpty == (k == Gen.Contaminated), s"doc $id")
          (sh -- bench).foreach { s =>
            assert(owners.put(s, id).isEmpty, s"'$s' in docs ${owners(s)} and $id")
          }
      }
    }
  }
}
