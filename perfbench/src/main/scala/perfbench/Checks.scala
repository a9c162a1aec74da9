package perfbench

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Output checks. Each returns the reason the output is wrong, or None.
  * They run after the timed region. */
object Checks {
  /** Order-free multiset summary of delivered keys: count, XOR and
    * low-32-bit sum of Spark's `xxhash64` of each key. Any lost,
    * duplicated or foreign key changes it (barring a 64-bit collision). */
  final case class Summary(count: Long, xor: Long, sum32: Long) {
    def +(o: Summary): Summary = Summary(count + o.count, xor ^ o.xor, sum32 + o.sum32)
  }

  object Summary {
    val empty: Summary = Summary(0L, 0L, 0L)

    /** Spark's `xxhash64(key)` for a string column (seed 42). */
    def hash(key: String): Long = {
      val u = UTF8String.fromString(key)
      XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
    }

    def of(keys: Iterator[String]): Summary = keys.foldLeft(empty) { (s, k) =>
      val h = hash(k)
      s + Summary(1L, h, h & 0xFFFFFFFFL)
    }
  }

  /** ingest_passthrough: every generated id arrives exactly once. */
  def exactlyOnce(expected: Summary, delivered: Summary): Option[String] =
    if (expected == delivered) None
    else Some(s"delivered $delivered, generated $expected: " +
      s"${expected.count - delivered.count} messages missing (net), or " +
      "a message was lost and another duplicated")

  /** ingest_curate: no planted contaminated document survives; of each
    * clean document and its planted copies exactly one survives; nothing
    * else appears and nothing appears twice. */
  def curated(seed: Long, total: Long, survivors: Seq[Long]): Option[String] = {
    val seen = new java.util.HashMap[Long, Integer]()
    val problems = Seq.newBuilder[String]
    survivors.foreach { id =>
      if (id < 0 || id >= total) problems += s"doc $id was never generated"
      else Gen.kind(seed, id) match {
        case Gen.Contaminated => problems += s"contaminated doc $id survived"
        case Gen.Dup(of) => seen.merge(of, 1, _ + _)
        case Gen.Clean => seen.merge(id, 1, _ + _)
      }
    }
    var id = 0L
    while (id < total) {
      if (Gen.kind(seed, id) == Gen.Clean) {
        val n = Option(seen.get(id)).fold(0)(_.intValue)
        if (n != 1) problems += s"clean doc $id and its copies survived $n times"
      }
      id += 1
    }
    val all = problems.result()
    if (all.isEmpty) None
    else Some(s"${all.size} problems: ${all.take(5).mkString("; ")}")
  }

  /** index_maintain: no probe returns an id that was retracted (and not
    * re-added) when the probe ran. */
  def noRetracted(probes: Seq[(Set[Long], Seq[Long])]): Option[String] = {
    val bad = probes.zipWithIndex.flatMap { case ((dead, got), i) =>
      got.filter(dead).map(id => s"probe $i returned retracted id $id")
    }
    if (bad.isEmpty) None else Some(bad.take(5).mkString("; "))
  }

  /** Two result row sets are equal as multisets. */
  def sameRows[A](what: String, got: Seq[A], want: Seq[A]): Option[String] = {
    def counts(xs: Seq[A]) = xs.groupBy(identity).view.mapValues(_.size).toMap
    val (g, w) = (counts(got), counts(want))
    if (g == w) None
    else Some(s"$what: ${got.size} rows vs ${want.size} expected; " +
      s"unexpected ${(g.keySet -- w.keySet).take(3)}, " +
      s"missing ${(w.keySet -- g.keySet).take(3)}")
  }
}
