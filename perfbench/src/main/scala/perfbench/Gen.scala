package perfbench

import graft.core.Message
import graft.sources.Poller

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable.ArrayBuffer

/** Seeded input content: every generated value is a function of
  * (seed, record id), so one seed always yields the same inputs. */
object Gen {
  def rng(seed: Long, id: Long, salt: Long = 0L): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (id * 0xBF58476D1CE4E5B9L + salt))

  val Words: Array[String] = Array("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  /** A kawa-shaped message for ingest_passthrough: the id is the key, the
    * value a small JSON payload, and the attributes carry the phase and
    * the record's due offset in microseconds from the phase start. */
  def passthrough(seed: Long, id: Long, phase: String, dueUs: Long): Message = {
    val r = rng(seed, id)
    val body = s"""{"id":$id,"user":${r.nextInt(100000)},""" +
      s""""amount":${r.nextInt(1000000) / 100.0},""" +
      s""""tag":"${Words(r.nextInt(Words.length))}"}"""
    Message(id.toString, body.getBytes("UTF-8"), "bench",
      Map("src" -> "gen", "phase" -> phase, "due_us" -> dueUs.toString))
  }

  // ---- ingest_curate documents ------------------------------------------

  sealed trait Kind
  case object Clean extends Kind
  final case class Dup(of: Long) extends Kind
  case object Contaminated extends Kind

  private def kind0(seed: Long, id: Long): Int = {
    val r = rng(seed, id, 1L).nextInt(1000)
    if (r < 50) 1 else if (r < 80) 2 else 0
  }

  /** 5% of documents copy a clean document at most 50 ids earlier (well
    * inside the dedup watermark), 3% carry a benchmark 3-gram. */
  def kind(seed: Long, id: Long): Kind = kind0(seed, id) match {
    case 1 =>
      val of = id - 1 - rng(seed, id, 2L).nextInt(50)
      if (of >= 0 && kind0(seed, of) == 0) Dup(of) else Clean
    case 2 => Contaminated
    case _ => Clean
  }

  /** The decontamination reference set: sentences over a vocabulary that
    * no generated document uses outside a planted 3-gram. */
  val BenchCorpus: Seq[String] = (0 until 16).map { s =>
    (0 until 10).map(w => "zq" + ((s * 10 + w) * 7919 % 1000)).mkString(" ")
  }

  /** Own text of a document: common words at even positions, tokens that
    * embed the id at odd positions, so every 3-word window holds a token
    * no other document has — distinct documents share no 3-word shingle. */
  private def ownTokens(seed: Long, id: Long): ArrayBuffer[String] = {
    val r = rng(seed, id, 3L)
    val n = 16 + r.nextInt(24)
    val tag = java.lang.Long.toString(id, 36)
    ArrayBuffer.tabulate(n)(j =>
      if (j % 2 == 0) Words(r.nextInt(Words.length)) else s"u${tag}x$j")
  }

  def docText(seed: Long, id: Long): String = kind(seed, id) match {
    case Dup(of) => docText(seed, of)
    case Clean => ownTokens(seed, id).mkString(" ")
    case Contaminated =>
      val r = rng(seed, id, 4L)
      val bench = BenchCorpus(r.nextInt(BenchCorpus.length)).split(" ")
      val at = r.nextInt(bench.length - 2)
      val toks = ownTokens(seed, id)
      toks.insertAll(2 * r.nextInt(toks.length / 2), bench.slice(at, at + 3))
      toks.mkString(" ")
  }

  /** Event-time origin of the document stream; a document's `ts` is its
    * nominal slot on the fixed-rate schedule, so it rises with the id. */
  val TsOrigin: java.time.Instant = java.time.Instant.parse("2026-01-01T00:00:00Z")

  def docTs(id: Long, rate: Double): String =
    TsOrigin.plusNanos((id * 1e9 / rate).toLong).toString

  def curate(seed: Long, rate: Double)(id: Long, phase: String,
      dueUs: Long): Message = {
    val body = s"""{"doc_id":$id,"ts":"${docTs(id, rate)}",""" +
      s""""text":"${docText(seed, id)}"}"""
    Message(id.toString, body.getBytes("UTF-8"), "docs",
      Map("src" -> "gen", "phase" -> phase, "due_us" -> dueUs.toString))
  }

  /** Order-sensitive SHA-256 digest (first 16 hex digits) of a sequence
    * of input descriptions. */
  def digest(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** Digest of the first n records a message generator makes. */
  def digestRecords(n: Int)(make: Long => Message): String =
    digest(Iterator.range(0, n).map { i =>
      val m = make(i.toLong)
      Seq(m.key, new String(m.value, "UTF-8"), m.topic,
        m.attributes.toSeq.sorted.mkString(",")).mkString("\u0001")
    })
}

/** The poller the engine pulls from: a queue the generator fills. Each
  * non-empty poll is one micro-batch's admission; the queue depth after
  * it is the backlog the source has not admitted yet. */
final class Feed extends Poller {
  private val q = new ConcurrentLinkedQueue[Message]()
  private val depth = new AtomicLong
  val backlogAfterPoll = new ConcurrentLinkedQueue[Long]()

  def offer(m: Message): Unit = { q.add(m); depth.incrementAndGet(); () }
  def offerAll(ms: Array[Message]): Unit = {
    ms.foreach(q.add)
    depth.addAndGet(ms.length.toLong)
    ()
  }
  def backlog: Long = depth.get()

  def poll(max: Int): Seq[Message] = {
    val out = ArrayBuffer[Message]()
    var m: Message = null
    while (out.size < max && { m = q.poll(); m != null }) out += m
    if (out.nonEmpty) backlogAfterPoll.add(depth.addAndGet(-out.size.toLong))
    out.toSeq
  }
}

/** One generator thread on a fixed schedule: record i of the phase is due
  * at start + i / rate whatever the engine is doing, and is emitted as
  * soon as the thread observes it due. The lag between due and emitted
  * time is recorded per record. */
final class OpenLoop(feed: Feed, first: Long, count: Int, rate: Double,
    make: (Long, String, Long) => Message) extends Thread("perfbench-gen") {
  setDaemon(true)
  val lagNs = new Array[Long](count)
  @volatile var startWallMs = 0.0

  def dueNs(i: Int): Double = i * 1e9 / rate

  override def run(): Unit = {
    val now0 = java.time.Instant.now()
    val startNs = System.nanoTime()
    startWallMs = now0.getEpochSecond * 1e3 + now0.getNano / 1e6
    var i = 0
    while (i < count) {
      val elapsed = System.nanoTime() - startNs
      val due = math.min(count.toLong, (elapsed * rate / 1e9).toLong + 1).toInt
      while (i < due) {
        feed.offer(make(first + i, "rate", (dueNs(i) / 1e3).toLong))
        lagNs(i) = math.max(0L, elapsed - dueNs(i).toLong)
        i += 1
      }
      LockSupport.parkNanos(200000L)
    }
  }
}
