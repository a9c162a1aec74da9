package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.HDFSMetadataLog

/** The commit log of ONE persisted index — the single lifecycle protocol
  * every build, append, delete and compact in [[Bucketing]], [[TfIdf]],
  * [[Dedup]], [[Similarity]] and [[Linkage]] runs on (kawa's one commit
  * point per message, the ack after the destination write, applied to
  * index maintenance; the shape is Impeller's progress markers on a
  * shared log).
  *
  * Storage is Spark's own Structured Streaming metadata log
  * (`HDFSMetadataLog`, the versioned create-if-absent JSON log behind
  * stream offsets and commits): version n is the file `<dir>/n`, written
  * to a temp file and renamed into place WITHOUT overwrite, so a version
  * is committed exactly once and a reader never sees a torn entry. `dir`
  * is `<root>/<index>.__log`, where `<root>` is
  * [[RefreshEnvelope.CounterDirConf]] when set (the object-store escape
  * hatch: the rename must be atomic) and otherwise `<warehouse>.__logs`,
  * beside the warehouse rather than inside it, so the warehouse holds
  * table directories only.
  *
  * Each entry is the index's whole bookkeeping state after one
  * lifecycle step ([[IndexLog.Entry]]): the generation (latest delete
  * sequence), a write count per family table (the refresh-envelope
  * guard's input), and the operation in flight, if any. A handle reads
  * the head ONCE — one directory listing and one file read in the
  * calling process, no Spark job — and every [[commit]] writes the
  * version after the one the handle holds. If that version is already
  * taken, another maintainer committed since this handle's read, and
  * the commit fails with [[IndexLog.ConflictException]] instead of
  * interleaving.
  *
  * Lifecycle ops commit BEFORE their data writes: a single-write step
  * (build, append, delete) commits its resulting state and then writes,
  * so a maintainer that loses the race writes nothing; a multi-write
  * step (the BM25 append and delete, every compact) first commits its
  * operation as in flight, writes, then commits it done. A crash leaves
  * the in-flight operation in the head, which every other lifecycle op
  * refuses to interleave with ([[Bucketing.pendingError]] names the
  * remedy) and the same op's retry rolls forward. Counts are therefore
  * an upper bound on the writes that landed: a crash between commit and
  * write can only make a guard trip early, never miss a breach.
  *
  * What the log cannot see — which data writes of a crashed multi-write
  * op already landed — stays with the data: the `_stats` (seq, del_sig)
  * rows and gen-matched existence probes ([[TfIdf.searchIndexAppend]]).
  */
final class IndexLog private (val spark: SparkSession, val index: String) {
  import IndexLog._

  private val log =
    new HDFSMetadataLog[Entry](spark, path(spark, index).toString)
  private var version = -1L
  private var head = Entry(0L, Map.empty, None)
  log.getLatest().foreach { case (v, e) => version = v; head = e }

  /** The generation: the latest delete sequence (0 for a fresh build or
    * right after a compact). Appends stamp their rows with it; the next
    * delete claims `gen + 1`. */
  def gen: Long = head.gen

  /** The operation in flight, if a crash interrupted one. */
  def pending: Option[Op] = head.op

  /** Lifecycle writes committed on `table` (a family table of this
    * index) since the log began. */
  def writeCount(table: String): Long =
    head.writes.getOrElse(table.toLowerCase, 0L)

  /** Commit the next version: generation `gen`, one more write on each
    * family table `index + suffix` in `wrote`, and `op` in flight (None
    * = nothing pending). Throws [[IndexLog.ConflictException]] if
    * another maintainer committed first. */
  def commit(gen: Long = head.gen, wrote: Seq[String] = Nil,
      op: Option[Op] = None): Unit = {
    val writes = wrote.map(s => (index + s).toLowerCase)
      .foldLeft(head.writes)((w, t) => w.updated(t, w.getOrElse(t, 0L) + 1L))
    val next = Entry(gen, writes, op)
    // HDFSMetadataLog.add returns false when the version file exists and
    // throws when it appears between its check and the no-overwrite rename
    val won = try log.add(version + 1L, next)
      catch { case _: java.util.ConcurrentModificationException => false }
    if (!won) throw new ConflictException(index, version + 1L)
    version += 1L
    head = next
    if (version > Retained && version % Retained == 0L)
      log.purge(version - Retained)
  }
}

object IndexLog {

  /** An operation in flight: `kind` is "append", "delete" or "compact";
    * `id` the append's gen-salted batch digest or the delete's id-set
    * digest (0 for a compact); `protocol` the staging protocol of a
    * compact ("layout", "tombstone" or "bm25"). */
  final case class Op(kind: String, id: Long, protocol: String = "")

  /** The bookkeeping state after one lifecycle step; `writes` is keyed
    * by lower-cased family table name. */
  final case class Entry(gen: Long, writes: Map[String, Long],
      op: Option[Op])

  /** A second maintainer committed `version` of `index`'s log after this
    * handle read its head. The losing operation wrote no data (commits
    * precede writes); re-run it once the other maintainer has finished. */
  final class ConflictException(val index: String, val version: Long)
    extends IllegalStateException(
      s"index $index: log version $version was committed by another " +
        "maintainer after this operation read the log head — concurrent " +
        "lifecycle operations on one index conflict; this one wrote " +
        "nothing, re-run it once the other has finished")

  /** Versions kept on disk: older ones are purged every `Retained`
    * commits, so a head read lists a bounded directory. */
  private val Retained = 100L

  /** A handle on `index`'s log, holding its current head. */
  def apply(spark: SparkSession, index: String): IndexLog =
    new IndexLog(spark, index)

  /** The log directory of `index` (see the class doc for the root). */
  def path(spark: SparkSession, index: String): Path = {
    val root = spark.conf.getOption(RefreshEnvelope.CounterDirConf)
      .getOrElse(new Path(spark.conf.get("spark.sql.warehouse.dir"))
        .toString + ".__logs")
    new Path(root, index.toLowerCase + ".__log")
  }
}
