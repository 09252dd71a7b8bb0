package graft.core

import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

import org.apache.spark.sql.{Dataset, GraftBridge, SparkSession}

/** The session memo registry: every in-memory intermediate a query
  * family shares across queries (persisted index frames, planning-time
  * counts, converged loop outputs) lives here, keyed by (session, corpus
  * dir, artifact name + governing params).
  *
  * An entry is valid only for the corpus generation it was built from —
  * the rule [[Staging]] applies on disk, over every table under `dir`
  * rather than Staging's documents + embeddings: each lookup re-reads the
  * corpus's [[Staging.tableSignature]] (one directory listing plus one
  * attribute read per single-file table), and a changed signature
  * releases the stale value and rebuilds it. A corpus rewritten
  * in-session therefore never serves a memo of its predecessor, and no
  * caller has to remember to invalidate.
  *
  * Releasing a value walks it — tuples and collections element-wise —
  * and, for every Dataset, drops its cache entry and frees its blocks if
  * it is a localCheckpoint (the converged label frames of the iterative
  * loops; `unpersist()` alone does not reach those).
  *
  * Names start with the owning module (`"Dedup.band_index"`), which is
  * what a module's `clearCaches()` passes to [[clear]].
  */
object Memo {

  private final case class Key(s: SparkSession, dir: String, name: String)
  private final case class Entry(generation: String, value: Any)

  private val entries = TrieMap.empty[Key, Entry]
  private val locks = TrieMap.empty[Key, AnyRef]

  /** The value memoized under `name` for `dir`'s current corpus
    * generation, else `build`'s result, stored. A hit takes no lock. A
    * miss is single-flight: it takes the key's lock, re-checks, and only
    * then builds, so a concurrent caller of the same key waits and gets
    * the stored value. Builds nest (most memos are built from other
    * memos) while holding their own key's lock; the memo graph has no
    * cycles, so nested builds of different keys cannot deadlock.
    */
  def apply[A](s: SparkSession, dir: String, name: String)(build: => A): A = {
    val key = Key(s, dir, name)
    val gen = generation(dir)
    entries.get(key) match {
      case Some(e) if e.generation == gen => e.value.asInstanceOf[A]
      case _ =>
        locks.getOrElseUpdate(key, new AnyRef).synchronized {
          entries.get(key) match {
            case Some(e) if e.generation == gen => e.value.asInstanceOf[A]
            case stale =>
              stale.foreach(e => if (entries.remove(key, e)) release(e.value))
              val v = build
              entries.put(key, Entry(gen, v))
              v
          }
        }
    }
  }

  /** The current-generation value under `name` if one is held — for a
    * consumer that reuses a memo some other query already paid for, but
    * must not build it.
    */
  def peek[A](s: SparkSession, dir: String, name: String): Option[A] =
    entries.get(Key(s, dir, name))
      .filter(_.generation == generation(dir))
      .map(_.value.asInstanceOf[A])

  /** Drop and release every entry whose name starts with `owner + "."`
    * (every entry when `owner` is empty), and the per-key locks of those
    * names.
    */
  def clear(owner: String = ""): Unit = {
    def owned(k: Key) = owner.isEmpty || k.name.startsWith(owner + ".")
    locks.keys.filter(owned).foreach(locks.remove)
    entries.keys.filter(owned)
      .foreach(k => entries.remove(k).foreach(e => release(e.value)))
  }

  /** [[Staging.tableSignature]] over every `*.parquet` table under `dir`;
    * empty for a dir that is not a readable directory.
    */
  private def generation(dir: String): String =
    try {
      val d = Paths.get(dir)
      val tables = Staging.withStream(Files.list(d))(
        _.map(_.getFileName.toString).filter(_.endsWith(".parquet"))
          .map(_.stripSuffix(".parquet")).toList)
      Staging.tableSignature(d, tables)
    } catch { case NonFatal(_) => "" }

  private def release(v: Any): Unit = v match {
    case d: Dataset[_] =>
      d.unpersist()
      GraftBridge.freeLocalCheckpoint(d.toDF())
    case xs: Iterable[_] => xs.foreach(release)
    case p: Product => p.productIterator.foreach(release)
    case _ => ()
  }
}
