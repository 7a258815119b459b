package graft.data

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one registry for every memoized artifact the engine holds between
  * queries: shared caches, loaded indexes, tmp dirs, per-query checkpoints
  * and driver-side memo values.
  *
  * Every entry has a typed [[Key]] (a case class) naming what it is and the
  * [[Family]] whose release reclaims it. The code that builds an entry picks
  * its tier — [[memo]] (a value with its own free), [[persist]],
  * [[checkpoint]] or [[dir]] — and the entry remembers how to free exactly
  * the object that was created, so a release never has to re-derive a key.
  *
  * Concurrency: entries live in one `TrieMap` and are built through
  * `getOrElseUpdate`, outside any lock — a build is often an eager Spark job
  * (GB-scale at sf10) and holding a monitor across it would serialize every
  * concurrent caller. Two racing builds of one key both run; the loser's
  * object is freed, the winner's is registered.
  *
  * Tmp dirs: every `graft_<kind>_` path under `java.io.tmpdir` comes from
  * [[dir]], which appends a hash of the key and a per-JVM [[nonce]], so two
  * JVMs over one corpus never share (or delete) each other's dirs.
  */
object Artifacts {

  /** Which release call reclaims an entry. */
  sealed trait Family
  object Family {
    /** shingles, pair tables, signature stores, probe gram sets, ledgers */
    case object Dedup extends Family
    /** IVF / PQ / IVFPQ models, their dirs and fanned-out code tables */
    case object Ann extends Family
    /** source staging dirs, their schemas, sink and checkpoint dirs */
    case object Streams extends Family
    /** derived layouts, per-query scratch dirs, bucketed tables */
    case object Scans extends Family
    /** per-query checkpoints ([[Frames.trackedCheckpoint]]) */
    case object Query extends Family
    /** driver-side memo values holding no storage (row counts, merge tables) */
    case object Values extends Family
  }

  /** A registry key: `kind` is the `graft_<kind>_` prefix of its tmp dir. */
  abstract class Key(val family: Family, val kind: String)

  private final case class Dir(of: Key) extends Key(of.family, of.kind)
  private final case class Tracked(override val family: Family, id: Long) extends Key(family, "tracked")

  private final class Entry(val value: Any, val free: () => Unit)

  private val entries = scala.collection.concurrent.TrieMap.empty[Key, Entry]
  private val trackedIds = new java.util.concurrent.atomic.AtomicLong(0)

  /** Tells this JVM's tmp dirs apart from any other process's. */
  private[graft] val nonce = s"${ProcessHandle.current().pid()}x${new java.util.Random().nextInt() >>> 1}"

  /** The value memoized under `key`, building it on first use. */
  def memo[V](key: Key)(build: => V): V = memo(key, (_: V) => ())(build)

  /** [[memo]] of a value that `free` reclaims at release. */
  def memo[V](key: Key, free: V => Unit)(build: => V): V = {
    var mine: Entry = null
    val e = entries.getOrElseUpdate(key, {
      val v = build
      mine = new Entry(v, () => free(v))
      mine
    })
    // a racing build of the same key won: free the copy nobody will see
    if (mine != null && (e ne mine) && e.value != mine.value) mine.free()
    e.value.asInstanceOf[V]
  }

  /** A DataFrame persisted MEMORY_AND_DISK under `key`. */
  def persist(key: Key)(build: => DataFrame): DataFrame =
    memo(key, Frames.release)(build.persist(StorageLevel.MEMORY_AND_DISK))

  /** A DataFrame eagerly localCheckpoint'ed under `key`. */
  def checkpoint(key: Key)(build: => DataFrame): DataFrame =
    memo(key, Frames.release)(build.localCheckpoint(eager = true))

  /** Replace the value under `key` (a store that changed on disk); the
    * replaced object is freed. */
  def put[V](key: Key, value: V, free: V => Unit): V = {
    entries.put(key, new Entry(value, () => free(value))).foreach(old =>
      if (old.value != value) old.free())
    value
  }

  /** The tmp dir owned by `key`: `graft_<kind>_<key hash>_<nonce>` under
    * `java.io.tmpdir`, deleted at release. The path is a pure function of
    * the key, so a dir re-registered after a release is the same path.
    * Callers create and fill it. */
  def dir(key: Key): String = memo[String](Dir(key), deleteRecursively(_: String)) {
    val hash = java.security.MessageDigest.getInstance("MD5")
      .digest(key.toString.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    s"${sys.props("java.io.tmpdir")}/graft_${key.kind}_${hash}_$nonce"
  }

  def contains(key: Key): Boolean = entries.contains(key)

  private val scopes = ThreadLocal.withInitial[List[scala.collection.mutable.Buffer[Key]]](() => Nil)

  /** Register an unshared object under a fresh key. Inside a [[scoped]]
    * block on this thread the innermost block owns it; otherwise
    * `family`'s release reclaims it. */
  def track[V](family: Family, free: V => Unit)(value: V): V = {
    val key = Tracked(family, trackedIds.incrementAndGet())
    scopes.get.headOption.foreach(_ += key)
    memo(key, free)(value)
  }

  /** Run `body` as a build that owns what it [[track]]s: those entries are
    * released when it returns or throws, and memoized entries it creates are
    * left shared. `body` must not return a lazy plan over what it tracked. */
  def scoped[T](body: => T): T = {
    val owned = scala.collection.mutable.ArrayBuffer.empty[Key]
    scopes.set(owned :: scopes.get)
    try body finally { scopes.set(scopes.get.tail); owned.foreach(release) }
  }

  /** Release `key`'s entry and its tmp dir. */
  def release(key: Key): Unit = Seq(key, Dir(key)).foreach(k => entries.remove(k).foreach(_.free()))

  def release(family: Family): Unit = releaseWhere(_.family == family)

  def releaseWhere(p: Key => Boolean): Unit = entries.keys.filter(p).foreach(release)

  /** Release every entry of every family — the one end-of-run call. */
  def releaseAll(): Unit = releaseWhere(_ => true)

  /** Keys of the live entries (a dir's key has its owner's family and kind). */
  private[graft] def live: Seq[Key] = entries.keys.toSeq

  def deleteRecursively(path: String): Unit = deleteRecursively(new java.io.File(path))
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }
}
