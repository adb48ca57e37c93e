package graft.sinks

/** The lake's one driver-side metadata cache: manifests and delta folds,
  * each committed version dir's marker names and the markers in force at
  * it, declared schemas, txn visibility, and per-file parquet footer
  * schemas, all in one access-ordered LRU over (table root, key) under
  * one lock.
  *
  * Sound because a committed `v=N` dir is immutable: the CAS rename is the
  * last write it ever sees, so anything derived from a fixed set of
  * committed version dirs can be served from memory. Every marker read
  * (properties, column mapping, CHECK set, ADD COLUMN types, COPY INTO
  * keys, tags, commit stamps, `_delta`, `_schema.json`, txn pending) goes
  * through ONE listing per (root, v), so a commit lists one new dir, not
  * the log. What can change under a fixed key is the ROOT's life: a root
  * dropped and re-created at the same path restarts its version numbers.
  * [[forget]] is the one invalidation call: every path that begins a root
  * (the v=1 commit), the SQL registry ([[graft.sql.LakeSql.register]] /
  * `unregister`), [[Snapshots.vacuum]] (which deletes version dirs and
  * data files, and re-homes markers into the oldest kept dir) and the one
  * reset in [[Snapshots.versions]] — a listed head lower than the highest
  * this JVM has seen — call it. Per-kind rules stay with their callers:
  * only resolved txn states are stored, and a manifest is served only
  * after a per-serve dir-existence probe.
  *
  * SINGLE-WRITER-JVM: invalidation is in-process, like Delta's `DeltaLog`
  * snapshot cache. A second process re-creating a root is seen when this
  * JVM lists a shorter log than it has seen; a re-created log that has
  * grown back to the old length is not seen until the entries are evicted
  * or this JVM forgets the root.
  *
  * Bounded two ways, LRU until both hold: [[MaxEntries]] entries and
  * [[MaxRows]] of summed weight, where a manifest entry weighs its row
  * count (at least 1) and every other entry weighs 1. The entry just
  * stored is never the one evicted. */
object MetaCache {

  /** Entry bound: the working set of a multi-table session (a few hundred
    * versions × properties, schema, visibility, manifest, plus one footer
    * schema per live data file) with room to spare. */
  val MaxEntries = 16384

  /** Row budget over all entries: per-entry caps alone would let
    * [[MaxEntries]] wide-stats manifests pin gigabytes of driver heap. */
  val MaxRows: Long = 1L << 22

  /** Largest manifest (rows) one entry may hold: a bigger manifest (a
    * 100 TB table's) stays a distributed read and is never collected. */
  val MaxEntryRows = 65536

  /** Pseudo-root of the per-file footer schemas, which are keyed by file
    * path, not by table root: [[forget]] drops them for every root. */
  private[sinks] val FileRoot = ""

  final case class Stats(hits: Long, misses: Long, evictions: Long,
                         entries: Int, rows: Long)

  private final case class Slot(value: Any, weight: Long)

  private val lru =
    new java.util.LinkedHashMap[(String, Any), Slot](16, 0.75f, true)
  private var rows, hits, misses, evictions = 0L

  def get[V](root: String, key: Any): Option[V] = synchronized {
    val s = lru.get((root, key))
    if (s == null) { misses += 1; None }
    else { hits += 1; Some(s.value.asInstanceOf[V]) }
  }

  def put(root: String, key: Any, value: Any, weight: Long = 1L): Unit =
    synchronized {
      val k = (root, key)
      Option(lru.put(k, Slot(value, weight))).foreach(rows -= _.weight)
      rows += weight
      val it = lru.entrySet().iterator()
      while ((lru.size > MaxEntries || rows > MaxRows) && it.hasNext) {
        val e = it.next()
        if (e.getKey != k) {
          rows -= e.getValue.weight; evictions += 1; it.remove()
        }
      }
    }

  /** The entry under (root, key), loading and storing it on a miss. The
    * load runs outside the lock. */
  def getOrElseUpdate[V](root: String, key: Any)(load: => V): V =
    get[V](root, key).getOrElse { val v = load; put(root, key, v); v }

  /** Drop everything cached for `root` (and every footer schema), plus
    * [[Dv]]'s read-plan memo, which holds session-bound plans over the
    * root's files rather than table metadata. */
  def forget(root: String): Unit = {
    synchronized {
      val it = lru.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey._1 == root || e.getKey._1 == FileRoot) {
          rows -= e.getValue.weight; it.remove()
        }
      }
    }
    Dv.clearReadLiveCache()
  }

  /** Test hook: empty the cache — what a fresh JVM would see. */
  private[graft] def clear(): Unit = {
    synchronized { lru.clear(); rows = 0L }
    Dv.clearReadLiveCache()
  }

  def stats: Stats = synchronized {
    Stats(hits, misses, evictions, lru.size, rows)
  }
}
