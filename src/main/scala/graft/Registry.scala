package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine query: a Spark plan builder plus (when SQL-expressible) the
  * ANSI-SQL oracle the driver runs in DuckDB over the same parquet tables.
  *
  * Determinism contract (SURVEY.md §5.2.1): every query ends in an
  * `orderBy` on a unique non-null key set, aliases every computed column
  * identically to the oracle, rounds floating aggregates, and never emits
  * raw timestamps (formatted strings / dates only) so the hash compare is
  * stable across engines.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def apply(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Some(oracle))
  def noOracle(name: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, None)
}

/** The engine's one scratch root: every file a query writes lies under
  * it. Spark's own shuffle and spill files are the exception; they go to
  * `spark.local.dir` ([[GraftSession.build]]). What writes here:
  *  - at the root: the files the DuckDB oracles read back
  *    (`graft_retain_w`, `graft_retain_gru_w`, `graft_pq_*`,
  *    `graft_jsonl`, `graft_evo`, `graft_meta`, `graft_compact`), the
  *    checkpoint round trip's `graft_ckpt` and q224's B-matrix artifact;
  *  - per input dir, under [[dir]]: the source round trips (q57, q57b,
  *    q59, q112, q125, q192), q91's sink and checkpoint, and q92's
  *    bucketed tables;
  *  - the catalog databases of q92 and q255 ([[database]]).
  *
  * A file staged once per session is written through
  * [[PlanCache.staged]], so its lifetime is the session's.
  *
  * The root is pid-suffixed, so two JVMs on one box never share a file,
  * yet STABLE within a JVM so the oracle SQL strings (built at
  * class-init) and the query functions (run later) agree on the path.
  * A pid root belongs to this JVM alone and is deleted when it exits.
  * Override with -Dgraft.scratch for a fixed location that outlives the
  * JVM; [[Verify]] sets it to `<outDir>.scratch`, so its oracle SQL
  * names no pid and the DuckDB oracles can read the files after the JVM
  * exits.
  */
object Scratch {
  val root: String = sys.props.get("graft.scratch").getOrElse {
    val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    val dir = s"$tmp/graft_scratch_${ProcessHandle.current().pid()}"
    sys.addShutdownHook(deleteTree(java.nio.file.Paths.get(dir)))
    dir
  }

  /** The scratch dir `tag` of input dir `d`, `<root>/<d's key>/<tag>`,
    * as an absolute path (a catalog location must be one). */
  def dir(d: String, tag: String): String =
    java.nio.file.Paths.get(root, d.replaceAll("[^A-Za-z0-9.]", "_"), tag)
      .toAbsolutePath.toString

  /** The catalog database `<prefix>_<hash of d>`, created if absent and
    * located under [[dir]], so neither it nor a managed table of it
    * lands in the session's warehouse dir. */
  def database(s: SparkSession, prefix: String, d: String): String = {
    val db = s"${prefix}_${math.abs(d.hashCode)}"
    s.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '${dir(d, s"$db.db")}'")
    db
  }

  /** Deletes `p` and everything under it, if it exists. */
  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val st = java.nio.file.Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
      finally st.close()
    }
}

/** The engine's one cache of session-scoped intermediates: the causal
  * daily grid, RETAIN's featurized base, resolved relations, footer
  * probes, staged files. An entry is keyed by one string,
  * `"<namespace>|<key>"` (`relation|<dir>/<table>`, `retain_base|<dir>`,
  * `cached|<key>` for [[cached]], `staged|<path>` for [[staged]]), and
  * belongs to the live SparkContext; the key carries no context prefix.
  *
  * Spark runs one active SparkContext per JVM, and a stream's
  * micro-batch sessions share it, so the store is one map tagged with
  * its context. The first call from a new live context replaces the
  * map; a call from a stopped context builds without caching and never
  * displaces the live one. When the owning context stops, its entries
  * die with it: the map is dropped, so neither the stopped session nor
  * the DataFrames and RDDs its entries held stay reachable from here.
  *
  * Each entry is a holder that builds outside the map's lock. A builder
  * may itself call [[memo]] or [[cached]] for another key, concurrent
  * callers of one key build it once, and a builder that throws leaves
  * no entry, so the next call builds again.
  */
object PlanCache {
  private final class Entry(build: () => Any) { lazy val value: Any = build() }

  private final class Store(val sc: SparkContext) {
    val entries = new java.util.concurrent.ConcurrentHashMap[String, Entry]()
  }

  @volatile private var live: Store = _

  private def storeOf(sc: SparkContext): Store = {
    val cur = live
    if (cur != null && (cur.sc eq sc)) cur
    else if (sc.isStopped) new Store(sc)
    else synchronized {
      if (live == null || (live.sc ne sc)) {
        live = new Store(sc)
        sc.addSparkListener(new SparkListener {
          override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
            PlanCache.synchronized { if (live != null && (live.sc eq sc)) live = null }
        })
      }
      live
    }
  }

  /** The value under `key` for the session's context, built by `build`
    * on the first call. */
  private[graft] def memo[T](s: SparkSession, key: String)(build: => T): T = {
    val entries = storeOf(s.sparkContext).entries
    val e = entries.computeIfAbsent(key, _ => new Entry(() => build))
    try e.value.asInstanceOf[T]
    catch { case t: Throwable => entries.remove(key, e); throw t }
  }

  /** `path` after `write(path)` has run once in this session: the one
    * way to stage a file once per session. The entry, not a marker
    * file, records the write, so a new session writes again and never
    * reads a layout that an earlier session (or build) left. */
  private[graft] def staged(s: SparkSession, path: String)(write: String => Unit): String = {
    memo(s, s"staged|$path")(write(path))
    path
  }

  /** A derived table persisted once per session: the first call builds
    * and persists it (MEMORY_AND_DISK, so it spills rather than
    * recomputes on eviction), every later call returns the SAME
    * DataFrame, so repeated runs hold one cache entry and queries that
    * share an intermediate share its build. */
  def cached(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    memo(s, s"cached|$key")(
      build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Snapshot of the live context's [[cached]] keys. perfbench reads it
    * around each op to count the entries that op built
    * (`PlanCache.builds`) and at the end of a run
    * (`PlanCache.entries_end`). */
  def keys: Set[String] = {
    import scala.jdk.CollectionConverters._
    val store = live
    if (store == null) Set.empty
    else store.entries.keySet.asScala.toSet[String]
      .collect { case k if k.startsWith("cached|") => k.stripPrefix("cached|") }
  }
}
