package graft

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

/** Per-run scratch root for queries that must materialize intermediate
  * files (q205/q207/q223). Pid-suffixed so two concurrent verify/bench
  * runs on one box never clobber each other's data, yet STABLE within a
  * JVM so the oracle SQL strings (built at class-init) and the query
  * functions (run later) agree on the path — the driver's DuckDB reads
  * the files this JVM wrote, after it exits. Override with
  * -Dgraft.scratch for a fixed location.
  */
object Scratch {
  val root: String = sys.props.get("graft.scratch").getOrElse {
    val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp")
    s"$tmp/graft_scratch_${ProcessHandle.current().pid()}"
  }
}

/** Idempotent per-(session, key) persisted intermediates.
  *
  * Queries that cache a small derived table (the causal daily grid, a
  * filtered purchase subset, an eval scoring pass) previously called
  * `.cache()` on a FRESH DataFrame each invocation, so repeated
  * verify/bench runs in one session accumulated duplicate cache entries
  * that nothing ever unpersisted (round-7 ADVICE). Routing the persist
  * through this registry makes it idempotent: the first invocation
  * builds and persists, every later invocation in the same session
  * reuses the SAME DataFrame (and therefore the same single cache
  * entry) — bounded memory, and cross-query reuse for free when several
  * queries share an intermediate. Entries are keyed by session identity
  * so a stopped session's entries are simply dead references (their
  * cached blocks die with the context); MEMORY_AND_DISK keeps the
  * intermediate spillable rather than recompute-on-eviction.
  */
object PlanCache {
  private val entries =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  def cached(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    entries.computeIfAbsent(
      s"${System.identityHashCode(s.sparkContext)}|$key",
      _ => build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Snapshot of the current cache keys. perfbench reads it around each
    * op to count the entries that op built (`PlanCache.builds`) and at
    * the end of a run (`PlanCache.entries_end`). */
  def keys: Set[String] = {
    import scala.jdk.CollectionConverters._
    entries.keySet.asScala.toSet
  }
}
