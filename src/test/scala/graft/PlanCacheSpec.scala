package graft

import java.lang.ref.WeakReference
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.operators.RetainOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Pins the lifetime and build contract of [[PlanCache]], the engine's
  * one cache: entries die with the SparkContext they were built under,
  * a builder may call the cache for another key, a builder that throws
  * leaves no entry, and concurrent callers of one key build it once.
  */
class PlanCacheSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  private def newSession(): SparkSession = {
    val s = GraftSession.prepare(
      SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("plancache-spec").getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def beforeAll(): Unit = spark = newSession()
  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Fills every namespace a query run touches under the current
    * session, stops it, and returns weak references to what the entries
    * held: the cached DataFrame, the resolved relation and RETAIN's
    * featurized RDD. (The session and its context themselves are not
    * checked: Spark's own thread pools may keep a stopped session as
    * their inherited active session.) */
  private def fillAndStop(): Seq[(String, WeakReference[AnyRef])] = {
    val old = spark
    val df = PlanCache.cached(old, s"lifetime_old|$sf")(Tables.events(old, sf).limit(5))
    df.count()
    val rel = Tables.load(old, sf, "events")
    val rdd = RetainOps.featurized(old, sf)
    Tables.eventsTsIsLong(old, sf)
    assert(PlanCache.keys.exists(_.endsWith(s"lifetime_old|$sf")))
    val refs = Seq("cached DataFrame" -> df, "relation" -> rel, "featurized RDD" -> rdd)
      .map { case (n, r) => n -> new WeakReference[AnyRef](r) }
    old.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
    refs
  }

  test("a stopped session's entries die with it: the next session sees only its own keys") {
    val refs = fillAndStop()
    spark = newSession()
    PlanCache.cached(spark, s"lifetime_new|$sf")(Tables.load(spark, sf, "events").limit(1))
    var live = refs
    var tries = 0
    while (live.nonEmpty && tries < 20) {
      System.gc()
      Thread.sleep(100)
      live = live.filter(_._2.get != null)
      tries += 1
    }
    val stale = PlanCache.keys.filter(_.contains("lifetime_old"))
    assert(stale.isEmpty && live.isEmpty,
      s"after the session stopped: keys left $stale; still reachable: " +
        live.map(_._1).mkString(", "))
    assert(PlanCache.keys == Set(s"lifetime_new|$sf"))
  }

  test("a builder may call the cache for other keys; each builder runs once") {
    val outer = new AtomicInteger
    val inner = new AtomicInteger
    def innerDf: DataFrame = PlanCache.cached(spark, s"nested_inner|$sf") {
      inner.incrementAndGet()
      Tables.load(spark, sf, "events").select("user_id").distinct()
    }
    def outerDf: DataFrame = PlanCache.cached(spark, s"nested_outer|$sf") {
      outer.incrementAndGet()
      Tables.load(spark, sf, "events").join(innerDf, "user_id")
    }
    val a = outerDf
    val b = outerDf
    assert(a eq b)
    assert(innerDf eq innerDf)
    assert(a.count() == Tables.load(spark, sf, "events").count())
    assert(outer.get == 1 && inner.get == 1, s"outer ran ${outer.get}x, inner ${inner.get}x")
  }

  test("a builder that throws leaves no entry, and the next call builds again") {
    val runs = new AtomicInteger
    val e = intercept[IllegalStateException] {
      PlanCache.cached(spark, "throwing") {
        runs.incrementAndGet()
        throw new IllegalStateException("build failed")
      }
    }
    assert(e.getMessage == "build failed")
    assert(!PlanCache.keys.contains("throwing"))
    val df = PlanCache.cached(spark, "throwing") {
      runs.incrementAndGet()
      spark.range(3).toDF()
    }
    assert(runs.get == 2)
    assert(PlanCache.keys.contains("throwing"))
    assert(PlanCache.cached(spark, "throwing")(fail("built a third time")) eq df)
  }

  test("8 threads asking for one key run its builder exactly once") {
    val runs = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val results = (1 to 8).map { _ =>
        pool.submit(() => {
          start.await()
          PlanCache.cached(spark, "contended") {
            runs.incrementAndGet()
            Thread.sleep(200)
            spark.range(10).toDF()
          }
        })
      }
      start.countDown()
      val dfs = results.map(_.get(60, TimeUnit.SECONDS))
      assert(runs.get == 1, s"builder ran ${runs.get} times")
      assert(dfs.forall(_ eq dfs.head))
    } finally pool.shutdownNow()
  }
}
