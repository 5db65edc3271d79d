package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Invariants for the round-3 pipeline operators that the DuckDB oracle
  * can't fully pin down: chunk coverage/overlap (q100), packing budget
  * (q101), HLL estimate accuracy (q106), and LSH recall of the
  * hand-rolled banded MinHash (q71) against the exact blocked Jaccard.
  */
class PipelineMoreSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = GraftSession.prepare(
      SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .appName("pipeline-more-spec").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("q100 chunks cover every token and overlap by stride") {
    val chunks = SparkEntry.queries("q100_chunk_stride")(spark, sf).cache()
    val docs = Tables.documents(spark, sf)
      .where(col("doc_id") % 7 === 0)
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), w => w =!= "")).as("n"))
      .where(col("n") > 0)
    // chunk grid arithmetic: per doc, chunks = ceil(n/30), the last
    // chunk ends at the last token, and consecutive 50-token chunks at
    // stride 30 re-cover 20 tokens
    val got = chunks.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"), max(col("chunk_idx")).as("max_idx"),
        sum(col("n_tok")).as("tok_with_overlap"))
    val joined = got.join(docs, "doc_id")
      .withColumn("want_chunks", ceil(col("n") / 30.0).cast("long"))
    assert(joined.where(col("n_chunks") =!= col("want_chunks")).count() === 0)
    assert(joined.where(col("max_idx") =!= col("want_chunks") - 1).count() === 0)
    // sum of chunk sizes >= n (overlap only adds), and <= n + 20*(chunks-1)
    assert(joined.where(col("tok_with_overlap") < col("n")).count() === 0)
    assert(joined.where(
      col("tok_with_overlap") > col("n") + (col("n_chunks") - 1) * 20).count() === 0)
  }

  test("q101 packing conserves docs and tokens within each source") {
    val packed = SparkEntry.queries("q101_pack_budget")(spark, sf).cache()
    val docs = Tables.documents(spark, sf)
      .select(col("source"),
        size(filter(split(col("text"), " "), w => w =!= "")).as("n"))
      .groupBy("source")
      .agg(count(lit(1)).as("want_docs"), sum(col("n")).as("want_tokens"))
    val got = packed.groupBy("source")
      .agg(sum(col("n_docs")).as("got_docs"), sum(col("n_tokens")).as("got_tokens"))
    val j = got.join(docs, "source")
    assert(j.where(col("got_docs") =!= col("want_docs")).count() === 0)
    assert(j.where(col("got_tokens") =!= col("want_tokens")).count() === 0)
    // bins are dense from 0 per source (prefix-sum packing can't skip)
    val bins = packed.groupBy("source")
      .agg(min(col("bin")).as("mn"), max(col("bin")).as("mx"),
        count(lit(1)).as("k"))
    assert(bins.where(col("mn") =!= 0 || col("mx") =!= col("k") - 1).count() === 0)
  }

  test("q106 HLL estimates are within 5% of exact distinct counts") {
    val rows = SparkEntry.queries("q106_hll_sketch_union")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val approx = r.getAs[Long]("approx_words").toDouble
      val exact = r.getAs[Long]("exact_words").toDouble
      assert(math.abs(approx - exact) <= math.max(1.0, 0.05 * exact),
        s"${r.getAs[String]("source")}: approx $approx vs exact $exact")
    }
  }

  test("dynamic partition overwrite replaces only the written partitions") {
    // the production incremental-sink contract: re-running one
    // partition's batch must not wipe sibling partitions (static mode
    // would truncate the whole table)
    val dir = java.nio.file.Files.createTempDirectory("dpo_test")
    val base = dir.resolve("t").toString
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try {
      val ev = Tables.events(spark, sf).select("event_id", "event_type", "user_id")
      ev.write.partitionBy("event_type").mode("overwrite").parquet(base)
      val before = spark.read.parquet(base).count()
      assert(before === ev.count())
      // rewrite ONLY the click partition with half its rows
      val clicksHalf = ev.where(col("event_type") === "click" && col("event_id") % 2 === 0)
      clicksHalf.write.partitionBy("event_type").mode("overwrite").parquet(base)
      val after = spark.read.parquet(base)
      val nonClickBefore = ev.where(col("event_type") =!= "click").count()
      assert(after.where(col("event_type") =!= "click").count() === nonClickBefore,
        "sibling partitions must survive a dynamic overwrite")
      assert(after.where(col("event_type") === "click").count() === clicksHalf.count(),
        "the rewritten partition must contain exactly the new batch")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      Scratch.deleteTree(dir)
    }
  }

  test("driver entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("seeded samples are deterministic and exact-k is exactly k") {
    val a = SparkEntry.queries("q36_sample_bernoulli")(spark, sf)
      .collect().map(_.toString).toSeq
    val b = SparkEntry.queries("q36_sample_bernoulli")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(a === b, "seeded Bernoulli sample must be run-stable")
    assert(a.nonEmpty)
    val k1 = SparkEntry.queries("q37_sample_exactk")(spark, sf)
      .collect().map(_.toString).toSeq
    val k2 = SparkEntry.queries("q37_sample_exactk")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(k1 === k2, "seeded exact-k sample must be run-stable")
    assert(k1.size === 128)
  }

  test("sorted_intersect_count == size(array_intersect) on random arrays") {
    graft.functions.SortedIntersectCount.register(spark)
    // deterministic pseudo-random sorted distinct arrays from the
    // documents word hashes, plus edge cases (empty, disjoint, equal)
    val df = Tables.documents(spark, sf)
      .select(col("doc_id"),
        array_sort(array_distinct(transform(
          filter(split(col("text"), " "), w => w =!= ""),
          w => xxhash64(w)))).as("a"),
        array_sort(array_distinct(transform(
          filter(split(col("text"), " "), w => w =!= ""),
          w => xxhash64(w, col("doc_id") % 3)))).as("b"))
    val bad = df.where(
      expr("sorted_intersect_count(a, b)") =!= size(array_intersect(col("a"), col("b"))))
    assert(bad.count() === 0)
    val edge = spark.sql(
      """SELECT sorted_intersect_count(array(1L,2L,3L), array(2L,3L,4L)) AS x,
        |  sorted_intersect_count(CAST(array() AS ARRAY<BIGINT>), array(1L)) AS y,
        |  sorted_intersect_count(array(5L), array(5L)) AS z""".stripMargin)
    // registration is session-wide, so SQL text sees it too
    val r = edge.collect()(0)
    assert((r.getInt(0), r.getInt(1), r.getInt(2)) === ((2, 0, 1)))
  }

  test("q71 banded MinHash finds every J>=0.9 pair the exact pass finds") {
    // exact pairs at J >= 0.9 over 2-word shingle sets, blocked by source
    val w = filter(split(col("text"), " "), x => x =!= "")
    val shingles = when(size(w) >= 2,
      transform(sequence(lit(1), size(w) - 1),
        i => array_join(slice(w, i, lit(2)), " ")))
      .otherwise(array(array_join(w, " ")))
    val ws = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), array_distinct(shingles).as("sh"))
    // dedup exact copies first (q71 does the same)
    val rep = ws.withColumn("k", md5(array_join(array_sort(col("sh")), "|")))
      .groupBy("k").agg(min(col("doc_id")).as("doc_id"),
        first(col("source")).as("source"), first(col("sh")).as("sh"))
    val a = rep.select(col("doc_id").as("a_id"), col("source"), col("sh").as("aw"))
    val b = rep.select(col("doc_id").as("b_id"), col("source").as("b_src"),
      col("sh").as("bw"))
    val exact = a.join(b, col("source") === col("b_src") && col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (size(array_intersect(col("aw"), col("bw"))).cast("double") /
          (size(col("aw")) + size(col("bw")) -
            size(array_intersect(col("aw"), col("bw"))))).as("j"))
      .where(col("j") >= 0.9)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // q71 reports per-source aggregates; recount its pair total
    val lshPairs = SparkEntry.queries("q71_minhash_lsh")(spark, sf)
      .agg(sum(col("n_candidate_pairs"))).collect()(0).getLong(0)
    // every exact J>=0.9 pair must be found (theoretical recall at 0.9
    // with 3 bands x 2 rows is 1-(1-0.81)^3 = 0.993; on this corpus the
    // minima collide deterministically, assert full recall)
    assert(lshPairs >= exact.size,
      s"LSH found $lshPairs pairs < ${exact.size} exact J>=0.9 pairs")
  }
}
