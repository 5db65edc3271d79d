package graft

import graft.operators.Lsh
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The hyperplane-LSH widening path (Lsh scaladoc): plane count b is
  * the knob between the 8-plane demo and a 100 TB ANN pass. These tests
  * pin (a) the family's determinism and prefix stability, so widening
  * never silently changes the verified 8-plane queries, and (b) the
  * occupancy-vs-recall trade empirically at b ∈ {8, 16, 32} over the
  * embeddings table.
  */
class LshSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = GraftSession.prepare(
      SparkSession.builder().master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .appName("lsh-spec").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("plane family is deterministic (golden values) and prefix-stable") {
    val p8 = Lsh.hyperplanes(8)
    assert(p8.length == 8 && p8(0).length == 64)
    // golden spot values of the formula the oracle SQL also embeds
    assert(p8(0)(0) == -1.0 && p8(0)(1) == 0.75)
    // widening must only APPEND planes: the first 8 of 32 are identical,
    // so every b=32 bucket is a refinement of its b=8 bucket
    val p32 = Lsh.hyperplanes(32)
    for (p <- 0 until 8; i <- 0 until 64)
      assert(p32(p)(i) == p8(p)(i), s"prefix broke at ($p,$i)")
  }

  test("widening planes shrinks occupancy and lowers single-table recall (the documented trade)") {
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    assert(vecs.length >= 100)
    // near-dup target pairs: exact cosine >= 0.4 (q98's threshold)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val targets = for {
      i <- vecs.indices; j <- (i + 1) until vecs.length
      if cos(vecs(i)._2, vecs(j)._2) >= 0.4
    } yield (i, j)
    assert(targets.nonEmpty, "corpus has no near-dup pairs — recall check is vacuous")

    val stats = Seq(8, 16, 32).map { b =>
      val planes = Lsh.hyperplanes(b)
      val buckets = vecs.map { case (_, v) => Lsh.bucketOf(v, planes) }
      val occ = buckets.groupBy(identity).view.mapValues(_.length)
      val pairWork = occ.values.map(n => n.toLong * (n - 1) / 2).sum
      val recall = targets.count { case (i, j) => buckets(i) == buckets(j) }
        .toDouble / targets.size
      (b, occ.values.max, pairWork, recall)
    }
    val Seq((_, max8, work8, rec8), (_, max16, work16, rec16),
      (_, max32, work32, rec32)) = stats
    // cost side: refinement can only split buckets, so max occupancy and
    // candidate-pair work are monotone nonincreasing in b
    assert(max8 >= max16 && max16 >= max32, s"occupancy not shrinking: $stats")
    assert(work8 >= work16 && work16 >= work32, s"pair work not shrinking: $stats")
    assert(work32 < work8, s"widening 8→32 should cut candidate pairs: $stats")
    // recall side: collision probability (1−θ/π)^b decays in b
    assert(rec8 >= rec16 && rec16 >= rec32, s"recall not decaying: $stats")
  }

  test("multi-probe candidates dominate single-probe (q214 vs q90)") {
    // q214 probes the query bucket plus its 8 Hamming-1 neighbors, so
    // its candidate set is a superset of q90's: every returned cosine
    // must be >= the single-probe result at the same rank
    val single = SparkEntry.queries("q90_ann_search")(spark, sf).collect()
      .map(_.getDouble(2))
    val multi = SparkEntry.queries("q214_ann_multiprobe")(spark, sf).collect()
      .map(_.getDouble(2))
    assert(multi.length >= single.length)
    single.zip(multi).foreach { case (s1, m) =>
      assert(m >= s1, s"multi-probe cosine $m below single-probe $s1")
    }
  }

  test("q226 recall@10: multiprobe >= single-probe for every query, all in [0,1]") {
    val rows = SparkEntry.queries("q226_ann_recall")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(3)).toMap
    val qids = rows.keys.map(_._1).toSeq.distinct.sorted
    assert(qids.size == 12, s"expected 12 query vectors, got ${qids.size}")
    qids.foreach { q =>
      val r1 = rows((q, 1)); val r9 = rows((q, 9))
      assert(r1 >= 0.0 && r9 <= 1.0, s"recall out of range for q$q: $r1 / $r9")
      assert(r9 >= r1, s"q$q: multiprobe recall $r9 below single-probe $r1")
    }
    // the probe widening must actually BUY something somewhere, or the
    // readout is vacuous on this corpus
    assert(qids.exists(q => rows((q, 9)) > rows((q, 1)))
      || qids.forall(q => rows((q, 1)) == 1.0),
      "multiprobe never improved recall and single-probe is not perfect")
  }

  test("q226 rank-10 cosine margins dwarf cross-engine fp deviation (round-8 ADVICE)") {
    // q226's top-10 cuts rank on UNROUNDED cosines; the engine computes
    // dot/(|a||b|) while DuckDB's list_cosine_similarity may order its
    // internal summation differently (~1e-15 relative deviation). The
    // cut is therefore only hash-stable if the rank-10→11 cosine gap
    // dwarfs that deviation — measure it for every (query, ranking
    // mode) at the driver-gate SF. Measured at sf0.01: min gap
    // ≈ 2.5e-4 (exact mode), far above the 1e-7 floor asserted here.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.DataFrame
    val sf01 = "/root/testdata/sf0.01"
    val planes = operators.Lsh.hyperplanes(8)
    val s2 = spark
    import s2.implicits._
    val qDf = (0 until 12).map { q =>
      val qv = Array.tabulate(64)(i => (((q * 13 + i * 37) % 19) - 9) / 10.0)
      val qb = operators.Lsh.bucketOf(qv, planes).toInt
      (q, qv.toSeq, qb, (qb +: planes.indices.map(pi => qb ^ (1 << pi))).toSeq)
    }.toDF("q_id", "qv", "qb", "probes")
    val emb = col("embedding").cast("array<double>")
    val scored = spark.read.parquet(s"$sf01/embeddings.parquet")
      .select(col("vec_id"), emb.as("emb"),
        operators.Lsh.bucketColumn(emb, planes).as("bucket"))
      .crossJoin(broadcast(qDf))
      .select(col("q_id"), col("qb"), col("probes"), col("vec_id"), col("bucket"),
        functions.Kernels.cosine(col("emb"), col("qv")).as("cos"))
      .cache()
    try {
      def minGap(df: DataFrame): Option[Double] = {
        val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
        val gaps = df.withColumn("rn", row_number().over(w))
          .where(col("rn").isin(10, 11))
          .groupBy("q_id")
          .agg((max(when(col("rn") === 10, col("cos"))) -
            max(when(col("rn") === 11, col("cos")))).as("gap"))
          .where(col("gap").isNotNull) // <11 candidates → no cut → no risk
        gaps.agg(min(col("gap"))).collect().headOption
          .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Double]))
      }
      val modes = Seq(
        "exact" -> minGap(scored),
        "bucket" -> minGap(scored.where(col("bucket") === col("qb"))),
        "probes" -> minGap(scored.where(array_contains(col("probes"), col("bucket")))))
      modes.foreach { case (mode, g) =>
        g.foreach(v => assert(v > 1e-7,
          s"$mode rank-10 cosine gap $v is within fp-deviation range of the oracle"))
      }
      assert(modes.exists(_._2.isDefined), "no mode produced a rank-10/11 cut to measure")
    } finally scored.unpersist()
  }

  test("q250 trained-residual ADC recall >= trained-raw ADC recall at equal probe count") {
    // the reason residual encoding exists: against the SAME trained
    // coarse cells and probe set, subspace codebooks trained on
    // residuals rank candidates better than codebooks trained on raw
    // vectors (measured: 0.6 vs 0.3 recall@10 at sf0.01, 0.5 vs 0.4 at
    // sf0.001). The raw baseline here is built with the identical
    // lloydTrain procedure on the identical vec_id<64 sample, so the
    // comparison isolates residual-vs-raw, not training-vs-untrained.
    import org.apache.spark.sql.functions._
    val sf01 = "/root/testdata/sf0.01"
    val q = operators.SearchOps.pqQueryVec
    val (cells, _) = operators.SearchOps.pqCodebooks(spark, sf01)
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val dd = a(i) - b(i); s += dd * dd; i += 1 }
      s
    }
    val rows = spark.read.parquet(s"$sf01/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val assign = rows.map { case (vid, v) =>
      vid -> cells.indices.minBy(j => (l2(v, cells(j)), j))
    }
    val probed = cells.indices.sortBy(j => (l2(q, cells(j)), j)).take(2).toSet
    val kept = rows.keys.filter(vid => probed(assign(vid))).toSeq
    val exact10 = kept.sortBy(vid => (l2(rows(vid), q), vid)).take(10).toSet
    // raw baseline: same sample, same seeds (vectors 0-7), same Lloyd
    val sample = rows.filter(_._1 < 64).toSeq.sortBy(_._1).map(_._2).toArray
    val rawCb = (0 until 8).map { s0 =>
      operators.SearchOps.lloydTrain(
        sample.map(_.slice(s0 * 8, s0 * 8 + 8)),
        (0 until 8).map(j => rows(j.toLong).slice(s0 * 8, s0 * 8 + 8)).toArray, 3)
    }
    val rawTop10 = kept.map { vid =>
      val v = rows(vid)
      val d = (0 until 8).map { s0 =>
        val sub = v.slice(s0 * 8, s0 * 8 + 8)
        val j = (0 until 8).minBy(j => (l2(sub, rawCb(s0)(j)), j))
        l2(q.slice(s0 * 8, s0 * 8 + 8), rawCb(s0)(j))
      }.sum
      (d, vid)
    }.sorted.take(10).map(_._2).toSet
    val resTop10 = SparkEntry.queries("q250_ivfpq_residual")(spark, sf01)
      .collect().map(_.getLong(0)).toSet
    val rawRecall = rawTop10.intersect(exact10).size / 10.0
    val resRecall = resTop10.intersect(exact10).size / 10.0
    assert(resRecall >= rawRecall,
      s"residual recall $resRecall below raw recall $rawRecall")
    assert(resRecall > 0.0, "residual ADC found none of the exact top-10")
  }

  test("bucketOf mirrors the query-side bucketing expression (q66)") {
    // q66's output is the occupancy histogram under b=8; recomputing it
    // driver-side from the same vectors must agree exactly
    val expected = SparkEntry.queries("q66_ann_lsh_buckets")(spark, sf)
      .collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    val planes = Lsh.hyperplanes(8)
    val got = Tables.embeddings(spark, sf)
      .select(col("embedding").cast("array<double>")).collect()
      .map(r => Lsh.bucketOf(r.getSeq[Double](0).toArray, planes))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(got == expected)
  }

  private def q98(dir: String) = graft.operators.Extensions.defs
    .find(_.name == "q98_embedding_neardup").get.fn(spark, dir)

  test("q98 hostile inputs: null embedding drops, ragged pair skips, NaN cosine admits and dominates max (ADVICE r14)") {
    // round 15: the round-14 typed kernel inherited Scala comparison
    // semantics and assumed dense, rectangular, non-null input. Pin the
    // declared contract on a hostile fixture:
    //  * a NULL embedding buckets to NULL on the oracle side and joins
    //    nothing — the engine must drop it, not NPE;
    //  * a ragged (shorter) vector pairs with nobody (the old zip_with
    //    plan null-padded → null cosine → filtered);
    //  * two zero-norm vectors produce a NaN cosine, and BOTH dialects
    //    order NaN above every value — the pair is ADMITTED by
    //    `cos >= 0.4` and max_cos is NaN, unlike Scala's always-false
    //    NaN compare.
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q98hostile").toString
    val ones = Array.fill(64)(1.0)
    val rows = Seq(
      (1L, ones, 0),                       // bucket 147
      (2L, ones.map(_ * 2.0), 0),          // bucket 147, cos 1.0 with vec 1
      (3L, Array.fill(64)(0.0), 1),        // zero norm → bucket 0
      (4L, Array.fill(64)(0.0), 2),        // zero norm → bucket 0
      (5L, Array.fill(32)(1.0), 3),        // ragged → null dots → bucket 0
      (6L, null.asInstanceOf[Array[Double]], 4)) // null → dropped
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = q98(dir).collect()
      .map(r => r.getAs[Int]("bucket") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Double]("max_cos"),
          r.getAs[Long]("n_same_label")))).toMap
    // bucket 147: the one real pair, cosine exactly 1.0, same label
    assert(out.contains(147), s"dense pair bucket missing: $out")
    assert(out(147)._1 == 1L && math.abs(out(147)._2 - 1.0) < 1e-12 &&
      out(147)._3 == 1L, s"dense pair readout wrong: ${out(147)}")
    // bucket 0 holds vecs 3,4 (zero) and 5 (ragged): the only admitted
    // pair is (3,4) with NaN cosine; ragged pairs are skipped
    assert(out.contains(0), s"NaN bucket missing: $out")
    assert(out(0)._1 == 1L && out(0)._2.isNaN && out(0)._3 == 0L,
      s"NaN/ragged contract broke: ${out(0)}")
    assert(out.size == 2, s"unexpected extra buckets (null row leaked?): $out")
  }

  test("q98 oversized-bucket guard: warns by default, refuses under strict guards") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q98cap").toString
    // 5 co-directional vectors → one 5-member bucket; cap lowered to 4
    (1 to 5).map(i => (i.toLong, Array.fill(64)(i.toDouble), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    sys.props("graft.maxNearDupBucket") = "4"
    try {
      // default: warn-and-proceed — C(5,2) identical-direction pairs
      val r = q98(dir).collect()
      assert(r.length == 1 && r.head.getAs[Long]("n_pairs") == 10L,
        s"warn-mode kernel output wrong: ${r.toSeq}")
      sys.props("graft.strictGuards") = "1"
      try {
        val e = intercept[Exception] { q98(dir).collect() }
        def chain(t: Throwable): Seq[Throwable] =
          if (t == null) Nil else t +: chain(t.getCause)
        assert(chain(e).exists(c =>
          c.getMessage != null && c.getMessage.contains("MaxNearDupBucket")),
          s"strict-mode refusal missing: $e")
      } finally sys.props.remove("graft.strictGuards")
    } finally sys.props.remove("graft.maxNearDupBucket")
  }

  test("q71 oversized band-bucket guard: warns by default (parity output intact), refuses under strict guards") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q71cap").toString
    // 6 DISTINCT texts (so exact-dedup keeps all) whose distinct
    // 2-shingle set is identically {"a b", "b a"} — alternating words of
    // increasing length — so every doc lands in the SAME (band, sig)
    // bucket in all 3 bands: one 6-member bucket, cap lowered to 4.
    val docs = (3 to 8).map { n =>
      val text = Array.tabulate(n)(i => if (i % 2 == 0) "a" else "b")
        .mkString(" ")
      (n.toLong, text, "en", "src0", text.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val q71 = SparkEntry.queries("q71_minhash_lsh")
    sys.props("graft.maxBandBucket") = "4"
    try {
      // default: warn-and-proceed, and the UNCAPPED parity contract must
      // hold — all C(6,2)=15 pairs verify at Jaccard distance 0, emitted
      // once each at their lowest matching band
      val r = q71(s, dir).collect()
      assert(r.length == 1 && r.head.getAs[Long]("n_candidate_pairs") == 15L
          && r.head.getAs[Double]("min_dist") == 0.0,
        s"warn-mode parity output wrong: ${r.toSeq}")
      sys.props("graft.strictGuards") = "1"
      try {
        val e = intercept[Exception] { q71(s, dir).collect() }
        def chain(t: Throwable): Seq[Throwable] =
          if (t == null) Nil else t +: chain(t.getCause)
        assert(chain(e).exists(c =>
          c.getMessage != null && c.getMessage.contains("MaxBandBucket")),
          s"strict-mode refusal missing: $e")
      } finally sys.props.remove("graft.strictGuards")
    } finally sys.props.remove("graft.maxBandBucket")
  }
}
