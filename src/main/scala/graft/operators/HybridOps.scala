package graft.operators

import graft.{PlanCache, QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-8 batch 3: hybrid retrieval and cluster-scoped semantic dedup —
  * the two retrieval-stack compositions a production corpus pipeline
  * layers on top of the primitives the engine already ships (BM25 q178,
  * embedding top-k q64, centroid assignment q65, pairwise near-dup q98).
  *
  *  - q261: reciprocal-rank fusion of the lexical (BM25) and semantic
  *    (embedding-cosine) candidate lists — the standard hybrid-search
  *    merge (Cormack et al., SIGIR'09).
  *  - q262: SemDeDup-shaped semantic dedup (Abbas et al., 2023): cluster
  *    the embedding space, then prune near-duplicate pairs ONLY within a
  *    cluster — O(N²/K) instead of O(N²) pair work.
  */
object HybridOps {
  import CausalOps.r6

  /** q261's fixed query vector — distinct lineage from q64's `qvec` and
    * q228's `pqQueryVec` so the three retrieval paths probe different
    * geometry. */
  private val rrfVec: Array[Double] =
    Array.tabulate(64)(i => (((i * 17 + 5) % 19) - 9) / 10.0)
  private def rrfVecLit: Column = array(rrfVec.map(lit): _*)
  private def rrfVecSql: String = rrfVec.mkString("[", ", ", "]::DOUBLE[]")

  /** Cluster-size ceiling for q262's within-cluster pair join. SemDeDup's
    * contract is that clustering bounds cluster size (K grows with N), so
    * the pair stage is O(cap²) per cluster; if the clustering ever
    * degenerates past this bound the engine fails LOUDLY instead of
    * silently launching a quadratic join (the [[CausalOps]] guard
    * discipline). */
  private[graft] val MaxSemCluster = 4096L

  /** Sub-cluster chunk size for q474's SCALE path: oversized clusters are
    * split into deterministic chunks of at most this many members before
    * the pair join, so pair work per row is < cap regardless of how the
    * corpus clusters — the adaptive answer to the loud [[MaxSemCluster]]
    * failure q262 raises on duplicate-rich corpora (sf10's largest
    * cluster is 22,946). 32 is deliberately small enough that the sf0.01
    * verify fixture (largest cluster 64) EXERCISES the split, so the
    * chunking semantics themselves are oracle-checked; production tuning
    * trades it against recall (larger cap → more within-chunk pairs
    * found, quadratically more work per chunk). */
  private[graft] val SemSplitCap = 32

  /** [[centroidSql]]'s engine form: each label's mean vector as
    * (clabel, cvec) from embeddings carrying an `emb` double array. */
  private[operators] def labelCentroids(e: DataFrame): DataFrame =
    e.select(col("label").as("clabel"),
        posexplode(col("emb")).as(Seq("i", "x")))
      .groupBy("clabel", "i").agg(avg(col("x")).as("cx"))
      .groupBy("clabel")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("cx")))),
        st => st.getField("cx")).as("cvec"))

  /** q262's cluster assignment, shared with the q367 recall audit and
    * q474's split: label-centroid means + an argmax-cosine assignment,
    * PlanCache'd per (session, dir) — see the q262 docstring for the
    * full scale rationale. The argmax runs as a typed mapPartitions
    * over the driver-collected centroid table (label-grain, ≤ a few
    * dozen rows — the bounded model-grain collect): the earlier
    * Column-fold form allocated a zip_with scratch array per centroid
    * per row and cost ~300 s at 5M vectors (the q477 kernel lesson).
    * Ascending-index dot/norm loops and strict > with centroids in
    * ascending-clabel order reproduce the fold's summation order and
    * smallest-clabel tie rule exactly — same doubles, same hashes. */
  private[graft] def semAssign(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .withColumn("emb", col("embedding").cast("array<double>"))
    val cent = labelCentroids(e)
    PlanCache.cached(s, s"semdedup_assign|$d") {
      val cArr = cent.select(col("clabel"), col("cvec"))
        .as[(Int, Array[Double])].collect().sortBy(_._1)
      val bc = s.sparkContext.broadcast(cArr)
      e.select(col("vec_id"), col("emb"))
        .as[(Long, Array[Double])]
        .mapPartitions { it =>
          val cs = bc.value
          it.map { case (vid, emb) =>
            var bestCos = -3.0; var bestC = Integer.MIN_VALUE
            var k = 0
            while (k < cs.length) {
              val cv = cs(k)._2
              var cos = -2.0
              if (emb != null) {
                var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
                while (i < emb.length) {
                  dot += emb(i) * cv(i); na += emb(i) * emb(i)
                  nb += cv(i) * cv(i); i += 1
                }
                val c = dot / (math.sqrt(na) * math.sqrt(nb))
                if (!c.isNaN) cos = c
              }
              if (cos > bestCos) { bestCos = cos; bestC = cs(k)._1 }
              k += 1
            }
            (vid, emb, bestC, bestCos)
          }
        }.toDF("vec_id", "emb", "clabel", "acos")
    }
  }

  /** q474's deterministic 1-D sub-cluster split, shared with routed
    * q262: rank members by round-6 cosine-to-own-centroid (vec_id
    * tie-break) within the cluster, chunk every [[SemSplitCap]] ranks.
    * No size guard — the chunk IS the bound (pair work ≤ N·cap/2). */
  private[graft] def semChunkSplit(a: DataFrame): DataFrame = {
    val rankW = Window.partitionBy(col("clabel"))
      .orderBy(round(col("acos"), 6).desc, col("vec_id"))
    a.withColumn("chunk",
      floor((row_number().over(rankW) - 1) / SemSplitCap).cast("int"))
  }

  /** Within-cluster near-dup pair join + per-cluster readout, shared by
    * q262 (whole-cluster or routed-chunked) and q474 (chunked, with the
    * n_chunks column). The two forms differ ONLY in the pair-join key
    * ((clabel) vs (clabel, chunk)), so chunked pairs ⊆ whole-cluster
    * pairs by construction — pinned in HybridSpec. */
  private[graft] def semDupReadout(b: DataFrame, chunked: Boolean,
      emitChunks: Boolean): DataFrame = {
    import graft.functions.Kernels
    val x = b.select(
      Seq(col("clabel"), col("vec_id").as("keep_id"), col("emb").as("xe")) ++
        (if (chunked) Seq(col("chunk")) else Nil): _*)
    val y = b.select(
      Seq(col("clabel").as("cl2"), col("vec_id").as("prune_id"),
        col("emb").as("ye")) ++
        (if (chunked) Seq(col("chunk").as("ch2")) else Nil): _*)
    val keyEq =
      if (chunked) col("clabel") === col("cl2") && col("chunk") === col("ch2")
      else col("clabel") === col("cl2")
    val pairs = x.join(y, keyEq && col("keep_id") < col("prune_id"))
      .select(col("clabel"), col("prune_id"),
        Kernels.cosine(col("xe"), col("ye")).as("cos"))
      .where(col("cos") >= 0.4)
    val mem =
      if (emitChunks) b.groupBy(col("clabel")).agg(
        count(lit(1)).as("n_members"), countDistinct(col("chunk")).as("n_chunks"))
      else b.groupBy(col("clabel")).agg(count(lit(1)).as("n_members"))
    val joined = mem.join(pairs.withColumnRenamed("clabel", "pcl"),
      col("pcl") === col("clabel"), "left")
    val grp =
      if (emitChunks)
        joined.groupBy(col("clabel").as("cluster"), col("n_members"),
          col("n_chunks"))
      else joined.groupBy(col("clabel").as("cluster"), col("n_members"))
    grp.agg(coalesce(count(col("prune_id")), lit(0L)).as("n_dup_pairs"),
        coalesce(countDistinct(col("prune_id")), lit(0L)).as("n_pruned"),
        r6(coalesce(max(col("cos")), lit(-1.0))).as("max_cos"))
      .orderBy("cluster")
  }

  /** The ANN evaluations' geometry: the shared Lsh planes, q64's query
    * vector, and the 9 probed buckets (the query's own and its 8
    * one-bit flips). */
  private val annPlanes = Lsh.hyperplanes(8)
  private val annQuery: Array[Double] = Array.tabulate(64)(i => ((i * 37) % 19 - 9) / 10.0)
  private val annProbes: Seq[Int] = {
    val qb = Lsh.bucketOf(annQuery, annPlanes).toInt
    qb +: annPlanes.indices.map(pi => qb ^ (1 << pi))
  }

  /** Exact top-10 (`ex`, rank `re`) and 9-bucket multiprobe top-10
    * (`sys`, rank `pos`) of the embeddings by round-6 cosine against
    * q64's query vector over the shared Lsh planes: the two lists the
    * q280 and q410 evaluations grade. */
  private[operators] val annListsSql: String = {
    val corpusBucket = Lsh.bucketSql(annPlanes, i => s"embedding[${i + 1}]::DOUBLE")
    val probes = annProbes.mkString(", ")
    val qvecSql = annQuery.mkString("[", ", ", "]::DOUBLE[]")
    s"""ex AS (
       |  SELECT vec_id,
       |    row_number() OVER (ORDER BY round(list_cosine_similarity(
       |      embedding::DOUBLE[], $qvecSql), 6) DESC, vec_id) AS re
       |  FROM embeddings
       |  ORDER BY round(list_cosine_similarity(embedding::DOUBLE[], $qvecSql), 6)
       |    DESC, vec_id LIMIT 10),
       |sys AS (
       |  SELECT vec_id,
       |    row_number() OVER (ORDER BY round(list_cosine_similarity(
       |      embedding::DOUBLE[], $qvecSql), 6) DESC, vec_id) AS pos
       |  FROM embeddings WHERE ($corpusBucket) IN ($probes)
       |  ORDER BY round(list_cosine_similarity(embedding::DOUBLE[], $qvecSql), 6)
       |    DESC, vec_id LIMIT 10)""".stripMargin
  }

  /** [[annListsSql]]'s engine form → (ex(evid, re), sys(vec_id, pos)). */
  private[operators] def annLists(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import graft.functions.Kernels
    val emb = col("embedding").cast("array<double>")
    val cosR = r6(Kernels.cosine(emb, array(annQuery.map(lit): _*)))
    val e = Tables.embeddings(s, d)
    val ex = e.select(col("vec_id"), cosR.as("cs"))
      .orderBy(col("cs").desc, col("vec_id")).limit(10)
      .withColumn("re", row_number().over(Window.orderBy(col("cs").desc, col("vec_id"))))
      .select(col("vec_id").as("evid"), col("re"))
    val sys = e.where(Lsh.bucketColumn(emb, annPlanes).isin(annProbes: _*))
      .select(col("vec_id"), cosR.as("cs"))
      .orderBy(col("cs").desc, col("vec_id")).limit(10)
      .withColumn("pos", row_number().over(Window.orderBy(col("cs").desc, col("vec_id"))))
      .select(col("vec_id"), col("pos"))
    (ex, sys)
  }

  /** The per-label centroid CTE chain (pos → cent → centv: each
    * label's mean vector as `centv(clabel, cvec)`), shared by the
    * q262/q367/q474 semantic-dedup oracles and q65's nearest-centroid
    * oracle. */
  private[operators] val centroidSql =
    """pos AS (
      |  SELECT label, unnest(list_transform(embedding::DOUBLE[],
      |    (x, i) -> {'x': x, 'i': i}), recursive := true)
      |  FROM embeddings),
      |cent AS (
      |  SELECT label AS clabel, i, avg(x) AS cx FROM pos GROUP BY 1, 2),
      |centv AS (
      |  SELECT clabel, list(cx ORDER BY i) AS cvec FROM cent GROUP BY clabel)""".stripMargin

  /** Each vector ranked against every [[centroidSql]] centroid by
    * cosine (`assigned`; rn = 1 is its cluster, ties to the smaller
    * clabel); `cols` are the embedding columns selected beside vec_id.
    * q262, q367 and q65. */
  private[operators] def assignedSql(cols: String): String =
    s"""assigned AS (
      |  SELECT e.vec_id, $cols, c.clabel,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) DESC,
      |               c.clabel) AS rn
      |  FROM embeddings e CROSS JOIN centv c)""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    /** Reciprocal-rank fusion (k=60) of two top-100 candidate lists:
      * lexical BM25 (q178's scoring, identical constants) and semantic
      * cosine vs [[rrfVec]]. Each list is a GLOBAL top-100 —
      * `orderBy.limit` plans TakeOrderedAndProject, so every partition
      * contributes a local heap and only 100 rows reach the driver-side
      * merge: the 100 TB shape (no global sort, no global window on
      * data-sized input; the row_number windows below run over the
      * already-cut 100-row lists). Ranks cut on round-6 scores with
      * doc_id tie-breaks, so the rank ints — and therefore the fused
      * 1/(60+r) sums, exact double reciprocal-adds in fixed order — are
      * engine-identical (the q226 margin discipline). A document missing
      * from one list contributes 0 from that side (standard RRF).
      * Measured rank-100 cut margins at sf0.01: semantic 2.66e-4,
      * lexical 1.86e-3 — both ≥ 266× the round-6 grid, so a sub-ULP
      * engine divergence cannot flip list membership.
      */
    QueryDef(
      "q261_hybrid_rrf",
      s"""WITH ${SearchOps.queryTfSql},
        |${SearchOps.bm25StatsSql},
        |lex AS (
        |  SELECT doc_id, round(
        |      ln(1 + (st.n - st.df1 + 0.5) / (st.df1 + 0.5)) *
        |        (tf1 * 2.2) / (tf1 + 1.2 * (0.25 + 0.75 * dl / st.avgdl)) +
        |      ln(1 + (st.n - st.df2 + 0.5) / (st.df2 + 0.5)) *
        |        (tf2 * 2.2) / (tf2 + 1.2 * (0.25 + 0.75 * dl / st.avgdl)) +
        |      ln(1 + (st.n - st.df3 + 0.5) / (st.df3 + 0.5)) *
        |        (tf3 * 2.2) / (tf3 + 1.2 * (0.25 + 0.75 * dl / st.avgdl)), 6) AS sc
        |  FROM tf, st WHERE tf1 + tf2 + tf3 > 0),
        |lexr AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY sc DESC, doc_id) AS rl
        |  FROM lex ORDER BY sc DESC, doc_id LIMIT 100),
        |sem AS (
        |  SELECT vec_id AS doc_id,
        |    round(list_cosine_similarity(embedding::DOUBLE[], $rrfVecSql), 6) AS cs
        |  FROM embeddings),
        |semr AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY cs DESC, doc_id) AS rs
        |  FROM sem ORDER BY cs DESC, doc_id LIMIT 100),
        |f AS (
        |  SELECT coalesce(l.doc_id, r.doc_id) AS doc_id,
        |    coalesce(1.0 / (60 + l.rl), 0) + coalesce(1.0 / (60 + r.rs), 0) AS rrf,
        |    coalesce(l.rl, 0) AS lex_rank, coalesce(r.rs, 0) AS sem_rank
        |  FROM lexr l FULL OUTER JOIN semr r ON l.doc_id = r.doc_id)
        |SELECT doc_id, round(rrf, 6) AS rrf,
        |  CAST(lex_rank AS INT) AS lex_rank, CAST(sem_rank AS INT) AS sem_rank
        |FROM f ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      import graft.functions.Kernels
      // lexical list: q178's BM25 constants, round-6 rank cut
      val tf = SearchOps.queryTf(s, d)
      val st = SearchOps.bm25Stats(tf)
      val lex = tf.crossJoin(broadcast(st))
        .where(col("tf1") + col("tf2") + col("tf3") > 0)
        .select(col("doc_id"), r6(SearchOps.bm25Score).as("sc"))
      val lexr = lex.orderBy(col("sc").desc, col("doc_id")).limit(100)
        .withColumn("rl",
          row_number().over(Window.orderBy(col("sc").desc, col("doc_id"))))
        .select(col("doc_id"), col("rl"))
      // semantic list: cosine vs the fixed query vector, round-6 rank cut
      val sem = Tables.embeddings(s, d)
        .select(col("vec_id").as("sdoc_id"),
          r6(Kernels.cosine(col("embedding").cast("array<double>"), rrfVecLit))
            .as("cs"))
      val semr = sem.orderBy(col("cs").desc, col("sdoc_id")).limit(100)
        .withColumn("rs",
          row_number().over(Window.orderBy(col("cs").desc, col("sdoc_id"))))
        .select(col("sdoc_id"), col("rs"))
      lexr.join(semr, col("doc_id") === col("sdoc_id"), "full_outer")
        .select(coalesce(col("doc_id"), col("sdoc_id")).as("doc_id"),
          (coalesce(lit(1.0) / (lit(60) + col("rl")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rs")), lit(0.0))).as("rrf"),
          coalesce(col("rl"), lit(0)).cast("int").as("lex_rank"),
          coalesce(col("rs"), lit(0)).cast("int").as("sem_rank"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(20)
        .select(col("doc_id"), r6(col("rrf")).as("rrf"),
          col("lex_rank"), col("sem_rank"))
    },

    /** SemDeDup-shaped semantic dedup: q65's per-label mean centroids
      * partition the embedding space; each vector joins its argmax-cosine
      * cluster via the SAME broadcast-fold assignment (zero assignment
      * shuffle); then near-duplicate pairs (cosine ≥ 0.4) are enumerated
      * ONLY within a cluster — the join is keyed on the cluster id, so
      * total pair work is O(Σ cap²·K) = O(N²/K) under the
      * [[MaxSemCluster]] guard (fails loudly if the clustering ever
      * degenerates), never the all-pairs O(N²). Keep-first: the
      * smaller vec_id of each near-dup pair survives, so `n_pruned`
      * counts distinct larger-side ids — the dedup family's q60/q122
      * retention rule applied in embedding space. Output is the
      * per-cluster readout (members, duplicate pairs, pruned count,
      * max within-cluster cosine).
      */
    QueryDef(
      "q262_semdedup",
      s"""WITH $centroidSql,
        |${assignedSql("e.embedding::DOUBLE[] AS emb")},
        |a AS (SELECT vec_id, emb, clabel FROM assigned
        |  WHERE rn = 1),
        |pairs AS (
        |  SELECT x.clabel, x.vec_id AS keep_id, y.vec_id AS prune_id,
        |    list_cosine_similarity(x.emb, y.emb) AS cos
        |  FROM a x JOIN a y ON x.clabel = y.clabel AND x.vec_id < y.vec_id
        |  WHERE list_cosine_similarity(x.emb, y.emb) >= 0.4),
        |mem AS (SELECT clabel, count(*) AS n_members FROM a GROUP BY 1)
        |SELECT m.clabel AS cluster, m.n_members,
        |  CAST(coalesce(count(p.prune_id), 0) AS BIGINT) AS n_dup_pairs,
        |  CAST(coalesce(count(DISTINCT p.prune_id), 0) AS BIGINT) AS n_pruned,
        |  round(coalesce(max(p.cos), -1), 6) AS max_cos
        |FROM mem m LEFT JOIN pairs p ON p.clabel = m.clabel
        |GROUP BY 1, 2 ORDER BY cluster""".stripMargin) { (s, d) =>
      import graft.functions.Kernels
      // q65's broadcast-fold argmax assignment — map-side, no shuffle;
      // PlanCached per (session, dir) inside [[semAssign]]: the subtree
      // feeds FOUR consumers here (guard count, both pair-join sides,
      // membership) plus the q367 recall audit, and the fold's
      // whole-stage codegen constant (~1s, cf. q228's documented
      // constant) would otherwise be paid once per consumer.
      val a = semAssign(s, d)
      // The pair join below is quadratic IN CLUSTER SIZE. ROUTING
      // (round 13, VERDICT r12 #1): when the clustering degenerates past
      // MaxSemCluster (sf10's largest argmax-cosine cluster is 22,946),
      // the query now falls through to q474's chunk split — same output
      // contract minus the n_chunks column, chunked pairs ⊆ whole-
      // cluster pairs by construction (HybridSpec) — instead of the old
      // loud refusal. `SPARK_GRAFT_STRICT_GUARDS=1` restores the throw
      // for deployments that would rather fail than lose cross-chunk
      // recall.
      val maxC = a.groupBy("clabel").count().agg(max(col("count"))).head.getLong(0)
      if (maxC > MaxSemCluster) {
        if (graft.GraftSession.strictGuards)
          throw new IllegalStateException(
            s"q262_semdedup: largest cluster has $maxC members > " +
              s"MaxSemCluster=$MaxSemCluster; re-cluster with more centroids " +
              "(SemDeDup's K must grow with N) before the within-cluster " +
              "pair join is safe")
        graft.GraftSession.routedWarn(
          s"q262_semdedup: largest cluster $maxC > MaxSemCluster=$MaxSemCluster — " +
            "taking the chunk-split APPROXIMATE path (pairs ⊆ exact, recall < 1 " +
            "across chunk boundaries); set SPARK_GRAFT_STRICT_GUARDS=1 to fail " +
            "loudly instead")
        semDupReadout(semChunkSplit(a), chunked = true, emitChunks = false)
      } else semDupReadout(a, chunked = false, emitChunks = false)
    },

    /** SemDeDup at ANY scale (round 12): the adaptive sibling of q262.
      * q262's contract is "clustering bounds cluster size" and it fails
      * LOUDLY when a duplicate-rich corpus breaks that bound (at sf10 the
      * largest argmax-cosine cluster is 22,946 > MaxSemCluster=4096, so
      * q262 refuses the quadratic join — the designed behavior). This
      * query is the path that still RUNS there: each cluster's members
      * are ordered by round-6 cosine-to-own-centroid (vec_id tie-break —
      * near-duplicates have near-identical centroid cosines, so the
      * ordering is a 1-D semantic projection) and chunked into
      * sub-clusters of at most [[SemSplitCap]]; the near-dup pair join
      * then keys on (cluster, chunk). Pair work per row is < cap BY
      * CONSTRUCTION — total candidate pairs ≤ N·cap/2, linear in N with
      * no guard needed, the shape that survives 100 TB. The price is
      * recall across chunk boundaries: measured at sf0.01 the split
      * finds 10 of q262's 14 within-cluster pairs (0.714, pinned in
      * HybridSpec) — the standard SemDeDup-style approximation, reported
      * honestly per the q226/q367 measured-error discipline. The
      * split window is cluster-partitioned (never global); a cluster's
      * rows serialize through one task only for the rank pass, which is
      * a row_number scan, not a join.
      */
    QueryDef(
      "q474_semdedup_scaled",
      s"""WITH $centroidSql,
        |assigned AS (
        |  SELECT e.vec_id, e.embedding::DOUBLE[] AS emb, c.clabel,
        |    list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) AS acos,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cvec) DESC,
        |               c.clabel) AS rn
        |  FROM embeddings e CROSS JOIN centv c),
        |a AS (SELECT vec_id, emb, clabel, acos FROM assigned WHERE rn = 1),
        |b AS (
        |  SELECT vec_id, emb, clabel,
        |    CAST((row_number() OVER (PARTITION BY clabel
        |      ORDER BY round(acos, 6) DESC, vec_id) - 1) // $SemSplitCap AS INT)
        |      AS chunk
        |  FROM a),
        |pairs AS (
        |  SELECT x.clabel, y.vec_id AS prune_id,
        |    list_cosine_similarity(x.emb, y.emb) AS cos
        |  FROM b x JOIN b y ON x.clabel = y.clabel AND x.chunk = y.chunk
        |    AND x.vec_id < y.vec_id
        |  WHERE list_cosine_similarity(x.emb, y.emb) >= 0.4),
        |mem AS (
        |  SELECT clabel, count(*) AS n_members,
        |    count(DISTINCT chunk) AS n_chunks
        |  FROM b GROUP BY 1)
        |SELECT m.clabel AS cluster, m.n_members,
        |  CAST(m.n_chunks AS BIGINT) AS n_chunks,
        |  CAST(coalesce(count(p.prune_id), 0) AS BIGINT) AS n_dup_pairs,
        |  CAST(coalesce(count(DISTINCT p.prune_id), 0) AS BIGINT) AS n_pruned,
        |  round(coalesce(max(p.cos), -1), 6) AS max_cos
        |FROM mem m LEFT JOIN pairs p ON p.clabel = m.clabel
        |GROUP BY 1, 2, 3 ORDER BY cluster""".stripMargin) { (s, d) =>
      // deterministic 1-D split ([[semChunkSplit]]): rank by round-6
      // centroid cosine within the cluster, chunk every SemSplitCap
      // ranks. No size guard — the chunk IS the bound.
      semDupReadout(semChunkSplit(semAssign(s, d)),
        chunked = true, emitChunks = true)
    },

    /** K-MEANS RE-CLUSTERING (round 12) — the third leg of the SemDeDup
      * scale story. q262's guard message says "re-cluster with more
      * centroids (SemDeDup's K must grow with N)"; this operator IS that
      * re-clustering: K=64 k-means over the embedding space with
      * deterministic init (centroids seeded from vec_id < 64) and two
      * Lloyd iterations, each iteration = one map-side ARGMIN assignment
      * (typed mapPartitions over a driver-broadcast K×64 centroid
      * matrix — MLlib's Lloyd shape, zero assignment shuffle; measured
      * flat to 500k vectors and 10 s at 5M) plus one dim-grain mean
      * update (posexplode → groupBy(cid, i) — K·64 = 4,096 groups
      * regardless of corpus size, a fixed-size shuffle).
      * At sf0.01 the largest k-means cluster has 14 members vs 64 for
      * the label clustering — exactly the "K grows with N" contract that
      * keeps q262's within-cluster pair join quadratic-safe. Readout per
      * final cluster: membership, WCSS, max member distance (the k-means
      * objective, so a wrong assignment or a stale centroid is a hash
      * mismatch). Assignment argmin margins measured at sf0.01: min
      * second-best gap 1.29e-4 ≥ 10⁹× double ULP, so cross-engine
      * distance deviation cannot flip a membership.
      */
    QueryDef(
      "q477_kmeans_recluster",
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, emb AS cvec FROM e WHERE vec_id < 64),
        |a1 AS (
        |  SELECT e.vec_id, e.emb, c.cid,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_distance(e.emb, c.cvec) ASC, c.cid) AS rn
        |  FROM e CROSS JOIN c0 c),
        |s1 AS (SELECT vec_id, emb, cid FROM a1 WHERE rn = 1),
        |m1 AS (
        |  SELECT cid, i, avg(x) AS cx FROM (
        |    SELECT cid, unnest(list_transform(emb, (x, i) -> {'x': x, 'i': i}),
        |      recursive := true) FROM s1) GROUP BY 1, 2),
        |c1 AS (SELECT cid, list(cx ORDER BY i) AS cvec FROM m1 GROUP BY cid),
        |a2 AS (
        |  SELECT e.vec_id, e.emb, c.cid,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_distance(e.emb, c.cvec) ASC, c.cid) AS rn
        |  FROM e CROSS JOIN c1 c),
        |s2 AS (SELECT vec_id, emb, cid FROM a2 WHERE rn = 1),
        |m2 AS (
        |  SELECT cid, i, avg(x) AS cx FROM (
        |    SELECT cid, unnest(list_transform(emb, (x, i) -> {'x': x, 'i': i}),
        |      recursive := true) FROM s2) GROUP BY 1, 2),
        |c2 AS (SELECT cid, list(cx ORDER BY i) AS cvec FROM m2 GROUP BY cid)
        |SELECT s2.cid AS cluster,
        |  CAST(count(*) AS BIGINT) AS n_members,
        |  round(CAST(sum(CAST(list_distance(s2.emb, c.cvec) *
        |    list_distance(s2.emb, c.cvec)
        |    AS DECIMAL(38,12))) AS DOUBLE), 6) AS wcss,
        |  round(max(list_distance(s2.emb, c.cvec)), 6) AS max_dist
        |FROM s2 JOIN c2 c ON c.cid = s2.cid
        |GROUP BY 1 ORDER BY cluster""".stripMargin) { (s, d) =>
      import graft.functions.Kernels
      import s.implicits._
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      // one Lloyd assignment: the K×N×D argmin kernel runs as a typed
      // mapPartitions over a driver-broadcast centroid matrix (K=64×64
      // doubles — the bounded model-grain collect the .collect() audit
      // allows; MLlib's Lloyd does exactly this). A Column-fold form of
      // the same argmin allocated a zip_with scratch array PER CENTROID
      // PER ROW (64 allocs × 64 doubles each) and measured 9× slower at
      // sf1. Ascending-index distance loop + strict < with centroids in
      // ascending-cid order ⇒ identical doubles and the smallest cid on
      // exact ties — the oracle's `ORDER BY dist ASC, cid` rule.
      def assign(cents: DataFrame): DataFrame = {
        val cArr = cents.select(col("cid"), col("cvec"))
          .as[(Long, Array[Double])].collect().sortBy(_._1)
        val bc = s.sparkContext.broadcast(cArr)
        e.as[(Long, Array[Double])].mapPartitions { it =>
          val cs = bc.value
          it.map { case (vid, emb) =>
            // Null rows mirror the oracle, malformed rows fail LOUDLY
            // (round 14, ADVICE r13): a NULL list_distance sorts LAST
            // under `ORDER BY dist ASC, cid`, so a null embedding lands
            // in the smallest-cid centroid; a WRONG-DIMENSION row raises
            // in DuckDB (list_distance rejects mismatched lengths), so
            // the engine raises too instead of silently folding a prefix
            // distance. The argmin compares the SQRT'd distance with
            // strict < — the oracle orders by list_distance (sqrt),
            // where two distinct d2 can collapse to one double and the
            // tie must break to the smaller cid.
            if (emb == null) (vid, emb, if (cs.nonEmpty) cs(0)._1 else -1L)
            else {
              var bestD = Double.MaxValue; var bestC = -1L
              var k = 0
              while (k < cs.length) {
                val cv = cs(k)._2
                if (emb.length != cv.length) throw new IllegalStateException(
                  s"q477_kmeans_recluster: vec_id=$vid has dimension " +
                    s"${emb.length} != centroid dimension ${cv.length} — " +
                    "mixed-dimension embeddings (DuckDB list_distance " +
                    "raises here too)")
                val n = emb.length
                var d2 = 0.0; var i = 0
                while (i < n) {
                  val df = emb(i) - cv(i); d2 += df * df; i += 1
                }
                val dist = math.sqrt(d2)
                if (dist < bestD) { bestD = dist; bestC = cs(k)._1 }
                k += 1
              }
              (vid, emb, bestC)
            }
          }
        }.toDF("vec_id", "emb", "cid")
      }
      // one mean update: fixed-size shuffle (K·dims groups)
      def means(assigned: DataFrame): DataFrame = assigned
        .select(col("cid"), posexplode(col("emb")).as(Seq("i", "x")))
        .groupBy("cid", "i").agg(avg(col("x")).as("cx"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("i"), col("cx")))),
          st => st.getField("cx")).as("cvec"))
      val c0 = e.where(col("vec_id") < 64)
        .select(col("vec_id").as("cid"), col("emb").as("cvec"))
      val s2 = assign(means(assign(c0)))
      val c2 = means(s2).withColumnRenamed("cid", "mcid")
      // wcss byte-mirrors the oracle's list_distance(...)**2 — sqrt then
      // square, up to ~2 ULP off the true squared distance (round 13,
      // ADVICE r12): summing sqDist directly could round a member value
      // sitting within a ULP of a DECIMAL(38,12) half-grid boundary to a
      // different 6-decimal wcss. max_dist keeps the plain sqrt.
      val dist = sqrt(Kernels.sqDist(col("emb"), col("cvec")))
      s2.join(c2, col("mcid") === col("cid"))
        .select(col("cid"), dist.as("dist"))
        .groupBy(col("cid").as("cluster"))
        .agg(count(lit(1)).as("n_members"),
          round(sum((col("dist") * col("dist")).cast("decimal(38,12)"))
            .cast("double"), 6).as("wcss"),
          round(max(col("dist")), 6).as("max_dist"))
        .orderBy("cluster")
    },

    /** Sparse TF-IDF cosine similarity join — the lexical counterpart of
      * the dense embedding path (q64/q98): candidate pairs come from an
      * inverted-index posting-list join keyed on the TERM, restricted to
      * discriminative terms (2 ≤ df ≤ 50). That df cap is the classic
      * impact-ordering prune: a term shared by thousands of documents
      * generates quadratic candidates while contributing ~zero IDF
      * weight, so posting lists stay short BY CONSTRUCTION and pair work
      * is Σ df² over rare terms only — never all-pairs, and never a
      * stopword-keyed skew join. Weights/norms are computed over the
      * same pruned vocabulary on both engines (a documented approximation
      * of full-vocabulary cosine; the dropped high-df terms carry the
      * smallest weights). Decimal-exact dots and norms; top-50 by
      * round-6 cosine with id tie-breaks. Measured at sf0.01: every
      * candidate pair is an exact template duplicate (cos = 1.0, the
      * corpus's known clone cluster), so the 0.2 threshold margin is
      * 0.8 and the LIMIT-50 cut resolves purely on the total (doc_a,
      * doc_b) id order — no float boundary in play at all.
      */
    QueryDef(
      "q271_tfidf_cosine_join",
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        |    x -> x != '')) AS w
        |  FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |df AS (
        |  SELECT w, CAST(count(*) AS DOUBLE) AS df FROM tf
        |  GROUP BY 1 HAVING count(*) BETWEEN 2 AND 50),
        |wt AS (
        |  SELECT t.doc_id, t.w, t.tf * ln(nn.n / df.df) AS wgt
        |  FROM tf t JOIN df ON df.w = t.w CROSS JOIN nn),
        |nrm AS (
        |  SELECT doc_id,
        |    sqrt(CAST(sum(CAST(wgt * wgt AS DECIMAL(38,12))) AS DOUBLE)) AS nv
        |  FROM wt GROUP BY 1),
        |pr AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |    CAST(sum(CAST(x.wgt * y.wgt AS DECIMAL(38,12))) AS DOUBLE) AS dot,
        |    count(*) AS shared
        |  FROM wt x JOIN wt y ON y.w = x.w AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT p.doc_a, p.doc_b,
        |    round(p.dot / (na.nv * nb.nv), 6) AS cos,
        |    CAST(p.shared AS BIGINT) AS shared_terms
        |  FROM pr p JOIN nrm na ON na.doc_id = p.doc_a
        |            JOIN nrm nb ON nb.doc_id = p.doc_b)
        |SELECT doc_a, doc_b, cos, shared_terms FROM sc
        |WHERE cos >= 0.2
        |ORDER BY cos DESC, doc_a, doc_b LIMIT 50""".stripMargin) { (s, d) =>
      import graft.functions.Text
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(Text.wordsCol(col("text"))).as("w"))
      val tf = tok.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      val nn = Tables.documents(s, d).agg(count(lit(1)).cast("double").as("n"))
      val df = tf.groupBy(col("w").as("dw")).agg(count(lit(1)).cast("double").as("df"))
        .where(col("df") >= 2 && col("df") <= 50)
      val wt = tf.join(df, col("dw") === col("w")).crossJoin(broadcast(nn))
        .select(col("doc_id"), col("w"),
          (col("tf") * log(col("n") / col("df"))).as("wgt"))
      def dsumD(c: Column) = sum(c.cast("decimal(38,12)")).cast("double")
      val nrm = wt.groupBy(col("doc_id")).agg(sqrt(dsumD(col("wgt") * col("wgt"))).as("nv"))
      val x = wt.select(col("w"), col("doc_id").as("doc_a"), col("wgt").as("wa"))
      val y = wt.select(col("w").as("wy"), col("doc_id").as("doc_b"), col("wgt").as("wb"))
      val pr = x.join(y, col("wy") === col("w") && col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(dsumD(col("wa") * col("wb")).as("dot"), count(lit(1)).as("shared"))
      pr.join(nrm.select(col("doc_id").as("da"), col("nv").as("na")), col("da") === col("doc_a"))
        .join(nrm.select(col("doc_id").as("db"), col("nv").as("nb")), col("db") === col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          r6(col("dot") / (col("na") * col("nb"))).as("cos"),
          col("shared").as("shared_terms"))
        .where(col("cos") >= 0.2)
        .orderBy(col("cos").desc, col("doc_a"), col("doc_b")).limit(50)
    },

    /** nDCG@10 of the multiprobe ANN ranking against the exact cosine
      * ranking — the ORDERING-quality companion of q226's recall@10
      * (recall counts hits; nDCG grades where they landed). Same
      * geometry as the ANN family (the shared Lsh plane family and
      * q64's query vector): the system list is the 9-bucket multiprobe
      * top-10, ground truth the exact top-10 with graded relevance
      * 11−rank. DCG discounts are written as ln(pos+1)/ln(2) — the
      * IDENTICAL expression both engines, no log2 builtin parity bet —
      * and both gain sums are decimal-accumulated. Both top-10 cuts are
      * bounded TakeOrdered ops on round-6 scores (q261's margin
      * discipline); the readout is one row.
      */
    QueryDef(
      "q280_ndcg_eval",
      s"""WITH $annListsSql,
        |dg AS (
        |  SELECT count(*) AS n_sys,
        |    CAST(sum(CASE WHEN ex.re IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        |    CAST(sum(CAST(CASE WHEN ex.re IS NOT NULL THEN (11 - ex.re) ELSE 0 END
        |      / (ln(sys.pos + 1.0) / ln(2.0)) AS DECIMAL(38,12))) AS DOUBLE) AS dcg
        |  FROM sys LEFT JOIN ex ON ex.vec_id = sys.vec_id),
        |ig AS (
        |  SELECT CAST(sum(CAST((11 - re) / (ln(re + 1.0) / ln(2.0))
        |    AS DECIMAL(38,12))) AS DOUBLE) AS idcg
        |  FROM ex)
        |SELECT CAST(n_sys AS BIGINT) AS n_sys, hits,
        |  round(dcg, 6) AS dcg, round(idcg, 6) AS idcg,
        |  round(dcg / idcg, 6) AS ndcg
        |FROM dg CROSS JOIN ig""".stripMargin) { (s, d) =>
      val (ex, sys) = annLists(s, d)
      def dsumD(c: Column) = sum(c.cast("decimal(38,12)")).cast("double")
      val dg = sys.join(ex, col("evid") === col("vec_id"), "left")
        .agg(count(lit(1)).as("n_sys"),
          sum(when(col("re").isNotNull, 1).otherwise(0)).cast("long").as("hits"),
          dsumD(when(col("re").isNotNull, lit(11) - col("re")).otherwise(lit(0)) /
            (log(col("pos") + 1.0) / log(lit(2.0)))).as("dcg"))
      val ig = ex.agg(dsumD((lit(11) - col("re")) /
        (log(col("re") + 1.0) / log(lit(2.0)))).as("idcg"))
      dg.crossJoin(broadcast(ig))
        .select(col("n_sys").cast("long").as("n_sys"), col("hits"),
          r6(col("dcg")).as("dcg"), r6(col("idcg")).as("idcg"),
          r6(col("dcg") / col("idcg")).as("ndcg"))
    },

    /** MRR and MAP@10 of the multiprobe ANN over a 5-query workload —
      * the MULTI-query completion of the ANN eval family (q226
      * recall@10, q280 nDCG@10 grade one probe vector; retrieval
      * quality is a distribution over queries, so the headline numbers
      * are means). Five deterministic query vectors probe distinct
      * geometry; per query, the exact round-6-cosine top-10 is ground
      * truth and the 9-bucket multiprobe top-10 the system list.
      * Engine side is ONE corpus pass: corpus buckets compute once,
      * the 5 queries broadcast, both cuts run through the bounded-heap
      * TopKPerGroup operator (never a global sort), and the AP
      * cumulative-precision sums are decimal-accumulated. At 100 TB
      * queries-as-broadcast × one corpus scan × per-group heaps is the
      * eval-harness plan shape.
      */
    QueryDef(
      "q290_mrr_map_eval", {
        val planes = Lsh.hyperplanes(8)
        def qv(t: Int): Array[Double] =
          Array.tabulate(64)(i => (((i * 37 + t * 13) % 19) - 9) / 10.0)
        val corpusBucket = Lsh.bucketSql(planes, i => s"embedding[${i + 1}]::DOUBLE")
        def branch(t: Int, sys: Boolean): String = {
          val v = qv(t).mkString("[", ", ", "]::DOUBLE[]")
          val qb = Lsh.bucketOf(qv(t), planes).toInt
          val probes = (qb +: planes.indices.map(pi => qb ^ (1 << pi))).mkString(", ")
          val where = if (sys) s"WHERE ($corpusBucket) IN ($probes)" else ""
          s"""(SELECT $t AS qid, vec_id,
             |  row_number() OVER (ORDER BY round(list_cosine_similarity(
             |    embedding::DOUBLE[], $v), 6) DESC, vec_id) AS pos
             |FROM embeddings $where
             |ORDER BY round(list_cosine_similarity(embedding::DOUBLE[], $v), 6)
             |  DESC, vec_id LIMIT 10)""".stripMargin
        }
        s"""WITH ex AS (${(0 to 4).map(branch(_, sys = false)).mkString("\n UNION ALL ")}),
           |sys AS (${(0 to 4).map(branch(_, sys = true)).mkString("\n UNION ALL ")}),
           |j AS (
           |  SELECT s.qid, s.pos,
           |    CASE WHEN e.pos IS NOT NULL THEN 1 ELSE 0 END AS hit
           |  FROM sys s LEFT JOIN ex e ON e.qid = s.qid AND e.vec_id = s.vec_id),
           |c AS (
           |  SELECT qid, pos, hit,
           |    sum(hit) OVER (PARTITION BY qid ORDER BY pos) AS ch
           |  FROM j),
           |pq AS (
           |  SELECT qid, CAST(sum(hit) AS BIGINT) AS hits,
           |    coalesce(max(CASE WHEN hit = 1 THEN 1.0 / pos END), 0) AS rr,
           |    CAST(sum(CAST(hit * ch / CAST(pos AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)
           |      / 10 AS ap10
           |  FROM c GROUP BY 1),
           |g AS (
           |  SELECT CAST(sum(CAST(rr AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS mrr,
           |    CAST(sum(CAST(ap10 AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS map10
           |  FROM pq)
           |SELECT qid, hits, round(rr, 6) AS rr, round(ap10, 6) AS ap10,
           |  round(g.mrr, 6) AS mrr, round(g.map10, 6) AS map10
           |FROM pq CROSS JOIN g ORDER BY qid""".stripMargin
      }) { (s, d) =>
      import s.implicits._
      import graft.functions.Kernels
      val planes = Lsh.hyperplanes(8)
      def qv(t: Int): Array[Double] =
        Array.tabulate(64)(i => (((i * 37 + t * 13) % 19) - 9) / 10.0)
      val qdf = (0 to 4).map(t => (t, qv(t).toSeq)).toDF("qid", "qvec")
      val probes = (0 to 4).flatMap { t =>
        val qb = Lsh.bucketOf(qv(t), planes)
        (qb +: planes.indices.map(pi => qb ^ (1L << pi))).map(p => (t, p))
      }.toDF("pqid", "probe")
      val emb = col("embedding").cast("array<double>")
      val corpus = Tables.embeddings(s, d)
        .select(col("vec_id"), emb.as("ev"),
          Lsh.bucketColumn(emb, planes).as("bkt"))
      val scored = corpus.crossJoin(broadcast(qdf))
        .select(col("qid"), col("vec_id"), col("bkt"),
          r6(Kernels.cosine(col("ev"), col("qvec"))).as("cs"))
      def top10(df: DataFrame): DataFrame = {
        val cut = graft.plans.TopKPerGroupOps.topKPerGroup(s, df,
          Seq(col("qid")), Seq(col("cs").desc, col("vec_id")), 10)
        cut.withColumn("pos", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("cs").desc, col("vec_id"))))
      }
      val ex = top10(scored).select(col("qid").as("eqid"),
        col("vec_id").as("evid"), col("pos").as("epos"))
      val sys = top10(scored
        .join(broadcast(probes), col("pqid") === col("qid") && col("probe") === col("bkt"))
        .select(col("qid"), col("vec_id"), col("cs")))
      def dsumD(c: Column) = sum(c.cast("decimal(38,12)")).cast("double")
      val j = sys.join(ex, col("eqid") === col("qid") && col("evid") === col("vec_id"), "left")
        .select(col("qid"), col("pos"),
          when(col("epos").isNotNull, 1).otherwise(0).as("hit"))
      val c = j.withColumn("ch",
        sum(col("hit")).over(Window.partitionBy(col("qid")).orderBy(col("pos"))))
      val pq = c.groupBy("qid").agg(
        sum(col("hit")).cast("long").as("hits"),
        coalesce(max(when(col("hit") === 1, lit(1.0) / col("pos"))), lit(0.0)).as("rr"),
        (dsumD(col("hit") * col("ch") / col("pos").cast("double")) / 10).as("ap10"))
      val g = pq.agg((dsumD(col("rr")) / count(lit(1))).as("mrr"),
        (dsumD(col("ap10")) / count(lit(1))).as("map10"))
      pq.crossJoin(broadcast(g))
        .select(col("qid"), col("hits"), r6(col("rr")).as("rr"),
          r6(col("ap10")).as("ap10"), r6(col("mrr")).as("mrr"),
          r6(col("map10")).as("map10"))
        .orderBy("qid")
    },

    /** SemDeDup quality audit (round 10, VERDICT r9 #5): measured
      * RECALL of q262's cluster-scoped near-dup detection against the
      * brute-force all-pairs cosine truth — the q226/q279/q362
      * measured-error discipline applied to the one approximate path
      * that still lacked a readout. For each threshold τ ∈
      * {0.30, 0.35, 0.40}: the number of vector pairs with cos ≥ τ
      * (truth), how many of those land in the SAME assigned cluster
      * (the only pairs q262's within-cluster join can ever see), the
      * missed cross-cluster count, and recall. Precision is 1.0 BY
      * CONSTRUCTION (same threshold over the same vectors ⇒ found ⊆
      * truth), so recall is the entire quality story. Threshold
      * margins measured at sf0.01: min |cos − τ| = 6.9e-5 / 2.9e-5 /
      * 1.3e-4 — all ≥ 10⁴× any cross-engine cosine deviation, so the
      * counts cannot flip.
      *
      * Scale shape: the truth side's all-pairs join runs on the FIXED
      * AUDIT SAMPLE vec_id < 4096 — the bounded-probe design the
      * round-13 docstring promised, made literal after the round-11
      * sf1 fence flagged the unbounded form at 31x (0.32 s -> 10.0 s
      * for 10x data; quadratic in vectors). q226's pattern:
      * verification queries sample, the operator they verify does not;
      * the assignment it grades reuses q262's PlanCache'd
      * broadcast-fold subtree unchanged and stays full-corpus.
      */
    QueryDef(
      "q367_semdedup_recall",
      s"""WITH $centroidSql,
        |${assignedSql("e.embedding::DOUBLE[] AS emb")},
        |a AS (SELECT vec_id, emb, clabel FROM assigned
        |  WHERE rn = 1 AND vec_id < 4096),
        |tp AS (
        |  SELECT list_cosine_similarity(x.emb, y.emb) AS cos,
        |    x.clabel = y.clabel AS same
        |  FROM a x JOIN a y ON y.vec_id > x.vec_id),
        |m AS (
        |  SELECT count_if(cos >= 0.30) AS t30,
        |    count_if(cos >= 0.30 AND same) AS f30,
        |    count_if(cos >= 0.35) AS t35,
        |    count_if(cos >= 0.35 AND same) AS f35,
        |    count_if(cos >= 0.40) AS t40,
        |    count_if(cos >= 0.40 AND same) AS f40
        |  FROM tp)
        |SELECT CAST(tau AS DOUBLE) AS tau, CAST(t AS BIGINT) AS n_true_pairs,
        |  CAST(f AS BIGINT) AS n_found_pairs, CAST(t - f AS BIGINT) AS n_missed,
        |  round(CAST(f AS DOUBLE) / t, 6) AS recall
        |FROM (
        |  SELECT 0.30 AS tau, t30 AS t, f30 AS f FROM m
        |  UNION ALL SELECT 0.35, t35, f35 FROM m
        |  UNION ALL SELECT 0.40, t40, f40 FROM m)
        |ORDER BY tau""".stripMargin) { (s, d) =>
      import graft.functions.Kernels
      // fixed audit sample: the truth join is quadratic by definition
      val a = semAssign(s, d).where(col("vec_id") < 4096)
      val x = a.select(col("vec_id").as("av"), col("emb").as("xe"),
        col("clabel").as("ac"))
      val y = a.select(col("vec_id").as("bv"), col("emb").as("ye"),
        col("clabel").as("bc"))
      val tp = x.join(y, col("bv") > col("av"))
        .select(Kernels.cosine(col("xe"), col("ye")).as("cos"),
          (col("ac") === col("bc")).as("same"))
      val m = tp.agg(
        count_if(col("cos") >= 0.30).as("t30"),
        count_if(col("cos") >= 0.30 && col("same")).as("f30"),
        count_if(col("cos") >= 0.35).as("t35"),
        count_if(col("cos") >= 0.35 && col("same")).as("f35"),
        count_if(col("cos") >= 0.40).as("t40"),
        count_if(col("cos") >= 0.40 && col("same")).as("f40"))
      val melted = Seq(("0.30", "t30", "f30"), ("0.35", "t35", "f35"),
          ("0.40", "t40", "f40"))
        .map { case (tau, t, ff) =>
          m.select(lit(tau).cast("double").as("tau"),
            col(t).as("t"), col(ff).as("f"))
        }.reduce(_.unionByName(_))
      melted.select(col("tau"), col("t").as("n_true_pairs"),
          col("f").as("n_found_pairs"), (col("t") - col("f")).as("n_missed"),
          round(col("f").cast("double") / col("t"), 6).as("recall"))
        .orderBy("tau")
    }
  )
}
