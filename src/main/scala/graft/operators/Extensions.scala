package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.{AucHistogram, Kernels, SigmoidCE}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState
import org.apache.spark.sql.types._

/** Engine extension surface (SURVEY.md groups 4/7/8/9 round-2 additions):
  * the custom Catalyst expression, the one-pass typed aggregate, stateful
  * streaming with explicit GroupState, MapType round-trips, and the
  * two-stage (bucket + rerank) ANN search that composes q66's LSH
  * bucketing with q64's exact kernel.
  */
object Extensions {
  import CausalOps.r6
  private def r2x(c: org.apache.spark.sql.Column) = round(c, 2)

  /** q255's analyzed catalog tables: external tables over the raw
    * parquet + `ANALYZE TABLE` row and column statistics, registered
    * once per (session, sf-dir). Returns the per-dir database name.
    * ANALYZE scans each table once (table-scan cost, paid at ingest in
    * production); the column list covers exactly the join keys and the
    * filter column the CBO estimates need.
    */
  private[graft] def cboTables(s: org.apache.spark.sql.SparkSession, d: String): String = {
    val db = s"graft_cbo_${math.abs(d.hashCode)}"
    graft.PlanCache.memo(s, s"cbo_tables|$db") {
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      val cols = Seq(
        "customer" -> "c_custkey, c_mktsegment",
        "orders" -> "o_orderkey, o_custkey, o_orderpriority",
        "lineitem" -> "l_orderkey, l_extendedprice, l_discount")
      for ((t, cs) <- cols) {
        s.sql(s"DROP TABLE IF EXISTS $db.$t")
        s.sql(s"CREATE TABLE $db.$t USING parquet LOCATION '$d/$t.parquet'")
        s.sql(s"ANALYZE TABLE $db.$t COMPUTE STATISTICS")
        s.sql(s"ANALYZE TABLE $db.$t COMPUTE STATISTICS FOR COLUMNS $cs")
      }
    }
    db
  }

  /** Same deterministic logit/label as q20/q21 (Relational.scala).
    * CASTs keep both engines (and SigmoidCE's type check) in DoubleType
    * — bare 1.0 literals parse as DECIMAL in Spark SQL.
    */
  private def zSql = "CAST(l_quantity/10.0 - l_discount*20.0 + l_tax*5.0 - 1.5 AS DOUBLE)"
  private def ySql = "CAST(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS DOUBLE)"

  // deterministic hyperplanes — shared family with q66 (see Lsh scaladoc
  // for the plane-count scale knob; 8 = the demo/oracle-pinned width)
  private val planes: Array[Array[Double]] = Lsh.hyperplanes(8)
  private val qvec: Array[Double] = Array.tabulate(64)(i => ((i * 37) % 19 - 9) / 10.0)

  /** q226's eval query set: 12 deterministic vectors (q=0 is q90's
    * qvec; the q·13 shift walks the residues mod 19, so all 12 are
    * distinct). Small enough to broadcast — the recall eval's scale
    * contract.
    */
  private val recallQueries: Seq[(Int, Array[Double])] =
    (0 until 12).map(q =>
      (q, Array.tabulate(64)(i => (((q * 13 + i * 37) % 19) - 9) / 10.0)))

  val defs: Seq[QueryDef] = Seq(

    /** Fused sigmoid-CE as a native codegen Expression (`sigmoid_ce`,
      * functions/SigmoidCE.scala): registered in the session function
      * registry, invoked through SQL text, hash-verified against the
      * same closed form in DuckDB — proving the doGenCode path computes
      * the reference loss (`model.py:159`) exactly.
      */
    QueryDef(
      "q86_fused_sigmoid_ce",
      s"""SELECT l_returnflag,
         |  round(avg(greatest(z, 0) - z*y + ln(1.0 + exp(-abs(z)))), 6) AS ce_loss,
         |  count(*) AS n
         |FROM (SELECT l_returnflag, $zSql AS z, $ySql AS y FROM lineitem) t
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      SigmoidCE.register(s)
      Tables.lineitem(s, d)
        .withColumn("z", expr(zSql))
        .withColumn("y", expr(ySql))
        .groupBy("l_returnflag")
        .agg(r6(avg(expr("sigmoid_ce(z, y)"))).as("ce_loss"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },

    /** One-pass histogram AUC via the typed Aggregator
      * (functions/AucHistogram.scala) — the documented 100 TB
      * replacement for q21's global-sort rank AUC. The oracle
      * recomputes the identical binned trapezoid in SQL, so the
      * Aggregator's partial/merge/finish path is hash-verified.
      */
    QueryDef(
      "q87_auc_histogram",
      s"""WITH scored AS (
         |  SELECT least(CAST(floor((1.0/(1.0+exp(-($zSql)))) * 1000) AS INT), 999) AS bin,
         |    $ySql AS y
         |  FROM lineitem),
         |bins AS (
         |  SELECT bin, count_if(y = 1.0) AS pos, count_if(y = 0.0) AS neg
         |  FROM scored GROUP BY bin),
         |cum AS (
         |  SELECT pos, neg,
         |    coalesce(sum(neg) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_neg
         |  FROM bins)
         |SELECT round(sum(pos*cum_neg + 0.5*pos*neg) / (sum(pos) * sum(neg)), 6) AS auc_hist,
         |  CAST(sum(pos) AS BIGINT) AS n_pos, CAST(sum(neg) AS BIGINT) AS n_neg
         |FROM cum""".stripMargin) { (s, d) =>
      import s.implicits._
      val scored = Tables.lineitem(s, d)
        .select(Kernels.sigmoid(expr(zSql)).as("p"), expr(ySql).as("y"))
        .as[(Double, Double)]
      scored.select(AucHistogram.agg.toColumn)
        .toDF("auc_raw", "np", "nn")
        .select(r6(col("auc_raw")).as("auc_hist"),
          col("np").as("n_pos"),
          col("nn").as("n_neg"))
    },

    /** Stateful streaming with explicit per-key GroupState
      * (`mapGroupsWithState`, SURVEY.md group 8 "stateful scoring"):
      * per-user running (count, sum) state over the event stream. On
      * the finite source the final state must equal the batch
      * aggregate — the oracle asserts exactly that.
      */
    QueryDef(
      "q88_stream_stateful",
      """SELECT user_id, count(*) AS n_events, round(sum(value),2) AS total
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val updated = graft.streaming.Streaming.eventStream(s, d)
        .select(col("user_id"), col("value"))
        .as[(Long, Double)]
        .groupByKey(_._1)
        .mapGroupsWithState[(Long, Double), (Long, Long, Double)](
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
          case (uid, rows, state: GroupState[(Long, Double)]) =>
            val (n0, sum0) = state.getOption.getOrElse((0L, 0.0))
            var n = n0; var sm = sum0
            rows.foreach { case (_, v) => n += 1; sm += v }
            state.update((n, sm))
            (uid, n, sm)
        }
        .toDF("user_id", "n_events", "total_raw")
      // update mode emits one row per key per trigger; keep the latest
      graft.streaming.Streaming.drain(s, updated, "graft_stream_stateful", "update")
        .groupBy("user_id")
        .agg(max(col("n_events")).as("n_events"),
          round(max(col("total_raw")), 2).as("total"))
        .orderBy("user_id")
    },

    /** MapType round-trip (group 7 map functions): per-user
      * event_type→total map via map_from_entries, then explode back to
      * rows — construction, storage and generator verified by the
      * relational identity.
      */
    QueryDef(
      "q89_map_roundtrip",
      """SELECT user_id, event_type, round(total, 2) AS total FROM (
        |  SELECT user_id, event_type, sum(value) AS total
        |  FROM events GROUP BY user_id, event_type) t
        |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy("user_id", "event_type")
        .agg(sum(col("value")).as("total"))
        .groupBy("user_id")
        .agg(map_from_entries(
          array_sort(collect_list(struct(col("event_type"), col("total"))))).as("m"))
        .select(col("user_id"), explode(col("m")).as(Seq("event_type", "total_raw")))
        .select(col("user_id"), col("event_type"), round(col("total_raw"), 2).as("total"))
        .orderBy("user_id", "event_type")
    },

    /** Bucketed co-located join (the 100 TB shuffle eliminator): write
      * both join sides bucketed by the key (`bucketBy` + `sortBy`,
      * `saveAsTable`), then join — the physical plan has NO Exchange on
      * either side, the join reads co-located buckets directly. The
      * oracle states the same join over the raw tables.
      *
      * The bucketed layout is staged ONCE per source dir (external
      * tables under target/graft-io) and re-registered from DDL on
      * later runs — exactly how production amortizes a bucketed
      * table: pay the layout shuffle at ingest, never per query.
      */
    QueryDef(
      "q92_bucketed_join",
      """SELECT o_orderpriority, count(*) AS n_lines,
        |  round(sum(l_extendedprice), 2) AS total
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderstatus = 'F'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      import java.nio.file.{Files, Paths}
      val wh = s"graft_b_${math.abs(d.hashCode)}"
      val root = Paths.get(
        s"${graft.streaming.Streaming.ioBase}/${d.replaceAll("[^A-Za-z0-9.]", "_")}/bucketed")
        .toAbsolutePath
      val marker = root.resolve("_STAGED")
      s.sql(s"CREATE DATABASE IF NOT EXISTS $wh")
      if (!Files.exists(marker)) {
        Files.createDirectories(root)
        Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice")
          .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", root.resolve("lineitem_b").toString)
          .saveAsTable(s"$wh.lineitem_b")
        Tables.orders(s, d).select("o_orderkey", "o_orderstatus", "o_orderpriority")
          .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", root.resolve("orders_b").toString)
          .saveAsTable(s"$wh.orders_b")
        Files.createFile(marker)
      } else {
        // fresh in-memory catalog, existing files: re-register the same
        // bucket spec over the staged location (metadata-only)
        s.sql(s"""CREATE TABLE IF NOT EXISTS $wh.lineitem_b
          | (l_orderkey BIGINT, l_extendedprice DOUBLE) USING PARQUET
          | CLUSTERED BY (l_orderkey) SORTED BY (l_orderkey) INTO 8 BUCKETS
          | LOCATION '${root.resolve("lineitem_b")}'""".stripMargin)
        s.sql(s"""CREATE TABLE IF NOT EXISTS $wh.orders_b
          | (o_orderkey BIGINT, o_orderstatus STRING, o_orderpriority STRING)
          | USING PARQUET
          | CLUSTERED BY (o_orderkey) SORTED BY (o_orderkey) INTO 8 BUCKETS
          | LOCATION '${root.resolve("orders_b")}'""".stripMargin)
      }
      // hint("merge"): force SMJ so the bucketed no-Exchange path is the
      // one exercised (at tiny SF AQE would otherwise broadcast and hide
      // it; at 100 TB SMJ-over-buckets IS the plan)
      s.table(s"$wh.lineitem_b").hint("merge")
        .join(s.table(s"$wh.orders_b"), col("l_orderkey") === col("o_orderkey"))
        .where(col("o_orderstatus") === "F")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"), r2x(sum(col("l_extendedprice"))).as("total"))
        .orderBy("o_orderpriority")
    },

    /** COST-BASED OPTIMIZATION wired end-to-end (round 8, VERDICT #5):
      * q156 computes ANALYZE-style profiles as DATA; this query makes
      * the catalyst CBO actually CONSUME catalog statistics. The
      * [[cboTables]] helper registers external catalog tables over the
      * raw parquet and runs `ANALYZE TABLE … COMPUTE STATISTICS` (row
      * counts + join/filter column stats) once per (session, sf-dir);
      * the query then plans a 3-table star join through those analyzed
      * tables with `spark.sql.cbo.enabled` + `joinReorder.enabled` on.
      * With stats, the Filter on o_orderpriority gets a real
      * selectivity estimate (rowCount/ndv — a 5× row reduction where
      * size-only mode has NO row estimate at all) — PlanSpec proves
      * the consequence: the filtered side's estimated size shrinks and
      * the join strategy flips from sort-merge to broadcast-hash at a
      * threshold between the two estimates. At 100 TB that estimate is the difference between
      * shuffling a fact table and broadcasting a filtered dimension.
      * CBO stays enabled for the session afterwards — it only affects
      * catalog tables WITH stats, and every other query in the suite
      * reads path-based parquet (no catalog stats), so their plans are
      * unchanged by construction.
      */
    QueryDef(
      "q255_cbo_star_join",
      """SELECT c_mktsegment, count(*) AS n_li,
        |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,12))) AS DOUBLE), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
      val db = cboTables(s, d)
      s.conf.set("spark.sql.cbo.enabled", "true")
      s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      s.sql(
        s"""SELECT c_mktsegment, count(*) AS n_li,
           |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,12))) AS DOUBLE), 2) AS revenue
           |FROM $db.lineitem JOIN $db.orders ON l_orderkey = o_orderkey
           |JOIN $db.customer ON o_custkey = c_custkey
           |WHERE o_orderpriority = '1-URGENT'
           |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    },

    /** Salted skew join: the fact side keys are heavily skewed (5
      * event_type values), so a plain hash join puts everything on 5
      * tasks. Salt the fact key with 16 shards and replicate the dim
      * side 16x — parallelism recovers, results identical (oracle =
      * the unsalted join).
      */
    QueryDef(
      "q93_salted_join",
      """WITH dim AS (
        |  SELECT 'click' AS et, 1.0 AS wt UNION ALL SELECT 'error', 5.0
        |  UNION ALL SELECT 'purchase', 10.0 UNION ALL SELECT 'signup', 2.0
        |  UNION ALL SELECT 'view', 0.5)
        |SELECT e.event_type, count(*) AS n,
        |  round(sum(e.value * dim.wt), 2) AS weighted
        |FROM events e JOIN dim ON e.event_type = dim.et
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin) { (s, d) =>
      import s.implicits._
      val salts = 16
      val dim = Seq(("click", 1.0), ("error", 5.0), ("purchase", 10.0),
        ("signup", 2.0), ("view", 0.5)).toDF("et", "wt")
      val dimSalted = dim.crossJoin(
        s.range(salts).select(col("id").cast("int").as("salt")))
      val factSalted = Tables.events(s, d)
        .withColumn("salt", (pmod(col("event_id"), lit(salts))).cast("int"))
      factSalted
        .join(dimSalted, factSalted("event_type") === dimSalted("et")
          && factSalted("salt") === dimSalted("salt"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), r2x(sum(col("value") * col("wt"))).as("weighted"))
        .orderBy("event_type")
    },

    /** Salted two-phase AGGREGATION (the skew partner of q93's salted
      * join): a hot group key first aggregates under (key, salt) — the
      * hot key's rows spread over 16 reducers — then the 16 partial
      * rows re-merge in a second, trivially small shuffle. Works
      * because (count, decimal sum) is a monoid; the oracle is the
      * plain one-phase group-by, which must agree exactly. This is how
      * a 100 TB groupBy survives a key holding half the table.
      */
    QueryDef(
      "q201_salted_agg",
      """SELECT event_type, count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(28,8))) AS DOUBLE), 2) AS total
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val salts = 16
      val partial = Tables.events(s, d)
        .withColumn("salt", pmod(col("event_id"), lit(salts)).cast("int"))
        .groupBy("event_type", "salt")
        .agg(count(lit(1)).as("pn"),
          sum(col("value").cast("decimal(28,8)")).as("ps"))
      partial.groupBy("event_type")
        .agg(sum(col("pn")).as("n"),
          round(sum(col("ps")).cast("double"), 2).as("total"))
        .orderBy("event_type")
    },

    /** GLOBAL top-k through the custom TopKPerGroup operator (empty
      * group keys — the AllTuples branch): each partition keeps a
      * bounded 10-heap, only k rows per partition reach the single
      * final partition. The window/limit form would sort-shuffle the
      * whole fact table to one reducer; this ships 10·partitions rows.
      */
    QueryDef(
      "q202_global_topk",
      """SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 10""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      graft.plans.TopKPerGroupOps
        .topKPerGroup(s, li, Seq.empty,
          Seq(li("l_extendedprice").desc, li("l_orderkey").asc,
            li("l_linenumber").asc), 10)
        // order on the EXACT price (the oracle's sort key) — sorting the
        // rounded projection could diverge on sub-cent ties
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
          col("l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 2).as("price"))
    },

    /** Embedding-cosine near-duplicate detection: LSH-bucket the
      * vectors (q66's O(n) pass), then exact cosine only on
      * within-bucket pairs (threshold 0.4; the synthetic corpus has no >0.51 pairs) — the vector-space dedup op of an LLM data
      * pipeline (near-identical embeddings ⇒ near-identical content).
      * Fully deterministic, hash-verified.
      *
      * ADAPTIVE bucket width (round 9 — the first sf1 evidence run
      * measured this query at 37× its sf0.1 time for 10× data, the
      * quadratic Σ|bucket|² signature of a FIXED 8-plane index under a
      * growing corpus): the plane count now steps with the corpus size
      * — ≤4096 vectors → 8 planes (256 cells, bit-identical to the
      * pre-round-9 behavior at every driver SF), ≤32768 → 12, beyond →
      * 16 — so expected occupancy, and with it the within-bucket pair
      * work, stays bounded as N grows. This is the production contract
      * (an ANN index is rebuilt with more bits as the corpus grows);
      * both sides derive the tier from the SAME `count(*)`, the engine
      * via a metadata-only parquet count, the oracle via a scalar
      * subquery CASE across the three static bucket expressions.
      */
    QueryDef(
      "q98_embedding_neardup", {
        def bSql(n: Int) =
          Lsh.bucketSql(Lsh.hyperplanes(n), i => s"embedding[${i + 1}]::DOUBLE")
        s"""WITH b AS (
           |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
           |    CAST(CASE WHEN (SELECT count(*) FROM embeddings) <= 4096 THEN ${bSql(8)}
           |      WHEN (SELECT count(*) FROM embeddings) <= 32768 THEN ${bSql(12)}
           |      ELSE ${bSql(16)} END AS INT) AS bucket
           |  FROM embeddings)
           |SELECT x.bucket, count(*) AS n_pairs,
           |  round(max(list_cosine_similarity(x.emb, y.emb)), 6) AS max_cos,
           |  CAST(count_if(x.label = y.label) AS BIGINT) AS n_same_label
           |FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
           |WHERE list_cosine_similarity(x.emb, y.emb) >= 0.4
           |GROUP BY x.bucket ORDER BY x.bucket""".stripMargin
      }) { (s, d) =>
      import s.implicits._
      val emb = col("embedding").cast("array<double>")
      val nVecs = Tables.embeddings(s, d).count()
      val nPlanes = if (nVecs <= 4096) 8 else if (nVecs <= 32768) 12 else 16
      val bucket = Lsh.bucketColumn(emb, Lsh.hyperplanes(nPlanes))
      // Null embeddings bucket to NULL on the oracle side (the
      // hyperplane dot is NULL), and NULL joins nothing — they
      // contribute no pair. Mirror that BEFORE the typed encoding
      // (round 15, ADVICE r14: a null array would also NPE the norms
      // pass, and a null bucket cannot encode into the primitive-Int
      // field).
      val b = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), emb.as("emb"), bucket.cast("int").as("bucket"))
        .where(col("emb").isNotNull && col("bucket").isNotNull)
      // Within-bucket pair work runs as a typed per-bucket kernel
      // (round 14 — the q477/semAssign HOF-allocation lesson applied to
      // the PAIR grain): the join + Kernels.cosine form materialized a
      // pair ROW per candidate and zip_with allocated a 64-double
      // scratch array per pair — at sf10 the ScaleGen replicas are
      // near-identical directions, buckets hold ~100-member families,
      // and the ~50M pair rows cost 100 s of allocation pressure, not
      // flops. The kernel enumerates pairs inside each bucket group
      // with ascending-index while-loops (identical left-to-right dot
      // and norm summation order as the arrayDot/arrayNorm folds ⇒
      // identical doubles, hash parity pinned by the unchanged oracle),
      // precomputes each row's norm once, and emits the per-bucket
      // readout directly — no pair rows ever materialize. Isolated:
      // sf1 16.4 -> 2.9 s, sf10 100.0 -> 14.9 s (5.1x across the rung).
      val pairs = b.as[(Long, Int, Array[Double], Int)]
        .groupByKey(_._4)
        .flatMapGroups { (bk: Int, it: Iterator[(Long, Int, Array[Double], Int)]) =>
          val rows = it.toArray
          // Loud occupancy guard (round 15, ADVICE r14): the adaptive
          // plane tier is SUPPOSED to bound expected bucket size, but a
          // degenerate direction cluster can defeat a fixed tier — the
          // O(B²) pair loop and the O(B) vector residency then land on
          // one task. Warn (and refuse under strict guards) instead of
          // silently OOM-ing; the fix at that scale is more planes, not
          // a bigger executor.
          if (rows.length > Lsh.MaxNearDupBucket) {
            val msg = s"q98_embedding_neardup: bucket $bk holds " +
              s"${rows.length} vectors > MaxNearDupBucket=" +
              s"${Lsh.MaxNearDupBucket} — O(B²) pair enumeration on one " +
              "task; raise the plane tier for this corpus"
            if (graft.GraftSession.strictGuards)
              throw new IllegalStateException(msg)
            graft.GraftSession.routedWarn(msg)
          }
          val norms = rows.map { r =>
            val a = r._3; var na = 0.0; var k = 0
            while (k < a.length) { na += a(k) * a(k); k += 1 }
            math.sqrt(na)
          }
          var nPairs = 0L; var maxCos = Double.NegativeInfinity; var same = 0L
          var i = 0
          while (i < rows.length - 1) {
            val ae = rows(i)._3; val al = rows(i)._2
            var j = i + 1
            while (j < rows.length) {
              val be = rows(j)._3
              // Ragged pair: the old Column plan's zip_with null-padded
              // → null cosine → filtered; keep that contract. (On a
              // ragged corpus DuckDB's list_cosine_similarity errors the
              // WHOLE query, not just the pair — the oracle only defines
              // a hash surface for fixed-length corpora, which the
              // testdata embeddings are; ADVICE r15.)
              if (be.length == ae.length) {
                var dot = 0.0; var k = 0
                while (k < ae.length) { dot += ae(k) * be(k); k += 1 }
                val cos = dot / (norms(i) * norms(j))
                // NaN (zero-norm row): Spark SQL and DuckDB both order
                // NaN above every value, so `cos >= 0.4` ADMITS it and
                // max() returns NaN — mirror that instead of inheriting
                // Scala's always-false NaN compare (ADVICE r14).
                if (cos >= 0.4 || cos.isNaN) {
                  nPairs += 1
                  if (cos.isNaN) maxCos = Double.NaN
                  else if (!maxCos.isNaN && cos > maxCos) maxCos = cos
                  if (al == rows(j)._2) same += 1
                }
              }
              j += 1
            }
            i += 1
          }
          if (nPairs > 0) Iterator((bk, nPairs, maxCos, same)) else Iterator.empty
        }
      pairs.toDF("bucket", "n_pairs", "max_cos_raw", "n_same_label")
        .select(col("bucket"), col("n_pairs"), r6(col("max_cos_raw")).as("max_cos"),
          col("n_same_label"))
        .orderBy("bucket")
    },

    /** Two-stage ANN search (IVF shape): hyperplane-bucket the corpus
      * AND the query vector (q66's O(n) pass), then exact cosine rerank
      * only within the query's bucket (q64's kernel) — top-5. The full
      * approximate-search pipeline, deterministic and hash-verified.
      */
    QueryDef(
      "q90_ann_search", {
        val corpusBucket = Lsh.bucketSql(planes, i => s"embedding[${i + 1}]::DOUBLE")
        val queryBucket = Lsh.bucketSql(planes, i => s"(${qvec(i)})")
        val qvecSql = qvec.mkString("[", ", ", "]::DOUBLE[]")
        s"""SELECT vec_id, label,
           |  round(list_cosine_similarity(embedding::DOUBLE[], $qvecSql), 6) AS cos
           |FROM embeddings
           |WHERE ($corpusBucket) = ($queryBucket)
           |ORDER BY list_cosine_similarity(embedding::DOUBLE[], $qvecSql) DESC, vec_id
           |LIMIT 5""".stripMargin
      }) { (s, d) =>
      val emb = col("embedding").cast("array<double>")
      val corpusBucket = Lsh.bucketColumn(emb, planes)
      val queryBucketVal = Lsh.bucketOf(qvec, planes).toInt
      val cosF = Kernels.cosine(emb, array(qvec.map(lit): _*))
      Tables.embeddings(s, d)
        .where(corpusBucket === queryBucketVal) // prune to the query's cell
        .withColumn("cosF", cosF)
        .orderBy(col("cosF").desc, col("vec_id"))
        .limit(5)
        .select(col("vec_id"), col("label"), r6(col("cosF")).as("cos"))
    },

    /** Multi-probe ANN (q90 + recall recovery): probe the query's
      * bucket AND its 8 Hamming-1 neighbors (flip one plane bit each) —
      * the standard trade that buys back the recall a wider plane
      * count costs (Lsh scaladoc) without touching the other 247
      * cells. Still a map-side IN-filter over 9 of 256 buckets plus a
      * bounded TakeOrdered top-5; nothing shuffles but 5 rows.
      */
    QueryDef(
      "q214_ann_multiprobe", {
        val corpusBucket = Lsh.bucketSql(planes, i => s"embedding[${i + 1}]::DOUBLE")
        val qb = Lsh.bucketOf(qvec, planes).toInt
        val probes = (qb +: planes.indices.map(pi => qb ^ (1 << pi)))
          .mkString(", ")
        val qvecSql = qvec.mkString("[", ", ", "]::DOUBLE[]")
        s"""SELECT vec_id, label,
           |  round(list_cosine_similarity(embedding::DOUBLE[], $qvecSql), 6) AS cos
           |FROM embeddings
           |WHERE ($corpusBucket) IN ($probes)
           |ORDER BY list_cosine_similarity(embedding::DOUBLE[], $qvecSql) DESC, vec_id
           |LIMIT 5""".stripMargin
      }) { (s, d) =>
      val emb = col("embedding").cast("array<double>")
      val corpusBucket = Lsh.bucketColumn(emb, planes)
      val qb = Lsh.bucketOf(qvec, planes).toInt
      val probes = qb +: planes.indices.map(pi => qb ^ (1 << pi))
      val cosF = Kernels.cosine(emb, array(qvec.map(lit): _*))
      Tables.embeddings(s, d)
        .where(corpusBucket.isin(probes: _*))
        .withColumn("cosF", cosF)
        .orderBy(col("cosF").desc, col("vec_id"))
        .limit(5)
        .select(col("vec_id"), col("label"), r6(col("cosF")).as("cos"))
    },

    /** ANN QUALITY READOUT (round 7): recall@10 of the LSH-bucketed
      * search against the exact top-10, per query vector and per probe
      * count (1 = the query's own cell, 9 = + its 8 Hamming-1
      * neighbors) — the reference's measure-everything eval ethos
      * (`model.py:157-159`) applied to the ANN index itself. 12
      * deterministic query vectors; recall is hits/10, a small
      * rational, so the hash compare is exact.
      *
      * Scale shape: the query set is O(12) and BROADCAST; the corpus is
      * scanned ONCE with per-(query, vec) cosine + bucket computed
      * map-side, and every top-10 is a rank()<=k window that
      * WindowTopKRewrite lowers to the bounded-heap TopKPerGroup
      * operator — partial heaps shuffle ≤ k rows per (query, mode)
      * group, never the corpus. Exact ground truth is the one
      * full-scan term (that is what "exact recall eval" costs, paid
      * once per eval batch); the probed paths prune by bucket first.
      *
      * Rounding-boundary margin (round-8 ADVICE): the top-10 cut ranks
      * on UNROUNDED cosines, and the oracle's list_cosine_similarity
      * may order its internal summation differently (~1e-15 relative).
      * LshSpec measures the rank-10→11 cosine gap per (query, mode) —
      * ≈2.5e-4 minimum at sf0.01, asserted > 1e-7 — so rank-10
      * membership cannot flip between engines (the RetainOracleSql
      * margin discipline applied to this cut).
      */
    QueryDef(
      "q226_ann_recall", {
        val corpusBucket = Lsh.bucketSql(planes, i => s"e.embedding[${i + 1}]::DOUBLE")
        val qRows = recallQueries.map { case (qid, qv) =>
          val qb = Lsh.bucketOf(qv, planes).toInt
          val probes9 = (qb +: planes.indices.map(pi => qb ^ (1 << pi))).mkString(", ")
          s"($qid, ${qv.mkString("[", ", ", "]")}::DOUBLE[], $qb, [$probes9])"
        }.mkString(",\n           |    ")
        s"""WITH q AS (
           |  SELECT * FROM (VALUES
           |    $qRows) t(q_id, qv, qb, probes)),
           |scored AS (
           |  SELECT q.q_id, q.qb, q.probes, e.vec_id,
           |    list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS cos,
           |    ($corpusBucket) AS bucket
           |  FROM embeddings e CROSS JOIN q),
           |exact AS (
           |  SELECT q_id, vec_id FROM (
           |    SELECT q_id, vec_id,
           |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
           |    FROM scored) WHERE rn <= 10),
           |ann AS (
           |  SELECT q_id, vec_id, 1 AS n_probes FROM (
           |    SELECT q_id, vec_id,
           |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
           |    FROM scored WHERE bucket = qb) WHERE rn <= 10
           |  UNION ALL
           |  SELECT q_id, vec_id, 9 AS n_probes FROM (
           |    SELECT q_id, vec_id,
           |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
           |    FROM scored WHERE list_contains(probes, bucket)) WHERE rn <= 10),
           |hits AS (
           |  SELECT a.q_id, a.n_probes, CAST(count(e.vec_id) AS BIGINT) AS hits
           |  FROM ann a JOIN exact e ON a.q_id = e.q_id AND a.vec_id = e.vec_id
           |  GROUP BY a.q_id, a.n_probes)
           |SELECT qm.q_id, qm.n_probes,
           |  coalesce(h.hits, 0) AS hits,
           |  round(coalesce(h.hits, 0) / 10.0, 6) AS recall
           |FROM (SELECT q_id, unnest([1, 9]) AS n_probes FROM q) qm
           |LEFT JOIN hits h ON h.q_id = qm.q_id AND h.n_probes = qm.n_probes
           |ORDER BY qm.q_id, qm.n_probes""".stripMargin
      }) { (s, d) =>
      import s.implicits._
      val qDf = broadcast(recallQueries.map { case (qid, qv) =>
        val qb = Lsh.bucketOf(qv, planes).toInt
        (qid, qv.toSeq, qb, (qb +: planes.indices.map(pi => qb ^ (1 << pi))).toSeq)
      }.toDF("q_id", "qv", "qb", "probes"))
      val emb = col("embedding").cast("array<double>")
      // shared by the exact + both probed rankings: ONE pass computes
      // cosine and bucket per (query, vec); the persisted intermediate
      // DROPS the embedding column, so it is O(Q·N) small scalars (a
      // few % of corpus bytes), disk-spillable — not a 12× corpus
      // cache. The fully fused alternative (one 3-heap Aggregator per
      // q_id) saves the re-reads at the cost of a custom aggregate;
      // persist+reuse is the standard eval-batch trade.
      val scoredAll = graft.PlanCache.cached(s, s"q226_scored|$d") {
        Tables.embeddings(s, d)
          .select(col("vec_id"), emb.as("emb"),
            Lsh.bucketColumn(emb, planes).as("bucket"))
          .crossJoin(qDf)
          .select(col("q_id"), col("qb"), col("probes"), col("vec_id"), col("bucket"),
            Kernels.cosine(col("emb"), col("qv")).as("cos"))
      }
      // the explicit bounded-heap operator (not the window idiom): the
      // rank()<=k AUTO-rewrite needs the spark.sql.extensions session
      // wiring, and the engine's queries must plan the scale shape in
      // ANY session — partial per-partition heaps, ≤k rows shuffled per
      // (query, mode) group
      def top10(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        graft.plans.TopKPerGroupOps.topKPerGroup(s, df,
            Seq(col("q_id")), Seq(col("cos").desc, col("vec_id")), 10)
          .select(col("q_id"), col("vec_id"))
      val exact = top10(scoredAll)
      val ann = top10(scoredAll.where(col("bucket") === col("qb")))
          .withColumn("n_probes", lit(1))
        .unionByName(top10(scoredAll.where(array_contains(col("probes"), col("bucket"))))
          .withColumn("n_probes", lit(9)))
      val hitCounts = ann.join(exact, Seq("q_id", "vec_id"))
        .groupBy("q_id", "n_probes").agg(count(lit(1)).as("hits"))
      qDf.select(col("q_id")).crossJoin(
          broadcast(Seq(1, 9).toDF("n_probes")))
        .join(hitCounts, Seq("q_id", "n_probes"), "left")
        .select(col("q_id"), col("n_probes"),
          coalesce(col("hits"), lit(0L)).as("hits"),
          r6(coalesce(col("hits"), lit(0L)) / 10.0).as("recall"))
        .orderBy("q_id", "n_probes")
    }
  )
}
