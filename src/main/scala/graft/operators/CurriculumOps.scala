package graft.operators

import graft.{QueryDef, Scratch, Tables}
import graft.functions.SortedIntersectCount
import graft.functions.Text.wordsCol
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 training-data assembly operators: the steps between a
  * cleaned corpus and a training run — batch assembly by length
  * (padding efficiency), schema-evolution reads over heterogeneous
  * snapshots, domain-interleaved curriculum ordering, and n-gram
  * novelty scoring (dedup-lite repetition pressure).
  */
object CurriculumOps {
  /** The 8 portable MinHash minima over a `w` token column (salted
    * md5, first 60 bits) as `mh0`..`mh7`: q220 and q225. */
  private val minhashMinsSql = (0 until 8).map(si =>
    s"min(('0x' || substr(md5(w || '#$si'), 1, 15))::BIGINT) AS mh$si")
    .mkString(",\n        |    ")
  /** The 4 band keys `mh(2b) || '_' || mh(2b+1)` of [[minhashMinsSql]]. */
  private val minhashKeysSql = (0 until 4).map(b =>
    s"mh${2 * b} || '_' || mh${2 * b + 1}").mkString(", ")

  /** [[minhashMinsSql]]'s engine form: (doc_id, mh0..mh7) from
    * (doc_id, w) token rows. */
  private def minhashSig(tok: org.apache.spark.sql.DataFrame) =
    tok.groupBy("doc_id")
      .agg(
        min(conv(substring(md5(concat(col("w"), lit("#0"))), 1, 15), 16, 10)
          .cast("long")).as("mh0"),
        (1 until 8).map(si =>
          min(conv(substring(md5(concat(col("w"), lit(s"#$si"))), 1, 15), 16, 10)
            .cast("long")).as(s"mh$si")): _*)

  /** [[minhashKeysSql]]'s engine form: one (band, key) struct per band. */
  private def minhashBands =
    (0 until 4).map { b =>
      struct(lit(b).as("band"),
        concat(col(s"mh${2 * b}").cast("string"), lit("_"),
          col(s"mh${2 * b + 1}").cast("string")).as("key"))
    }

  /** Carter-Wegman 2-universal mix family for the q353 planner's
    * 16-signature table (round 15, VERDICT r14 #4): ONE md5 per token
    * gives a 60-bit base split into 30-bit halves (hi, lo); seed i's
    * value is `(aᵢ·hi mod p + bᵢ·lo mod p + cᵢ) mod p` with p = 2³¹−1.
    * Products stay ≤ 2⁶¹ (no BIGINT overflow in either engine), the
    * mod-p wrap decorrelates the per-seed min-hash orders, and the
    * constants are emitted verbatim into the oracle SQL so the two
    * dialects share one definition. */
  private[graft] object LshMix {
    val P: Long = 2147483647L      // 2^31 − 1 (Mersenne prime)
    val Two30: Long = 1073741824L  // 2^30 — the base-hash split point
    def a(i: Int): Long = (1103515245L * (2 * i + 1)) % P
    def b(i: Int): Long = (1103515245L * (2 * i + 2)) % P
    def c(i: Int): Long = (12345L * (i + 1)) % P
  }

  val defs: Seq[QueryDef] = Seq(

    /** Length-bucketed batch assembly: bucket docs by token count
      * (64-token buckets), fill fixed-size batches of 8 in doc_id
      * order within each bucket, and emit per-batch padding waste
      * (max_len·n − Σlen — the tokens a rectangular batch burns on
      * pad). THE seq-batching efficiency metric of an LLM trainer.
      *
      * The within-bucket row number is computed by q160's two-phase
      * offset merge, NOT a `partitionBy(bucket)` window: a handful of
      * length buckets would each land on one reducer at 100 TB. Rows
      * number locally per (bucket, doc_id-range shard) — thousands of
      * bounded partitions — and a broadcast O(buckets×shards) offset
      * table lifts local numbers to the EXACT global ones (shards are
      * doc_id ranges, so shard order == doc_id order). Output is
      * identical to the single-window form the oracle states.
      */
    QueryDef(
      "q206_length_batching",
      """WITH toks AS (
        |  SELECT doc_id, len(list_filter(string_split(text,' '), w -> w != '')) AS tok
        |  FROM documents),
        |b AS (SELECT doc_id, tok, tok // 64 AS bucket FROM toks),
        |bb AS (
        |  SELECT bucket, tok,
        |    (row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1) // 8 AS batch
        |  FROM b)
        |SELECT bucket, batch, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(max(tok) AS BIGINT) AS max_tok,
        |  CAST(max(tok)*count(*) - sum(tok) AS BIGINT) AS pad_waste
        |FROM bb GROUP BY bucket, batch ORDER BY bucket, batch""".stripMargin) { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), size(wordsCol(col("text"))).as("tok"))
        .withColumn("bucket", floor(col("tok") / 64).cast("long"))
        .withColumn("shard", (col("doc_id") / 100).cast("long"))
      val wLocal = Window.partitionBy(col("bucket"), col("shard"))
        .orderBy(col("doc_id"))
      val local = toks
        .withColumn("rn_local", row_number().over(wLocal).cast("long"))
      // exact global offsets: cumulative count of earlier doc_id-range
      // shards within the bucket — O(buckets×shards) rows, broadcast
      val wOff = Window.partitionBy(col("bucket")).orderBy(col("shard"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = local.groupBy("bucket", "shard")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("off", coalesce(sum(col("cnt")).over(wOff), lit(0L)))
        .select("bucket", "shard", "off")
      local.join(broadcast(offsets), Seq("bucket", "shard"))
        .withColumn("batch",
          floor((col("rn_local") - 1 + col("off")) / 8).cast("long"))
        .groupBy("bucket", "batch")
        .agg(count(lit(1)).as("n_docs"),
          max(col("tok")).cast("long").as("max_tok"),
          sum(col("tok")).as("sum_tok"))
        .select(col("bucket"), col("batch"), col("n_docs"), col("max_tok"),
          (col("max_tok") * col("n_docs") - col("sum_tok")).as("pad_waste"))
        .orderBy("bucket", "batch")
    },

    /** Schema-evolution read (mergeSchema): a v1 snapshot without the
      * `b` column and a v2 snapshot with it — written here from the
      * nation table — read back as ONE relation whose missing column
      * is null-filled, then audited per presence class. The lakehouse
      * reality of a long-lived 100 TB corpus: columns arrive over
      * time and every reader must union-by-name. The oracle reads the
      * very same parquet files with union_by_name.
      */
    QueryDef(
      "q207_schema_evolution",
      s"""SELECT (b IS NOT NULL) AS has_b, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(a) AS BIGINT) AS sum_a,
        |  CAST(coalesce(sum(b), 0) AS BIGINT) AS sum_b
        |FROM read_parquet(['${Scratch.root}/graft_evo/v1/*.parquet',
        |                   '${Scratch.root}/graft_evo/v2/*.parquet'], union_by_name=true)
        |GROUP BY 1 ORDER BY has_b""".stripMargin) { (s, d) =>
      val base = s"${Scratch.root}/graft_evo"
      val nation = Tables.load(s, d, "nation")
      nation.select(col("n_nationkey").as("id"), col("n_regionkey").as("a"))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/v1")
      nation.select(col("n_nationkey").as("id"), col("n_regionkey").as("a"),
          length(col("n_name")).cast("long").as("b"))
        .coalesce(1).write.mode("overwrite").parquet(s"$base/v2")
      s.read.option("mergeSchema", "true").parquet(s"$base/v1", s"$base/v2")
        .groupBy(col("b").isNotNull.as("has_b"))
        .agg(count(lit(1)).as("n"),
          sum(col("a")).cast("long").as("sum_a"),
          coalesce(sum(col("b")), lit(0)).cast("long").as("sum_b"))
        .orderBy("has_b")
    },

    /** Domain-interleaved curriculum ordering: rank docs per source by
      * quality (n_chars desc), then round-robin the sources so
      * position p cycles domains — the data-order recipe that keeps a
      * training run from seeing one domain in a burst. Emit the first
      * 100 positions. Per-source window + a broadcast 20-row source
      * index: nothing global ever sorts (the `pos` order is computed,
      * not sorted-then-limited, until the final 100-row top-k).
      */
    QueryDef(
      "q210_domain_interleave",
      """WITH sidx AS (
        |  SELECT source, row_number() OVER (ORDER BY source) - 1 AS sidx
        |  FROM (SELECT DISTINCT source FROM documents)),
        |ranked AS (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) - 1 AS rn
        |  FROM documents),
        |interleaved AS (
        |  SELECT r.rn * (SELECT count(*) FROM sidx) + s.sidx AS pos,
        |    r.source, r.doc_id, r.n_chars
        |  FROM ranked r JOIN sidx s ON r.source = s.source)
        |SELECT CAST(pos AS BIGINT) AS pos, source, doc_id, n_chars
        |FROM interleaved WHERE pos < 100 ORDER BY pos""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val srcIdx = docs.select("source").distinct()
        .withColumn("sidx",
          row_number().over(Window.orderBy("source")).cast("long") - 1)
      val nSrc = srcIdx.count() // O(domains) driver scalar, like q152
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      docs.withColumn("rn", row_number().over(w).cast("long") - 1)
        .join(broadcast(srcIdx), "source")
        .withColumn("pos", col("rn") * nSrc + col("sidx"))
        .where(col("pos") < 100)
        .select(col("pos"), col("source"), col("doc_id"), col("n_chars"))
        .orderBy("pos")
    },

    /** n-gram novelty scoring: per doc, the fraction of its distinct
      * 5-grams whose global first sighting (min doc_id) is the doc
      * itself; per-source average. The dedup-lite signal (low novelty
      * = templated/duplicated content) a filtering pipeline thresholds
      * on. Two shuffles only: first-sighting is a min window OVER the
      * gram partition (no self-join, no second scan of the exploded
      * grams), then the doc/source rollup. Averages go through the
      * decimal-cast sum so both engines round identically regardless
      * of summation order.
      */
    QueryDef(
      "q211_ngram_novelty",
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split(text,' '), w -> w != '') AS ws
        |  FROM documents),
        |g0 AS (
        |  SELECT doc_id, source, array_to_string(ws[i:i+4], ' ') AS gram
        |  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(ws)-4)) AS i)
        |  WHERE len(ws) >= 5),
        |g AS (SELECT DISTINCT doc_id, source, gram FROM g0),
        |fs AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram),
        |nov AS (
        |  SELECT g.doc_id, g.source,
        |    sum(CASE WHEN fs.first_doc = g.doc_id THEN 1.0 ELSE 0.0 END)
        |      / count(*) AS novelty
        |  FROM g JOIN fs ON g.gram = fs.gram
        |  GROUP BY g.doc_id, g.source)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(CAST(sum(CAST(novelty AS DECIMAL(18,9))) AS DOUBLE)
        |    / count(*), 6) AS avg_novelty
        |FROM nov GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val grams = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), wordsCol(col("text")).as("ws"))
        .where(size(col("ws")) >= 5)
        .select(col("doc_id"), col("source"),
          explode(array_distinct(transform(
            sequence(lit(0), size(col("ws")) - 5),
            i => concat_ws(" ", slice(col("ws"), i + 1, lit(5)))))).as("gram"))
      grams
        .withColumn("first_doc",
          min(col("doc_id")).over(Window.partitionBy(col("gram"))))
        .groupBy("doc_id", "source")
        .agg((sum(when(col("first_doc") === col("doc_id"), 1.0).otherwise(0.0))
          / count(lit(1))).as("novelty"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          round((sum(col("novelty").cast("decimal(18,9)")).cast("double")
            / count(lit(1))), 6).as("avg_novelty"))
        .orderBy("source")
    },

    /** Quality-threshold sweep: retention rate + retained-size profile
      * at nine candidate cut points in ONE pass (each row fans out to
      * the 9 thresholds map-side, then a 9-group aggregate) — how a
      * filtering pipeline picks its quality cut without 9 scans.
      * Quality here = fraction of words longer than 3 chars (cheap,
      * deterministic; the sweep machinery is the operator).
      */
    QueryDef(
      "q212_threshold_sweep", {
        val ts = (1 to 9).map(i => i / 10.0)
        s"""WITH q AS (
           |  SELECT doc_id, n_chars,
           |    len(list_filter(ws, w -> length(w) > 3)) / CAST(len(ws) AS DOUBLE) AS q
           |  FROM (SELECT doc_id, n_chars,
           |          list_filter(string_split(text,' '), w -> w != '') AS ws
           |        FROM documents)
           |  WHERE len(ws) > 0),
           |sweep AS (SELECT t, doc_id, n_chars, q
           |          FROM q, LATERAL (SELECT unnest([${ts.mkString(", ")}]) AS t))
           |SELECT t, CAST(count_if(q >= t) AS BIGINT) AS n_kept,
           |  round(count_if(q >= t) / CAST(count(*) AS DOUBLE), 6) AS retention,
           |  CAST(coalesce(sum(CASE WHEN q >= t THEN n_chars END), 0) AS BIGINT)
           |    AS kept_chars
           |FROM sweep GROUP BY t ORDER BY t""".stripMargin
      }) { (s, d) =>
      val ts = (1 to 9).map(i => i / 10.0)
      val q = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), wordsCol(col("text")).as("ws"))
        .where(size(col("ws")) > 0)
        .select(col("doc_id"), col("n_chars"),
          (size(filter(col("ws"), w => length(w) > 3)) /
            size(col("ws")).cast("double")).as("q"))
      q.withColumn("t", explode(array(ts.map(lit): _*)))
        .groupBy("t")
        .agg(count_if(col("q") >= col("t")).as("n_kept"),
          round(count_if(col("q") >= col("t")) /
            count(lit(1)).cast("double"), 6).as("retention"),
          coalesce(sum(when(col("q") >= col("t"), col("n_chars"))), lit(0))
            .as("kept_chars"))
        .orderBy("t")
    },

    /** Hidden file-metadata columns over a partitioned layout: write
      * events partitioned by event_type, read back with Spark's
      * `_metadata.file_path` and audit rows/files per partition — the
      * ingestion-provenance query (which file did this row come from?)
      * every lakehouse debugger runs. Partition identity is extracted
      * from the PATH (part-file names are run-random; the dir name is
      * the deterministic bit); the oracle reads the same files with
      * `filename=true`, so n_files agrees by construction.
      *
      * The pre-write repartition is SALTED on (event_type, event_id%4):
      * a plain repartition(event_type) would put each of the 5 types on
      * exactly one write task — 5 giant stragglers at 100×. Salting
      * spreads every type over multiple tasks/files; the salt is a
      * deterministic column (not rand()), so file counts are stable
      * run-over-run.
      */
    QueryDef(
      "q223_file_metadata",
      s"""SELECT regexp_extract(filename, 'event_type=([^/]+)', 1) AS event_type,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT filename) AS BIGINT) AS n_files
        |FROM read_parquet('${Scratch.root}/graft_meta/*/*.parquet', filename=true)
        |GROUP BY 1 ORDER BY event_type""".stripMargin) { (s, d) =>
      val base = s"${Scratch.root}/graft_meta"
      Tables.events(s, d)
        .select("event_id", "user_id", "event_type", "value")
        .repartition(16, col("event_type"), pmod(col("event_id"), lit(4)))
        .write.mode("overwrite").partitionBy("event_type").parquet(base)
      s.read.parquet(base)
        .select(col("_metadata.file_path").as("fp"))
        .groupBy(regexp_extract(col("fp"), "event_type=([^/]+)", 1)
          .as("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("fp")).as("n_files"))
        .orderBy("event_type")
    },

    /** Complex-event pattern detection (CEP, MATCH_RECOGNIZE-lite): a
      * purchase "qualifies" iff a click precedes it within 10 minutes
      * with NO error event between the click and the purchase. Both
      * negative ("no C between A and B") and windowed-precedence
      * constraints fall out of two running-max frames over ONE user
      * shuffle — no self-joins, no per-event lookback scans; q153's
      * funnel counts stages, this detects ordered-with-exclusion
      * patterns.
      */
    QueryDef(
      "q222_event_pattern",
      """WITH w AS (
        |  SELECT user_id, ts, event_type,
        |    max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) OVER wp AS last_click,
        |    max(CASE WHEN event_type = 'error' THEN epoch_us(ts) END) OVER wp AS last_error
        |  FROM events
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(count_if(last_click IS NOT NULL
        |    AND epoch_us(ts) - last_click <= 600000000
        |    AND (last_error IS NULL OR last_error < last_click)) AS BIGINT)
        |    AS n_qualified
        |FROM w WHERE event_type = 'purchase'
        |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      val wp = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .withColumn("last_click",
          max(when(col("event_type") === "click", unix_micros(col("ts"))))
            .over(wp))
        .withColumn("last_error",
          max(when(col("event_type") === "error", unix_micros(col("ts"))))
            .over(wp))
        .where(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_purchases"),
          count_if(col("last_click").isNotNull &&
            unix_micros(col("ts")) - col("last_click") <= 600000000L &&
            (col("last_error").isNull || col("last_error") < col("last_click")))
            .as("n_qualified"))
        .orderBy("user_id")
    },

    /** Key-skew audit: the per-key count distribution (cardinality,
      * max, p50/p99, heaviest key's share) for candidate join/group
      * keys — the diagnostic that DECIDES between a plain shuffle, a
      * salted join (q93), or salted two-phase aggregation (q201)
      * before a 100 TB job runs. One grouped count per key column,
      * then O(keys) stats; the events key columns profile user_id
      * (uniform) against event_type (5 hot keys) side by side.
      */
    QueryDef(
      "q221_skew_audit",
      """WITH c1 AS (
        |  SELECT CAST(user_id AS VARCHAR) AS k, count(*) AS n
        |  FROM events GROUP BY 1),
        |c2 AS (SELECT event_type AS k, count(*) AS n FROM events GROUP BY 1),
        |s1 AS (
        |  SELECT 'user_id' AS dim, CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(max(n) AS BIGINT) AS max_n,
        |    round(quantile_cont(n, 0.5), 2) AS p50_n,
        |    round(quantile_cont(n, 0.99), 2) AS p99_n,
        |    round(max(n) / CAST(sum(n) AS DOUBLE), 6) AS top1_share
        |  FROM c1),
        |s2 AS (
        |  SELECT 'event_type' AS dim, CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(max(n) AS BIGINT) AS max_n,
        |    round(quantile_cont(n, 0.5), 2) AS p50_n,
        |    round(quantile_cont(n, 0.99), 2) AS p99_n,
        |    round(max(n) / CAST(sum(n) AS DOUBLE), 6) AS top1_share
        |  FROM c2)
        |SELECT * FROM s1 UNION ALL SELECT * FROM s2 ORDER BY dim""".stripMargin) { (s, d) =>
      def profile(keyCol: String): org.apache.spark.sql.DataFrame =
        Tables.events(s, d)
          .groupBy(col(keyCol).cast("string").as("k"))
          .agg(count(lit(1)).as("n"))
          .agg(lit(keyCol).as("dim"),
            count(lit(1)).as("n_keys"),
            max(col("n")).as("max_n"),
            round(expr("percentile(n, 0.5)"), 2).as("p50_n"),
            round(expr("percentile(n, 0.99)"), 2).as("p99_n"),
            round(max(col("n")) / sum(col("n")).cast("double"), 6)
              .as("top1_share"))
      profile("user_id").unionByName(profile("event_type")).orderBy("dim")
    },

    /** Portable oracled MinHash banding: 8 per-doc min-hash signatures
      * from the md5-derived 60-bit hash (seeded by suffix — identical
      * on both engines, unlike engine-native hash functions), banded
      * 2-at-a-time into 4 LSH bands; emits per-band bucket occupancy.
      * Complements q71 (MLlib MinHashLSH, rows-only because its
      * signatures are RNG-seeded): THIS banding pipeline hash-verifies
      * end to end. Shape: one doc_id shuffle for the signature
      * aggregate, map-side band fan-out, one (band,key) count.
      */
    QueryDef(
      "q220_minhash_portable",
      s"""WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_filter(string_split(text,' '), w -> w != ''))) AS w
        |  FROM documents),
        |mh AS (
        |  SELECT doc_id,
        |    $minhashMinsSql
        |  FROM tok GROUP BY doc_id),
        |bands AS (
        |  SELECT band, key FROM mh, LATERAL (
        |    SELECT unnest([0, 1, 2, 3]) AS band,
        |           unnest([$minhashKeysSql]) AS key)),
        |b AS (SELECT band, key, count(*) AS n FROM bands GROUP BY band, key)
        |SELECT band, CAST(count(*) AS BIGINT) AS n_buckets,
        |  CAST(max(n) AS BIGINT) AS max_bucket,
        |  CAST(sum(n) AS BIGINT) AS n_docs
        |FROM b GROUP BY band ORDER BY band""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(array_distinct(wordsCol(col("text")))).as("w"))
      val mh = minhashSig(tok)
      mh.select(explode(array(minhashBands: _*)).as("bk"))
        .select(col("bk.band").as("band"), col("bk.key").as("key"))
        .groupBy("band", "key")
        .agg(count(lit(1)).as("n"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_buckets"),
          max(col("n")).as("max_bucket"),
          sum(col("n")).as("n_docs"))
        .orderBy("band")
    },

    /** The LSH dedup loop CLOSED end to end, fully oracled (round 7):
      * q220's portable MinHash banding → within-bucket candidate pairs
      * → exact-Jaccard verification → confirmed near-dup pairs
      * (J ≥ 0.5). This is the 100 TB deliverable the occupancy
      * histogram (q220) and the salted brute verify (q62) each show
      * half of: candidates are generated ONLY inside band buckets (a
      * self equi-join on (band, key) — work is Σ bucket², never n²),
      * deduped across the 4 bands, then verified by one doc_id-keyed
      * join back to the sorted token-hash sets with the codegen
      * merge-intersect. Jaccard is a ratio of small integers, so both
      * engines compute bit-identical doubles and the hash compare is
      * exact.
      *
      * Buckets larger than 64 docs are EXCLUDED from pair generation —
      * the standard production cap: an over-common band key is a
      * degenerate candidate generator (this corpus has a template
      * cluster whose bucket holds 3165 docs at sf0.1 → 20.7M pairs,
      * 99.9% of the work for near-exact duplicates that the exact-dedup
      * (q60) and cluster-resolution (q135) paths already handle as
      * clusters, not pairwise). The cap is a window count over the
      * SAME (band, key) shuffle the self-join uses, so it costs no
      * extra exchange, and it is what makes Σ bucket² a bound the
      * planner can trust at any SF.
      */
    QueryDef(
      "q225_lsh_candidate_pairs",
      s"""WITH tok AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(string_split(text,' '), w -> w != '')) AS ws
        |  FROM documents),
        |wrd AS (SELECT doc_id, unnest(ws) AS w FROM tok),
        |mh AS (
        |  SELECT doc_id,
        |    $minhashMinsSql
        |  FROM wrd GROUP BY doc_id),
        |bands0 AS (
        |  SELECT doc_id, band, key FROM mh, LATERAL (
        |    SELECT unnest([0, 1, 2, 3]) AS band,
        |           unnest([$minhashKeysSql]) AS key)),
        |bands AS (
        |  SELECT doc_id, band, key FROM bands0
        |  QUALIFY count(*) OVER (PARTITION BY band, key) <= 64),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        |scoredp AS (
        |  SELECT c.a_id, c.b_id,
        |    len(list_intersect(ta.ws, tb.ws))::DOUBLE
        |      / (len(ta.ws) + len(tb.ws) - len(list_intersect(ta.ws, tb.ws))) AS j
        |  FROM cand c
        |  JOIN tok ta ON ta.doc_id = c.a_id
        |  JOIN tok tb ON tb.doc_id = c.b_id)
        |SELECT a_id, b_id, round(j, 6) AS jaccard
        |FROM scoredp WHERE j >= 0.5 ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), array_distinct(wordsCol(col("text"))).as("wset"))
      val tokArr = docs.select(col("doc_id"),
        array_sort(transform(col("wset"), w => xxhash64(w))).as("ws"))
      val mh = minhashSig(docs.select(col("doc_id"), explode(col("wset")).as("w")))
      val bands = mh.select(col("doc_id"),
          array((0 until 8).map(si => col(s"mh$si")): _*).as("mhs"),
          explode(array(minhashBands: _*)).as("bk"))
        .select(col("doc_id"), col("mhs"),
          col("bk.band").as("band"), col("bk.key").as("key"))
        .withColumn("bn", count(lit(1)).over(
          Window.partitionBy(col("band"), col("key"))))
        .where(col("bn") <= 64)
        .drop("bn")
      // Candidate generation + verify run INSIDE each surviving
      // (band, key) bucket (round 14 — the q62 carry-payload rewrite
      // applied to the capped pipeline: the candidates → global
      // DISTINCT → two candidate-grain join-backs to the token arrays
      // were the sf100 cost, 150.7 s isolated; in-bucket it is 56.0 s).
      // Cross-band dedup must respect the CAP: a pair may only be
      // skipped at band b when an earlier band b' both matches on keys
      // AND SURVIVED the ≤64 cut (an oversized b'-bucket generated no
      // pairs), so each doc row carries its surviving-band set and the
      // check is `keys equal at b' ∧ b' surviving` — provably the same
      // pair set as the DISTINCT over the capped bands table. The
      // verify is sorted_intersect_count's two-pointer merge
      // (`SortedIntersectCount.jaccard`); jaccard doubles are identical
      // small-integer ratios.
      val mask = bands.groupBy("doc_id")
        .agg(collect_set(col("band")).as("sv"))
      val enriched = bands
        .join(mask, "doc_id")
        .join(tokArr, "doc_id")
        .select(col("band"), col("key"), col("doc_id"), col("mhs"),
          col("sv"), col("ws"))
        .as[(Int, String, Long, Array[Long], Array[Int], Array[Long])]
      val pairs = enriched
        .groupByKey { case (band, key, _, _, _, _) => (band, key) }
        .flatMapGroups { (gk: (Int, String),
            it: Iterator[(Int, String, Long, Array[Long], Array[Int], Array[Long])]) =>
          val band = gk._1
          val rows = it.toArray.sortBy(_._3) // ascending doc_id
          // Per-row survival BITMASK, computed once before the pair
          // loops (round 15, ADVICE r14): `sv` is ≤4 small band ids, so
          // the membership test the innermost loop needs is one
          // shift-and-mask instead of an array scan — and the bitmask
          // makes the correctness invariant mechanical: checking only
          // the A side is sound because keys equal at b' ⇒ same bucket
          // at b' ⇒ the SAME ≤64 survival outcome for both rows.
          val svm = rows.map { r =>
            val sv = r._5; var m = 0; var k = 0
            while (k < sv.length) { m |= 1 << sv(k); k += 1 }
            m
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          var i = 0
          while (i < rows.length - 1) {
            val (_, _, aId, amhs, _, aw) = rows(i)
            val am = svm(i)
            var jj = i + 1
            while (jj < rows.length) {
              val (_, _, bId, bmhs, _, bw) = rows(jj)
              // skip iff an earlier SURVIVING band already bucketed this
              // pair (keys equal at b' ⇒ same bucket ⇒ same survival)
              var dup = false; var bb = 0
              while (bb < band && !dup) {
                if (((am >> bb) & 1) != 0 &&
                    amhs(2 * bb) == bmhs(2 * bb) &&
                    amhs(2 * bb + 1) == bmhs(2 * bb + 1)) {
                  dup = true
                }
                bb += 1
              }
              if (!dup) {
                val j = SortedIntersectCount.jaccard(aw, bw)
                if (j >= 0.5) out += ((aId, bId, j))
              }
              jj += 1
            }
            i += 1
          }
          out.iterator
        }
      pairs.toDF("a_id", "b_id", "j")
        .select(col("a_id"), col("b_id"), round(col("j"), 6).as("jaccard"))
        .orderBy("a_id", "b_id")
    },

    /** End-to-end curation pipeline in ONE declarative plan — exact
      * dedup (md5, keep-first) → quality gate (≥200 chars) → 50-token
      * chunk accounting → 2048-token pack estimate, rolled up per
      * source. The point is composition: every stage is one of the
      * engine's verified primitives and Catalyst fuses the chain: the
      * dedup hash shuffle, the keep-list join (auto-broadcast here; a
      * co-partitioned doc_id shuffle at 100 TB), and the final rollup
      * — the "run your whole pipeline as one query" contract.
      */
    QueryDef(
      "q219_e2e_pipeline",
      """WITH dedup AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |kept AS (
        |  SELECT d.doc_id, d.source,
        |    list_filter(string_split(d.text,' '), w -> w != '') AS ws
        |  FROM documents d JOIN dedup u ON d.doc_id = u.doc_id
        |  WHERE d.n_chars >= 200),
        |chunks AS (
        |  SELECT source, len(ws) AS tok,
        |    CAST(ceil(len(ws) / 50.0) AS BIGINT) AS n_chunks
        |  FROM kept WHERE len(ws) > 0)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
        |  CAST(sum(tok) AS BIGINT) AS total_tokens,
        |  CAST(ceil(sum(tok) / 2048.0) AS BIGINT) AS packed_batches
        |FROM chunks GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val dedup = docs.groupBy(md5(col("text")))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
      docs.join(dedup, "doc_id")
        .where(col("n_chars") >= 200)
        .select(col("source"), wordsCol(col("text")).as("ws"))
        .where(size(col("ws")) > 0)
        .select(col("source"), size(col("ws")).as("tok"),
          ceil(size(col("ws")) / 50.0).as("n_chunks"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chunks")).as("n_chunks"),
          sum(col("tok")).as("total_tokens"),
          ceil(sum(col("tok")) / 2048.0).as("packed_batches"))
        .orderBy("source")
    },

    /** Market-basket pair mining (co-occurrence itemsets): ONE shuffle
      * collects each order's sorted distinct part set, pairs expand
      * MAP-SIDE from the array (bounded by basket size: ≤7 lineitems ⇒
      * ≤21 pairs), and one grouped count ranks them — no self-join, no
      * distinct pass; the sorted array makes p1<p2 structural. Trades
      * some single-node CPU (collect_set is object-hash, the HOF
      * expansion is interpreted) for roughly half the shuffle volume
      * of the distinct+self-join form — at 100 TB the shuffle, not the
      * CPU, is the bottleneck. The co-occurrence primitive under
      * recommender candidates and FP-growth's first pass.
      */
    QueryDef(
      "q218_market_basket",
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
        |SELECT p1, p2, CAST(count(*) AS BIGINT) AS n_orders
        |FROM pairs GROUP BY p1, p2
        |HAVING count(*) >= 2
        |ORDER BY n_orders DESC, p1, p2 LIMIT 20""".stripMargin) { (s, d) =>
      // the basket materialization is the family-shared
      // GraphOps.coorderPairs entry (round 17 — this site was uncached,
      // paying its own basket explode + pair shuffle every run)
      GraphOps.coorderPairs(s, d)
        .select(col("u").as("p1"), col("v").as("p2"),
          col("nco").as("n_orders"))
        .orderBy(col("n_orders").desc, col("p1"), col("p2"))
        .limit(20)
    },

    /** T5-style span corruption: every doc's token stream splits into
      * 3-token spans; a span is masked iff the portable 60-bit
      * md5-derived hash of (doc_id, span_idx) ≡ 0 (mod 5) — the q163
      * salt-hash idiom, so the "random" mask is identical on both
      * engines and across reruns/backfills (the property a 100 TB
      * example-generation job actually needs; no RNG state anywhere).
      * Emits per-doc mask stats + the first masked target span.
      * Entirely map-side: HOFs over the token array, no shuffle before
      * the final 20-row ORDER BY.
      */
    QueryDef(
      "q213_span_corruption",
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split(text,' '), w -> w != '') AS ws
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, ws, len(ws) // 3 AS nspan FROM tok WHERE len(ws) >= 3),
        |masked AS (
        |  SELECT doc_id, ws, nspan,
        |    list_filter(range(nspan),
        |      i -> ('0x' || substr(md5(doc_id || ':' || i), 1, 15))::BIGINT % 5 = 0)
        |      AS mi
        |  FROM base)
        |SELECT doc_id, CAST(nspan AS BIGINT) AS n_spans,
        |  CAST(len(mi) AS BIGINT) AS n_masked,
        |  round(len(mi) / CAST(nspan AS DOUBLE), 6) AS masked_ratio,
        |  CASE WHEN len(mi) > 0
        |       THEN array_to_string(ws[mi[1]*3+1 : mi[1]*3+3], ' ')
        |       ELSE '' END AS first_target
        |FROM masked WHERE doc_id < 20 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val spanHash = (i: org.apache.spark.sql.Column) =>
        conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
          i.cast("string"))), 1, 15), 16, 10).cast("long")
      Tables.documents(s, d)
        .select(col("doc_id"), wordsCol(col("text")).as("ws"))
        .where(size(col("ws")) >= 3)
        .withColumn("nspan", floor(size(col("ws")) / 3).cast("long"))
        .withColumn("mi", filter(sequence(lit(0L), col("nspan") - 1),
          i => pmod(spanHash(i), lit(5)) === 0))
        .select(col("doc_id"), col("nspan").as("n_spans"),
          size(col("mi")).cast("long").as("n_masked"),
          round(size(col("mi")) / col("nspan").cast("double"), 6)
            .as("masked_ratio"),
          when(size(col("mi")) > 0,
            concat_ws(" ", slice(col("ws"),
              (element_at(col("mi"), 1) * 3 + 1).cast("int"), lit(3))))
            .otherwise("").as("first_target"))
        .where(col("doc_id") < 20)
        .orderBy("doc_id")
    },

    /** Small-file compaction planner (round 7) — the table-maintenance
      * pass that turns a write-amplified layout (here: a deliberately
      * over-split 16-file snapshot) into a bounded compaction plan:
      * files ordered by name, sequentially bin-packed until each output
      * group reaches the row budget (120). The plan is computed from
      * file-manifest metadata only — rows-per-file via `_metadata.
      * file_path` (one read-back scan whose aggregate is O(#files)),
      * never from data content — which is why the same shape works when
      * the manifest has millions of entries: the planning window runs
      * per partition-dir over O(files-in-dir) rows (q160's range-offset
      * form is the global fallback). The deterministic hash split keeps
      * rows-per-file, and therefore the plan, hash-verifiable.
      */
    QueryDef(
      "q234_compaction_plan",
      s"""WITH f AS (
        |  SELECT regexp_extract(filename, '([^/]+)$$', 1) AS fname, count(*) AS n_rows
        |  FROM read_parquet('${Scratch.root}/graft_compact/*.parquet', filename=true)
        |  GROUP BY 1),
        |pl AS (
        |  SELECT fname, n_rows,
        |    CAST(floor((sum(n_rows) OVER (ORDER BY fname) - n_rows) / 120.0) AS BIGINT) AS grp
        |  FROM f)
        |SELECT grp, CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(n_rows) AS BIGINT) AS rows_total
        |FROM pl GROUP BY 1 ORDER BY grp""".stripMargin) { (s, d) =>
      val base = s"${Scratch.root}/graft_compact"
      Tables.documents(s, d)
        .select("doc_id", "source", "n_chars")
        .repartition(16, col("doc_id"))
        .write.mode("overwrite").parquet(base)
      val f = s.read.parquet(base)
        .groupBy(regexp_extract(col("_metadata.file_path"), "([^/]+)$", 1)
          .as("fname"))
        .agg(count(lit(1)).as("n_rows"))
      val w = Window.orderBy(col("fname"))
      f.select(col("fname"), col("n_rows"),
          floor((sum(col("n_rows")).over(w) - col("n_rows")) / lit(120.0)).as("grp"))
        .groupBy("grp")
        .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("rows_total"))
        .orderBy("grp")
    },

    /** Skip-gram training pairs with deterministic negative sampling
      * (round 9): word2vec-style example generation — (center, context)
      * positives from a ±2 token window, built MAP-SIDE per document
      * (a per-token bounded sequence, the q218 basket idiom — never a
      * position self-join), and two negatives per surviving pair drawn
      * by salted hash over the frequency-ranked vocabulary (the q213
      * RNG-free convention: reproducible under reruns/backfills AND
      * hash-verifiable, which is what a 100 TB example-generation job
      * actually needs). Top-20 pairs by count with their negatives;
      * the vocab rank table is one broadcast join.
      */
    QueryDef(
      "q301_skipgram_pairs",
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w != '') AS ws
        |  FROM documents),
        |pr AS (
        |  SELECT p.c AS center, p.x AS context
        |  FROM tok, UNNEST(flatten(list_transform(ws, (w, ix) ->
        |    [{'c': w, 'x': ws[j]}
        |     FOR j IN range(greatest(1, ix - 2), least(len(ws), ix + 2) + 1)
        |     IF j != ix]))) AS u(p)),
        |cnt AS (
        |  SELECT center, context, count(*) AS n_pos
        |  FROM pr GROUP BY 1, 2),
        |wc AS (
        |  SELECT w, count(*) AS n
        |  FROM (SELECT unnest(ws) AS w FROM tok) u GROUP BY 1),
        |voc AS (SELECT w, row_number() OVER (ORDER BY n DESC, w) AS rnk FROM wc),
        |vs AS (SELECT CAST(max(rnk) AS BIGINT) AS v FROM voc),
        |keyed AS (
        |  SELECT center, context, n_pos,
        |    1 + ('0x' || substr(md5(center || ':' || context || ':1'), 1, 15))::BIGINT
        |      % vs.v AS r1,
        |    1 + ('0x' || substr(md5(center || ':' || context || ':2'), 1, 15))::BIGINT
        |      % vs.v AS r2
        |  FROM cnt CROSS JOIN vs)
        |SELECT k.center, k.context, CAST(k.n_pos AS BIGINT) AS n_pos,
        |  v1.w AS neg1, v2.w AS neg2
        |FROM keyed k
        |JOIN voc v1 ON v1.rnk = k.r1
        |JOIN voc v2 ON v2.rnk = k.r2
        |ORDER BY k.n_pos DESC, k.center, k.context LIMIT 20""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      // documentsParallel (round 17): the pair-generation and vocab
      // passes were split-starved to one task at the sf rungs — see
      // Tables scaladoc
      val tok = Tables.documentsParallel(s, d)
        .select(col("doc_id"), wordsCol(col("text")).as("ws"))
      // ±2-window pairs via SHIFTED ZIPS (round 10, sf10 fence): the old
      // nested transform/filter/sequence form evaluated its lambda
      // INTERPRETED once per token (78 s at sf10); slice-zips are
      // plain codegen expressions generating the identical (center,
      // context) multiset — for k ∈ {1,2}, zip(ws, ws<<k) yields every
      // |i−j| = k pair, with both directions. Round 17: the four zip
      // branches used to be a 4-way unionAll, which re-scanned and
      // re-tokenized `documents` once PER BRANCH; concatenating the
      // four zipped arrays inside one projection generates the same
      // pair multiset from a single scan + single generator.
      // arrays_zip over unnamed slice() args names its struct fields
      // positionally ("0", "1"), so the reversed direction just swaps
      // the argument order and every element reads center="0",
      // context="1".
      def zarr(k: Int, rev: Boolean) = {
        val l = slice(col("ws"), lit(1), greatest(size(col("ws")) - k, lit(0)))
        val r = slice(col("ws"), lit(k + 1), greatest(size(col("ws")) - k, lit(0)))
        if (rev) arrays_zip(r, l) else arrays_zip(l, r)
      }
      val pr = tok.select(explode(concat(
          zarr(1, rev = false), zarr(1, rev = true),
          zarr(2, rev = false), zarr(2, rev = true))).as("z"))
        .select(col("z").getField("0").as("center"),
          col("z").getField("1").as("context"))
      val cnt = pr.groupBy("center", "context").agg(count(lit(1)).as("n_pos"))
      // VOCAB-GRAIN frequency rank via the two-phase range-partition
      // form (round 10): vocabulary grows with the corpus, so the old
      // single-partition rank window is the fenced pattern; rnk is the
      // same integer under the total (n desc, w) order, and |V| comes
      // free from the offsets collect
      val (vocR, vTotal) = TwoPhase.globalRowNumber(s,
        tok.select(explode(col("ws")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("n")),
        s"q301_vocab_ranked|$d", Seq(col("n").desc, col("w")))
      val voc = vocR.select(col("w"), col("rn").cast("int").as("rnk"))
      val vsize = s.range(1).select(lit(vTotal).as("v"))
      def negRank(k: Int) =
        lit(1) + pmod(conv(substring(md5(concat(col("center"), lit(":"),
          col("context"), lit(s":$k"))), 1, 15), 16, 10).cast("long"), col("v"))
      val keyed = cnt.crossJoin(broadcast(vsize))
        .select(col("center"), col("context"), col("n_pos"),
          negRank(1).as("r1"), negRank(2).as("r2"))
      // rank→word lookups join UNHINTED (round-10 sweep): voc is
      // vocabulary-grain — Heaps-law growth with the corpus — so the
      // broadcast decision belongs to AQE's measured size, not a hint
      keyed
        .join(voc.select(col("rnk").as("rk1"), col("w").as("neg1")),
          col("rk1") === col("r1"))
        .join(voc.select(col("rnk").as("rk2"), col("w").as("neg2")),
          col("rk2") === col("r2"))
        .select(col("center"), col("context"), col("n_pos").cast("long").as("n_pos"),
          col("neg1"), col("neg2"))
        .orderBy(col("n_pos").desc, col("center"), col("context")).limit(20)
    },

    /** Tokenizer vocabulary-budget planner: the smallest vocabulary
      * covering 90/95/99% of corpus token mass — the number that sizes
      * a BPE/unigram tokenizer (q195's budget input) and the embedding
      * table above it. Frequency-ranked cumulative mass with a
      * (count desc, word) total order so the cut is deterministic;
      * the ranking runs on the VOCABULARY grain (a 3-row threshold
      * fan-out over it), never the token stream.
      */
    QueryDef(
      "q355_vocab_coverage",
      """WITH vc AS (
        |  SELECT w, count(*) AS c FROM (
        |    SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS w
        |    FROM documents) t GROUP BY 1),
        |rk AS (
        |  SELECT w, c,
        |    row_number() OVER (ORDER BY c DESC, w) AS rn,
        |    sum(c) OVER (ORDER BY c DESC, w) AS cum,
        |    sum(c) OVER () AS tot,
        |    count(*) OVER () AS nv
        |  FROM vc),
        |th AS (
        |  SELECT t.tau, r.rn, r.cum, r.tot, r.nv,
        |    row_number() OVER (PARTITION BY t.tau ORDER BY r.rn) AS pick
        |  FROM rk r CROSS JOIN (VALUES (0.90), (0.95), (0.99)) t(tau)
        |  WHERE CAST(r.cum AS DOUBLE) / r.tot >= t.tau)
        |SELECT tau, CAST(rn AS BIGINT) AS vocab_size, CAST(nv AS BIGINT) AS total_vocab,
        |  round(CAST(cum AS DOUBLE) / tot, 6) AS mass_covered,
        |  round(CAST(rn AS DOUBLE) / nv, 6) AS vocab_frac
        |FROM th WHERE pick = 1 ORDER BY tau""".stripMargin) { (s, d) =>
      import s.implicits._
      val vc = Tables.documents(s, d)
        .select(explode(wordsCol(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
      // VOCAB-GRAIN rank + running mass via the q139 two-phase form
      // (round 10): pid-local row_number and running sum in one cached
      // frame, driver-collected per-partition count/mass offsets, and
      // the totals come free from the same collect — no vocabulary-
      // sized table ever crosses one partition. Integer sums keep rn,
      // cum, tot, nv bit-identical to the oracle's plain windows.
      val wPid = org.apache.spark.sql.expressions.Window
        .partitionBy(col("pid")).orderBy(col("c").desc, col("w"))
      // vocab aggregate materialized BEFORE repartitionByRange — the
      // range sampler re-runs the subtree otherwise (round-10 fix)
      val vcC = graft.PlanCache.cached(s, s"q355_vocab_counts|$d")(vc)
      val local = graft.PlanCache.cached(s, s"q355_vocab_local|$d") {
        vcC.repartitionByRange(32, col("c").desc, col("w"))
          .withColumn("pid", spark_partition_id())
          .withColumn("rl", row_number().over(wPid))
          .withColumn("cl", sum(col("c")).over(
            wPid.rowsBetween(Long.MinValue, 0)))
      }
      val totals = local.groupBy("pid")
        .agg(count(lit(1)).as("cc"), sum(col("c")).as("sc"))
        .orderBy("pid").collect()
      val rk = local
        .withColumn("rn", (col("rl") +
          TwoPhase.offsets(totals.map(r => (r.getInt(0), r.getLong(1))))).cast("int"))
        .withColumn("cum", col("cl") +
          TwoPhase.offsets(totals.map(r => (r.getInt(0), r.getLong(2)))))
        .withColumn("tot", lit(totals.map(_.getLong(2)).sum))
        .withColumn("nv", lit(totals.map(_.getLong(1)).sum))
      val taus = Seq(0.90, 0.95, 0.99).toDF("tau")
      val th = rk.crossJoin(broadcast(taus))
        .where(col("cum").cast("double") / col("tot") >= col("tau"))
        .withColumn("pick", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("tau")).orderBy(col("rn"))))
        .where(col("pick") === 1)
      th.select(col("tau"), col("rn").cast("long").as("vocab_size"),
          col("nv").cast("long").as("total_vocab"),
          round(col("cum").cast("double") / col("tot"), 6).as("mass_covered"),
          round(col("rn").cast("double") / col("nv"), 6).as("vocab_frac"))
        .orderBy("tau")
    },

    /** LSH parameter planner — the (bands × rows) tuning readout every
      * MinHash deployment needs (Leskovec-Rajaraman-Ullman §3.4): for
      * each budget-equal config (16,1)/(8,2)/(4,4)/(2,8) over ONE
      * shared 16-signature table, the theoretical S-curve threshold
      * s* = (1/b)^(1/r) AND the measured candidate workload
      * Σ_buckets C(n,2) on THIS corpus — the number the theory can't
      * give you (it depends on the actual bucket occupancy and the
      * template clusters). Reading the two columns together is the
      * tuning decision: more rows/band ⇒ higher precision threshold
      * AND fewer candidate pairs. One signature aggregate, map-side
      * band fan-outs, (config, band, key) counts — pairs are COUNTED
      * from occupancy, never materialized.
      *
      * Signature family (round 15, VERDICT r14 #4): ONE md5 per token,
      * not 16 — the md5 is only the string→integer step; the 16
      * per-seed values derive from it by 2-universal mixing
      * `(aᵢ·hi mod p + bᵢ·lo mod p + cᵢ) mod p` over the base hash's
      * two 30-bit halves, p = 2³¹−1. Per-token signature cost drops
      * ~16× (the md5+substr+conv chain dominated the sf10 isolated
      * profile at 49.9 s), every intermediate stays under 2⁶¹ so both
      * engines' BIGINT arithmetic is exact and overflow-free, and the
      * per-seed orders are independent because the mod-p wrap scrambles
      * the linear form — the standard Carter-Wegman family. The oracle
      * embeds the same mix constants, so the hash contract holds.
      */
    QueryDef(
      "q353_lsh_planner", {
        val mins = (0 until 16).map(si =>
          s"min(((${LshMix.a(si)} * hi) % ${LshMix.P} + " +
            s"(${LshMix.b(si)} * lo) % ${LshMix.P} + " +
            s"${LshMix.c(si)}) % ${LshMix.P}) AS mh$si")
          .mkString(",\n        |    ")
        val configs = Seq((16, 1), (8, 2), (4, 4), (2, 8))
        def keyOf(band: Int, r: Int): String =
          (0 until r).map(j => s"CAST(mh${band * r + j} AS VARCHAR)")
            .mkString(" || '_' || ")
        val cfgCtes = configs.map { case (b, r) =>
          val bandsList = (0 until b).mkString(", ")
          val keysList = (0 until b).map(keyOf(_, r)).mkString(", ")
          s"""SELECT $b AS b, $r AS r, u.band, u.key FROM mh, LATERAL (
             |    SELECT unnest([$bandsList]) AS band, unnest([$keysList]) AS key) u"""
            .stripMargin
        }.mkString("\n  UNION ALL\n  ")
        s"""WITH tok AS (
           |  SELECT doc_id,
           |    unnest(list_distinct(list_filter(string_split(text,' '), w -> w != ''))) AS w
           |  FROM documents),
           |hb AS (
           |  SELECT doc_id,
           |    ('0x' || substr(md5(w), 1, 15))::BIGINT // ${LshMix.Two30} AS hi,
           |    ('0x' || substr(md5(w), 1, 15))::BIGINT % ${LshMix.Two30} AS lo
           |  FROM tok),
           |mh AS (
           |  SELECT doc_id,
           |    $mins
           |  FROM hb GROUP BY doc_id),
           |cb AS (
           |  $cfgCtes),
           |bc AS (SELECT b, r, band, key, count(*) AS n FROM cb GROUP BY 1, 2, 3, 4)
           |SELECT b, r, round(pow(1.0 / b, 1.0 / r), 4) AS s_star,
           |  CAST(count(*) AS BIGINT) AS n_buckets,
           |  CAST(sum(n * (n - 1) // 2) AS BIGINT) AS candidate_pairs
           |FROM bc GROUP BY b, r ORDER BY b DESC""".stripMargin
      }) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(array_distinct(wordsCol(col("text")))).as("w"))
      val base = conv(substring(md5(col("w")), 1, 15), 16, 10).cast("long")
      // shiftright, not `/`: Column./ is DOUBLE division and a 60-bit
      // value exceeds a double's 53-bit mantissa
      val hb = tok.select(col("doc_id"),
        shiftright(base, 30).as("hi"),
        (base % LshMix.Two30).as("lo"))
      def mix(si: Int) =
        ((lit(LshMix.a(si)) * col("hi")) % LshMix.P +
          (lit(LshMix.b(si)) * col("lo")) % LshMix.P +
          lit(LshMix.c(si))) % LshMix.P
      val mh = hb.groupBy("doc_id")
        .agg(min(mix(0)).as("mh0"),
          (1 until 16).map(si => min(mix(si)).as(s"mh$si")): _*)
      val configs = Seq((16, 1), (8, 2), (4, 4), (2, 8))
      val cb = configs.map { case (b, r) =>
        val bandStructs = (0 until b).map { band =>
          val key = (0 until r).map(j => col(s"mh${band * r + j}").cast("string"))
            .reduce((a, x) => concat(a, lit("_"), x))
          struct(lit(b).as("b"), lit(r).as("r"), lit(band).as("band"), key.as("key"))
        }
        mh.select(explode(array(bandStructs: _*)).as("bk"))
          .select(col("bk.b").as("b"), col("bk.r").as("r"),
            col("bk.band").as("band"), col("bk.key").as("key"))
      }.reduce(_ unionByName _)
      cb.groupBy("b", "r", "band", "key")
        .agg(count(lit(1)).as("n"))
        .groupBy("b", "r")
        .agg(count(lit(1)).cast("long").as("n_buckets"),
          sum(expr("(n * (n - 1)) div 2")).cast("long").as("candidate_pairs"))
        .select(col("b"), col("r"),
          round(pow(lit(1.0) / col("b"), lit(1.0) / col("r")), 4).as("s_star"),
          col("n_buckets"), col("candidate_pairs"))
        .orderBy(col("b").desc)
    }
  )
}
