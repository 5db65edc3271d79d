package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Text.wordsCol
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Training-data pipeline round 3 additions: document chunking with
  * overlap, token-budget sequence packing, edit-distance near-dup, and
  * mergeable HLL sketches. All operate on the shared `documents`/`part`
  * tables and stay in whole-stage codegen.
  */
object PipelineMore {
  import CausalOps.r6

  val defs: Seq[QueryDef] = Seq(

    /** Overlapping chunking (context-window prep): split each document
      * into 50-token chunks at stride 30 (20-token overlap). The chunk
      * grid is a generated `sequence` exploded per document — no UDF,
      * no shuffle before the final sort; at 100 TB this is a map-only
      * stage.
      */
    QueryDef(
      "q100_chunk_stride",
      """WITH ws AS (
        |  SELECT doc_id, list_filter(string_split(text,' '), w -> w != '') AS w
        |  FROM documents WHERE doc_id % 7 = 0),
        |st AS (
        |  SELECT doc_id, w, unnest(range(1, len(w)+1, 30)) AS s FROM ws)
        |SELECT doc_id, CAST((s-1)/30 AS BIGINT) AS chunk_idx,
        |  CAST(len(w[s:s+49]) AS BIGINT) AS n_tok,
        |  w[s] AS first_tok, w[s:s+49][-1] AS last_tok
        |FROM st ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .where(col("doc_id") % 7 === 0)
        .select(col("doc_id"), wordsCol(col("text")).as("w"))
        .where(size(col("w")) > 0)
        .select(col("doc_id"), col("w"),
          explode(sequence(lit(1), size(col("w")), lit(30))).as("st"))
        .select(col("doc_id"),
          ((col("st") - 1) / 30).cast("long").as("chunk_idx"),
          slice(col("w"), col("st"), lit(50)).as("chunk"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk")).cast("long").as("n_tok"),
          element_at(col("chunk"), 1).as("first_tok"),
          element_at(col("chunk"), -1).as("last_tok"))
        .orderBy("doc_id", "chunk_idx")
    },

    /** Token-budget sequence packing: documents are laid into 2048-token
      * bins per source in doc_id order, bin = floor(preceding-cumsum /
      * budget) — the prefix-sum packing used to batch variable-length
      * sequences for training. One window, one aggregation; at 100 TB
      * the partition key (source) is the pack-group boundary.
      */
    QueryDef(
      "q101_pack_budget",
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split(text,' '), w -> w != '')) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n,
        |    sum(n) OVER (PARTITION BY source ORDER BY doc_id
        |                 ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM tok)
        |SELECT source, CAST(floor((cum - n)/2048) AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens
        |FROM c GROUP BY source, bin ORDER BY source, bin""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), size(wordsCol(col("text"))).as("n"))
        .withColumn("cum", sum(col("n")).over(w))
        .groupBy(col("source"),
          floor((col("cum") - col("n")) / 2048).cast("long").as("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).cast("long").as("n_tokens"))
        .orderBy("source", "bin")
    },

    /** Edit-distance near-dup (fuzzy dedup for short strings):
      * exact-dedup FIRST — collapse to distinct (brand, name) with
      * multiplicities — then run Levenshtein <= 2 over the distinct
      * representatives only, and weight pair counts back up by
      * cnt_a*cnt_b. The representative join is what makes the quadratic
      * survive 100 TB: row-level pairing is O(rows^2) per block, while
      * the distinct-name space is bounded by the vocabulary (64 names
      * here; measured 18.6s -> sub-second at sf0.1). The length
      * prefilter (|len(a)-len(b)| <= 2 lower-bounds the distance)
      * prunes before the O(len^2) distance runs.
      */
    QueryDef(
      "q105_edit_distance_dedup",
      """WITH nm AS (
        |  SELECT p_brand, p_name, count(*) AS cnt
        |  FROM part GROUP BY p_brand, p_name),
        |pairs AS (
        |  SELECT a.p_brand, levenshtein(a.p_name, b.p_name) AS dist,
        |         a.cnt * b.cnt AS w
        |  FROM nm a JOIN nm b
        |    ON a.p_brand = b.p_brand AND a.p_name < b.p_name
        |    AND abs(length(a.p_name) - length(b.p_name)) <= 2
        |  WHERE levenshtein(a.p_name, b.p_name) <= 2)
        |SELECT p_brand, count(*) AS n_name_pairs,
        |  CAST(min(dist) AS BIGINT) AS min_dist,
        |  CAST(sum(w) AS BIGINT) AS n_part_pairs
        |FROM pairs GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, d) =>
      val nm = Tables.part(s, d)
        .groupBy("p_brand", "p_name")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("n_len", length(col("p_name")))
      val a = nm.select(col("p_brand"), col("p_name").as("a_name"),
        col("cnt").as("a_cnt"), col("n_len").as("a_len"))
      val b = nm.select(col("p_brand").as("b_brand"), col("p_name").as("b_name"),
        col("cnt").as("b_cnt"), col("n_len").as("b_len"))
      // nm is part-NAME grain (grows with the part dimension) — the
      // pair join runs unhinted (round-10 sweep); at 100 TB the shape is
      // q62's salted (brand, salt) shuffle join, AQE broadcasts only
      // while nm measures small
      a.join(b, col("p_brand") === col("b_brand")
          && col("a_name") < col("b_name")
          && abs(col("a_len") - col("b_len")) <= 2)
        .withColumn("dist", levenshtein(col("a_name"), col("b_name")))
        .where(col("dist") <= 2)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_name_pairs"),
          min(col("dist")).cast("long").as("min_dist"),
          sum(col("a_cnt") * col("b_cnt")).cast("long").as("n_part_pairs"))
        .orderBy("p_brand")
    },

    /** Generator edge semantics: explode_outer preserves rows whose
      * array is empty (emits one NULL element) — the LEFT JOIN of
      * generators. The >=7-char threshold splits the corpus (12 of the
      * 46 selected sf0.01 docs have NO such word, 34 have some), so
      * BOTH the outer-NULL path and the element path are genuinely
      * exercised; the oracle emulates the outer row with a CASE to a
      * [NULL] singleton (DuckDB's unnest drops empty lists).
      */
    QueryDef(
      "q110_explode_outer",
      """WITH d AS (
        |  SELECT doc_id, list_filter(string_split(text,' '), w -> len(w) >= 7) AS l
        |  FROM documents WHERE doc_id % 11 = 0)
        |SELECT doc_id,
        |  coalesce(unnest(CASE WHEN len(l) = 0 THEN [NULL] ELSE l END), '__none__') AS w
        |FROM d ORDER BY doc_id, w""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .where(col("doc_id") % 11 === 0)
        .select(col("doc_id"),
          explode_outer(filter(split(col("text"), " "), w => length(w) >= 7)).as("e"))
        .select(col("doc_id"), coalesce(col("e"), lit("__none__")).as("w"))
        .orderBy("doc_id", "w")
    },

    /** Per-group feature scaling (the feature-pipeline normalize step):
      * z-score and min-max over unbounded group windows — one shuffle,
      * no collect; at 100 TB the group stats come from the same window
      * exchange the fill/rank operators already use.
      */
    QueryDef(
      "q113_feature_scaling",
      """SELECT event_id, event_type,
        |  round((value - avg(value) OVER w) / stddev_samp(value) OVER w, 6) AS zscore,
        |  round((value - min(value) OVER w) /
        |        nullif(max(value) OVER w - min(value) OVER w, 0), 6) AS minmax
        |FROM events WINDOW w AS (PARTITION BY event_type)
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("event_type"))
      Tables.events(s, d)
        .select(col("event_id"), col("event_type"),
          r6((col("value") - avg(col("value")).over(w)) / stddev_samp(col("value")).over(w))
            .as("zscore"),
          r6((col("value") - min(col("value")).over(w)) /
            nullif(max(col("value")).over(w) - min(col("value")).over(w), lit(0)))
            .as("minmax"))
        .orderBy("event_id")
    },

    /** TF-IDF (the classic text-weighting op): term frequency per
      * (doc, word) × inverse document frequency over the corpus subset,
      * as three aggregations + a broadcast-sized dictionary join — no
      * per-document vocabulary collect.
      */
    QueryDef(
      "q114_tfidf",
      """WITH w AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> x != '')) AS word
        |  FROM documents WHERE doc_id % 13 = 0),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word),
        |idf AS (SELECT word, count(DISTINCT doc_id) AS df FROM w GROUP BY word),
        |n AS (SELECT count(DISTINCT doc_id) AS n FROM w)
        |SELECT doc_id, word, round(tf * ln(CAST(n.n AS DOUBLE) / idf.df), 6) AS tfidf
        |FROM tf JOIN idf USING (word) CROSS JOIN n
        |ORDER BY doc_id, word""".stripMargin) { (s, d) =>
      val words = Tables.documents(s, d)
        .where(col("doc_id") % 13 === 0)
        .select(col("doc_id"), explode(wordsCol(col("text"))).as("word"))
      val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val idf = words.groupBy("word").agg(countDistinct(col("doc_id")).as("df"))
      val n = words.agg(countDistinct(col("doc_id")).as("n"))
      // idf is VOCABULARY-grain (Heaps-law growth with the corpus) —
      // no forced broadcast (round-10 sweep); AQE sizes it at runtime
      tf.join(idf, "word")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("word"),
          r6(col("tf") * log(col("n").cast("double") / col("df"))).as("tfidf"))
        .orderBy("doc_id", "word")
    },

    /** Composed dedup policy: cluster by token-set fingerprint (q61's
      * key) but keep the HIGHEST-quality member per cluster (word/char
      * density, q67's style) instead of min doc_id — the actual
      * keep-best dedup a training-data pipeline runs. One window over
      * the fingerprint clusters; ties broken by doc_id.
      */
    QueryDef(
      "q122_dedup_keep_best",
      """WITH s AS (
        |  SELECT doc_id, source,
        |    md5(array_to_string(list_sort(list_distinct(
        |      list_filter(string_split(text,' '), w -> w != ''))), ' ')) AS setfp,
        |    len(list_filter(string_split(text,' '), w -> w != '')) AS n_words,
        |    greatest(len(text), 1) AS n_chars
        |  FROM documents),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY setfp
        |    ORDER BY n_words * 1.0 / n_chars DESC, doc_id) AS rn
        |  FROM s)
        |SELECT source, count(*) AS n_kept, CAST(sum(n_words) AS BIGINT) AS tokens_kept
        |FROM r WHERE rn = 1 GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val words = wordsCol(col("text"))
      val w = Window.partitionBy(col("setfp"))
        .orderBy((col("n_words") * 1.0 / col("n_chars")).desc, col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          md5(array_join(array_sort(array_distinct(words)), " ")).as("setfp"),
          size(words).as("n_words"),
          greatest(length(col("text")), lit(1)).as("n_chars"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_words")).cast("long").as("tokens_kept"))
        .orderBy("source")
    },

    /** Mergeable HLL sketches (DataSketches, native in Spark): per-source
      * distinct-word sketches, re-aggregated with hll_union_agg into a
      * corpus-wide estimate — the two-level merge is exactly how a
      * 1000-executor cluster combines per-partition sketches without a
      * distinct shuffle. Estimates are sketch-implementation-defined,
      * so the driver does the rows-only check; HllSketchSpec asserts the
      * estimates against exact counts.
      */
    QueryDef.noOracle("q106_hll_sketch_union") { (s, d) =>
      val words = Tables.documents(s, d)
        .select(col("source"), explode(wordsCol(col("text"))).as("w"))
      val perSrc = words.groupBy("source")
        .agg(expr("hll_sketch_agg(w, 12)").as("sk"),
          countDistinct(col("w")).as("exact_words"))
      val bySrc = perSrc.select(col("source"),
        expr("hll_sketch_estimate(sk)").as("approx_words"), col("exact_words"))
      val overall = perSrc
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk, true))").as("approx_words"))
        .crossJoin(words.agg(countDistinct(col("w")).as("exact_words")))
        .select(lit("__ALL__").as("source"), col("approx_words"), col("exact_words"))
      bySrc.unionByName(overall).orderBy("source")
    },

    /** Incremental dedup against a fingerprint LEDGER (round 9): the
      * production shape of exact dedup at 100 TB — the corpus is never
      * re-deduplicated; each incoming batch anti-joins the persisted
      * sha256 ledger, dedups within itself (keep-first by doc_id), and
      * only the survivors append. Ledger = docs with doc_id % 3 != 0
      * (the standing corpus), batch = doc_id % 3 = 0 (today's crawl).
      * One hash shuffle for the anti-join on the 32-byte key + one
      * batch-internal first-occurrence window; per-source admission
      * accounting is the audit a curation run logs.
      */
    QueryDef(
      "q295_dedup_ledger",
      """WITH ledger AS (
        |  SELECT DISTINCT sha256(text) AS fp FROM documents WHERE doc_id % 3 != 0),
        |batch AS (
        |  SELECT doc_id, source, sha256(text) AS fp
        |  FROM documents WHERE doc_id % 3 = 0),
        |flags AS (
        |  SELECT b.doc_id, b.source, b.fp,
        |    CASE WHEN EXISTS (SELECT 1 FROM ledger l WHERE l.fp = b.fp)
        |         THEN 1 ELSE 0 END AS in_ledger,
        |    row_number() OVER (PARTITION BY b.fp ORDER BY b.doc_id) AS rn
        |  FROM batch b)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_incoming,
        |  CAST(count_if(in_ledger = 1) AS BIGINT) AS n_ledger_hits,
        |  CAST(count_if(in_ledger = 0 AND rn > 1) AS BIGINT) AS n_batch_dupes,
        |  CAST(count_if(in_ledger = 0 AND rn = 1) AS BIGINT) AS n_admitted
        |FROM flags GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), sha2(col("text"), 256).as("fp"))
      val ledger = docs.where(col("doc_id") % 3 =!= 0).select(col("fp")).distinct()
      val batch = docs.where(col("doc_id") % 3 === 0)
      val flags = batch
        .join(ledger.select(col("fp").as("lfp"), lit(1).as("hit")),
          col("lfp") === col("fp"), "left")
        .withColumn("in_ledger", when(col("hit").isNotNull, 1).otherwise(0))
        .withColumn("rn",
          row_number().over(Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      flags.groupBy("source").agg(
        count(lit(1)).as("n_incoming"),
        count_if(col("in_ledger") === 1).as("n_ledger_hits"),
        count_if(col("in_ledger") === 0 && col("rn") > 1).as("n_batch_dupes"),
        count_if(col("in_ledger") === 0 && col("rn") === 1).as("n_admitted"))
        .orderBy("source")
    }
  )
}
