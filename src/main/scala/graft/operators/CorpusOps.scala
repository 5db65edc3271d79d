package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Text.wordsCol
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus curation operators (round 5): the quality/mixture layer of an
  * LLM training-data pipeline on top of the dedup/similarity ops in
  * [[LLMPipeline]] — repetition quality signals (the Gopher-rule
  * family), train/test decontamination by shingle overlap, Zipf token
  * statistics, deterministic quality-weighted sampling, domain mixture
  * weights, and URL parsing for web-crawl metadata.
  *
  * Scale design: everything is hash-shuffle-or-narrower. The
  * decontamination join is a hash semi-join on a 64-bit shingle hash
  * (the only key that needs to move), repetition/quality metrics are
  * per-doc map work + one aggregation, and the mixture/Zipf outputs
  * aggregate to O(|sources|)/O(|vocab|) rows before any window runs.
  * Sampling is a pure map-side filter on a portable content hash — no
  * RNG, no state, reproducible on any cluster layout (the same 60-bit
  * md5 contract as q132's CV folds).
  *
  * Reference anchor: the reference filters/splits its cohort
  * deterministically before training (`run.py:47-52` data_loader); these
  * ops are that stage generalized to corpus curation at 100 TB.
  */
object CorpusOps {
  import CausalOps.{dsum, r6}

  /** Portable 60-bit md5 hash of a long key — identical in DuckDB as
    * `('0x' || substr(md5(k::VARCHAR),1,15))::BIGINT` (q132's contract).
    */
  private def pHash(k: Column): Column =
    conv(substring(md5(k.cast("string")), 1, 15), 16, 10).cast("long")

  /** (doc_id, source, ws) token-array base used by several queries. */
  private def docWords(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), wordsCol(col("text")).as("ws"))

  val defs: Seq[QueryDef] = Seq(

    /** Gopher-style repetition signals per source: duplicate-word
      * fraction (1 − distinct/total) and top-bigram share per document,
      * plus the count of documents a repetition filter would drop
      * (dup_frac > 0.6 OR top bigram > 10% of all bigrams). The per-doc
      * metrics are map work + one (doc_id, bigram) count; only
      * O(|sources|) rows survive to the end.
      */
    QueryDef(
      "q137_repetition_metrics",
      """WITH words AS (
        |  SELECT doc_id, source, list_filter(string_split(text,' '), w -> w != '') AS ws
        |  FROM documents),
        |tok AS (
        |  SELECT doc_id, source, len(ws) AS n_tok, len(list_distinct(ws)) AS n_uniq FROM words),
        |big AS (
        |  SELECT doc_id, w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY ord) AS bg
        |  FROM (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws,1) AS ord FROM words)),
        |bgc AS (
        |  SELECT doc_id, max(cnt)::DOUBLE / sum(cnt) AS top_share
        |  FROM (SELECT doc_id, bg, count(*) AS cnt FROM big WHERE bg IS NOT NULL
        |        GROUP BY doc_id, bg)
        |  GROUP BY doc_id)
        |SELECT t.source, count(*) AS n_docs,
        |  round(avg(1 - t.n_uniq::DOUBLE / t.n_tok), 6) AS avg_dup_frac,
        |  round(avg(b.top_share), 6) AS avg_top_bigram,
        |  CAST(count_if(1 - t.n_uniq::DOUBLE / t.n_tok > 0.6 OR b.top_share > 0.1) AS BIGINT) AS n_flagged
        |FROM tok t JOIN bgc b ON t.doc_id = b.doc_id
        |GROUP BY t.source ORDER BY t.source""".stripMargin) { (s, d) =>
      val words = docWords(s, d)
      val tok = words.select(col("doc_id"), col("source"),
        size(col("ws")).as("n_tok"), size(array_distinct(col("ws"))).as("n_uniq"))
      // adjacent pairs stay inside codegen (q130's index-transform idiom)
      val topShare = words
        .where(size(col("ws")) >= 2)
        .select(col("doc_id"), explode(transform(sequence(lit(1), size(col("ws")) - 1),
          i => concat(element_at(col("ws"), i), lit(" "), element_at(col("ws"), i + 1))))
          .as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id")
        .agg((max(col("cnt")).cast("double") / sum(col("cnt"))).as("top_share"))
      val dupFrac = lit(1.0) - col("n_uniq").cast("double") / col("n_tok")
      tok.join(topShare, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          r6(avg(dupFrac)).as("avg_dup_frac"),
          r6(avg(col("top_share"))).as("avg_top_bigram"),
          count_if(dupFrac > 0.6 || col("top_share") > 0.1).as("n_flagged"))
        .orderBy("source")
    },

    /** Train/test decontamination (the eval-leakage scan every LLM
      * pipeline runs): deterministic hash split (80/20 on the q132
      * portable hash), 5-gram shingles, and a hash semi-join marking
      * test documents that share any shingle with the train split. At
      * 100 TB only 64-bit shingle hashes shuffle; the join is the plain
      * hash-partitioned semi-join that AQE sizes at runtime.
      */
    QueryDef(
      "q138_decontamination",
      """WITH words AS (
        |  SELECT doc_id, source, list_filter(string_split(text,' '), w -> w != '') AS ws,
        |    ('0x' || substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 10 AS bucket
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, source, bucket,
        |    w || ' ' || lead(w,1) OVER dw || ' ' || lead(w,2) OVER dw || ' ' ||
        |    lead(w,3) OVER dw || ' ' || lead(w,4) OVER dw AS shingle
        |  FROM (SELECT doc_id, source, bucket, unnest(ws) AS w,
        |          generate_subscripts(ws,1) AS ord FROM words)
        |  WINDOW dw AS (PARTITION BY doc_id ORDER BY ord)),
        |train AS (SELECT DISTINCT shingle FROM sh WHERE bucket < 8 AND shingle IS NOT NULL),
        |test AS (
        |  SELECT doc_id, source, bool_or(shingle IN (SELECT shingle FROM train)) AS contam
        |  FROM sh WHERE bucket >= 8 AND shingle IS NOT NULL
        |  GROUP BY doc_id, source)
        |SELECT source, count(*) AS n_test,
        |  CAST(count_if(contam) AS BIGINT) AS n_contaminated,
        |  round(count_if(contam)::DOUBLE / count(*), 6) AS contam_frac
        |FROM test GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val words = docWords(s, d)
        .withColumn("bucket", pHash(col("doc_id")) % 10)
        .where(size(col("ws")) >= 5)
      // 5-gram shingles, hashed to 64 bits so only fixed-width keys
      // shuffle (collision-free at corpus scale; q62's precedent)
      val sh = words.select(col("doc_id"), col("source"), col("bucket"),
        explode(transform(sequence(lit(1), size(col("ws")) - 4),
          i => array_join(slice(col("ws"), i, lit(5)), " "))).as("shingle"))
        .select(col("doc_id"), col("source"), col("bucket"),
          xxhash64(col("shingle")).as("shv"))
      val trainSh = sh.where(col("bucket") < 8).select(col("shv")).distinct()
      val perDoc = sh.where(col("bucket") >= 8)
        .join(trainSh.withColumn("hit", lit(1)), Seq("shv"), "left")
        .groupBy("doc_id", "source")
        .agg(max(coalesce(col("hit"), lit(0))).as("contam"))
      perDoc.groupBy("source")
        .agg(count(lit(1)).as("n_test"),
          count_if(col("contam") === 1).as("n_contaminated"),
          r6(count_if(col("contam") === 1).cast("double") / count(lit(1))).as("contam_frac"))
        .orderBy("source")
    },

    /** Zipf token statistics: global word frequencies with rank and
      * cumulative share — the vocabulary profile (coverage curves, OOV
      * budgeting) of a corpus study. The windows run over the
      * aggregated vocabulary (O(|vocab|) rows), never the token stream,
      * so the single-partition rank window is safe at any corpus size.
      */
    QueryDef(
      "q139_zipf_stats",
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split(text,' '), w -> w != '')) AS w FROM documents),
        |cnt AS (SELECT w, count(*) AS n FROM tok GROUP BY w)
        |SELECT w, n, CAST(row_number() OVER (ORDER BY n DESC, w) AS BIGINT) AS rnk,
        |  round(sum(n) OVER (ORDER BY n DESC, w ROWS UNBOUNDED PRECEDING)::DOUBLE /
        |        sum(n) OVER (), 6) AS cum_share
        |FROM cnt ORDER BY rnk""".stripMargin) { (s, d) =>
      val cnt = docWords(s, d)
        .select(explode(col("ws")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
      // VOCAB-GRAIN rank + running mass via the two-phase form (round
      // 10): vocabulary grows with the corpus (Heaps' law), so the old
      // single-partition (n desc, w) window is the pattern the global-
      // window audit fences. Phase 1 computes pid-local row_numbers AND
      // pid-local running sums in ONE cached frame; the driver adds the
      // exclusive per-partition count/mass offsets (O(partitions)
      // scalars). Integer sums → rnk, cum, and the rounded share are
      // bit-identical to the oracle's plain windows.
      val byFreq = Window.partitionBy(col("pid")).orderBy(col("n").desc, col("w"))
      // materialize the vocab aggregate BEFORE repartitionByRange: the
      // range sampler would otherwise re-run the token explode (round-10
      // sf10 fence finding, same fix as TwoPhase.globalRowNumber)
      val cntC = graft.PlanCache.cached(s, s"q139_vocab_counts|$d")(cnt)
      val local = graft.PlanCache.cached(s, s"q139_vocab_local|$d") {
        cntC.repartitionByRange(32, col("n").desc, col("w"))
          .withColumn("pid", spark_partition_id())
          .withColumn("rl", row_number().over(byFreq))
          .withColumn("cl", sum(col("n")).over(
            byFreq.rowsBetween(Window.unboundedPreceding, 0)))
      }
      val totals = local.groupBy("pid")
        .agg(count(lit(1)).as("c"), sum(col("n")).as("sn"))
        .orderBy("pid").collect()
      val tot = totals.map(_.getLong(2)).sum
      local.select(col("w"), col("n"),
          (col("rl") + TwoPhase.offsets(totals.map(r => (r.getInt(0), r.getLong(1)))))
            .cast("long").as("rnk"),
          r6((col("cl") + TwoPhase.offsets(totals.map(r => (r.getInt(0), r.getLong(2)))))
            .cast("double") / lit(tot)).as("cum_share"))
        .orderBy("rnk")
    },

    /** Deterministic quality-weighted sampling: accept a document with
      * probability equal to its lexical-diversity score by comparing the
      * portable content hash against the score — a pure map-side filter,
      * no RNG state, identical sample on any engine/partitioning (the
      * industrial replacement for rand() < q sampling, which no oracle
      * could check and no re-run could reproduce).
      */
    QueryDef(
      "q140_quality_sample",
      """WITH q AS (
        |  SELECT doc_id, source,
        |    len(list_distinct(list_filter(string_split(text,' '), w -> w != '')))::DOUBLE /
        |    len(list_filter(string_split(text,' '), w -> w != '')) AS qd,
        |    ('0x' || substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 1000000 AS h
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(count_if(h < qd * 1000000) AS BIGINT) AS n_sampled,
        |  round(avg(qd) FILTER (WHERE h < qd * 1000000), 6) AS avg_q_sampled
        |FROM q GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val sampled = col("h") < col("qd") * 1000000
      docWords(s, d)
        .select(col("source"),
          (size(array_distinct(col("ws"))).cast("double") / size(col("ws"))).as("qd"),
          (pHash(col("doc_id")) % 1000000).as("h"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count_if(sampled).as("n_sampled"),
          r6(avg(when(sampled, col("qd")))).as("avg_q_sampled"))
        .orderBy("source")
    },

    /** Domain mixture weights (the DoReMi-style sampling-rate table):
      * per-source token mass, its share of the corpus, and the epoch
      * multiplier that would equalize domains — the numbers a data
      * scheduler consumes. One aggregation to O(|sources|) rows; the
      * share windows run on that tiny frame.
      */
    QueryDef(
      "q141_domain_mixture",
      """WITH t AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(list_filter(string_split(text,' '), w -> w != ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source)
        |SELECT source, n_docs, n_tokens,
        |  round(n_tokens::DOUBLE / sum(n_tokens) OVER (), 6) AS token_share,
        |  round((1.0 / count(*) OVER ()) / (n_tokens::DOUBLE / sum(n_tokens) OVER ()), 6) AS epochs_uniform
        |FROM t ORDER BY source""".stripMargin) { (s, d) =>
      val t = docWords(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(size(col("ws"))).as("n_tokens"))
      val all = Window.partitionBy()
      val share = col("n_tokens").cast("double") / sum(col("n_tokens")).over(all)
      t.select(col("source"), col("n_docs"), col("n_tokens"),
          r6(share).as("token_share"),
          r6((lit(1.0) / count(lit(1)).over(all)) / share).as("epochs_uniform"))
        .orderBy("source")
    },

    /** URL parsing for web-crawl metadata (`parse_url`, codegen'd):
      * host and query-parameter extraction grouped by host — the
      * domain-level triage pass of a crawl pipeline. The URLs are
      * synthesized from document metadata (the corpus carries none), so
      * the oracle can state the same extraction with regexes.
      */
    QueryDef(
      "q142_url_parse",
      """WITH u AS (
        |  SELECT doc_id, lang,
        |    'https://' || source || '.example.com/d/' || doc_id || '?lang=' || lang AS url
        |  FROM documents)
        |SELECT regexp_extract(url, 'https://([^/]+)/', 1) AS host, count(*) AS n_docs,
        |  CAST(count_if(regexp_extract(url, 'lang=(\w+)', 1) = 'en') AS BIGINT) AS n_en
        |FROM u GROUP BY host ORDER BY host""".stripMargin) { (s, d) =>
      val url = concat(lit("https://"), col("source"), lit(".example.com/d/"),
        col("doc_id"), lit("?lang="), col("lang"))
      Tables.documents(s, d)
        .select(parse_url(url, lit("HOST")).as("host"),
          parse_url(url, lit("QUERY"), lit("lang")).as("l"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_docs"), count_if(col("l") === "en").as("n_en"))
        .orderBy("host")
    },

    /** Typed Dataset[T] pipeline (the type-safe API surface of SURVEY
      * §0/§1.3): case-class filter → groupByKey → a custom typed
      * Aggregator — one partial-aggregating pass despite the lambda
      * boundary. The final presentation rounding happens relationally
      * so the floating output matches the oracle digit-for-digit.
      * Deliberate tradeoff on display here: typed lambdas deserialize
      * per row and block predicate pushdown, which is why the REST of
      * the engine stays in Column-land — this query pins that the
      * typed escape hatch exists and agrees with SQL.
      */
    QueryDef(
      "q143_typed_pipeline",
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total,
        |  round(min(value), 2) AS lo, round(max(value), 2) AS hi
        |FROM events WHERE value > 50
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      import s.implicits._
      val stats = Tables.events(s, d)
        .select(col("event_type"), col("value")).as[(String, Double)]
        .filter(_._2 > 50.0)
        .groupByKey(_._1)
        .agg(TypedStats.toColumn.name("st"))
      stats.toDF("event_type", "st")
        .select(col("event_type"), col("st._1").as("n"),
          round(col("st._2"), 2).as("total"),
          round(col("st._3"), 2).as("lo"), round(col("st._4"), 2).as("hi"))
        .orderBy("event_type")
    },

    /** RAKE keyword extraction (round 9): candidate phrases are the
      * stopword-free token runs (length ≤ 6 — the noise/scale cap on
      * the synthetic corpus's long runs), each word scores
      * deg/freq (degree = Σ length of phrases it appears in, frequency
      * = its occurrence count — co-occurring words score up), and a
      * phrase scores the sum over its word occurrences. Top-20 by
      * rounded score. Plan: one posexplode, a running stopword-count
      * window keys the runs, two grouped aggregates build word stats,
      * and the phrase re-join is on the word key — no all-pairs
      * anything; the output cut is a bounded TakeOrdered.
      */
    QueryDef(
      "q296_rake_keywords",
      """WITH tok AS (
        |  SELECT doc_id, w, i,
        |    CASE WHEN w IN ('a', 'the', 'of', 'and', 'to', 'in', 'is', 'on', 'for')
        |         THEN 1 ELSE 0 END AS stop
        |  FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(list_filter(string_split(text, ' '), x -> x != ''),
        |                            (x, ix) -> {'w': x, 'i': ix}),
        |             recursive := true)
        |    FROM documents) t),
        |runs AS (
        |  SELECT doc_id, w, i, stop,
        |    sum(stop) OVER (PARTITION BY doc_id ORDER BY i) AS rid
        |  FROM tok),
        |ph AS (
        |  SELECT doc_id, rid, count(*) AS plen,
        |    string_agg(w, ' ' ORDER BY i) AS phrase
        |  FROM runs WHERE stop = 0
        |  GROUP BY 1, 2 HAVING count(*) <= 6),
        |occ AS (
        |  SELECT r.doc_id, r.rid, r.w, p.plen, p.phrase
        |  FROM runs r JOIN ph p ON p.doc_id = r.doc_id AND p.rid = r.rid
        |  WHERE r.stop = 0),
        |ws AS (
        |  SELECT w, count(*) AS freq,
        |    CAST(sum(plen) AS DOUBLE) / count(*) AS wordscore
        |  FROM occ GROUP BY 1),
        |psc AS (
        |  SELECT o.phrase,
        |    CAST(sum(CAST(ws.wordscore AS DECIMAL(38,12))) AS DOUBLE) AS score
        |  FROM occ o JOIN ws ON ws.w = o.w
        |  GROUP BY o.doc_id, o.rid, o.phrase),
        |agg AS (
        |  SELECT phrase, count(*) AS n_docs, max(score) AS score
        |  FROM psc GROUP BY 1)
        |SELECT phrase, CAST(n_docs AS BIGINT) AS n_occurrences,
        |  round(score, 6) AS score
        |FROM agg
        |ORDER BY round(score, 6) DESC, phrase LIMIT 20""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val stops = Seq("a", "the", "of", "and", "to", "in", "is", "on", "for")
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(wordsCol(col("text")))
          .as(Seq("p", "w")))
        .select(col("doc_id"), col("w"), (col("p") + 1).as("i"),
          when(col("w").isin(stops: _*), 1).otherwise(0).as("stop"))
      val runs = tok.withColumn("rid",
        sum(col("stop")).over(Window.partitionBy(col("doc_id")).orderBy(col("i"))))
      val ph = runs.where(col("stop") === 0)
        .groupBy("doc_id", "rid")
        .agg(count(lit(1)).as("plen"),
          array_join(transform(array_sort(collect_list(struct(col("i"), col("w")))),
            x => x.getField("w")), " ").as("phrase"))
        .where(col("plen") <= 6)
      val occ = runs.where(col("stop") === 0)
        .join(ph.select(col("doc_id").as("pd"), col("rid").as("pr"),
          col("plen"), col("phrase")),
          col("pd") === col("doc_id") && col("pr") === col("rid"))
        .select(col("doc_id"), col("rid"), col("w"), col("plen"), col("phrase"))
      val ws = occ.groupBy(col("w").as("ww"))
        .agg((sum(col("plen")).cast("double") / count(lit(1))).as("wordscore"))
      val psc = occ.join(ws, col("ww") === col("w"))
        .groupBy("doc_id", "rid", "phrase")
        .agg(sum(col("wordscore").cast("decimal(38,12)")).cast("double").as("score"))
      psc.groupBy("phrase")
        .agg(count(lit(1)).as("n_occurrences"), max(col("score")).as("score"))
        .select(col("phrase"), col("n_occurrences"), round(col("score"), 6).as("score"))
        .orderBy(round(col("score"), 6).desc, col("phrase")).limit(20)
    },

    /** Unigram surprisal scoring (round 9): a self-trained add-one-
      * smoothed unigram LM assigns each document its per-token cross-
      * entropy −(1/n)Σ ln p(w) — the cheapest perplexity-style quality
      * signal a curation pipeline runs before any neural scorer (high
      * surprisal = off-distribution text). The 20 most surprising docs
      * surface for review. Two token shuffles (vocab counts, per-doc
      * sums) + one broadcast of the O(1) totals row; ln() on exact
      * count ratios is engine-identical, per-doc sums decimal.
      */
    QueryDef(
      "q297_unigram_surprisal",
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS w
        |  FROM documents),
        |vc AS (SELECT w AS vw, count(*) AS c FROM tok GROUP BY 1),
        |tot AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_tok,
        |    CAST(count(DISTINCT w) AS DOUBLE) AS v
        |  FROM tok),
        |sc AS (
        |  SELECT t.doc_id, count(*) AS n,
        |    CAST(sum(CAST(-ln((vc.c + 1) / (tot.n_tok + tot.v)) AS DECIMAL(38,12)))
        |      AS DOUBLE) / count(*) AS xent
        |  FROM tok t JOIN vc ON vc.vw = t.w CROSS JOIN tot
        |  GROUP BY 1)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, round(xent, 6) AS xent
        |FROM sc ORDER BY round(xent, 6) DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(wordsCol(col("text"))).as("w"))
      val vc = tok.groupBy(col("w").as("vw")).agg(count(lit(1)).as("c"))
      val tot = tok.agg(count(lit(1)).cast("double").as("n_tok"),
        countDistinct(col("w")).cast("double").as("v"))
      val sc = tok.join(vc, col("vw") === col("w")).crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n"),
          (sum((-log((col("c") + 1) / (col("n_tok") + col("v"))))
            .cast("decimal(38,12)")).cast("double") / count(lit(1))).as("xent"))
      sc.select(col("doc_id"), col("n").as("n_tokens"), round(col("xent"), 6).as("xent"))
        .orderBy(round(col("xent"), 6).desc, col("doc_id")).limit(20)
    },

    /** Heaps'-law vocabulary-growth curve over the 3-gram SHINGLE
      * vocabulary (the dedup family's unit — the corpus's word
      * vocabulary saturates in the first docs, so words make the fit
      * degenerate; shingles keep growing like real corpora do):
      * V(n) ≈ K·nᵝ measured at 10 doc-count checkpoints in doc_id
      * order, with the exponent and scale from the closed-form log-log
      * OLS. The capacity-planning readout every dedup/index component
      * sizes against — "how fast does the fingerprint ledger (q295) or
      * inverted index (q175) grow as the corpus doubles". Scale: one
      * shingle explosion (map-side) → min-first-doc per shingle (one
      * vocab-grain shuffle) → each checkpoint counts via a 10-row
      * broadcast cross — doc-stat and vocab-grain tables only, never
      * quadratic.
      */
    QueryDef(
      "q313_heaps_shingle",
      """WITH dr AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS r,
        |    greatest(len(list_filter(string_split(text, ' '), w -> w != '')) - 2, 0) AS nsh
        |  FROM documents),
        |dd AS (SELECT max(r) AS nd FROM dr),
        |sh AS (
        |  SELECT dr.r, unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
        |                       FOR i IN range(1, len(ws) - 1)]) AS sg
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), w -> w != '') AS ws
        |        FROM documents) z
        |  JOIN dr ON dr.doc_id = z.doc_id),
        |tok AS (SELECT sg, min(r) AS f FROM sh GROUP BY 1),
        |chk AS (
        |  SELECT j, CAST(ceil(nd * j / 10.0) AS BIGINT) AS n_docs
        |  FROM dd, (SELECT unnest(range(1, 11)) AS j) s),
        |nt AS (
        |  SELECT c.j, c.n_docs, CAST(sum(d.nsh) AS BIGINT) AS n_shingles
        |  FROM chk c JOIN dr d ON d.r <= c.n_docs GROUP BY 1, 2),
        |vb AS (
        |  SELECT c.j, CAST(count(*) AS BIGINT) AS vocab
        |  FROM chk c JOIN tok t ON t.f <= c.n_docs GROUP BY 1),
        |vt AS (
        |  SELECT nt.j, nt.n_docs, nt.n_shingles, vb.vocab
        |  FROM nt JOIN vb ON vb.j = nt.j),
        |fit AS (
        |  SELECT count(*) AS m,
        |    CAST(sum(CAST(ln(CAST(n_shingles AS DOUBLE)) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(ln(CAST(vocab AS DOUBLE)) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(ln(CAST(n_shingles AS DOUBLE)) * ln(CAST(vocab AS DOUBLE)) AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(ln(CAST(n_shingles AS DOUBLE)) * ln(CAST(n_shingles AS DOUBLE)) AS DECIMAL(38,12))) AS DOUBLE) AS sxx
        |  FROM vt)
        |SELECT v.j AS checkpoint, v.n_docs, v.n_shingles, v.vocab,
        |  round((f.m * f.sxy - f.sx * f.sy) / (f.m * f.sxx - f.sx * f.sx), 6) AS beta,
        |  round(exp((f.sy - (f.m * f.sxy - f.sx * f.sy) / (f.m * f.sxx - f.sx * f.sx) * f.sx) / f.m), 6) AS k
        |FROM vt v, fit f ORDER BY v.j""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          expr("filter(split(text, ' '), w -> w != '')").as("ws"))
      // doc-grain global row_number → the two-phase range-partition form
      // (round 10): r is the same integer under the total doc_id order,
      // and the corpus never funnels through one partition; nd comes
      // free from the offsets collect
      val (drR, ndTotal) = TwoPhase.globalRowNumber(s,
        docs.select(col("doc_id"),
          greatest(size(col("ws")) - 2, lit(0)).as("nsh"), col("ws")),
        s"q313_docrank|$d", Seq(col("doc_id")))
      val dr = drR.withColumnRenamed("rn", "r")
      val dd = s.range(1).select(lit(ndTotal).as("nd"))
      val sh = dr.select(col("r"),
        explode(expr(
          "transform(sequence(1, greatest(size(ws) - 2, 0)), " +
            "i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1), element_at(ws, i + 2)))"))
          .as("sg"))
      val tok = sh.groupBy("sg").agg(min(col("r")).as("f"))
      val chk = s.range(1, 11).select(col("id").cast("int").as("j"))
        .crossJoin(broadcast(dd))
        .select(col("j"), ceil(col("nd") * col("j") / 10.0).cast("long").as("n_docs"))
      val nt = dr.crossJoin(broadcast(chk)).where(col("r") <= col("n_docs"))
        .groupBy("j", "n_docs").agg(sum(col("nsh")).cast("long").as("n_shingles"))
      val vb = tok.crossJoin(broadcast(chk.select(col("j").as("vj"), col("n_docs").as("vn"))))
        .where(col("f") <= col("vn"))
        .groupBy("vj").agg(count(lit(1)).cast("long").as("vocab"))
      val vt = nt.join(vb, col("vj") === col("j"))
        .select(col("j"), col("n_docs"), col("n_shingles"), col("vocab"))
      val lx = log(col("n_shingles").cast("double"))
      val ly = log(col("vocab").cast("double"))
      val fit = vt.agg(count(lit(1)).as("m"),
        dsum(lx).as("sx"), dsum(ly).as("sy"),
        dsum(lx * ly).as("sxy"), dsum(lx * lx).as("sxx"))
      val beta = (col("m") * col("sxy") - col("sx") * col("sy")) /
        (col("m") * col("sxx") - col("sx") * col("sx"))
      vt.crossJoin(broadcast(fit))
        .select(col("j").as("checkpoint"), col("n_docs"), col("n_shingles"), col("vocab"),
          r6(beta).as("beta"),
          r6(exp((col("sy") - beta * col("sx")) / col("m"))).as("k"))
        .orderBy("checkpoint")
    },

    /** Eval-in-train CONTAINMENT scoring (round 13) — the actionable
      * upgrade of q138's boolean decontamination flag: for every
      * (eval doc, train doc) pair sharing at least one 5-gram,
      * containment C(e→t) = |shingles(e) ∩ shingles(t)| / |shingles(e)|
      * — the asymmetric measure that catches an eval document EMBEDDED
      * in a longer training document, which symmetric Jaccard (q62)
      * dilutes toward 0. Split is the q132/q138 portable hash
      * (train = bucket<8, eval = bucket≥8); top-20 by (round-6
      * containment, eval_doc, train_doc) names the culprit train docs
      * a decontamination pass must drop. Counts are integers and the
      * ratio is the same int/int division on both engines, so the cut
      * key is exact — no float boundary anywhere.
      *
      * Scale shape: per-doc DISTINCT shingles explode map-side, ONE
      * shingle-key shuffle joins eval→train postings (only SHARED
      * shingles produce pairs — the q319 duplicated-mass discipline),
      * and the pair aggregate is (eval, train)-keyed. Boilerplate-hot
      * shingles fatten the join at web scale; the production variant
      * caps train-side df (documented approximation, q271's
      * impact-ordering precedent) — kept EXACT here so the oracle
      * verifies the full definition.
      */
    QueryDef(
      "q368_eval_containment",
      """WITH w AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(doc_id::VARCHAR),1,15))::BIGINT % 10 AS bucket,
        |    list_filter(string_split(text,' '), x -> x != '') AS ws
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, bucket, sg FROM (
        |    SELECT doc_id, bucket,
        |      array_to_string(ws[i+1:i+5], ' ') AS sg
        |    FROM (SELECT doc_id, bucket, ws,
        |            unnest(range(greatest(len(ws) - 4, 0))) AS i
        |          FROM w))),
        |ev AS (SELECT doc_id, sg FROM sh WHERE bucket >= 8),
        |tr AS (SELECT doc_id, sg FROM sh WHERE bucket < 8),
        |na AS (SELECT doc_id, count(*) AS n_eval FROM ev GROUP BY 1),
        |sp AS (
        |  SELECT e.doc_id AS eval_doc, t.doc_id AS train_doc,
        |    count(*) AS n_shared
        |  FROM ev e JOIN tr t ON t.sg = e.sg GROUP BY 1, 2)
        |SELECT sp.eval_doc, sp.train_doc,
        |  CAST(sp.n_shared AS BIGINT) AS n_shared,
        |  CAST(na.n_eval AS BIGINT) AS n_eval_shingles,
        |  round(CAST(sp.n_shared AS DOUBLE) / na.n_eval, 6) AS containment
        |FROM sp JOIN na ON na.doc_id = sp.eval_doc
        |ORDER BY round(CAST(sp.n_shared AS DOUBLE) / na.n_eval, 6) DESC,
        |  sp.eval_doc, sp.train_doc
        |LIMIT 20""".stripMargin) { (s, d) =>
      val w = docWords(s, d)
        .select(col("doc_id"), (pHash(col("doc_id")) % 10).as("bucket"), col("ws"))
        .where(size(col("ws")) >= 5)
      // 64-bit shingle hashes: only fixed-width keys shuffle (q138's
      // precedent; counts of DISTINCT shingles are hash-invariant
      // absent collisions, which the sf0.01 oracle compare verifies).
      // Collision-freedom audit climbs the scale ladder with the corpus
      // (round-11 ADVICE, extended round 12): sf0.1 has 237,849 distinct
      // 5-gram strings, sf1 has 2,378,490, sf10 has 23,784,090 — each
      // with exactly as many distinct xxhash64 values (zero collisions
      // measured at all three rungs); the birthday bound at 64 bits
      // keeps the expected collision count < 1 until ~5e9 distinct
      // shingles
      val sh = w.select(col("doc_id"), col("bucket"),
          explode(transform(sequence(lit(1), size(col("ws")) - 4),
            i => xxhash64(concat_ws(" ", slice(col("ws"), i, lit(5)))))).as("shv"))
        .distinct()
      val ev = sh.where(col("bucket") >= 8).select(col("doc_id").as("e_doc"), col("shv"))
      val tr = sh.where(col("bucket") < 8).select(col("doc_id").as("t_doc"), col("shv"))
      val na = ev.groupBy(col("e_doc")).agg(count(lit(1)).as("n_eval"))
      val sp = ev.join(tr, "shv")
        .groupBy(col("e_doc").as("eval_doc"), col("t_doc").as("train_doc"))
        .agg(count(lit(1)).as("n_shared"))
      sp.join(na, col("e_doc") === col("eval_doc"))
        .select(col("eval_doc"), col("train_doc"),
          col("n_shared").cast("long").as("n_shared"),
          col("n_eval").cast("long").as("n_eval_shingles"),
          round(col("n_shared").cast("double") / col("n_eval"), 6).as("containment"))
        .orderBy(col("containment").desc, col("eval_doc"), col("train_doc"))
        .limit(20)
    }
  )

  /** Typed count/sum/min/max aggregator for q143 — merges like any
    * algebraic aggregate, so Spark runs it partial+final across the
    * shuffle exactly like a built-in.
    */
  private object TypedStats extends org.apache.spark.sql.expressions.Aggregator[
      (String, Double), (Long, Double, Double, Double), (Long, Double, Double, Double)] {
    import org.apache.spark.sql.{Encoder, Encoders}
    def zero = (0L, 0.0, Double.MaxValue, Double.MinValue)
    def reduce(b: (Long, Double, Double, Double), a: (String, Double)) =
      (b._1 + 1, b._2 + a._2, math.min(b._3, a._2), math.max(b._4, a._2))
    def merge(x: (Long, Double, Double, Double), y: (Long, Double, Double, Double)) =
      (x._1 + y._1, x._2 + y._2, math.min(x._3, y._3), math.max(x._4, y._4))
    def finish(r: (Long, Double, Double, Double)) = r
    def bufferEncoder: Encoder[(Long, Double, Double, Double)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble,
        Encoders.scalaDouble, Encoders.scalaDouble)
    def outputEncoder: Encoder[(Long, Double, Double, Double)] = bufferEncoder
  }
}
