package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-quality operators from the modern LLM-data-curation playbook
  * — the three standard signals a 100 TB curation pipeline computes
  * beyond the suite's existing dedup/quality/decontamination shelf:
  *
  *  - q317: bigram-LM perplexity filtering (the CCNet recipe, Wenzek
  *    et al., LREC 2020): train an add-one-smoothed bigram model ON
  *    the corpus itself, score each document's conditional
  *    cross-entropy, surface the worst outliers (boilerplate, word
  *    salad, wrong-language contamination). The conditional upgrade of
  *    q297's unigram surprisal.
  *  - q318: DSIR importance weights (Xie et al., NeurIPS 2023):
  *    hashed-unigram bucket distributions for a TARGET slice vs the
  *    RAW corpus; per-document average log-ratio = how target-like the
  *    doc is. The importance-resampling selection score — here with
  *    target = the `en` slice.
  *  - q319: duplicated-span coverage (the substring view of Lee et
  *    al., "Deduplicating Training Data Makes Language Models Better",
  *    ACL 2022, at 8-gram granularity): fraction of each document's
  *    tokens covered by the union of 8-gram spans that also appear in
  *    some other document — the metric that catches partial/templated
  *    overlap that whole-doc and chunk dedup (q60/q180) both miss.
  *
  * Scale shape, 100 TB discipline: every stage is token- or
  * shingle-grain map work plus ONE hash shuffle on the n-gram key; LM
  * and bucket distributions aggregate to tiny tables (bigram vocab
  * shuffles; the 512-bucket DSIR and 1-row vocab totals broadcast
  * back); span keys shuffle as fixed-width md5 digests, never raw
  * 8-gram strings; the interval-union sweep is a per-doc window over
  * only the SHARED positions. Nothing is quadratic in docs or tokens.
  *
  * Tokenization is the shared [[graft.functions.Text.wordsCol]]
  * contract (whitespace split, empties dropped) in both dialects.
  */
object QualityOps {

  private val duckWords = "list_filter(string_split(text, ' '), x -> x != '')"

  /** Each document token's md5-mod-512 hash bucket (`tok`, `bk`): the
    * DSIR feature space of q318 and q354. */
  private val dsirBucketsSql =
    s"""tok AS (
      |  SELECT doc_id, lang, unnest($duckWords) AS w FROM documents),
      |bk AS (
      |  SELECT doc_id, lang,
      |    ('0x' || substr(md5(w), 1, 15))::BIGINT % 512 AS b
      |  FROM tok)""".stripMargin

  /** [[dsirBucketsSql]]'s engine form: (doc_id, lang, b) per token. */
  private def dsirBuckets(s: SparkSession, d: String): DataFrame =
    // documentsParallel (round 17): the md5-per-token bucket pass runs
    // twice (distribution build + scoring join) and was split-starved
    // to ONE task (~1.4 s for q354) at the sf rungs — see Tables scaladoc
    Tables.documentsParallel(s, d)
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.Text.wordsCol(col("text"))).as("w"))
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(col("w")), 1, 15), 16, 10).cast("long") % 512).as("b"))

  /** Per-bucket DSIR log-ratio λ(b) = ln p_en(b) − ln p_raw(b), add-one
    * smoothed, from [[dsirBuckets]] rows: (lb, lam). */
  private def dsirLambda(bk: DataFrame): DataFrame = {
    // BOTH distributions and both totals from ONE corpus pass: a
    // single 512-group aggregate carries (raw count, target count)
    // per bucket; the totals fold from those 512 rows, not the
    // corpus. (The naive tc/rc/nt-as-separate-aggregates shape scans
    // the token stream three times — at 100 TB that is three corpus
    // reads for numbers one pass already contains.)
    val rc = bk.groupBy(col("b").as("rb"))
      .agg(count(lit(1)).as("cr"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"))
    // totals as a global window OVER THE 512-ROW AGGREGATE (not the
    // corpus): a one-partition window is exactly right at this size,
    // and it keeps the whole distribution build one scan lineage —
    // a separate rc.agg() would re-derive the subtree and re-read
    // the corpus a third time
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).rowsBetween(Long.MinValue, Long.MaxValue)
    rc
      .withColumn("n_t", sum(col("ct")).over(wAll).cast("double"))
      .withColumn("n_r", sum(col("cr")).over(wAll).cast("double"))
      .select(col("rb").as("lb"),
        (log((col("ct") + 1) / (col("n_t") + 512)) -
          log((col("cr") + 1) / (col("n_r") + 512))).as("lam"))
  }

  val defs: Seq[QueryDef] = Seq(

    /** CCNet-style bigram perplexity outliers: p(w2|w1) add-one
      * smoothed over the corpus vocabulary, per-doc mean −ln p over
      * bigram positions, 20 worst docs. Engine↔oracle: counts are
      * exact, the probability ratio is the same double division, and
      * the per-doc sum is DECIMAL(38,12) — order-free. */
    QueryDef(
      "q317_bigram_perplexity",
      s"""WITH wz AS (
        |  SELECT doc_id, $duckWords AS ws FROM documents),
        |wd AS (SELECT doc_id, ws FROM wz WHERE len(ws) >= 2),
        |bg AS (
        |  SELECT doc_id, u.w1 AS w1, u.w2 AS w2
        |  FROM (SELECT doc_id,
        |          unnest([{'w1': ws[i], 'w2': ws[i + 1]} FOR i IN range(1, len(ws))]) AS u
        |        FROM wd) z),
        |bc AS (SELECT w1 AS b1, w2 AS b2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        |cc AS (SELECT b1 AS h1, sum(c12) AS c1 FROM bc GROUP BY 1),
        |vv AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v
        |       FROM (SELECT unnest(ws) AS w FROM wz) t),
        |sc AS (
        |  SELECT g.doc_id, count(*) AS n,
        |    CAST(sum(CAST(-ln((bc.c12 + 1) / (cc.c1 + vv.v)) AS DECIMAL(38,12)))
        |      AS DOUBLE) / count(*) AS xent2
        |  FROM bg g JOIN bc ON bc.b1 = g.w1 AND bc.b2 = g.w2
        |            JOIN cc ON cc.h1 = g.w1
        |            CROSS JOIN vv
        |  GROUP BY 1)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_bigrams, round(xent2, 6) AS xent2
        |FROM sc ORDER BY round(xent2, 6) DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      // documentsParallel (round 17): wz feeds THREE per-token passes
      // (bigram build twice, vocab count once) that each ran as a
      // single split-starved task at the sf rungs — see Tables scaladoc
      val wz = Tables.documentsParallel(s, d)
        .select(col("doc_id"), graft.functions.Text.wordsCol(col("text")).as("ws"))
      val wd = wz.where(size(col("ws")) >= 2)
      val bg = wd.select(col("doc_id"),
          explode(expr(
            """transform(sequence(1, size(ws) - 1),
              |  i -> named_struct('w1', element_at(ws, i), 'w2', element_at(ws, i + 1)))""".stripMargin))
            .as("u"))
        .select(col("doc_id"), col("u.w1").as("w1"), col("u.w2").as("w2"))
      val bc = bg.groupBy(col("w1").as("b1"), col("w2").as("b2"))
        .agg(count(lit(1)).as("c12"))
      val cc = bc.groupBy(col("b1").as("h1")).agg(sum(col("c12")).as("c1"))
      val vv = wz.select(explode(col("ws")).as("w"))
        .agg(countDistinct(col("w")).cast("double").as("v"))
      bg.join(bc, col("b1") === col("w1") && col("b2") === col("w2"))
        .join(cc, col("h1") === col("w1"))
        .crossJoin(broadcast(vv))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n"),
          (sum((-log((col("c12") + 1) / (col("c1") + col("v"))))
            .cast("decimal(38,12)")).cast("double") / count(lit(1))).as("xent2"))
        .select(col("doc_id"), col("n").as("n_bigrams"), round(col("xent2"), 6).as("xent2"))
        .orderBy(round(col("xent2"), 6).desc, col("doc_id")).limit(20)
    },

    /** DSIR importance weights, target = the `en` slice: hashed-unigram
      * (md5 mod 512) bucket distributions with add-one smoothing; per
      * doc the mean log-ratio ln p_target(b) − ln p_raw(b) over its
      * tokens. High = target-like regardless of its own label — the
      * resampling score. Both distributions are O(512) rows broadcast
      * back into one token-grain pass. */
    QueryDef(
      "q318_dsir_weights",
      s"""WITH $dsirBucketsSql,
        |tc AS (SELECT b AS tb, count(*) AS ct FROM bk WHERE lang = 'en' GROUP BY 1),
        |rc AS (SELECT b AS rb, count(*) AS cr FROM bk GROUP BY 1),
        |nt AS (SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) AS n_t,
        |              CAST(count(*) AS DOUBLE) AS n_r FROM bk),
        |lam AS (
        |  SELECT rc.rb AS lb,
        |    ln((coalesce(tc.ct, 0) + 1) / (nt.n_t + 512)) - ln((rc.cr + 1) / (nt.n_r + 512)) AS lam
        |  FROM rc LEFT JOIN tc ON tc.tb = rc.rb CROSS JOIN nt),
        |sc AS (
        |  SELECT k.doc_id, k.lang, count(*) AS n,
        |    CAST(sum(CAST(l.lam AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS dsir
        |  FROM bk k JOIN lam l ON l.lb = k.b
        |  GROUP BY 1, 2)
        |SELECT doc_id, lang, CAST(n AS BIGINT) AS n_tokens, round(dsir, 6) AS dsir_logratio
        |FROM sc ORDER BY round(dsir, 6) DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      val bk = dsirBuckets(s, d)
      val lam = dsirLambda(bk)
      bk.join(broadcast(lam), col("lb") === col("b"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n"),
          (sum(col("lam").cast("decimal(38,12)")).cast("double") / count(lit(1))).as("dsir"))
        .select(col("doc_id"), col("lang"), col("n").as("n_tokens"),
          round(col("dsir"), 6).as("dsir_logratio"))
        .orderBy(round(col("dsir"), 6).desc, col("doc_id")).limit(20)
    },

    /** Duplicated 8-gram span coverage: per doc, the fraction of tokens
      * inside the interval union of 8-gram spans shared with ≥1 other
      * document. Span keys shuffle as md5 digests; the union sweep is
      * the islands running-max over shared positions only; all
      * arithmetic is integer-exact, so the oracle matches bit-for-bit
      * with no rounding concern beyond the final exact division. */
    QueryDef(
      "q319_span_dedup",
      s"""WITH wz AS (
        |  SELECT doc_id, $duckWords AS ws FROM documents),
        |dn AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens, ws FROM wz
        |       WHERE len(ws) >= 8),
        |sh AS (
        |  SELECT doc_id, u.i AS i, u.sg AS sg
        |  FROM (SELECT doc_id,
        |          unnest([{'i': i, 'sg': md5(array_to_string(ws[i:i+7], ' '))}
        |                  FOR i IN range(1, len(ws) - 6)]) AS u
        |        FROM dn) z),
        |shc AS (SELECT sg AS csg, count(DISTINCT doc_id) AS nd FROM sh GROUP BY 1),
        |sp AS (SELECT s.doc_id, s.i FROM sh s JOIN shc ON shc.csg = s.sg AND shc.nd >= 2),
        |cov AS (
        |  SELECT doc_id, i,
        |    max(i + 7) OVER (PARTITION BY doc_id ORDER BY i
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM sp),
        |inc AS (
        |  SELECT doc_id,
        |    greatest((i + 7) - greatest(coalesce(pm, i - 1), i - 1), 0) AS tok_add
        |  FROM cov),
        |cv AS (SELECT doc_id, CAST(sum(tok_add) AS BIGINT) AS covered FROM inc GROUP BY 1)
        |SELECT d.doc_id, d.n_tokens,
        |  coalesce(cv.covered, 0) AS covered,
        |  round(CAST(coalesce(cv.covered, 0) AS DOUBLE) / d.n_tokens, 6) AS dup_frac
        |FROM dn d LEFT JOIN cv ON cv.doc_id = d.doc_id
        |ORDER BY round(CAST(coalesce(cv.covered, 0) AS DOUBLE) / d.n_tokens, 6) DESC, d.doc_id
        |LIMIT 20""".stripMargin) { (s, d) =>
      // documentsParallel (round 17): the 8-gram md5 shingle pass was
      // split-starved to ONE ~1.9 s task at the sf rungs — see Tables
      // scaladoc
      val dn = Tables.documentsParallel(s, d)
        .select(col("doc_id"), graft.functions.Text.wordsCol(col("text")).as("ws"))
        .where(size(col("ws")) >= 8)
        .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"), col("ws"))
      val sh = dn.select(col("doc_id"),
          explode(expr(
            """transform(sequence(1, size(ws) - 7),
              |  i -> named_struct('i', i, 'sg', md5(concat_ws(' ', slice(ws, i, 8)))))""".stripMargin))
            .as("u"))
        .select(col("doc_id"), col("u.i").as("i"), col("u.sg").as("sg"))
      // shared-span filter as ONE window over the shingle key (round
      // 17): the aggregate-then-join-back form derived the md5 shingle
      // pass TWICE and shuffled it twice (once into the groupBy, once
      // into the join); a window over the same sg partitioning computes
      // the identical shared-span predicate in one pass and one shuffle.
      // Round 18 (VERDICT r17 #3): the r17 form carried
      // size(collect_set(doc_id)) — the FULL distinct-doc set per
      // shingle in window state, which a hot boilerplate shingle shared
      // by millions of docs would blow up. The filter only needs
      // "appears in ≥ 2 distinct docs", and for non-null ids that is
      // exactly min(doc_id) <> max(doc_id): two O(1) accumulators per
      // group, no set, same rows.
      val wSg = org.apache.spark.sql.expressions.Window.partitionBy(col("sg"))
      val sp = sh
        .withColumn("shared",
          min(col("doc_id")).over(wSg) =!= max(col("doc_id")).over(wSg))
        .where(col("shared"))
        .select(col("doc_id"), col("i"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
        .orderBy(col("i")).rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val cv = sp
        .withColumn("pm", max(col("i") + 7).over(w))
        .select(col("doc_id"),
          greatest((col("i") + 7) - greatest(coalesce(col("pm"), col("i") - 1), col("i") - 1),
            lit(0)).as("tok_add"))
        .groupBy(col("doc_id")).agg(sum(col("tok_add")).cast("long").as("covered"))
      dn.join(cv.withColumnRenamed("doc_id", "cdoc"), col("cdoc") === col("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("covered"), lit(0L)).as("covered"),
          round(coalesce(col("covered"), lit(0L)).cast("double") / col("n_tokens"), 6)
            .as("dup_frac"))
        .orderBy(col("dup_frac").desc, col("doc_id")).limit(20)
    },

    /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004), the
      * GRAPH sibling of q296's RAKE scores: weighted PageRank over the
      * corpus-wide adjacent-word co-occurrence graph, two unrolled
      * iterations from uniform scores (the q311 HITS discipline —
      * fixed iteration count, decimal-summed neighbor contributions,
      * zero driver loops), top-15 words. Each iteration is ONE
      * edge-grain join+aggregate on the word key; the edge table is
      * corpus-vocabulary-grain, never token-grain, after its single
      * build shuffle. */
    QueryDef(
      "q330_textrank",
      s"""WITH wz AS (
        |  SELECT doc_id, $duckWords AS ws FROM documents),
        |wd AS (SELECT doc_id, ws FROM wz WHERE len(ws) >= 2),
        |bg AS (
        |  SELECT u.w1 AS w1, u.w2 AS w2
        |  FROM (SELECT unnest([{'w1': ws[i], 'w2': ws[i + 1]} FOR i IN range(1, len(ws))]) AS u
        |        FROM wd) z
        |  WHERE u.w1 <> u.w2),
        |ed AS (
        |  SELECT w1, w2, count(*) AS c FROM (
        |    SELECT w1, w2 FROM bg UNION ALL SELECT w2, w1 FROM bg) t
        |  GROUP BY 1, 2),
        |dg AS (SELECT w1 AS dw, CAST(sum(c) AS DOUBLE) AS wdeg FROM ed GROUP BY 1),
        |s1 AS (
        |  SELECT e.w2 AS w,
        |    0.15 + 0.85 * CAST(sum(CAST(e.c / d.wdeg AS DECIMAL(38,12))) AS DOUBLE) AS s
        |  FROM ed e JOIN dg d ON d.dw = e.w1 GROUP BY 1),
        |s2 AS (
        |  SELECT e.w2 AS w,
        |    0.15 + 0.85 * CAST(sum(CAST(e.c / d.wdeg * p.s AS DECIMAL(38,12))) AS DOUBLE) AS s
        |  FROM ed e JOIN dg d ON d.dw = e.w1 JOIN s1 p ON p.w = e.w1
        |  GROUP BY 1)
        |SELECT s2.w AS word, CAST(d.wdeg AS BIGINT) AS wdeg, round(s2.s, 6) AS textrank
        |FROM s2 JOIN dg d ON d.dw = s2.w
        |ORDER BY round(s2.s, 6) DESC, s2.w LIMIT 15""".stripMargin) { (s, d) =>
      val wd = Tables.documents(s, d)
        .select(col("doc_id"), graft.functions.Text.wordsCol(col("text")).as("ws"))
        .where(size(col("ws")) >= 2)
      val bg = wd.select(
          explode(expr(
            """transform(sequence(1, size(ws) - 1),
              |  i -> named_struct('w1', element_at(ws, i), 'w2', element_at(ws, i + 1)))""".stripMargin))
            .as("u"))
        .select(col("u.w1").as("w1"), col("u.w2").as("w2"))
        .where(col("w1") =!= col("w2"))
      val ed = bg.unionByName(bg.select(col("w2").as("w1"), col("w1").as("w2")))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c"))
      val dg = ed.groupBy(col("w1").as("dw"))
        .agg(sum(col("c")).cast("double").as("wdeg"))
      val ej = ed.join(dg, col("dw") === col("w1"))
      val s1 = ej.groupBy(col("w2").as("w"))
        .agg((lit(0.15) + lit(0.85) *
          sum((col("c") / col("wdeg")).cast("decimal(38,12)")).cast("double")).as("s"))
      val s2 = ej.join(s1.withColumnRenamed("w", "pw"), col("pw") === col("w1"))
        .groupBy(col("w2").as("w"))
        .agg((lit(0.15) + lit(0.85) *
          sum((col("c") / col("wdeg") * col("s")).cast("decimal(38,12)")).cast("double")).as("s2v"))
      s2.join(dg, col("dw") === col("w"))
        .select(col("w").as("word"), col("wdeg").cast("long").as("wdeg"),
          round(col("s2v"), 6).as("textrank"))
        .orderBy(round(col("s2v"), 6).desc, col("word")).limit(15)
    },

    /** Selection-lift curve for the q318 DSIR selector — the
      * "does the score actually concentrate the target?" readout every
      * data-selection method must publish (the tabular ROC): docs
      * ranked by DSIR score into deciles, each decile's cumulative
      * recall of `en` docs vs the uniform baseline = lift. Decile 1
      * lift ≫ 1 means the cheap hashed-n-gram score really does
      * front-load target-like data. The rank is a round-6-score order
      * (doc_id tiebreak ⇒ engine-deterministic) and RUNS as the q174
      * two-phase range-partition form (round 10) — no doc-grain table
      * ever crosses one partition; the readout itself stays O(10) rows.
      */
    QueryDef(
      "q354_dsir_lift",
      s"""WITH $dsirBucketsSql,
        |rc AS (
        |  SELECT b AS rb, count(*) AS cr,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ct
        |  FROM bk GROUP BY 1),
        |nt AS (SELECT CAST(sum(ct) AS DOUBLE) AS n_t, CAST(sum(cr) AS DOUBLE) AS n_r FROM rc),
        |lam AS (
        |  SELECT rb AS lb,
        |    ln((ct + 1) / (nt.n_t + 512)) - ln((cr + 1) / (nt.n_r + 512)) AS lam
        |  FROM rc CROSS JOIN nt),
        |sc AS (
        |  SELECT k.doc_id, k.lang,
        |    CAST(sum(CAST(l.lam AS DECIMAL(38,12))) AS DOUBLE) / count(*) AS dsir
        |  FROM bk k JOIN lam l ON l.lb = k.b GROUP BY 1, 2),
        |rk AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (ORDER BY round(dsir, 6) DESC, doc_id) AS rn,
        |    count(*) OVER () AS nd,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) OVER () AS ne
        |  FROM sc),
        |dec AS (
        |  SELECT CAST((rn - 1) * 10 // nd + 1 AS INT) AS decile,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_en, nd, ne
        |  FROM rk),
        |agg AS (
        |  SELECT decile, count(*) AS n_docs, sum(is_en) AS n_en,
        |    max(nd) AS nd, max(ne) AS ne
        |  FROM dec GROUP BY 1),
        |cum AS (
        |  SELECT decile, n_docs, n_en, nd, ne,
        |    sum(n_en) OVER (ORDER BY decile) AS cum_en,
        |    sum(n_docs) OVER (ORDER BY decile) AS cum_docs
        |  FROM agg)
        |SELECT decile, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_en AS BIGINT) AS n_en,
        |  round(CAST(cum_en AS DOUBLE) / ne, 6) AS cum_recall,
        |  round((CAST(cum_en AS DOUBLE) / ne) / (CAST(cum_docs AS DOUBLE) / nd), 6) AS lift
        |FROM cum ORDER BY decile""".stripMargin) { (s, d) =>
      val bk = dsirBuckets(s, d)
      val lam = dsirLambda(bk)
      val sc = graft.PlanCache.cached(s, s"q354_scores|$d") {
        bk.join(broadcast(lam), col("lb") === col("b"))
          .groupBy(col("doc_id"), col("lang"))
          .agg((sum(col("lam").cast("decimal(38,12)")).cast("double") / count(lit(1))).as("dsir"))
      }
      // DOC-GRAIN global rank → the two-phase range-partition form for
      // real (round 10; the docstring used to only NAME the drop-in).
      // rn is the same integer under the identical (round-6 dsir desc,
      // doc_id) total order, so deciles and the readout are unchanged;
      // nd comes free from the offsets collect and ne is a broadcast
      // 1-row aggregate instead of a second doc-grain global window.
      val (rk, nd) = TwoPhase.globalRowNumber(s, sc, s"q354_ranked|$d",
        Seq(round(col("dsir"), 6).desc, col("doc_id")))
      val neDf = sc.agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ne"))
      val agg = rk
        .select(expr(s"cast((rn - 1) * 10 div ${nd}L + 1 as int)").as("decile"),
          when(col("lang") === "en", 1L).otherwise(0L).as("is_en"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"), sum(col("is_en")).as("n_en"))
        .withColumn("nd", lit(nd))
        .crossJoin(broadcast(neDf))
      val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("decile"))
      agg
        .withColumn("cum_en", sum(col("n_en")).over(wCum))
        .withColumn("cum_docs", sum(col("n_docs")).over(wCum))
        .select(col("decile"), col("n_docs").cast("long").as("n_docs"),
          col("n_en").cast("long").as("n_en"),
          round(col("cum_en").cast("double") / col("ne"), 6).as("cum_recall"),
          round((col("cum_en").cast("double") / col("ne")) /
            (col("cum_docs").cast("double") / col("nd")), 6).as("lift"))
        .orderBy("decile")
    },

    /** Blocked fuzzy entity matching on the NATIVE Jaro-Winkler codegen
      * expression ([[graft.functions.JaroWinklerSim]] — Spark has
      * levenshtein built in but not the record-linkage community's
      * standard comparator): distinct part names, blocked on their
      * 4-char prefix (the classic blocking key), candidate pairs only
      * WITHIN blocks, similarity ≥ 0.84 after the round-6 readout.
      * Scale: blocking turns O(N²) into Σ\|block\|² — the same
      * candidates-only discipline as the LSH dedup family, with the
      * comparator fused into whole-stage codegen (zero per-row
      * allocation, no UDF boundary). Oracle parity: DuckDB's
      * jaro_winkler_similarity runs textbook semantics (probed:
      * 0.7 boost threshold, prefix cap 4, p=0.1), matched exactly by
      * the native expression; Round11Spec pins textbook values and
      * measures the threshold margin. */
    QueryDef(
      "q332_fuzzy_blocking",
      """WITH dn AS (SELECT DISTINCT p_name AS nm FROM part),
        |bl AS (SELECT nm, substr(nm, 1, 4) AS blk FROM dn),
        |pr AS (
        |  SELECT a.nm AS u, b.nm AS v,
        |    jaro_winkler_similarity(a.nm, b.nm) AS sim
        |  FROM bl a JOIN bl b ON b.blk = a.blk AND b.nm > a.nm)
        |SELECT u, v, round(sim, 6) AS sim
        |FROM pr WHERE round(sim, 6) >= 0.84
        |ORDER BY round(sim, 6) DESC, u, v LIMIT 20""".stripMargin) { (s, d) =>
      graft.functions.JaroWinklerSim.register(s)
      val dn = Tables.part(s, d).select(col("p_name").as("nm")).distinct()
      val bl = dn.select(col("nm"), substring(col("nm"), 1, 4).as("blk"))
      bl.join(bl.select(col("nm").as("vnm"), col("blk").as("vblk")),
          col("vblk") === col("blk") && col("vnm") > col("nm"))
        .select(col("nm").as("u"), col("vnm").as("v"),
          expr("jaro_winkler_sim(nm, vnm)").as("simr"))
        .where(round(col("simr"), 6) >= 0.84)
        .select(col("u"), col("v"), round(col("simr"), 6).as("sim"))
        .orderBy(col("sim").desc, col("u"), col("v")).limit(20)
    }
  )
}
