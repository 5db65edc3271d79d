package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.Text.wordsCol
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-5 text-index artifacts: the inverted index (token → sorted
  * posting list) a search engine materializes over the corpus, and
  * bigram PMI (pointwise mutual information) — the collocation
  * statistic used to mine multi-word expressions for tokenizer and
  * phrase-table construction.
  */
object TextIndexOps {

  val defs: Seq[QueryDef] = Seq(

    /** Inverted-index build: posexplode to (token, doc, position),
      * min-position per (token, doc), then one grouped aggregate per
      * token emitting document frequency + the first 5 postings of the
      * doc-sorted list. Two shuffles (token,doc then token); postings
      * truncate AFTER sort so the artifact is deterministic. At 100 TB
      * the posting lists write out bucketed by token — the same two
      * shuffles, no driver involvement.
      */
    QueryDef(
      "q175_inverted_index",
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, ws[i] AS w, CAST(i AS BIGINT) AS pos
        |  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i)),
        |first_pos AS (SELECT w, doc_id, min(pos) AS fp FROM pos GROUP BY w, doc_id),
        |df AS (SELECT w, count(*) AS df FROM first_pos GROUP BY w)
        |SELECT f.w AS token, CAST(min(d.df) AS BIGINT) AS df,
        |  array_to_string(list_sort(list(f.doc_id))[1:5], ',') AS postings
        |FROM first_pos f JOIN df d ON f.w = d.w
        |WHERE d.df BETWEEN 380 AND 430
        |GROUP BY f.w ORDER BY f.w""".stripMargin) { (s, d) =>
      val pos = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(wordsCol(col("text"))).as(Seq("p0", "w")))
        .select(col("doc_id"), col("w"), (col("p0") + 1).cast("long").as("pos"))
      val firstPos = pos.groupBy("w", "doc_id").agg(min(col("pos")).as("fp"))
      firstPos.groupBy(col("w").as("token"))
        .agg(count(lit(1)).as("df"),
          array_join(slice(sort_array(collect_list(col("doc_id"))), 1, 5), ",")
            .as("postings"))
        .where(col("df").between(380, 430))
        .orderBy("token")
    },

    /** Bigram PMI: ln( p(w1,w2) / (p(w1)·p(w2)) ) over adjacent token
      * pairs. Unigram and bigram tables are two grouped counts; the
      * scalar totals broadcast; the PMI formula is pure map work on the
      * (vocab²-bounded) bigram table. The standard collocation miner,
      * shaped so nothing but token tables ever shuffles.
      */
    QueryDef(
      "q176_bigram_pmi",
      """WITH tok AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
        |  FROM documents),
        |uni AS (SELECT w, count(*) AS n FROM (SELECT unnest(ws) AS w FROM tok) GROUP BY w),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nt FROM uni),
        |big AS (
        |  SELECT ws[i] AS w1, ws[i+1] AS w2, count(*) AS n
        |  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS i)
        |  GROUP BY 1, 2),
        |btot AS (SELECT CAST(sum(n) AS DOUBLE) AS bt FROM big)
        |SELECT w1, w2, CAST(b.n AS BIGINT) AS n,
        |  round(ln((b.n / (SELECT bt FROM btot)) /
        |    ((u1.n / (SELECT nt FROM tot)) * (u2.n / (SELECT nt FROM tot)))), 6) AS pmi
        |FROM big b JOIN uni u1 ON b.w1 = u1.w JOIN uni u2 ON b.w2 = u2.w
        |WHERE b.n >= 30
        |ORDER BY pmi DESC, w1, w2 LIMIT 15""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), wordsCol(col("text")).as("ws"))
      val uni = tok.select(explode(col("ws")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
      val nt = uni.agg(sum(col("n")).cast("double").as("nt"))
      val big = tok.where(size(col("ws")) >= 2)
        .select(explode(arrays_zip(
          slice(col("ws"), lit(1), size(col("ws")) - 1),
          slice(col("ws"), lit(2), size(col("ws")) - 1))).as("b"))
        .select(col("b.0").as("w1"), col("b.1").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
      val bt = big.agg(sum(col("n")).cast("double").as("bt"))
      // unigram counts are VOCABULARY-grain — unhinted joins (round-10
      // sweep): the bigram side already shuffles on the word keys, and
      // AQE still broadcasts when uni measures small at runtime
      big.join(uni.select(col("w").as("w1"), col("n").as("n1")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("n").as("n2")), Seq("w2"))
        .crossJoin(broadcast(nt)).crossJoin(broadcast(bt))
        .where(col("n") >= 30)
        .select(col("w1"), col("w2"), col("n"),
          round(log((col("n") / col("bt")) /
            ((col("n1") / col("nt")) * (col("n2") / col("nt")))), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2")).limit(15)
    },

    /** BPE-style pair-merge training, 3 iterations (the tokenizer-
      * construction loop, word-level): each round counts adjacent token
      * pairs (one shuffle), the driver picks the top pair (count DESC,
      * then lexicographic — an O(1) collect, like q152's centroids),
      * and the merge applies map-side via literal string replace on a
      * double-space-joined form — the two-space separator leaves a
      * boundary space on each side of a match, so adjacent merge sites
      * all fire in one left-to-right pass, identically in both engines
      * (verified for chained/overlapping sites). Emits per-iteration
      * merged pair + corpus stats. At 100 TB: same loop, pair counts
      * partial-aggregate, the merge stays narrow.
      */
    QueryDef(
      "q195_bpe_train", {
        def lvl(i: Int): String = {
          val prev = s"t${i - 1}"
          s"""p$i AS (
             |  SELECT ws[j] AS w1, ws[j+1] AS w2, count(*) AS n
             |  FROM $prev, LATERAL (SELECT unnest(generate_series(1, len(ws)-1)) AS j)
             |  WHERE len(ws) >= 2 GROUP BY 1, 2),
             |m$i AS (SELECT w1, w2, n FROM p$i ORDER BY n DESC, w1, w2 LIMIT 1),
             |t$i AS (
             |  SELECT doc_id, list_filter(string_split(
             |    replace('  ' || array_to_string(ws, '  ') || '  ',
             |      ' ' || (SELECT w1 FROM m$i) || '  ' || (SELECT w2 FROM m$i) || ' ',
             |      ' ' || (SELECT w1 FROM m$i) || '_' || (SELECT w2 FROM m$i) || ' '),
             |    ' '), x -> x != '') AS ws
             |  FROM $prev),
             |s$i AS (
             |  SELECT $i AS iter, (SELECT w1 FROM m$i) AS w1, (SELECT w2 FROM m$i) AS w2,
             |    CAST((SELECT n FROM m$i) AS BIGINT) AS n,
             |    CAST((SELECT count(DISTINCT w) FROM (SELECT unnest(ws) AS w FROM t$i)) AS BIGINT) AS vocab_after,
             |    CAST((SELECT sum(len(ws)) FROM t$i) AS BIGINT) AS tokens_after)"""
        }
        s"""WITH t0 AS (
           |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS ws
           |  FROM documents),
           |${(1 to 3).map(lvl).mkString(",\n")}
           |SELECT * FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
           |  UNION ALL SELECT * FROM s3) ORDER BY iter""".stripMargin
      }) { (s, d) =>
      var docs = Tables.documents(s, d)
        .select(col("doc_id"), wordsCol(col("text")).as("ws")).cache()
      val out = scala.collection.mutable.ArrayBuffer.empty[
        (Int, String, String, Long, Long, Long)]
      for (it <- 1 to 3) {
        val top = docs.where(size(col("ws")) >= 2)
          .select(explode(arrays_zip(
            slice(col("ws"), lit(1), size(col("ws")) - 1),
            slice(col("ws"), lit(2), size(col("ws")) - 1))).as("b"))
          .select(col("b.0").as("w1"), col("b.1").as("w2"))
          .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("w1"), col("w2")).limit(1)
          .collect()(0)
        val (w1, w2, n) = (top.getString(0), top.getString(1), top.getLong(2))
        val prev = docs
        docs = docs
          .withColumn("ws", filter(split(replace(
            concat(lit("  "), array_join(col("ws"), "  "), lit("  ")),
            lit(s" $w1  $w2 "), lit(s" ${w1}_$w2 ")), " "), w => w =!= ""))
          .cache()
        val stats = docs.agg(sum(size(col("ws"))).as("toks")).collect()(0)
        val vocab = docs.select(explode(col("ws")).as("w"))
          .agg(countDistinct(col("w"))).collect()(0).getLong(0)
        prev.unpersist(blocking = false)
        out += ((it, w1, w2, n, vocab, stats.getLong(0)))
      }
      docs.unpersist(blocking = false)
      import s.implicits._
      out.toSeq.toDF("iter", "w1", "w2", "n", "vocab_after", "tokens_after")
        .orderBy("iter")
    },

    /** Exact heavy hitters by two-phase candidate generation (the
      * at-scale form of "frequency > θ"): phase 1 runs a Misra-Gries
      * summary of size k per partition (mapPartitions, no shuffle) —
      * any token with global count > N/k provably survives in at least
      * one partition summary (pigeonhole), so with k > 1/θ the candidate
      * union is a superset of the true θ-heavy hitters. Phase 2 exact-
      * counts ONLY the candidates (broadcast semi-join before the
      * shuffle) and applies the θ filter, so the result is exact and
      * partitioning-independent while the shuffle carries O(k·parts)
      * keys instead of the whole vocabulary. Oracle: the naive full
      * group-by — the two must agree exactly.
      */
    QueryDef(
      "q196_heavy_hitters",
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS w
        |  FROM documents),
        |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM tok),
        |c AS (SELECT w, count(*) AS n FROM tok GROUP BY w)
        |SELECT w, CAST(c.n AS BIGINT) AS n,
        |  round(c.n / (SELECT n FROM tot), 6) AS share
        |FROM c WHERE c.n >= 0.03 * (SELECT n FROM tot)
        |ORDER BY n DESC, w""".stripMargin) { (s, d) =>
      import s.implicits._
      val theta = 0.03
      val k = 64 // > 1/θ ⇒ the MG superset guarantee holds
      val toks = Tables.documents(s, d)
        .select(explode(wordsCol(col("text"))).as("w")).as[String]
      val cands = toks
        .mapPartitions(it => graft.functions.MisraGries.candidates(it, k))
        .toDF("w").distinct()
      val total = toks.count()
      toks.toDF("w")
        .join(broadcast(cands), Seq("w"), "left_semi")
        .groupBy("w").agg(count(lit(1)).as("n"))
        .where(col("n") >= lit(theta) * lit(total.toDouble))
        .select(col("w"), col("n"),
          round(col("n") / lit(total.toDouble), 6).as("share"))
        .orderBy(col("n").desc, col("w"))
    }
  )
}
