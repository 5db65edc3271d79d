package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-12 batch: the training-data-pipeline operators a 100 TB curation
  * stack still lacked after round 11 —
  *
  *  - q358 deterministic weighted MIXTURE sampling (Efraimidis–Spirakis
  *    2006 keys from seeded md5 uniforms): the "hit this source mixture
  *    under a document budget" selection step of every pretraining run,
  *    reproducible bit-for-bit across engines and reruns;
  *  - q360 incremental view maintenance of a join view (the
  *    Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB algebra): proven equal to the full
  *    recompute by the oracle;
  *  - q362 theta-sketch set intersection (KMV θ-intersection estimate
  *    next to the exact answer, the q279 measured-error discipline).
  *
  * All hash-verified against DuckDB; md5-derived uniforms make every
  * "random" choice a pure function of the data.
  */
object Round12Ops {
  import CausalOps.r6

  /** md5-derived uniform in (0,1): 13 hex chars → 52 bits / 2^52 — the
    * q340 idiom (both engines parse the same hex, divide by the same
    * exact power of two). */
  private def u01(seedExpr: Column): Column =
    conv(substring(md5(seedExpr), 1, 13), 16, 10).cast("double") / 4503599627370496.0
  private def u01Sql(seedExpr: String): String =
    s"CAST(('0x' || substr(md5($seedExpr), 1, 13))::BIGINT AS DOUBLE) / 4503599627370496.0"

  /** q359's deterministic 8-dim token embedding: byte j of
    * md5("emb1#"+word) mapped to (byte − 127.5)/127.5 ∈ (−1, 1). The
    * Scala form (for the literal query vectors) and the SQL form (for
    * corpus tokens on both engines) produce identical doubles: integer
    * bytes, one subtraction, one division — same IEEE ops either way.
    */
  private[graft] def tokVec(word: String): Array[Double] = {
    val dig = java.security.MessageDigest.getInstance("MD5")
      .digest(s"emb1#$word".getBytes("UTF-8"))
    Array.tabulate(8)(j => ((dig(j) & 0xff).toDouble - 127.5) / 127.5)
  }
  private val tokVecSql =
    "list_transform(range(8), j -> (CAST(('0x' || substr(md5('emb1#' || w), CAST(j*2+1 AS INT), 2))::INT AS DOUBLE) - 127.5) / 127.5)"
  private val tokVecSparkSql =
    "transform(sequence(0, 7), j -> (cast(conv(substring(md5(concat('emb1#', w)), cast(j*2+1 as int), 2), 16, 10) as double) - 127.5) / 127.5)"

  /** q359's fixed query: four corpus-vocabulary terms. */
  private val maxsimQuery = Seq("spark", "vector", "join", "stream")

  /** q363's 15 raw moments over (x1, x2, x3, y): name → product expr.
    * Same feature/target mapping as q320 (quantity, discount, tax →
    * extendedprice), stated over the fold-tagged projection. */
  private val cvMoms: Seq[(String, String)] = Seq(
    "s1" -> "x1", "s2" -> "x2", "s3" -> "x3", "sy" -> "y",
    "s11" -> "x1 * x1", "s12" -> "x1 * x2", "s13" -> "x1 * x3",
    "s22" -> "x2 * x2", "s23" -> "x2 * x3", "s33" -> "x3 * x3",
    "s1y" -> "x1 * y", "s2y" -> "x2 * y", "s3y" -> "x3 * y", "syy" -> "y * y")

  /** Held-out fold columns + keys carried through every q363 stage. */
  private val cvCarry: Seq[String] =
    Seq("fold", "h_n") ++ cvMoms.map { case (n, _) => s"h_$n" }

  /** q363 moment reconstruction from the split integer fold (round 13,
    * VERDICT r12 #6 — the q379 quantized-fold lesson applied to the 14
    * DECIMAL(38,12) sums that made the moment pass cast-bound): each
    * product e is deterministically split into floor(e) (long) and
    * floor(frac(e)·1e9) (long), both summed as EXACT order-free integer
    * folds (HUGEINT on the oracle side; Spark long capacity needs
    * rows · 1.2e10 < 2^63 for the integer part and rows · 1e9 < 2^63
    * for the fraction part, i.e. rows < ~7·10⁸ — holds through sf100's
    * 600M-row lineitem). Past [[SplitFoldLongRowCap]] the long sums
    * would WRAP SILENTLY, so [[cvFoldAggs]] switches the SAME quantized
    * fold to DECIMAL(38,0) accumulation (round 14, ADVICE r13 — the
    * loud-guard discipline applied as a lossless fallback): the summed
    * terms are identical integers either way and reconstruction is the
    * same expression string in both dialects, so the doubles — and the
    * argmin — match bit-for-bit at every scale. */
  private def cvRecon(iExpr: String, fExpr: String): String =
    s"CAST($iExpr AS DOUBLE) + CAST($fExpr AS DOUBLE) / 1000000000.0"

  /** Rows above which q363's split-integer moment fold must not use
    * long accumulators: max |product| ≈ 1.2e10 (y·y at extendedprice
    * ~1e5), so rows · 1.2e10 reaches 2⁶³ near 7.7·10⁸ — capped at 7·10⁸
    * with margin. DuckDB is unaffected (HUGEINT sums). */
  private[graft] val SplitFoldLongRowCap = 700L * 1000 * 1000

  /** The 29 fold aggregates of q363's moment pass: row count + a
    * (floor(e), floor(frac(e)·1e9)) sum pair per moment. `useLong`
    * picks the accumulator type — codegen-native longs inside the safe
    * row bound, exact DECIMAL(38,0) beyond it — with identical summed
    * terms, so both variants reconstruct the same doubles (pinned in
    * Round12Spec). */
  private[graft] def cvFoldAggs(useLong: Boolean): Seq[org.apache.spark.sql.Column] = {
    def acc(c: org.apache.spark.sql.Column) =
      if (useLong) c else c.cast("decimal(38,0)")
    count(lit(1)).as("cn") +: cvMoms.flatMap { case (n, e) => Seq(
      sum(acc(floor(expr(e)))).as(s"${n}_i"),
      sum(acc(floor((expr(e) - floor(expr(e))) * lit(1.0e9)))).as(s"${n}_f")) }
  }

  /** Shared train/held-out reconstruction stage over fm ⨯ tot. */
  private val cvTrStage: Seq[String] =
    Seq("fold", "CAST(tcn - cn AS DOUBLE) AS n") ++
      cvMoms.map { case (n, _) =>
        s"${cvRecon(s"t${n}_i - ${n}_i", s"t${n}_f - ${n}_f")} AS $n" } ++
      Seq("CAST(cn AS DOUBLE) AS h_n") ++
      cvMoms.map { case (n, _) =>
        s"${cvRecon(s"${n}_i", s"${n}_f")} AS h_$n" }

  /** λ-parameterized ridge stage (q320's rgStage with the literal
    * LamScale replaced by the lam column). */
  private val cvRgStage: Seq[String] =
    Seq("n", "s1", "s2", "s3", "sy",
      "a11", "a12", "a13", "a22", "a23", "a33", "ay1", "ay2", "ay3", "ayy",
      "lam", "a11 * lam AS r11", "a22 * lam AS r22", "a33 * lam AS r33") ++ cvCarry

  private val cvSolveStage: Seq[String] =
    Seq("lam", "n", "s1", "s2", "s3", "sy") ++ cvCarry ++
      SupervisedOps.solveStage.filter(_.contains(" AS b"))

  private val cvB0Stage: Seq[String] =
    Seq("lam", "b1", "b2", "b3",
      "(sy - b1 * s1 - b2 * s2 - b3 * s3) / n AS b0") ++ cvCarry

  /** q365's shared stages (same strings both dialects — the q320
    * discipline): exact mid-rank AUC from the rank aggregate, then the
    * Hanley–McNeil SE and the z=1.96 interval. */
  private val aucStage: Seq[String] = Seq(
    "np", "nn", "(spr - np*(np+1)/2.0) / (np*nn) AS a")
  private val hmStage: Seq[String] = Seq(
    "np", "nn", "a", "a/(2.0-a) AS q1", "2.0*a*a/(1.0+a) AS q2")
  private val aucCiOut: Seq[String] = Seq(
    "round(a, 6) AS auc",
    "CAST(np AS BIGINT) AS n_pos", "CAST(nn AS BIGINT) AS n_neg",
    "round(sqrt((a*(1.0-a) + (np-1.0)*(q1-a*a) + (nn-1.0)*(q2-a*a)) / (np*nn)), 6) AS se",
    "round(a - 1.959963984540054*sqrt((a*(1.0-a) + (np-1.0)*(q1-a*a) + (nn-1.0)*(q2-a*a)) / (np*nn)), 6) AS ci_lo",
    "round(a + 1.959963984540054*sqrt((a*(1.0-a) + (np-1.0)*(q1-a*a) + (nn-1.0)*(q2-a*a)) / (np*nn)), 6) AS ci_hi")

  /** Held-out MSE in closed form from the held fold's raw moments. */
  private val cvMseExpr: String =
    "(h_syy - 2.0 * b0 * h_sy - 2.0 * (b1 * h_s1y + b2 * h_s2y + b3 * h_s3y)" +
      " + b0 * b0 * h_n + 2.0 * b0 * (b1 * h_s1 + b2 * h_s2 + b3 * h_s3)" +
      " + (b1 * b1 * h_s11 + b2 * b2 * h_s22 + b3 * b3 * h_s33" +
      " + 2.0 * b1 * b2 * h_s12 + 2.0 * b1 * b3 * h_s13 + 2.0 * b2 * b3 * h_s23))" +
      " / h_n"

  val defs: Seq[QueryDef] = Seq(

    /** Late-interaction (ColBERT-style) MaxSim retrieval (Khattab &
      * Zaharia 2020): instead of one pooled vector per document, every
      * document token keeps its own embedding and the relevance score
      * is Σ_q max_t cos(q, t) — each query term independently finds its
      * best-matching document token. Token embeddings here are the
      * deterministic md5-byte vectors (the container has no encoder —
      * the SCORING operator, its plan shape, and its cross-engine
      * bit-parity are the point; production swaps the embedding column
      * source with no plan change). Docs keep their first 12 sorted
      * distinct tokens; top-10 docs by (score, doc_id).
      *
      * Scale shape: one corpus pass, all MaxSim math as nested
      * zip_with/aggregate HOF folds (identical association order to the
      * oracle's list_reduce folds), query vectors and norms are
      * Scala-precomputed literals, and the top-10 cut is the bounded
      * TakeOrdered — nothing shuffles but 10 rows.
      */
    QueryDef(
      "q359_late_interaction", {
        def lits(a: Array[Double]) = a.mkString("[", ", ", "]::DOUBLE[]")
        val arms = maxsimQuery.map { wq =>
          val qv = tokVec(wq)
          val qn = math.sqrt(qv.map(x => x * x).sum)
          s"""list_max(list_transform(tvecs, tv ->
             |      list_reduce(list_prepend(0.0, list_transform(range(8),
             |          j -> tv[CAST(j+1 AS INT)] * (${lits(qv)})[CAST(j+1 AS INT)])), (a, b) -> a + b)
             |      / ($qn * sqrt(list_reduce(list_prepend(0.0,
             |          list_transform(tv, x -> x * x)), (a, b) -> a + b)))))""".stripMargin
        }
        s"""WITH ws AS (
           |  SELECT doc_id,
           |    list_sort(list_distinct(list_filter(string_split(text, ' '),
           |      w -> w != '')))[1:12] AS toks
           |  FROM documents),
           |wsn AS (SELECT * FROM ws WHERE len(toks) > 0),
           |tv AS (
           |  SELECT doc_id, len(toks) AS n_tokens,
           |    list_transform(toks, w -> $tokVecSql) AS tvecs
           |  FROM wsn),
           |sc AS (
           |  SELECT doc_id, n_tokens,
           |    ${arms.mkString("\n    + ")} AS score
           |  FROM tv)
           |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           |  round(score, 6) AS maxsim
           |FROM sc ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
      }) { (s, d) =>
      // empty/whitespace-only docs are excluded in BOTH dialects (round-9
      // ADVICE): the aggregate's lit(-2.0) seed would otherwise give an
      // empty token list a finite score (4 arms × −2.0) that can rank,
      // while the oracle's list_max over an empty list is NULL
      val ws = Tables.documents(s, d)
        .select(col("doc_id"),
          slice(array_sort(array_distinct(
            graft.functions.Text.wordsCol(col("text")))), 1, 12).as("toks"))
        .where(size(col("toks")) > 0)
      val tv = ws.select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        expr(s"transform(toks, w -> $tokVecSparkSql)").as("tvecs"))
      val score = maxsimQuery.map { wq =>
        val qv = tokVec(wq)
        val qn = math.sqrt(qv.map(x => x * x).sum)
        aggregate(col("tvecs"), lit(-2.0), (acc, t) =>
          greatest(acc,
            aggregate(zip_with(t, typedlit(qv.toSeq), (x, y) => x * y),
              lit(0.0), (a, b) => a + b) /
              (lit(qn) * sqrt(aggregate(transform(t, x => x * x),
                lit(0.0), (a, b) => a + b)))))
      }.reduce(_ + _)
      tv.select(col("doc_id"), col("n_tokens"), score.as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(10)
        .select(col("doc_id"), col("n_tokens"), r6(col("score")).as("maxsim"))
    },

    /** Deterministic weighted mixture sampling under a document budget
      * (Efraimidis–Spirakis 2006: weighted sampling WITHOUT replacement
      * = top-B by key u^(1/w)): each source gets weight
      * w = 0.5 + (srcnum mod 4)/2 ∈ {0.5, 1.0, 1.5, 2.0}, every doc
      * draws its uniform from md5("mix1#"+doc_id), and the budget
      * B = ceil(0.3·N) picks the global top-B keys — so heavier sources
      * land proportionally more docs while the choice stays a pure
      * function of the corpus (the reproducibility contract data-mixing
      * pipelines need: rerunning the selection on the same corpus
      * yields the same training set, on ANY engine). Readout: per
      * source, its weight, corpus count, selected count, and selection
      * rate — the achieved-vs-target mixture audit.
      *
      * Scale shape: one md5+pow projection over the corpus, the global
      * budget cut through the bounded-heap TopKPerGroup (empty group =
      * B·partitions rows shuffle, never a global sort), and two tiny
      * source-grain aggregates. Cross-engine rank safety: adjacent
      * E-S key order statistics are ~1/N apart — astronomically wider
      * than pow/ln ulp divergence — and ties break on doc_id.
      */
    QueryDef(
      "q358_mixture_sample",
      s"""WITH w AS (
         |  SELECT doc_id, source,
         |    0.5 + (CAST(substr(source, 4, 8) AS INT) % 4) / 2.0 AS wt,
         |    ${u01Sql("'mix1#' || doc_id")} AS u
         |  FROM documents),
         |k AS (
         |  SELECT doc_id, source, wt, pow(u, 1.0 / wt) AS key,
         |    rank() OVER (ORDER BY pow(u, 1.0 / wt) DESC, doc_id) AS r
         |  FROM w),
         |sel AS (
         |  SELECT source, count(*) AS n_selected
         |  FROM k WHERE r <= (SELECT ceil(0.3 * count(*)) FROM documents)
         |  GROUP BY 1),
         |tot AS (
         |  SELECT source, 0.5 + (CAST(substr(source, 4, 8) AS INT) % 4) / 2.0 AS wt,
         |    count(*) AS n_docs
         |  FROM documents GROUP BY 1, 2)
         |SELECT t.source, round(t.wt, 2) AS wt, CAST(t.n_docs AS BIGINT) AS n_docs,
         |  CAST(coalesce(s.n_selected, 0) AS BIGINT) AS n_selected,
         |  round(coalesce(s.n_selected, 0) / CAST(t.n_docs AS DOUBLE), 6) AS sel_rate
         |FROM tot t LEFT JOIN sel s ON s.source = t.source
         |ORDER BY t.source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      // Long budget (round-9 ADVICE): `.toInt` silently wraps negative
      // past ~7.1B docs. The bounded-heap cut structurally needs an Int
      // k, so past Int.MaxValue fail LOUDLY and name the scale path
      // (threshold selection over the key distribution) instead of
      // selecting nothing while the oracle stays correct.
      val budgetL = math.ceil(0.3 * docs.count()).toLong
      require(budgetL <= Int.MaxValue,
        s"q358_mixture_sample: budget $budgetL exceeds the bounded-heap " +
          "Int ceiling; at this corpus size select by an E-S key threshold " +
          "(approx quantile of pow(u, 1/wt)) instead of a global top-B heap")
      val budget = budgetL.toInt
      val wt = lit(0.5) +
        (substring(col("source"), 4, 8).cast("int") % 4).cast("double") / 2.0
      val keyed = docs.select(col("doc_id"), col("source"), wt.as("wt"),
          pow(u01(concat(lit("mix1#"), col("doc_id"))), lit(1.0) / wt).as("key"))
      val sel = graft.plans.TopKPerGroupOps.topKPerGroup(s, keyed, Seq.empty,
          Seq(col("key").desc, col("doc_id").asc), budget)
        .groupBy("source").agg(count(lit(1)).as("n_selected"))
      val tot = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("wt", wt)
      tot.join(broadcast(sel), Seq("source"), "left")
        .select(col("source"), round(col("wt"), 2).as("wt"),
          col("n_docs"),
          coalesce(col("n_selected"), lit(0L)).as("n_selected"),
          r6(coalesce(col("n_selected"), lit(0L)) / col("n_docs").cast("double"))
            .as("sel_rate"))
        .orderBy("source")
    },

    /** Incremental view maintenance of a join view — the delta algebra
      * Δ(O ⋈ L) = ΔO⋈L₀ ∪ O₀⋈ΔL ∪ ΔO⋈ΔL every warehouse refresh
      * pipeline runs instead of recomputing the join: orders and
      * lineitem are each split at the 1999-01-01 cut into a base (the
      * "already materialized" state) and a delta (the new batch), the
      * monthly-revenue view is assembled as the FOUR part-joins'
      * partial aggregates merged — and the oracle recomputes the view
      * directly from the full join, so the hash compare IS the proof
      * that the incremental algebra reproduces the full recompute.
      * Decimal revenue sums make the merge order-free and exact.
      *
      * Scale shape: in production base⋈base is read from the stored
      * view (O(months) rows, no join at all) and the three delta joins
      * are delta-sized; here the base term is recomputed only to close
      * the algebra end-to-end. Partial aggregation per part = map-side
      * combine; the final merge is a months-grain shuffle.
      */
    QueryDef(
      "q360_ivm_join",
      """SELECT strftime(l_shipdate, '%Y-%m') AS month,
        |  count(*) AS n_rows,
        |  round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(38,6))) AS DOUBLE), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY month""".stripMargin) { (s, d) =>
      val cut = lit("1999-01-01").cast("timestamp")
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
      val l = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_shipdate"),
          (col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(38,6)").as("rev"))
      val oBase = o.where(col("o_orderdate") < cut)
      val oDelta = o.where(col("o_orderdate") >= cut)
      val lBase = l.where(col("l_shipdate") < cut)
      val lDelta = l.where(col("l_shipdate") >= cut)
      def part(oo: DataFrame, ll: DataFrame): DataFrame =
        ll.join(oo, col("l_orderkey") === col("o_orderkey"))
          .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("month"))
          .agg(count(lit(1)).as("pn"), sum(col("rev")).as("pr"))
      Seq(part(oBase, lBase), part(oDelta, lBase),
          part(oBase, lDelta), part(oDelta, lDelta))
        .reduce(_.unionByName(_))
        .groupBy("month")
        .agg(sum(col("pn")).as("n_rows"),
          round(sum(col("pr")).cast("double"), 2).as("revenue"))
        .orderBy("month")
    },

    /** Duplicated-span REMOVAL — the step after q319's span-coverage
      * audit that actually produces the cleaned corpus (Lee et al.
      * 2022's "dedup the substrings, not the documents"): every 5-gram
      * occurring in ≥2 distinct documents marks its word positions,
      * per-doc covered positions merge, and the doc is REWRITTEN with
      * those words dropped. Output per doc: word counts before/after,
      * removed fraction, and md5 of the cleaned text — the hash makes
      * the full rewritten corpus oracle-comparable without shipping
      * strings through the compare.
      *
      * Scale shape: shingle-grain md5 shuffle (the q319 discipline) to
      * find corpus-wide duplicated grams, positions explode map-side
      * (×5), covered sets aggregate at doc grain, and the rewrite is a
      * map-side array filter — no pair enumeration anywhere, cost
      * linear in corpus tokens.
      */
    QueryDef(
      "q361_span_removal",
      """WITH ws AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w != '') AS w
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, i + 1 AS p, md5(array_to_string(w[i+1:i+5], ' ')) AS g
        |  FROM (SELECT doc_id, w, unnest(range(greatest(len(w) - 4, 0))) AS i
        |        FROM ws)),
        |dup AS (
        |  SELECT g FROM grams GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
        |cov AS (
        |  SELECT DISTINCT gr.doc_id, gr.p + t.o AS cp
        |  FROM grams gr JOIN dup USING (g)
        |  CROSS JOIN (VALUES (0), (1), (2), (3), (4)) t(o)),
        |cova AS (SELECT doc_id, list(cp) AS cps FROM cov GROUP BY 1),
        |cl AS (
        |  SELECT ws.doc_id, len(w) AS n_words,
        |    list_transform(
        |      list_filter(list_transform(w, (x, ix) -> {'x': x, 'i': ix}),
        |        e -> NOT list_contains(coalesce(cps, CAST([] AS BIGINT[])), e.i)),
        |      e -> e.x) AS kept
        |  FROM ws LEFT JOIN cova ON cova.doc_id = ws.doc_id)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  CAST(n_words - len(kept) AS BIGINT) AS n_removed,
        |  round((n_words - len(kept)) / CAST(n_words AS DOUBLE), 6) AS removed_frac,
        |  md5(coalesce(array_to_string(kept, ' '), '')) AS cleaned_md5
        |FROM cl ORDER BY doc_id""".stripMargin) { (s, d) =>
      val ws = Tables.documents(s, d)
        .select(col("doc_id"), graft.functions.Text.wordsCol(col("text")).as("w"))
      val grams = ws
        .select(col("doc_id"),
          when(size(col("w")) >= 5,
            transform(sequence(lit(1), size(col("w")) - 4),
              i => md5(concat_ws(" ", slice(col("w"), i, lit(5))))))
            .otherwise(array().cast("array<string>")).as("gs"))
        .select(col("doc_id"), posexplode(col("gs")).as(Seq("p0", "g")))
        .select(col("doc_id"), (col("p0") + 1).as("p"), col("g"))
      val dup = grams.groupBy(col("g"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .where(col("nd") >= 2).select(col("g"))
      val cov = grams.join(dup, "g")
        .select(col("doc_id"),
          explode(sequence(col("p").cast("long"), col("p").cast("long") + 4)).as("cp"))
        .distinct()
      val cova = cov.groupBy(col("doc_id")).agg(collect_set(col("cp")).as("cps"))
      ws.join(cova, Seq("doc_id"), "left")
        .select(col("doc_id"), size(col("w")).as("n_words"),
          transform(
            filter(transform(col("w"), (x, ix) =>
              struct(x.as("x"), (ix + 1).cast("long").as("i"))),
              e => !array_contains(
                coalesce(col("cps"), array().cast("array<long>")), e.getField("i"))),
            e => e.getField("x")).as("kept"))
        .select(col("doc_id"), col("n_words").cast("long").as("n_words"),
          (col("n_words") - size(col("kept"))).cast("long").as("n_removed"),
          r6((col("n_words") - size(col("kept"))) / col("n_words").cast("double"))
            .as("removed_frac"),
          md5(concat_ws(" ", col("kept"))).as("cleaned_md5"))
        .orderBy("doc_id")
    },

    /** K-fold cross-validated ridge model selection in ONE distributed
      * pass (round 12): the q320 closed-form ridge extended to the
      * model-selection step every training pipeline actually runs.
      * The trick that makes 5-fold CV × 3 regularization strengths cost
      * ONE moment aggregate: per-fold decimal moment sums are exact, so
      * each fold's TRAINING Gram matrix is total − fold by plain
      * subtraction, and the held-out MSE expands in closed form from
      * the held fold's OWN raw moments —
      * Σ(y−b0−Σbⱼxⱼ)² = syy − 2b0·sy − 2Σbⱼs_jy + b0²n + 2b0Σbⱼsⱼ
      * + ΣΣ bⱼbₖ s_jk — so no second data pass, no per-row scoring, no
      * fold×λ re-aggregation: everything after the 5-row fold-moment
      * table is column arithmetic on 15 (fold, λ) rows. Output: one row
      * per λ with its CV MSE and the winner flag.
      *
      * Determinism: fold assignment is the q132 portable md5 hash; all
      * moment sums are split-integer quantized folds ([[cvRecon]] —
      * exact and order-free on both engines); every downstream
      * expression is the SAME string run by both dialects (the
      * q320/q300 discipline), so every double — and the argmin —
      * matches bit-for-bit.
      */
    QueryDef(
      "q363_ridge_cv", {
        s"""WITH f AS (
           |  SELECT l_quantity AS x1, l_discount AS x2, l_tax AS x3,
           |    l_extendedprice AS y,
           |    CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '#' ||
           |      CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT % 5 AS INT) AS fold
           |  FROM lineitem),
           |fm AS (
           |  SELECT fold, count(*) AS cn,
           |    ${cvMoms.flatMap { case (n, e) => Seq(
                  s"sum(CAST(floor($e) AS BIGINT)) AS ${n}_i",
                  s"sum(CAST(floor(($e - floor($e)) * 1000000000.0) AS BIGINT)) AS ${n}_f") }
                .mkString(",\n    ")}
           |  FROM f GROUP BY fold),
           |tot AS (
           |  SELECT sum(cn) AS tcn,
           |    ${cvMoms.flatMap { case (n, _) =>
                  Seq(s"sum(${n}_i) AS t${n}_i", s"sum(${n}_f) AS t${n}_f") }
                .mkString(", ")}
           |  FROM fm),
           |tr AS (
           |  SELECT ${cvTrStage.mkString(",\n    ")}
           |  FROM fm, tot),
           |cm AS (SELECT ${(SupervisedOps.cmStage ++ cvCarry).mkString(", ")} FROM tr),
           |lm AS (SELECT CAST(lam AS DOUBLE) AS lam
           |       FROM (VALUES (1.000001), (1.001), (1.01)) l(lam)),
           |rg AS (SELECT ${cvRgStage.mkString(", ")} FROM cm, lm),
           |sv AS (SELECT ${cvSolveStage.mkString(", ")} FROM rg),
           |sb AS (SELECT ${cvB0Stage.mkString(", ")} FROM sv),
           |ms AS (SELECT lam, fold, $cvMseExpr AS mse FROM sb),
           |cv AS (
           |  SELECT lam,
           |    CAST(sum(CAST(mse AS DECIMAL(38,12))) AS DOUBLE) / 5.0 AS cvm
           |  FROM ms GROUP BY lam)
           |SELECT round(lam, 6) AS lam_scale, round(cvm, 4) AS cv_mse,
           |  CAST(rank() OVER (ORDER BY cvm, lam) = 1 AS INT) AS is_best
           |FROM cv ORDER BY lam""".stripMargin
      }) { (s, d) =>
      import s.implicits._
      val f = Tables.lineitem(s, d).select(
        col("l_quantity").as("x1"), col("l_discount").as("x2"),
        col("l_tax").as("x3"), col("l_extendedprice").as("y"),
        (conv(substring(md5(concat(col("l_orderkey").cast("string"), lit("#"),
          col("l_linenumber").cast("string"))), 1, 15), 16, 10)
          .cast("long") % 5).cast("int").as("fold"))
      // materialized via PlanCache: `fm` feeds BOTH the per-fold side
      // and the totals broadcast — uncached, Catalyst derives the
      // moment aggregate twice (two full fact scans; seen in the
      // executed plan), which breaks the operator's one-pass contract
      val fm = graft.PlanCache.cached(s, s"q363_fold_moments|$d") {
        // Split-integer quantized moment fold (round 13, VERDICT r12 #6
        // — the q379 lesson; see [[cvRecon]]): the old 14-way
        // DECIMAL(38,12) fold was cast-bound at ~2 µs/row-moment; two
        // long sums per moment are codegen-native and order-free-exact,
        // and both engines quantize identically so the hash contract is
        // untouched. Repartition ONLY when the scan is split-starved
        // (single-row-group test files give parquet ONE task; a real
        // table's thousands of row groups give it thousands).
        val scanParts = f.rdd.getNumPartitions
        val src = if (scanParts < 16) f.repartition(32) else f
        // overflow guard (round 14, ADVICE r13): past the safe long
        // bound, same fold in DECIMAL(38,0) — lossless fallback. The
        // row count is served from the parquet footers on the driver
        // (round 17): the old count() here was a full scan job just to
        // compare one number against the cap.
        val useLong = Tables.parquetRowCount(s, d, "lineitem") <= SplitFoldLongRowCap
        val aggs = cvFoldAggs(useLong)
        src.groupBy(col("fold")).agg(aggs.head, aggs.tail: _*)
      }
      val tot = fm.agg(sum(col("cn")).as("tcn"),
        cvMoms.flatMap { case (n, _) => Seq(
          sum(col(s"${n}_i")).as(s"t${n}_i"),
          sum(col(s"${n}_f")).as(s"t${n}_f")) }: _*)
      val tr = fm.crossJoin(broadcast(tot)).selectExpr(cvTrStage: _*)
      val lm = Seq(1.000001, 1.001, 1.01).toDF("lam")
      tr.selectExpr(SupervisedOps.cmStage ++ cvCarry: _*)
        .crossJoin(broadcast(lm))
        .selectExpr(cvRgStage: _*)
        .selectExpr(cvSolveStage: _*)
        .selectExpr(cvB0Stage: _*)
        .selectExpr("lam", "fold", s"$cvMseExpr AS mse")
        .groupBy(col("lam"))
        .agg((sum(col("mse").cast("decimal(38,12)")).cast("double") / 5.0).as("cvm"))
        .select(round(col("lam"), 6).as("lam_scale"), round(col("cvm"), 4).as("cv_mse"),
          (rank().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("cvm"), col("lam"))) === 1).cast("int").as("is_best"))
        .orderBy("lam_scale")
    },

    /** Triangle count + global clustering coefficient of the
      * co-purchase graph (round 12) — the graph-health primitive the
      * HITS/CF/assortativity family still lacked. Edges: part pairs
      * co-occurring in ≥2 orders (q331's support floor). The ENGINE
      * runs the scalable algorithm — orient every edge from its
      * (degree, id)-smaller endpoint, join out-edges on the pivot to
      * form wedges, close each wedge against the edge set — which
      * bounds per-node join fan-out by out-degree ≤ O(√m) (Chiba-
      * Nishizeki orientation), while the ORACLE counts the same
      * triangles with the direct a<b<c triple self-join that only a
      * small fixture can afford. Same integers either way (each
      * triangle has exactly ONE vertex with two out-edges under a
      * total order), so the count hash-verifies the scalable plan
      * against the brute-force definition. Clustering = 3·triangles /
      * Σ C(deg, 2) — all integer-exact.
      */
    QueryDef(
      "q364_triangles",
      s"""WITH ${GraphOps.coorderEdgesSql("e AS")},
        |deg AS (
        |  SELECT w, count(*) AS dg FROM (
        |    SELECT u AS w FROM e UNION ALL SELECT v AS w FROM e) GROUP BY 1),
        |tri AS (
        |  SELECT count(*) AS t
        |  FROM e e1 JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |wed AS (SELECT sum(dg * (dg - 1) / 2) AS wtot FROM deg)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
        |  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
        |  CAST(t AS BIGINT) AS n_triangles,
        |  round(3.0 * t / wtot, 6) AS clustering
        |FROM tri, wed""".stripMargin) { (s, d) =>
      // edges via the q218/q331 basket idiom: pairs expand map-side
      // from per-order collected baskets, never a fact self-join; the
      // materialization is the family-shared GraphOps.coorderPairs
      // entry (round 17 — was its own `q364_edges` PlanCache key)
      val e = GraphOps.coorderEdges(s, d)
      val deg = e.select(col("u").as("w")).unionAll(e.select(col("v").as("w")))
        .groupBy("w").agg(count(lit(1)).as("dg"))
      // orient each edge from its (deg, id)-smaller endpoint. The degree
      // lookups are PLAIN joins (round-10, VERDICT r9 #1): deg is the
      // co-purchase NODE set — dimension-grain, growing with the part
      // dimension — so a forced broadcast() here would override AQE's
      // size check and ship an unbounded table to every executor at
      // scale. The edge set already shuffles on u/v; AQE still elects a
      // broadcast at small SF when deg measures under the threshold,
      // which is exactly the decision runtime sizing should own.
      val or = e
        .join(deg.select(col("w").as("uw"), col("dg").as("du")),
          col("uw") === col("u"))
        .join(deg.select(col("w").as("vw"), col("dg").as("dv")),
          col("vw") === col("v"))
        .select(
          when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), col("u"))
            .otherwise(col("v")).as("a"),
          when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), col("v"))
            .otherwise(col("u")).as("b"),
          when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), col("dv"))
            .otherwise(col("du")).as("db"))
      // wedges at the pivot a: pairs of out-neighbors ordered by (deg, id)
      val w1 = or.select(col("a"), col("b").as("x"), col("db").as("dx"))
      val w2 = or.select(col("a").as("a2"), col("b").as("y"), col("db").as("dy"))
      val wedges = w1.join(w2, col("a2") === col("a") &&
        (col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y"))))
        .select(least(col("x"), col("y")).as("cu"),
          greatest(col("x"), col("y")).as("cv"))
      val tri = wedges
        .join(e.select(col("u").as("cu"), col("v").as("cv")), Seq("cu", "cv"))
        .agg(count(lit(1)).as("t"))
      val stats = deg.agg(count(lit(1)).as("n_nodes"),
        (sum(col("dg") * (col("dg") - 1)) / 2).as("wtot"))
      val ecnt = e.agg(count(lit(1)).as("n_edges"))
      stats.crossJoin(ecnt).crossJoin(tri)
        .select(col("n_nodes"), col("n_edges"), col("t").as("n_triangles"),
          round(lit(3.0) * col("t") / col("wtot"), 6).as("clustering"))
    },

    /** AUC with a Hanley–McNeil 95% confidence interval (Hanley &
      * McNeil, Radiology 1982) — the eval family's missing honesty
      * column: a point AUC without its sampling error is exactly the
      * kind of readout the q279/q362 measured-error discipline exists
      * to forbid. Same exact mid-rank AUC as q21 (tie-exact, rank sums
      * are half-integers so the doubles are order-free), then the
      * closed-form SE from (A, n⁺, n⁻) and the z=1.96 interval — all
      * shared expression strings, so CI bounds match bit-for-bit.
      * Scale: identical to q21 (the global rank becomes the histogram
      * form at 100 TB); the CI math is arithmetic on one row.
      */
    QueryDef(
      "q365_auc_ci",
      s"""WITH ${Relational.scoredRankSql},
         |agg AS (
         |  SELECT sum(CASE WHEN y = 1.0 THEN mr END) AS spr,
         |    sum(y) AS np, sum(1.0-y) AS nn
         |  FROM ranked),
         |a AS (SELECT ${aucStage.mkString(", ")} FROM agg),
         |q AS (SELECT ${hmStage.mkString(", ")} FROM a)
         |SELECT ${aucCiOut.mkString(", ")} FROM q""".stripMargin) { (s, d) =>
      val scored = Tables.lineitem(s, d).select(
        (col("l_quantity") / 10.0 - col("l_discount") * 20.0 +
          col("l_tax") * 5.0 - 1.5).as("z"),
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("y"))
      import org.apache.spark.sql.expressions.Window
      scored.withColumn("mr",
          rank().over(Window.orderBy(col("z"))) +
            (count(lit(1)).over(Window.partitionBy(col("z"))) - 1) / 2.0)
        .agg(sum(when(col("y") === 1.0, col("mr"))).as("spr"),
          sum(col("y")).as("np"), sum(lit(1.0) - col("y")).as("nn"))
        .selectExpr(aucStage: _*)
        .selectExpr(hmStage: _*)
        .selectExpr(aucCiOut: _*)
    },

    /** Benford first-digit audit (Benford 1938; the fraud/data-quality
      * screen every financial fact table gets): observed first-
      * significant-digit shares of o_totalprice against log10(1+1/d).
      * The digit comes from the DECIMAL(18,2) STRING form, not from
      * floor(log10(x)) — a float log straddles power-of-ten boundaries
      * (log10(1000) can evaluate 2.999…96) and would make the digit
      * engine-dependent; the decimal cast rounds identically on both
      * engines. One grouped count; nine output rows.
      */
    QueryDef(
      "q366_benford",
      """WITH d AS (
        |  SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1) AS dig
        |  FROM orders),
        |c AS (SELECT CAST(dig AS INT) AS digit, count(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT sum(n) AS tn FROM c)
        |SELECT digit, CAST(n AS BIGINT) AS n,
        |  round(n / CAST(tn AS DOUBLE), 6) AS obs_share,
        |  round(ln(1.0 + 1.0/digit) / ln(10.0), 6) AS benford_share,
        |  round(abs(n / CAST(tn AS DOUBLE) - ln(1.0 + 1.0/digit) / ln(10.0)), 6) AS abs_gap
        |FROM c, t ORDER BY digit""".stripMargin) { (s, d) =>
      val c = Tables.orders(s, d)
        .select(substring(col("o_totalprice").cast("decimal(18,2)").cast("string"),
          1, 1).cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val t = c.agg(sum(col("n")).as("tn"))
      c.crossJoin(broadcast(t))
        .selectExpr("digit", "CAST(n AS BIGINT) AS n",
          "round(n / CAST(tn AS DOUBLE), 6) AS obs_share",
          "round(ln(1.0 + 1.0/digit) / ln(10.0), 6) AS benford_share",
          "round(abs(n / CAST(tn AS DOUBLE) - ln(1.0 + 1.0/digit) / ln(10.0)), 6) AS abs_gap")
        .orderBy("digit")
    },

    /** Theta-sketch set intersection (the KMV/theta estimator of
      * Dasgupta et al. 2016): per event type, the k=64 smallest
      * md5-derived user hashes form the sketch with θ = its k-th
      * value; a pair's intersection estimate is
      * |{common sketch entries below min(θ_a, θ_b)}| / min(θ_a, θ_b).
      * Emitted NEXT TO the exact intersection and the relative error —
      * the q279 measured-error discipline: a sketch you have not
      * measured is a sketch you cannot trust. Deterministic md5
      * uniforms make sketches, estimates, and errors engine-portable.
      *
      * Scale shape: sketches are bounded-heap TopKPerGroup cuts (64
      * rows per type ever shuffle); pair estimates join 64-row
      * sketches; ONLY the exact-intersection audit column touches the
      * full distinct set (at 100 TB you drop that column and keep the
      * estimate — that is the point of the sketch).
      */
    QueryDef(
      "q362_theta_intersect",
      s"""WITH du AS (
         |  SELECT DISTINCT event_type AS et, user_id FROM events),
         |h AS (
         |  SELECT et, user_id, ${u01Sql("'theta1#' || user_id")} AS u FROM du),
         |sk AS (
         |  SELECT et, user_id, u,
         |    row_number() OVER (PARTITION BY et ORDER BY u, user_id) AS r
         |  FROM h),
         |kmv AS (SELECT et, user_id, u FROM sk WHERE r <= 64),
         |theta AS (SELECT et, max(u) AS th FROM kmv GROUP BY 1),
         |pairs AS (
         |  SELECT a.et AS et_a, b.et AS et_b, least(ta.th, tb.th) AS th
         |  FROM (SELECT DISTINCT et FROM du) a
         |  JOIN (SELECT DISTINCT et FROM du) b ON a.et < b.et
         |  JOIN theta ta ON ta.et = a.et JOIN theta tb ON tb.et = b.et),
         |est AS (
         |  SELECT p.et_a, p.et_b, p.th,
         |    count(*) FILTER (WHERE ka.u < p.th) AS n_common
         |  FROM pairs p
         |  JOIN kmv ka ON ka.et = p.et_a
         |  JOIN kmv kb ON kb.et = p.et_b AND kb.user_id = ka.user_id
         |  GROUP BY 1, 2, 3),
         |exact AS (
         |  SELECT x.et AS et_a, y.et AS et_b, count(*) AS n_exact
         |  FROM du x JOIN du y ON y.user_id = x.user_id AND x.et < y.et
         |  GROUP BY 1, 2)
         |SELECT e.et_a, e.et_b, CAST(e.n_exact AS BIGINT) AS n_exact,
         |  round(coalesce(s.n_common, 0) / s.th, 2) AS n_est,
         |  round(abs(coalesce(s.n_common, 0) / s.th - e.n_exact)
         |    / e.n_exact, 6) AS rel_err
         |FROM exact e LEFT JOIN est s ON s.et_a = e.et_a AND s.et_b = e.et_b
         |ORDER BY e.et_a, e.et_b""".stripMargin) { (s, d) =>
      val du = Tables.events(s, d)
        .select(col("event_type").as("et"), col("user_id")).distinct()
      val h = du.withColumn("u", u01(concat(lit("theta1#"), col("user_id"))))
      val kmv = graft.plans.TopKPerGroupOps.topKPerGroup(s, h, Seq(col("et")),
        Seq(col("u").asc, col("user_id").asc), 64)
      val theta = kmv.groupBy(col("et")).agg(max(col("u")).as("th"))
      val ets = du.select(col("et")).distinct()
      val pairs = ets.select(col("et").as("et_a"))
        .join(ets.select(col("et").as("et_b")), col("et_a") < col("et_b"))
        .join(broadcast(theta.select(col("et").as("ta"), col("th").as("tha"))),
          col("ta") === col("et_a"))
        .join(broadcast(theta.select(col("et").as("tb"), col("th").as("thb"))),
          col("tb") === col("et_b"))
        .select(col("et_a"), col("et_b"), least(col("tha"), col("thb")).as("th"))
      val est = pairs
        .join(broadcast(kmv.select(col("et").as("ka_et"), col("user_id").as("ka_uid"),
          col("u").as("ka_u"))), col("ka_et") === col("et_a"))
        .join(broadcast(kmv.select(col("et").as("kb_et"), col("user_id").as("kb_uid"))),
          col("kb_et") === col("et_b") && col("kb_uid") === col("ka_uid"))
        .groupBy(col("et_a"), col("et_b"), col("th"))
        .agg(count(when(col("ka_u") < col("th"), 1)).as("n_common"))
      val exact = du.select(col("et").as("x_et"), col("user_id").as("x_uid"))
        .join(du.select(col("et").as("y_et"), col("user_id").as("y_uid")),
          col("y_uid") === col("x_uid") && col("x_et") < col("y_et"))
        .groupBy(col("x_et").as("et_a"), col("y_et").as("et_b"))
        .agg(count(lit(1)).as("n_exact"))
      exact.join(broadcast(est), Seq("et_a", "et_b"), "left")
        .select(col("et_a"), col("et_b"), col("n_exact"),
          round(coalesce(col("n_common"), lit(0L)) / col("th"), 2).as("n_est"),
          r6(abs(coalesce(col("n_common"), lit(0L)) / col("th") - col("n_exact")) /
            col("n_exact")).as("rel_err"))
        .orderBy("et_a", "et_b")
    }
  )
}
