package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-20 batch: the model/corpus EVALUATION shelf — the readouts an
  * LLM team computes over generation samples, retrieval runs, rater
  * pools, and the corpus itself:
  *
  *  - q408 unbiased pass@k (Chen et al. 2021, "Evaluating Large
  *    Language Models Trained on Code", eq. in §2.1): per task with n
  *    samples / c successes, 1 − C(n−c,k)/C(n,k), the estimator HumanEval
  *    standardized — naive (c/n)^... is biased; the combinatorial form
  *    is exact.
  *  - q409 corpus-clipped BLEU-2 overlap of the eval split against the
  *    train corpus (Papineni et al., ACL 2002 modified n-gram
  *    precision) — the graded companion of q138's boolean
  *    contamination flag and q368's containment: how MUCH of an eval
  *    doc is reconstructible from train n-grams.
  *  - q410 ERR@10 (Chapelle et al., CIKM 2009 expected reciprocal
  *    rank) of the multiprobe ANN ranking — the cascade-model
  *    companion of q280's nDCG on the identical system/truth lists.
  *  - q411 Fleiss' kappa (Fleiss 1971) over a fixed-size rater panel —
  *    the multi-rater generalization of q392's two-rater Cohen kappa.
  *  - q412 Dirichlet-smoothed query likelihood scoring (Zhai &
  *    Lafferty, SIGIR 2001; μ = 300) — the language-model retrieval
  *    scorer next to q178's BM25 on the same 3-term query workload.
  *  - q413 Chao1 vocabulary richness + Good's coverage (Chao 1984;
  *    Good 1953) per source — how many unique tokens the 100 TB corpus
  *    REALLY has, estimated from singleton/doubleton counts; the
  *    planning number behind q355's vocab budget.
  *
  * Scale shapes: q408 is one user-grain aggregate + a 3-row k grid;
  * q409 two token-grain hash joins (unigram + bigram key), never
  * doc-pairs; q410 two bounded TakeOrdered lists + a 10-row window;
  * q411 one order-grain window + O(categories) folds; q412 map-side
  * term filters + one broadcast stats row (q178's shape); q413 one
  * (source, token) aggregate reduced to O(sources) rows. Exact integer
  * counts everywhere; doubles only in final closed forms written
  * identically on both engines; order-free decimal folds for the
  * cross-row accumulations.
  */
object Round20Ops {
  private def r6(c: Column) = round(c, 6)
  private def dsum(c: Column): Column = sum(c.cast("decimal(38,12)")).cast("double")
  private val duckWords = "list_filter(string_split(text, ' '), x -> x != '')"

  val defs: Seq[QueryDef] = Seq(

    /** Unbiased pass@k over per-user "attempt" histories: n = click
      * events, success = value > 60, tasks = users with n ≥ 10,
      * k ∈ {1, 5, 10}. The product form Π (n−c−i)/(n−i) is evaluated
      * as an ascending left fold in BOTH engines (Spark `aggregate`
      * over `sequence`, DuckDB `list_reduce` over `range` — same IEEE
      * multiply order, and the 1.0 seed is exact), so the doubles are
      * bit-identical; the n−c < k branch short-circuits to 1 exactly as
      * in the reference estimator. One user-grain shuffle; the k grid
      * is 3 literal rows.
      */
    QueryDef(
      "q408_pass_at_k",
      """WITH a AS (
        |  SELECT user_id, CAST(count(*) AS DOUBLE) AS n,
        |    CAST(count_if(value > 60) AS DOUBLE) AS c
        |  FROM events WHERE event_type = 'click'
        |  GROUP BY 1 HAVING count(*) >= 10),
        |kk AS (SELECT unnest([1, 5, 10]) AS k),
        |p AS (
        |  SELECT a.user_id, kk.k,
        |    CASE WHEN a.n - a.c < kk.k THEN 1.0
        |         ELSE 1.0 - list_reduce(list_transform(range(0, kk.k),
        |             i -> (a.n - a.c - i) / (a.n - i)), (x, y) -> x * y)
        |    END AS pass
        |  FROM a CROSS JOIN kk)
        |SELECT k, CAST(count(*) AS BIGINT) AS n_tasks,
        |  round(CAST(sum(CAST(pass AS DECIMAL(38,12))) AS DOUBLE) / count(*), 6)
        |    AS pass_at_k
        |FROM p GROUP BY 1 ORDER BY k""".stripMargin) { (s, d) =>
      val a = Tables.events(s, d).where(col("event_type") === "click")
        .groupBy("user_id")
        .agg(count(lit(1)).cast("double").as("n"),
          count_if(col("value") > 60).cast("double").as("c"))
        .where(col("n") >= 10)
      val kk = s.range(1).select(explode(array(lit(1), lit(5), lit(10))).as("k"))
      val p = a.crossJoin(broadcast(kk)).select(col("user_id"), col("k"),
        when(col("n") - col("c") < col("k"), lit(1.0))
          .otherwise(lit(1.0) - expr(
            """aggregate(sequence(0, k - 1), CAST(1.0 AS DOUBLE),
              |  (acc, i) -> acc * (n - c - i) / (n - i))""".stripMargin))
          .as("pass"))
      p.groupBy("k")
        .agg(count(lit(1)).as("n_tasks"), r6(dsum(col("pass")) / count(lit(1))).as("pass_at_k"))
        .select(col("k"), col("n_tasks").cast("long").as("n_tasks"), col("pass_at_k"))
        .orderBy("k")
    },

    /** Corpus-clipped BLEU-2 of eval docs vs the train split (the q138
      * 80/20 portable md5 split): per eval doc, modified unigram and
      * bigram precision with counts clipped at the train corpus total
      * (single-reference convention, documented), score =
      * √(p1·p2), 0 when either precision is 0. Flags eval docs that are
      * n-gram-reconstructible from train — the graded decontamination
      * readout. Two hash-partitioned joins on the n-gram key (AQE-sized);
      * per-doc sums are exact integers, the final sqrt of a product of
      * two exact rationals is the same IEEE expression both engines.
      */
    QueryDef(
      "q409_bleu_overlap",
      """WITH words AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w != '') AS ws,
        |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 10 AS bucket
        |  FROM documents),
        |uni AS (SELECT doc_id, bucket, unnest(ws) AS w FROM words),
        |bi AS (
        |  SELECT doc_id, bucket,
        |    unnest([ws[i] || ' ' || ws[i + 1] FOR i IN range(1, len(ws))]) AS g
        |  FROM words WHERE len(ws) >= 2),
        |cu AS (SELECT doc_id, w, count(*) AS c FROM uni WHERE bucket >= 8 GROUP BY 1, 2),
        |tu AS (SELECT w AS tw, count(*) AS tc FROM uni WHERE bucket < 8 GROUP BY 1),
        |cb AS (SELECT doc_id, g, count(*) AS c FROM bi WHERE bucket >= 8 GROUP BY 1, 2),
        |tb AS (SELECT g AS tg, count(*) AS tc FROM bi WHERE bucket < 8 GROUP BY 1),
        |p1 AS (
        |  SELECT doc_id, sum(c) AS n_uni, sum(least(c, coalesce(tc, 0))) AS m_uni
        |  FROM cu LEFT JOIN tu ON tw = w GROUP BY 1),
        |p2 AS (
        |  SELECT doc_id, sum(c) AS n_bi, sum(least(c, coalesce(tc, 0))) AS m_bi
        |  FROM cb LEFT JOIN tb ON tg = g GROUP BY 1),
        |sc AS (
        |  SELECT p1.doc_id, n_uni, m_uni,
        |    coalesce(n_bi, 0) AS n_bi, coalesce(m_bi, 0) AS m_bi
        |  FROM p1 LEFT JOIN p2 ON p2.doc_id = p1.doc_id)
        |SELECT doc_id, CAST(n_uni AS BIGINT) AS n_uni, CAST(m_uni AS BIGINT) AS m_uni,
        |  CAST(n_bi AS BIGINT) AS n_bi, CAST(m_bi AS BIGINT) AS m_bi,
        |  round(CASE WHEN m_uni > 0 AND m_bi > 0
        |    THEN sqrt((CAST(m_uni AS DOUBLE) / n_uni) * (CAST(m_bi AS DOUBLE) / n_bi))
        |    ELSE 0.0 END, 6) AS bleu2
        |FROM sc ORDER BY bleu2 DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      import graft.functions.Text
      val words = Tables.documents(s, d)
        .select(col("doc_id"), Text.wordsCol(col("text")).as("ws"),
          (conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
            .cast("long") % 10).as("bucket"))
      val uni = words.select(col("doc_id"), col("bucket"), explode(col("ws")).as("w"))
      val bi = words.where(size(col("ws")) >= 2)
        .select(col("doc_id"), col("bucket"),
          explode(expr(
            """transform(sequence(1, size(ws) - 1),
              |  i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))""".stripMargin))
            .as("g"))
      val cu = uni.where(col("bucket") >= 8).groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      val tu = uni.where(col("bucket") < 8).groupBy(col("w").as("tw")).agg(count(lit(1)).as("tc"))
      val cb = bi.where(col("bucket") >= 8).groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      val tb = bi.where(col("bucket") < 8).groupBy(col("g").as("tg")).agg(count(lit(1)).as("tc"))
      val p1 = cu.join(tu, col("tw") === col("w"), "left")
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_uni"),
          sum(least(col("c"), coalesce(col("tc"), lit(0L)))).as("m_uni"))
      val p2 = cb.join(tb, col("tg") === col("g"), "left")
        .groupBy(col("doc_id").as("d2"))
        .agg(sum(col("c")).as("n_bi"),
          sum(least(col("c"), coalesce(col("tc"), lit(0L)))).as("m_bi"))
      p1.join(p2, col("d2") === col("doc_id"), "left")
        .select(col("doc_id"), col("n_uni").cast("long").as("n_uni"),
          col("m_uni").cast("long").as("m_uni"),
          coalesce(col("n_bi"), lit(0L)).cast("long").as("n_bi"),
          coalesce(col("m_bi"), lit(0L)).cast("long").as("m_bi"))
        .withColumn("bleu2", r6(
          when(col("m_uni") > 0 && col("m_bi") > 0,
            sqrt((col("m_uni").cast("double") / col("n_uni")) *
              (col("m_bi").cast("double") / col("n_bi"))))
            .otherwise(lit(0.0))))
        .orderBy(col("bleu2").desc, col("doc_id")).limit(20)
    },

    /** ERR@10 of the multiprobe ANN list (q280's identical system and
      * truth lists, graded relevance g = 11 − exact-rank, gmax = 10):
      * ERR = Σ_r (1/r)·R_r·Π_{i<r}(1−R_i) with R = (2^g − 1)/2^gmax —
      * the cascade user model where nDCG's positional discount is
      * replaced by the probability the user SURVIVES the earlier
      * results. The stop-probability prefix product runs as
      * exp(Σ ln(1−R)) over a 10-row bounded window (identical
      * expression both engines — the q178 ln-parity contract); the
      * final sum is an order-free decimal fold.
      */
    QueryDef(
      "q410_err_eval",
      s"""WITH ${HybridOps.annListsSql},
        |gr AS (
        |  SELECT sys.pos,
        |    CASE WHEN ex.re IS NOT NULL
        |      THEN (power(2.0, 11 - ex.re) - 1.0) / 1024.0 ELSE 0.0 END AS rr
        |  FROM sys LEFT JOIN ex ON ex.vec_id = sys.vec_id),
        |cp AS (
        |  SELECT pos, rr,
        |    exp(coalesce(sum(ln(1.0 - rr)) OVER (ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)) AS surv
        |  FROM gr)
        |SELECT CAST(count(*) AS BIGINT) AS n_sys,
        |  round(CAST(sum(CAST(rr * surv / pos AS DECIMAL(38,12))) AS DOUBLE), 6)
        |    AS err10,
        |  round(max(rr), 6) AS max_gain
        |FROM cp""".stripMargin) { (s, d) =>
      val (ex, sys) = HybridOps.annLists(s, d)
      val gr = sys.join(ex, col("evid") === col("vec_id"), "left")
        .select(col("pos"),
          when(col("re").isNotNull,
            (pow(lit(2.0), lit(11) - col("re")) - lit(1.0)) / lit(1024.0))
            .otherwise(lit(0.0)).as("rr"))
      // 10-row bounded window: the prefix survival product of the cascade
      val w = Window.orderBy("pos").rowsBetween(Window.unboundedPreceding, -1)
      val cp = gr.select(col("pos"), col("rr"),
        exp(coalesce(sum(log(lit(1.0) - col("rr"))).over(w), lit(0.0))).as("surv"))
      cp.agg(count(lit(1)).cast("long").as("n_sys"),
        r6(dsum(col("rr") * col("surv") / col("pos"))).as("err10"),
        r6(max(col("rr"))).as("max_gain"))
    },

    /** Fleiss' kappa over a fixed 3-rater panel: items = orders with ≥3
      * lineitems, raters = the first three lineitems by linenumber,
      * category = l_returnflag. P_i = (Σ_k n_ik² − n)/(n(n−1)) per item,
      * P̄ its mean, P_e = Σ p_k² over marginal category shares, κ =
      * (P̄ − P_e)/(1 − P_e). One order-grain partitioned window picks
      * the panel; everything after is exact integer counts folded to
      * O(categories) rows — at 100 TB the kappa costs one shuffle.
      */
    QueryDef(
      "q411_fleiss_kappa",
      """WITH r3 AS (
        |  SELECT l_orderkey, l_returnflag,
        |    row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber,
        |      l_partkey, l_suppkey, l_quantity, l_extendedprice) AS rn
        |  FROM lineitem),
        |f AS (SELECT l_orderkey, l_returnflag FROM r3 WHERE rn <= 3),
        |ok AS (SELECT l_orderkey FROM f GROUP BY 1 HAVING count(*) = 3),
        |nik AS (
        |  SELECT f.l_orderkey, f.l_returnflag AS cat, count(*) AS m
        |  FROM f JOIN ok ON ok.l_orderkey = f.l_orderkey GROUP BY 1, 2),
        |pi AS (
        |  SELECT l_orderkey, (CAST(sum(m * m) AS DOUBLE) - 3) / 6.0 AS p_i
        |  FROM nik GROUP BY 1),
        |tot AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_items,
        |    CAST(sum(CAST(p_i AS DECIMAL(38,12))) AS DOUBLE) AS sp
        |  FROM pi),
        |pk AS (SELECT cat, CAST(sum(m) AS DOUBLE) AS mk FROM nik GROUP BY 1),
        |pe AS (
        |  SELECT CAST(sum(CAST((mk / (3.0 * t.n_items)) * (mk / (3.0 * t.n_items))
        |    AS DECIMAL(38,12))) AS DOUBLE) AS p_e
        |  FROM pk CROSS JOIN tot t)
        |SELECT CAST(t.n_items AS BIGINT) AS n_items,
        |  round(t.sp / t.n_items, 6) AS p_bar,
        |  round(pe.p_e, 6) AS p_e,
        |  round((t.sp / t.n_items - pe.p_e) / (1.0 - pe.p_e), 6) AS kappa
        |FROM tot t CROSS JOIN pe""".stripMargin) { (s, d) =>
      // l_linenumber alone is NOT unique per order in this generator —
      // the full column list makes the panel pick a total order
      val r3 = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_returnflag"),
        row_number().over(
          Window.partitionBy("l_orderkey").orderBy(col("l_linenumber"),
            col("l_partkey"), col("l_suppkey"), col("l_quantity"),
            col("l_extendedprice"))).as("rn"))
      val f = r3.where(col("rn") <= 3).select(col("l_orderkey"), col("l_returnflag"))
      val ok = f.groupBy("l_orderkey").agg(count(lit(1)).as("nf")).where(col("nf") === 3)
        .select(col("l_orderkey").as("oko"))
      val nik = f.join(ok, col("oko") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("l_returnflag").as("cat"))
        .agg(count(lit(1)).as("m"))
      val pi = nik.groupBy("l_orderkey")
        .agg(((sum(col("m") * col("m")).cast("double") - 3) / lit(6.0)).as("p_i"))
      val tot = pi.agg(count(lit(1)).cast("double").as("n_items"), dsum(col("p_i")).as("sp"))
      val pk = nik.groupBy("cat").agg(sum(col("m")).cast("double").as("mk"))
      val pe = pk.crossJoin(broadcast(tot))
        .agg(dsum((col("mk") / (lit(3.0) * col("n_items"))) *
          (col("mk") / (lit(3.0) * col("n_items")))).as("p_e"))
      tot.crossJoin(broadcast(pe))
        .select(col("n_items").cast("long").as("n_items"),
          r6(col("sp") / col("n_items")).as("p_bar"),
          r6(col("p_e")).as("p_e"),
          r6((col("sp") / col("n_items") - col("p_e")) / (lit(1.0) - col("p_e")))
            .as("kappa"))
    },

    /** Dirichlet-smoothed query likelihood (μ = 300) for q178's 3-term
      * query: score(d) = Σ_t ln((tf_td + μ·p_t)/(|d| + μ)), p_t the
      * corpus unigram MLE. Same scale shape as BM25: per-doc tf from
      * map-side array filters (no explode, no shuffle), ONE global
      * aggregate for the O(terms) corpus stats broadcast back, per-term
      * sum written in fixed term order so both engines add identical
      * doubles.
      */
    QueryDef(
      "q412_query_likelihood",
      s"""WITH ${SearchOps.queryTfSql},
        |st AS (
        |  SELECT sum(dl) AS tot, sum(tf1) AS c1, sum(tf2) AS c2, sum(tf3) AS c3
        |  FROM tf)
        |SELECT doc_id, round(
        |    ln((tf1 + 300.0 * (st.c1 / st.tot)) / (dl + 300.0)) +
        |    ln((tf2 + 300.0 * (st.c2 / st.tot)) / (dl + 300.0)) +
        |    ln((tf3 + 300.0 * (st.c3 / st.tot)) / (dl + 300.0)), 6) AS ql_score
        |FROM tf, st
        |WHERE tf1 + tf2 + tf3 > 0
        |ORDER BY ql_score DESC, doc_id LIMIT 10""".stripMargin) { (s, d) =>
      val tf = SearchOps.queryTf(s, d)
      val st = tf.agg(sum(col("dl")).as("tot"), sum(col("tf1")).as("c1"),
        sum(col("tf2")).as("c2"), sum(col("tf3")).as("c3"))
      def term(tfc: String, cc: String) =
        log((col(tfc) + lit(300.0) * (col(cc) / col("tot"))) / (col("dl") + lit(300.0)))
      tf.crossJoin(broadcast(st))
        .where(col("tf1") + col("tf2") + col("tf3") > 0)
        .select(col("doc_id"),
          r6(term("tf1", "c1") + term("tf2", "c2") + term("tf3", "c3")).as("ql_score"))
        .orderBy(col("ql_score").desc, col("doc_id")).limit(10)
    },

    /** Chao1 richness and Good's coverage per source: S_chao1 = S_obs +
      * f1(f1−1)/(2(f2+1)) (the bias-corrected form, defined even at
      * f2 = 0), coverage = 1 − f1/N — singleton/doubleton counts say
      * how much vocabulary the sample has NOT seen, the number that
      * sizes tokenizer vocab (q355) and OOV budgets before the full
      * 100 TB pass. One (source, token) aggregate → one O(sources)
      * frequency-of-frequencies fold; exact integers until the two
      * final closed forms.
      */
    QueryDef(
      "q413_chao1_richness",
      s"""WITH tok AS (
        |  SELECT source, unnest($duckWords) AS w FROM documents),
        |tc AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
        |ag AS (
        |  SELECT source, count(*) AS s_obs,
        |    count_if(c = 1) AS f1, count_if(c = 2) AS f2, sum(c) AS n_tok
        |  FROM tc GROUP BY 1)
        |SELECT source, CAST(s_obs AS BIGINT) AS s_obs, CAST(f1 AS BIGINT) AS f1,
        |  CAST(f2 AS BIGINT) AS f2, CAST(n_tok AS BIGINT) AS n_tokens,
        |  round(s_obs + CAST(f1 AS DOUBLE) * (f1 - 1) / (2.0 * (f2 + 1)), 6) AS chao1,
        |  round(1.0 - CAST(f1 AS DOUBLE) / n_tok, 6) AS good_coverage
        |FROM ag ORDER BY source""".stripMargin) { (s, d) =>
      import graft.functions.Text
      val tc = Tables.documents(s, d)
        .select(col("source"), explode(Text.wordsCol(col("text"))).as("w"))
        .groupBy("source", "w").agg(count(lit(1)).as("c"))
      tc.groupBy("source")
        .agg(count(lit(1)).as("s_obs"), count_if(col("c") === 1).as("f1"),
          count_if(col("c") === 2).as("f2"), sum(col("c")).as("n_tok"))
        .select(col("source"), col("s_obs").cast("long").as("s_obs"),
          col("f1").cast("long").as("f1"), col("f2").cast("long").as("f2"),
          col("n_tok").cast("long").as("n_tokens"),
          r6(col("s_obs") + col("f1").cast("double") * (col("f1") - 1) /
            (lit(2.0) * (col("f2") + 1))).as("chao1"),
          r6(lit(1.0) - col("f1").cast("double") / col("n_tok")).as("good_coverage"))
        .orderBy("source")
    }
  )
}
