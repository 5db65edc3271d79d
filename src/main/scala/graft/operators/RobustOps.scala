package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 robust-statistics and sampling operators: deterministic
  * weighted sampling (exponential-key reservoir), rolling correlation
  * from windowed moment sums, median-absolute-deviation outlier
  * detection, and a Benford first-digit conformance profile — the
  * statistical-QA layer of a training-data pipeline.
  */
object RobustOps {
  import CausalOps.r6

  /** Portable 60-bit hash → uniform in (0,1): (h+1) / (2^60+1). The
    * divisor literal rounds to the same double in both engines, so the
    * uniform — and everything derived from it — is cross-engine
    * deterministic. */
  private val HashScale = "1152921504606846977.0"

  val defs: Seq[QueryDef] = Seq(

    /** Weighted sampling without replacement, the Efraimidis-Spirakis
      * exponential-key scheme: key = -ln(u)/w with u a salted-hash
      * uniform; the k smallest keys ARE a weighted sample. RNG-free, so
      * the sample is reproducible under reruns/backfills AND
      * hash-verifiable — and at 100 TB the top-k-by-key is the same
      * bounded-heap pattern as q108 (no sort of the population, no
      * second pass; weights n_chars bias toward long documents).
      */
    QueryDef(
      "q166_weighted_sample",
      s"""WITH k AS (
         |  SELECT doc_id, n_chars,
         |    -ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':ws'), 1, 15))::BIGINT + 1.0)
         |        / $HashScale) / n_chars AS key
         |  FROM documents)
         |SELECT doc_id, n_chars, round(key, 12) AS key
         |FROM k ORDER BY key, doc_id LIMIT 10""".stripMargin) { (s, d) =>
      val u = (conv(substring(md5(concat(col("doc_id").cast("string"), lit(":ws"))),
        1, 15), 16, 10).cast("double") + 1.0) / HashScale.toDouble
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          (-log(u) / col("n_chars")).as("key"))
        .orderBy(col("key"), col("doc_id")).limit(10)
        .select(col("doc_id"), col("n_chars"), round(col("key"), 12).as("key"))
    },

    /** 7-day rolling correlation between the click and purchase daily
      * mean series, computed from windowed moment sums (n, Σx, Σy, Σxy,
      * Σx², Σy²) — the numerically standard one-pass form, and the only
      * form that works as a WINDOW at scale (corr() isn't a window
      * aggregate; the sums are). Aggregate-first: the window runs over
      * O(days) rows. Exact-decimal daily means keep engines
      * bit-identical before the double formula.
      */
    QueryDef(
      "q167_rolling_corr",
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(sum(CASE WHEN event_type='click' THEN CAST(value AS DECIMAL(18,3)) ELSE 0 END) AS DOUBLE)
        |      / nullif(count_if(event_type='click'), 0) AS x,
        |    CAST(sum(CASE WHEN event_type='purchase' THEN CAST(value AS DECIMAL(18,3)) ELSE 0 END) AS DOUBLE)
        |      / nullif(count_if(event_type='purchase'), 0) AS y
        |  FROM events GROUP BY 1),
        |r AS (
        |  SELECT day, x, y,
        |    count(*) OVER w AS n,
        |    sum(x) OVER w AS sx, sum(y) OVER w AS sy,
        |    sum(x*y) OVER w AS sxy, sum(x*x) OVER w AS sxx, sum(y*y) OVER w AS syy
        |  FROM daily WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT strftime(day, '%Y-%m-%d') AS day,
        |  round((n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS corr7
        |FROM r WHERE n = 7 ORDER BY day""".stripMargin) { (s, d) =>
      val dec = (t: String) =>
        sum(when(col("event_type") === t, col("value").cast("decimal(18,3)"))
          .otherwise(lit(0).cast("decimal(18,3)"))).cast("double") /
          nullif(count_if(col("event_type") === t), lit(0L))
      val daily = Tables.events(s, d)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(dec("click").as("x"), dec("purchase").as("y"))
      val w = Window.orderBy(col("day")).rowsBetween(-6, 0)
      val r = daily.select(col("day"),
        count(lit(1)).over(w).as("n"),
        sum(col("x")).over(w).as("sx"), sum(col("y")).over(w).as("sy"),
        sum(col("x") * col("y")).over(w).as("sxy"),
        sum(col("x") * col("x")).over(w).as("sxx"),
        sum(col("y") * col("y")).over(w).as("syy"))
      r.where(col("n") === 7)
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          r6((col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy")))).as("corr7"))
        .orderBy("day")
    },

    /** Robust outlier detection: per event_type median + median absolute
      * deviation, flag |x − med| > 6·MAD. Three grouped aggregates (the
      * two medians are exact interpolated percentiles — at 100 TB the
      * drop-in is approx_percentile with the same plan shape) and one
      * broadcast-joined filter pass; robust to the heavy tail that
      * makes z-score outliers (q113) useless on skewed value columns.
      */
    QueryDef(
      "q168_mad_outliers",
      """WITH m AS (SELECT event_type, median(value) AS med FROM events GROUP BY 1),
        |d AS (
        |  SELECT e.event_type, abs(e.value - m.med) AS adev
        |  FROM events e JOIN m ON e.event_type = m.event_type),
        |mad AS (SELECT event_type, median(adev) AS mad FROM d GROUP BY 1)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_outliers,
        |  round(min(e.value), 2) AS min_out, round(max(e.value), 2) AS max_out
        |FROM events e JOIN m ON e.event_type = m.event_type
        |JOIN mad ON e.event_type = mad.event_type
        |WHERE abs(e.value - m.med) > 6 * mad.mad
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val m = e.groupBy("event_type").agg(median(col("value")).as("med"))
      val mad = e.join(broadcast(m), Seq("event_type"))
        .groupBy("event_type")
        .agg(median(abs(col("value") - col("med"))).as("mad"))
      e.join(broadcast(m), Seq("event_type"))
        .join(broadcast(mad), Seq("event_type"))
        .where(abs(col("value") - col("med")) > lit(6) * col("mad"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_outliers"),
          round(min(col("value")), 2).as("min_out"),
          round(max(col("value")), 2).as("max_out"))
        .orderBy("event_type")
    },

    /** Benford first-digit conformance of order totals — the forensic
      * data-quality screen (synthetic uniform data should FAIL Benford,
      * and visibly does: observed ≈ 0.22 per digit vs log10(1+1/d)).
      * floor() before the digit extraction on BOTH sides: DuckDB's
      * double→BIGINT cast rounds while Spark's truncates — the one
      * dialect trap in the query.
      */
    QueryDef(
      "q169_benford_digits",
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders WHERE o_totalprice >= 1),
        |c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit)
        |SELECT digit, n, round(CAST(n AS DOUBLE) / sum(n) OVER (), 6) AS observed,
        |  round(log10(1.0 + 1.0/digit), 6) AS benford
        |FROM c ORDER BY digit""".stripMargin) { (s, d) =>
      val counts = Tables.load(s, d, "orders")
        .where(col("o_totalprice") >= 1)
        .select(substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
          .cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      counts.select(col("digit"), col("n"),
          r6(col("n").cast("double") / sum(col("n")).over(Window.partitionBy()))
            .as("observed"),
          r6(log10(lit(1.0) + lit(1.0) / col("digit"))).as("benford"))
        .orderBy("digit")
    },

    /** Fault-tolerant ingestion via the ANSI try_* family: dirty
      * strings (integer-derived so both engines render them
      * byte-identically) parse with try_cast (malformed → null, never
      * a job abort), try_divide survives the zero denominators, and
      * try_element_at survives the missing fractional part — the
      * never-fail ingestion contract a 100 TB load needs (one poison
      * row must not kill a 6-hour job). DuckDB states the same
      * semantics with TRY_CAST / CASE / out-of-range list access.
      */
    QueryDef(
      "q217_try_ingestion",
      """WITH dirty AS (
        |  SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'N/A'
        |         WHEN o_orderkey % 5 = 0 THEN ''
        |         ELSE CAST((o_orderkey * 37) % 9973 AS VARCHAR) || '.' ||
        |              CAST(o_orderkey % 10 AS VARCHAR) END AS raw,
        |    o_orderkey % 3 AS denom
        |  FROM orders),
        |parsed AS (
        |  SELECT k, TRY_CAST(raw AS DOUBLE) AS val,
        |    CASE WHEN denom = 0 THEN NULL
        |         ELSE CAST(k AS DOUBLE) / denom END AS ratio,
        |    string_split(raw, '.')[2] AS frac
        |  FROM dirty)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(val) AS BIGINT) AS n_parsed,
        |  round(CAST(sum(CAST(val AS DECIMAL(28,8))) AS DOUBLE), 2) AS parsed_total,
        |  CAST(count(ratio) AS BIGINT) AS n_divided,
        |  CAST(count(frac) AS BIGINT) AS n_with_frac
        |FROM parsed""".stripMargin) { (s, d) =>
      val dirty = Tables.load(s, d, "orders")
        .select(col("o_orderkey").as("k"),
          when(col("o_orderkey") % 7 === 0, "N/A")
            .when(col("o_orderkey") % 5 === 0, "")
            .otherwise(concat(((col("o_orderkey") * 37) % 9973).cast("string"),
              lit("."), (col("o_orderkey") % 10).cast("string"))).as("raw"),
          (col("o_orderkey") % 3).as("denom"))
      dirty.select(col("k"),
          expr("try_cast(raw AS DOUBLE)").as("val"),
          try_divide(col("k"), col("denom")).as("ratio"),
          expr("try_element_at(split(raw, '\\\\.'), 2)").as("frac"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("val")).as("n_parsed"),
          round(sum(col("val").cast("decimal(28,8)")).cast("double"), 2)
            .as("parsed_total"),
          count(col("ratio")).as("n_divided"),
          count(col("frac")).as("n_with_frac"))
    }
  )
}
