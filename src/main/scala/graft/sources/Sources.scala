package graft.sources

import graft.{PlanCache, QueryDef, Scratch, Tables}
import graft.operators.CausalOps.r2
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink surface (SURVEY.md §2.B group 1): CSV with explicit
  * schema, JSON parse, line-text scan, and parquet/CSV sinks — the
  * engine-side form of the reference's text time-series scan R1
  * (`run.py:47`) and B-matrix text sink R30 (`model.py:296-310`).
  *
  * Round-trip queries write under [[graft.Scratch.dir]] (this JVM's
  * scratch, one dir per input dir and tag) and read back, so the scan
  * path (schema application, type coercion, projection pushdown into
  * the format reader) is genuinely exercised; the oracle states the
  * same result straight off the parquet tables (the round trip is
  * semantically the identity).
  */
object Sources {

  /** The graft-series connector's day rollup, stated over the same
    * deterministic value function: the oracle of q116 and q117. */
  private val seriesSql =
    """SELECT day, count(*) AS n, round(sum(v), 2) AS total, round(avg(v), 6) AS mean_v
      |FROM (
      |  SELECT u.user_id, d.day,
      |    CAST(((u.user_id*31 + d.day*7) % 100) AS DOUBLE)/10.0 AS v
      |  FROM generate_series(0, 99) u(user_id), generate_series(0, 29) d(day)) t
      |GROUP BY day ORDER BY day""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    /** CSV sink + scan with explicit schema (no inference pass — at
      * 100 TB schema inference is a full extra read).
      */
    QueryDef(
      "q57_csv_roundtrip",
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_extendedprice),2) AS total,
        |  round(sum(l_quantity),2) AS qty
        |FROM lineitem WHERE l_orderkey % 5 = 0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val path = Scratch.dir(d, "lineitem_csv")
      Tables.lineitem(s, d)
        .where(col("l_orderkey") % 5 === 0)
        .select(col("l_orderkey"), col("l_returnflag"),
          col("l_quantity"), col("l_extendedprice"))
        .write.mode("overwrite").option("header", "true").csv(path)
      val schema = StructType(Seq(
        StructField("l_orderkey", LongType),
        StructField("l_returnflag", StringType),
        StructField("l_quantity", DoubleType),
        StructField("l_extendedprice", DoubleType)))
      s.read.schema(schema).option("header", "true").csv(path)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          r2(sum(col("l_extendedprice"))).as("total"),
          r2(sum(col("l_quantity"))).as("qty"))
        .orderBy("l_returnflag")
    },

    /** Structured JSON parse with an explicit schema: `from_json` the
      * props column into a typed struct (vs q31's per-path
      * get_json_object) and aggregate the typed field.
      */
    QueryDef(
      "q58_json_schema_parse",
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(min(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS BIGINT) AS min_k,
        |  CAST(max(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS BIGINT) AS max_k,
        |  count(CAST(json_extract_string(props,'$.k') AS BIGINT)) AS n_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      val propsSchema = StructType(Seq(StructField("k", LongType)))
      Tables.events(s, d)
        .withColumn("p", from_json(col("props"), propsSchema))
        .groupBy("event_type")
        .agg(sum(col("p.k")).as("sum_k"),
          min(col("p.k")).as("min_k"),
          max(col("p.k")).as("max_k"),
          count(col("p.k")).as("n_k"))
        .orderBy("event_type")
    },

    /** Line-text sink + scan (reference R1's `{disease}{tag}.txt` shape,
      * `run.py:47`): dump docs as `id<TAB>lang<TAB>text` lines, re-scan
      * with `read.text`, split/cast back to columns, aggregate.
      */
    QueryDef(
      "q59_text_scan",
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      val path = Scratch.dir(d, "docs_txt")
      Tables.documents(s, d)
        .select(concat_ws("\t",
          col("doc_id").cast("string"), col("lang"), col("text")).as("value"))
        .write.mode("overwrite").text(path)
      s.read.text(path)
        .select(split(col("value"), "\t", 3).as("f"))
        .select(element_at(col("f"), 2).as("lang"),
          element_at(col("f"), 3).as("text"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("total_chars"))
        .orderBy("lang")
    },

    /** Parquet sink + re-scan: partitioned write (the 100 TB layout —
      * partition pruning on the read path) then a pruned read of one
      * partition.
      */
    QueryDef(
      "q57b_parquet_partitioned_sink",
      """SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice),2) AS total
        |FROM orders WHERE o_orderstatus = 'O'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val path = Scratch.dir(d, "orders_part")
      Tables.orders(s, d)
        .write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
      s.read.parquet(path)
        .where(col("o_orderstatus") === "O") // partition-pruned scan
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), r2(sum(col("o_totalprice"))).as("total"))
        .orderBy("o_orderpriority")
    },

    /** Dynamic partition pruning (the runtime sibling of q57b's static
      * pruning): the fact side is partitioned by event_type and the
      * SELECTIVE predicate lives on the dim side (a non-partition
      * column), so only a runtime filter can prune — the broadcast
      * build-side values become a `dynamicpruningexpression` partition
      * filter on the fact scan, and the non-matching partitions are
      * never read. At 100 TB this is the difference between scanning
      * the whole fact table and scanning the two matching partitions.
      * PlanSpec asserts the pruning expression is present.
      */
    QueryDef(
      "q112_dpp_join",
      """SELECT event_type, count(*) AS n, round(sum(value),2) AS total
        |FROM events WHERE substr(event_type, 1, 1) = 'c'
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      // the partitioned fact is staged once per (session, input dir)
      val path = PlanCache.staged(s, Scratch.dir(d, "events_part"))(
        Tables.events(s, d).write.mode("overwrite").partitionBy("event_type").parquet(_))
      val fact = s.read.parquet(path)
      val dim = Tables.events(s, d).select("event_type").distinct()
        .withColumn("cat", substring(col("event_type"), 1, 1))
      fact.join(broadcast(dim.where(col("cat") === "c")), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), r2(sum(col("value"))).as("total"))
        .orderBy("event_type")
    },

    /** Custom DataSource V2 connector ([[graft.sources.v2.SeriesSource]],
      * registered as `format("graft-series")`): a partition-planned,
      * column-pruning generated time-grid table. The deterministic
      * integer value function lets the DuckDB oracle reproduce the
      * "external system" exactly, so the connector's partitioning and
      * row emission are hash-verified; PlanSpec asserts the pruned
      * read schema.
      */
    QueryDef(
      "q116_custom_source",
      seriesSql) { (s, _) =>
      s.read.format("graft-series")
        .option("users", "100").option("days", "30").option("partitions", "8")
        .load()
        .groupBy("day")
        .agg(count(lit(1)).as("n"), r2(sum(col("value"))).as("total"),
          round(avg(col("value")), 6).as("mean_v"))
        .orderBy("day")
    },

    /** The same connector consumed as a STREAM (MICRO_BATCH_READ +
      * MicroBatchStream on the shared scan): readStream over
      * graft-series, complete-mode aggregation, drained to a memory
      * sink — hash-verified against the identical oracle as the batch
      * q116, pinning batch/stream parity for the custom source.
      */
    QueryDef(
      "q117_stream_custom_source",
      seriesSql) { (s, _) =>
      val agg = s.readStream.format("graft-series")
        .option("users", "100").option("days", "30").option("partitions", "8")
        .load()
        .groupBy("day")
        .agg(count(lit(1)).as("n"), r2(sum(col("value"))).as("total"),
          round(avg(col("value")), 6).as("mean_v"))
      graft.streaming.Streaming.drain(s, agg, "graft_series_stream", "complete")
        .orderBy("day")
    },

    /** ORC sink + scan (group 1, third columnar format after parquet
      * and CSV): write a pruned projection as ORC, read it back and
      * aggregate. Same pushdown contract as parquet — the ORC reader
      * gets the predicate and the 3-column ReadSchema.
      */
    QueryDef(
      "q125_orc_roundtrip",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_extendedprice),2) AS total
        |FROM lineitem WHERE l_shipdate >= DATE '1995-06-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      val path = Scratch.dir(d, "lineitem_orc")
      Tables.lineitem(s, d)
        .where(col("l_shipdate") >= lit(java.sql.Date.valueOf("1995-06-01")))
        .select("l_returnflag", "l_linestatus", "l_extendedprice")
        .write.mode("overwrite").orc(path)
      s.read.orc(path)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), r2(sum(col("l_extendedprice"))).as("total"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    /** XML parse (group 1/7, Spark 4's native XML support): serialize
      * each order as an XML fragment, parse it back with `from_xml` +
      * an explicit schema, and aggregate the typed fields. The oracle
      * states the same result straight off the columns — the XML
      * encode/decode round trip is semantically the identity.
      */
    QueryDef(
      "q126_xml_parse",
      """SELECT o_orderstatus, count(*) AS n,
        |  round(sum(o_totalprice),2) AS total, max(o_orderkey) AS max_key
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      val xml = Tables.orders(s, d).select(
        concat(lit("<o><k>"), col("o_orderkey"), lit("</k><st>"),
          col("o_orderstatus"), lit("</st><p>"), col("o_totalprice"),
          lit("</p></o>")).as("doc"))
      val schema = StructType(Seq(
        StructField("k", LongType), StructField("st", StringType),
        StructField("p", DoubleType)))
      xml.select(from_xml(col("doc"), schema).as("o"))
        .groupBy(col("o.st").as("o_orderstatus"))
        .agg(count(lit(1)).as("n"), r2(sum(col("o.p"))).as("total"),
          max(col("o.k")).as("max_key"))
        .orderBy("o_orderstatus")
    },

    /** binaryFile source (group 1, the multimodal ingestion path):
      * opaque blobs scanned as (path, length, content) rows — how
      * image/audio corpora enter the pipeline before q84/q85's typed
      * metadata and stub decoding. Each run writes the same fixture
      * bytes, so the oracle is the literal manifest: name, byte
      * length, and sha256 — Spark's `sha2(content, 256)` must reproduce
      * the staged bytes' digest exactly. At 100 TB this scan is the same
      * operator over an object-store listing; `pathGlobFilter` and
      * recursive lookup keep partition planning on the driver cheap.
      */
    QueryDef(
      "q192_binaryfile_scan",
      """SELECT * FROM (VALUES
        |  ('file0.bin', CAST(230 AS BIGINT),
        |   'efe5fdf4f9e75474c6da12a4a263382d4677b9646bbf618ace53a0c540c54cf9'),
        |  ('file1.bin', CAST(460 AS BIGINT),
        |   '64a0abce4ec0a9e30efb872308151adc3b365f9ea28e316a0c694e5d4eee543e'),
        |  ('file2.bin', CAST(690 AS BIGINT),
        |   'f98019a951ae83118d91ab8d320f04870305f05433ed55895256df745d900243')
        |) t(name, length, sha256) ORDER BY name""".stripMargin) { (s, d) =>
      val dir = java.nio.file.Paths.get(Scratch.dir(d, "binary_fixture"))
      java.nio.file.Files.createDirectories(dir)
      for (i <- 0 to 2)
        java.nio.file.Files.write(dir.resolve(s"file$i.bin"),
          (s"graft binary fixture $i\n" * ((i + 1) * 10)).getBytes("UTF-8"))
      s.read.format("binaryFile").option("pathGlobFilter", "*.bin")
        .load(dir.toString)
        .select(regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
          col("length"), sha2(col("content"), 256).as("sha256"))
        .orderBy("name")
    },

    /** JSONL (newline-delimited JSON) source round-trip (round 7): the
      * semi-structured ingestion format every event-log pipeline
      * actually receives. A 4-file JSONL snapshot of the fact columns is
      * written to scratch, then read back through an EXPLICIT schema
      * (schema-on-read without inference — an inference pass over
      * 100 TB of JSON is a full extra scan) and aggregated. The oracle
      * reads the very same files with typed columns, so the round-trip
      * fidelity of longs, strings, and shortest-repr doubles through
      * JSON text IS the hash check. Decimal-cast value sums after the
      * parse on both sides keep the aggregate exact.
      */
    QueryDef(
      "q239_jsonl_roundtrip",
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(event_id) AS BIGINT) AS min_id, CAST(max(event_id) AS BIGINT) AS max_id,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,3))) AS DOUBLE), 3) AS total
        |FROM read_json('${Scratch.root}/graft_jsonl/*.json',
        |  format='newline_delimited',
        |  columns={'event_id':'BIGINT','user_id':'BIGINT',
        |           'event_type':'VARCHAR','value':'DOUBLE'})
        |GROUP BY 1 ORDER BY event_type""".stripMargin) { (s, d) =>
      val base = s"${Scratch.root}/graft_jsonl"
      Tables.events(s, d)
        .select("event_id", "user_id", "event_type", "value")
        .repartition(4)
        .write.mode("overwrite").json(base)
      s.read
        .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
        .json(base)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
          round(sum(col("value").cast("decimal(18,3)")).cast("double"), 3).as("total"))
        .orderBy("event_type")
    }
  )
}
