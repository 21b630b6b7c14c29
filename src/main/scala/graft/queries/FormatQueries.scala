package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Formats

/** Batch 4c: format/export transformers (SURVEY.md §2 G). The DwC
  * occurrence mapping treats lineitem lines as "occurrences" with
  * part = taxon, supplier = recorder, nation = locality — same
  * declarative rename/constant/derived mapping shape as the
  * reference's exporter.
  */
object FormatQueries {

  /** Every DwC term derives from lineitem + broadcast dims — joining
    * orders would add a fact-fact shuffle that contributes no column
    * (TPC-H FKs make it cardinality-neutral), so the scan-shaped
    * export stays shuffle-free. */
  def occurrences(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))

  /** The DwC term mapping shared by q_dwc_mapping and q_dwc_archive. */
  private object SparkEntryLocal {
    def dwcMapping(s: SparkSession, dir: String): DataFrame =
      Formats.mapToSchema(occurrences(s, dir), Seq(
        "occurrenceID" -> concat_ws(":", lit("urn"), col("l_orderkey"), col("l_linenumber")),
        "basisOfRecord" -> lit("HumanObservation"),
        "scientificName" -> col("p_name"),
        "recordedBy" -> col("s_name"),
        "individualCount" -> col("l_quantity").cast("int"),
        "eventDate" -> date_format(col("l_shipdate"), "yyyy-MM-dd"),
        "country" -> col("n_name"),
      ))
  }

  val queries: Seq[Query] = Seq(
    Query("q_dwc_mapping", """
      SELECT concat_ws(':', 'urn', l_orderkey, l_linenumber) AS occurrenceID,
             'HumanObservation' AS basisOfRecord,
             p_name AS scientificName,
             s_name AS recordedBy,
             CAST(l_quantity AS INT) AS individualCount,
             strftime(l_shipdate, '%Y-%m-%d') AS eventDate,
             n_name AS country
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey""", { (s, dir) =>
      // no presentation sort: a 100 TB export never global-sorts
      SparkEntryLocal.dwcMapping(s, dir)
    }),
    // Humboldt/Event term mapping (formats/niamoto_to_humboldt_event
    // .py): same declarative mapToSchema shape as DwC, different
    // vocabulary — events as sampling events.
    Query("q_humboldt_event", """
      SELECT 'evt:' || event_id AS eventID,
             event_type AS eventType,
             strftime(ts, '%Y-%m-%dT%H:%M:%S') AS eventDate,
             'automated sensor' AS samplingProtocol,
             'user:' || user_id AS recordedBy,
             value AS measurementValue
      FROM events ORDER BY eventID""", { (s, dir) =>
      Formats.mapToSchema(Tables.events(s, dir), Seq(
        "eventID" -> concat(lit("evt:"), col("event_id")),
        "eventType" -> col("event_type"),
        "eventDate" -> date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"),
        "samplingProtocol" -> lit("automated sensor"),
        "recordedBy" -> concat(lit("user:"), col("user_id")),
        "measurementValue" -> col("value"),
      ))
    }),
    // Write path behind the gate: partitioned-parquet round trip. The
    // aggregate runs over the REREAD frame, so partition layout, type
    // round-tripping, and partition pruning are all on the verified
    // path (the oracle aggregates the source directly).
    Query("q_write_roundtrip", """
      SELECT o_orderpriority, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum
      FROM orders GROUP BY 1 ORDER BY 1""", { (s, dir) =>
      val out = Query.scratchPath("roundtrip", dir)
      graft.sources.Writers.partitionedParquet(
        Tables.orders(s, dir).select(
          col("o_orderkey"), col("o_totalprice"), col("o_orderpriority")),
        out, Seq("o_orderpriority"))
      graft.sources.Readers.parquet(s, out)
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n_orders"),
          graft.operators.Num.dsum(col("o_totalprice")).as("price_sum"))
        .orderBy("o_orderpriority")
    }),
    // G9 — range-CLUSTERED layout behind the gate: lineitem written
    // repartitionByRange(l_shipdate)+sorted, reread through a
    // date-range filter, aggregated. The gate verifies the clustered
    // round trip end-to-end (the oracle filters the source directly);
    // ClusterLayoutSpec proves the layout's row-group skipping with
    // scan metrics (the same filter reads ~1/nFiles of this layout vs
    // ALL rows of a round-robin one).
    Query("q_clustered_scan", """
      SELECT l_returnflag, COUNT(*) AS n_items,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01' AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
      GROUP BY 1 ORDER BY 1""", { (s, dir) =>
      val out = Query.scratchPath("clustered", dir)
      graft.sources.Writers.clusteredParquet(
        Tables.lineitem(s, dir).select(
          // date-typed cluster key: parquet INT32 min/max stats make
          // the range predicate a real row-group filter (an NTZ
          // timestamp pushes at the source level but does not
          // translate to a parquet record filter)
          to_date(col("l_shipdate")).as("l_shipdate"),
          col("l_returnflag"), col("l_extendedprice")),
        out, Seq("l_shipdate"), nFiles = 24)
      graft.sources.Readers.parquet(s, out)
        .where(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate") < lit("1997-01-01").cast("date"))
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_items"),
          graft.operators.Num.dsum(col("l_extendedprice")).as("price_sum"))
        .orderBy("l_returnflag")
    }),
    // G10 — Z-ORDER clustered write → two-dimension pruned re-scan:
    // the multi-dim layout twin of G9 (ZOrderLayoutSpec holds the
    // skip proof — a partkey-only filter prunes the z-layout but
    // reads ALL of a date-range-clustered one). The gate verifies the
    // roundtrip end-to-end: zorder-rewritten rows filtered on BOTH
    // clustered dimensions hash-match the raw table's answer.
    Query("q_zorder_scan", """
      SELECT l_returnflag, COUNT(*) AS n_items,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) >= DATE '1995-01-01' AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
        AND l_partkey <= 400
      GROUP BY 1 ORDER BY 1""", { (s, dir) =>
      val out = Query.scratchPath("zorder", dir)
      graft.sources.Writers.zorderedParquet(
        Tables.lineitem(s, dir).select(
          to_date(col("l_shipdate")).as("l_shipdate"),
          col("l_partkey"), col("l_returnflag"), col("l_extendedprice")),
        out, Seq("l_shipdate", "l_partkey"), nFiles = 24)
      graft.sources.Readers.parquet(s, out)
        .where(col("l_shipdate") >= lit("1995-01-01").cast("date") &&
          col("l_shipdate") < lit("1997-01-01").cast("date") &&
          col("l_partkey") <= lit(400L))
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_items"),
          graft.operators.Num.dsum(col("l_extendedprice")).as("price_sum"))
        .orderBy("l_returnflag")
    }),
    // G8 — the same verified write→reread→aggregate path on ORC (the
    // other built-in columnar format): partition layout, type fidelity
    // and decimal-exact sums must survive the round trip byte-for-byte
    // (oracle computes the identical aggregate from the source table).
    Query("q_orc_roundtrip", """
      SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS price_sum
      FROM orders GROUP BY 1, 2 ORDER BY 1, 2""", { (s, dir) =>
      val out = Query.scratchPath("orcrt", dir)
      graft.sources.Writers.partitionedOrc(
        Tables.orders(s, dir).select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderpriority")),
        out, Seq("o_orderpriority"))
      graft.sources.Readers.orc(s, out)
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(
          count(lit(1)).as("n_orders"),
          graft.operators.Num.dsum(col("o_totalprice")).as("price_sum"))
        .orderBy("o_orderpriority", "o_orderstatus")
    }),
    // CSV + JSON-lines source/sink paths behind the gate: export the
    // customer dim as a headered CSV (the DwC-archive body writer) and
    // as JSON-lines (the API exporter), reread BOTH with explicit
    // schemas (never inference — a full extra pass at 100 TB), join
    // them, and aggregate; the oracle recomputes from the parquet
    // source, so delimiter/quoting/null/type round-tripping of both
    // formats is on the verified path.
    Query("q_csv_json_roundtrip", """
      SELECT c_nationkey, COUNT(*) AS n_customers,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS acctbal_sum
      FROM customer GROUP BY 1 ORDER BY 1""", { (s, dir) =>
      import org.apache.spark.sql.types._
      val cust = Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
      graft.sources.Writers.dwcArchive(cust, Query.scratchPath("csv", dir))
      graft.sources.Writers.jsonLines(
        cust.select("c_custkey", "c_acctbal"), Query.scratchPath("jsonl", dir))
      val schema = StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_nationkey", LongType), StructField("c_acctbal", DoubleType)))
      val jschema = StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_acctbal", DoubleType)))
      val fromCsv = graft.sources.Readers
        .csv(s, Query.scratchPath("csv", dir), schema)
        .select(col("c_custkey"), col("c_nationkey"))
      val fromJson = graft.sources.Readers
        .jsonLines(s, Query.scratchPath("jsonl", dir), jschema)
      fromCsv.join(fromJson, "c_custkey")
        .groupBy("c_nationkey")
        .agg(
          count(lit(1)).as("n_customers"),
          graft.operators.Num.dsum(col("c_acctbal")).as("acctbal_sum"))
        .orderBy("c_nationkey")
    }),
    // Bucketed write path behind the gate: both join sides land as
    // bucket-sorted tables on the join key, so the fact-fact join
    // replans as a zero-exchange sort-merge over co-located buckets
    // (plan proof in BucketingSpec) — the layout that keeps a 100 TB
    // fact-fact join from shuffling per query. The aggregate runs over
    // the REREAD bucketed tables; the oracle computes the same join
    // from the raw sources.
    Query("q_bucketed_join", """
      SELECT o_orderpriority, COUNT(*) AS n_items,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY 1""", { (s, dir) =>
      graft.sources.Writers.bucketedExternal(
        Tables.lineitem(s, dir).select("l_orderkey", "l_extendedprice", "l_discount"),
        "graft_bkt_lineitem", Query.scratchPath("bkt-li", dir), Seq("l_orderkey"), 8)
      graft.sources.Writers.bucketedExternal(
        Tables.orders(s, dir).select("o_orderkey", "o_orderpriority"),
        "graft_bkt_orders", Query.scratchPath("bkt-ord", dir), Seq("o_orderkey"), 8)
      s.table("graft_bkt_lineitem")
        .join(s.table("graft_bkt_orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n_items"),
          graft.operators.Num.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
        .orderBy("o_orderpriority")
    }),
    // payload rebuilt by string concatenation: Spark's to_json and
    // DuckDB's double→varchar both emit shortest-roundtrip decimals,
    // and the corpus strings contain no JSON-escapable characters, so
    // the bytes match exactly (verified; ties impossible — custkey is
    // unique within a nation)
    Query("q_json_api_agg", """
      WITH j AS (SELECT n_nationkey, n_name, c_acctbal, c_custkey, c_name
                 FROM customer JOIN nation ON c_nationkey = n_nationkey),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY n_nationkey
                    ORDER BY c_acctbal DESC, c_custkey DESC, c_name DESC) AS rn,
               COUNT(*) OVER (PARTITION BY n_nationkey) AS cnt
        FROM j)
      SELECT n_nationkey, n_name, CAST(MAX(cnt) AS BIGINT) AS n_details,
        '{"n_nationkey":' || n_nationkey || ',"n_name":"' || n_name ||
        '","top_details":[' ||
        string_agg('{"c_acctbal":' || CAST(c_acctbal AS VARCHAR) ||
                   ',"c_custkey":' || c_custkey ||
                   ',"c_name":"' || c_name || '"}', ',' ORDER BY rn) ||
        ']}' AS payload
      FROM ranked WHERE rn <= 5
      GROUP BY n_nationkey, n_name
      ORDER BY n_nationkey, n_name""", { (s, dir) =>
      val custWithNation = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      Formats.jsonDetailRecords(
        custWithNation, Seq("n_nationkey", "n_name"),
        struct(col("c_acctbal"), col("c_custkey"), col("c_name")), topN = 5)
    }),
    // G6 — FULL DwC archive behind the gate: write the occurrence
    // mapping as occurrence CSV + meta.xml + per-part zips, then read it
    // back THROUGH the descriptor (Readers.dwcArchive resolves the
    // CSV locations from meta.xml) and aggregate; the oracle recomputes
    // from the raw tables, so body write, descriptor correctness and
    // type round-tripping are all on the verified path.
    Query("q_dwc_archive", """
      SELECT n_name AS country, COUNT(*) AS n_occurrences,
             COUNT(DISTINCT concat_ws(':', 'urn', l_orderkey, l_linenumber)) AS n_ids,
             CAST(SUM(CAST(l_quantity AS INT)) AS BIGINT) AS ind_sum,
             MIN(strftime(l_shipdate, '%Y-%m-%d')) AS first_date,
             MAX(strftime(l_shipdate, '%Y-%m-%d')) AS last_date
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY 1 ORDER BY 1""", { (s, dir) =>
      import org.apache.spark.sql.types._
      val occ = SparkEntryLocal.dwcMapping(s, dir)
      graft.sources.Writers.dwcArchiveFull(occ, Query.scratchPath("dwca", dir))
      val schema = StructType(Seq(
        StructField("occurrenceID", StringType), StructField("basisOfRecord", StringType),
        StructField("scientificName", StringType), StructField("recordedBy", StringType),
        StructField("individualCount", IntegerType), StructField("eventDate", StringType),
        StructField("country", StringType)))
      graft.sources.Readers.dwcArchive(s, Query.scratchPath("dwca", dir), schema)
        .groupBy("country")
        .agg(
          count(lit(1)).as("n_occurrences"),
          count_distinct(col("occurrenceID")).as("n_ids"),
          sum(col("individualCount")).as("ind_sum"),
          min(col("eventDate")).as("first_date"),
          max(col("eventDate")).as("last_date"))
        .orderBy("country")
    }),
    // G7 — export index behind the gate: detail records → index rows →
    // JSON-lines write → schema'd reread (the verified-write-path
    // pattern of G3/G5); the oracle recomputes counts and paths from
    // the raw tables.
    Query("q_export_index", """
      SELECT n_nationkey, n_name, COUNT(*) AS n_records,
             'details/' || n_nationkey || '_' || n_name || '.json' AS detail_path
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY 1, 2 ORDER BY 1""", { (s, dir) =>
      import org.apache.spark.sql.types._
      val custWithNation = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      val details = Formats.jsonDetailRecords(
        custWithNation, Seq("n_nationkey", "n_name"),
        struct(col("c_acctbal"), col("c_custkey"), col("c_name")), topN = 5)
      val idx = Formats.exportIndex(
        details, Seq("n_nationkey", "n_name"), "n_details", "details")
      graft.sources.Writers.jsonLines(idx, Query.scratchPath("idx", dir))
      val schema = StructType(Seq(
        StructField("n_nationkey", LongType), StructField("n_name", StringType),
        StructField("n_records", LongType), StructField("detail_path", StringType)))
      graft.sources.Readers.jsonLines(s, Query.scratchPath("idx", dir), schema)
        .orderBy("n_nationkey")
    }),
  )
}
