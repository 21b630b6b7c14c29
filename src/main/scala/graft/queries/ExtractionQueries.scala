package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.Tables
import graft.operators._

/** Batch 2b: extraction / class-object / analysis / join operators
  * (SURVEY.md §2 D, E, H).
  */
object ExtractionQueries {

  /** Long-format class-object stats table the reference's
    * `class_objects/` plugins consume: here (lang, source, doc count)
    * from `documents`. */
  def classObjectLong(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("lang").as("class_object"), col("source").as("class_name"))
      .agg(count(lit(1)).cast(DoubleType).as("class_value"))

  private val sources: Seq[String] = (0 until 20).map(i => s"src$i")

  import CoreQueries.{dsum, dsum2, dsumProd}

  private val mcCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  val queries: Seq[Query] = Seq(
    Query("q_direct_attribute", """
      SELECT c_custkey, c_name,
        COALESCE(CASE c_mktsegment
          WHEN 'AUTOMOBILE' THEN 'Automobile' WHEN 'BUILDING' THEN 'Building'
          WHEN 'FURNITURE' THEN 'Furniture' WHEN 'HOUSEHOLD' THEN 'Household'
          WHEN 'MACHINERY' THEN 'Machinery' END, c_mktsegment) AS segment_label
      FROM customer ORDER BY c_custkey, c_name""", { (s, dir) =>
      Extraction.directAttribute(
        Tables.customer(s, dir), Seq("c_custkey", "c_name"), "c_mktsegment",
        Map(
          "AUTOMOBILE" -> "Automobile", "BUILDING" -> "Building",
          "FURNITURE" -> "Furniture", "HOUSEHOLD" -> "Household",
          "MACHINERY" -> "Machinery"),
        "segment_label")
    }),
    Query("q_multi_column_extractor", (
      mcCols.map(c =>
        s"SELECT l_returnflag, '$c' AS class_name, ${dsum(c)} AS value FROM lineitem GROUP BY 1")
        .mkString("", " UNION ALL ", " UNION ALL ") +
      s" SELECT l_returnflag, 'charge' AS class_name, CAST(SUM(CAST(l_extendedprice * (1 + l_tax) AS DECIMAL(18,4))) AS DOUBLE) AS value FROM lineitem GROUP BY 1" +
      " ORDER BY l_returnflag, class_name"), { (s, dir) =>
      Extraction.multiColumnExtractor(
        Tables.lineitem(s, dir), Seq("l_returnflag"),
        columns = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
        derived = Seq("charge" -> (col("l_extendedprice") * (lit(1) + col("l_tax")))))
    }),
    Query("q_categories_extractor", {
      val vals = sources.zipWithIndex
        .map { case (c, i) => s"('$c',$i)" }.mkString(",")
      s"""
      WITH cats(class_name, cat_order) AS (VALUES $vals),
      longf AS (
        SELECT source AS class_name, CAST(COUNT(*) AS DOUBLE) AS class_value
        FROM documents WHERE lang = 'en' GROUP BY 1)
      SELECT c.class_name, CAST(c.cat_order AS INT) AS cat_order,
             COALESCE(l.class_value, 0.0) AS value
      FROM cats c LEFT JOIN longf l ON l.class_name = c.class_name
      ORDER BY c.cat_order"""
    }, { (s, dir) =>
      Extraction.categoriesExtractor(classObjectLong(s, dir), "en", sources)
    }),
    Query("q_series_by_axis", """
      SELECT source AS axis,
        CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END) AS DOUBLE) AS english,
        CAST(COUNT(CASE WHEN lang = 'fr' THEN 1 END) AS DOUBLE) AS french,
        CAST(COUNT(CASE WHEN lang = 'de' THEN 1 END) AS DOUBLE) AS german
      FROM documents WHERE lang IN ('en', 'fr', 'de')
      GROUP BY source ORDER BY axis""", { (s, dir) =>
      Extraction.seriesByAxis(
        classObjectLong(s, dir),
        Map("english" -> "en", "french" -> "fr", "german" -> "de"))
    }),
    Query("q_series_ratio", """
      WITH wide AS (
        SELECT source AS axis,
          CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END) AS DOUBLE) AS total,
          CAST(COUNT(CASE WHEN lang = 'fr' THEN 1 END) AS DOUBLE) AS subset
        FROM documents WHERE lang IN ('en', 'fr')
        GROUP BY source)
      SELECT axis, total, subset,
        CASE WHEN total <> 0.0 THEN 1.0 - subset / total END AS result
      FROM wide ORDER BY axis""", { (s, dir) =>
      Extraction.seriesRatio(classObjectLong(s, dir), "en", "fr", "ratio")
    }),
    Query("q_scatter_analysis", s"""
      SELECT l_returnflag, COUNT(*) AS n,
        ${dsum("l_quantity")} / COUNT(l_quantity) AS x_mean,
        ${dsum("l_extendedprice")} / COUNT(l_extendedprice) AS y_mean,
        (${dsumProd("l_quantity", "l_extendedprice")}
          - ${dsum("l_quantity")} * ${dsum("l_extendedprice")} / COUNT(*))
        / SQRT((${dsum2("l_quantity")} - ${dsum("l_quantity")} * ${dsum("l_quantity")} / COUNT(*))
             * (${dsum2("l_extendedprice")} - ${dsum("l_extendedprice")} * ${dsum("l_extendedprice")} / COUNT(*))) AS correlation
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
      GROUP BY l_returnflag ORDER BY l_returnflag""", { (s, dir) =>
      Analysis.scatterAnalysis(
        Tables.lineitem(s, dir), "l_quantity", "l_extendedprice", Seq("l_returnflag"))
    }),
    Query("q_boolean_comparison", """
      SELECT o_orderstatus,
        COUNT(CASE WHEN o_totalprice > 100000 AND o_orderpriority = '1-URGENT' THEN 1 END) AS both_true,
        COUNT(CASE WHEN o_totalprice > 100000 AND NOT (o_orderpriority = '1-URGENT') THEN 1 END) AS only_a,
        COUNT(CASE WHEN NOT (o_totalprice > 100000) AND o_orderpriority = '1-URGENT' THEN 1 END) AS only_b,
        COUNT(CASE WHEN NOT (o_totalprice > 100000) AND NOT (o_orderpriority = '1-URGENT') THEN 1 END) AS both_false
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""", { (s, dir) =>
      Analysis.booleanComparison(
        Tables.orders(s, dir),
        col("o_totalprice") > 100000, col("o_orderpriority") === "1-URGENT",
        Seq("o_orderstatus"))
    }),
    Query("q_join_enrich", s"""
      SELECT r_name, ${dsum("l_extendedprice")} AS price_sum,
             COUNT(*) AS n_items, COUNT(DISTINCT s_suppkey) AS n_suppliers
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name ORDER BY r_name""", { (s, dir) =>
      Joins.enrichAggregate(
        Tables.lineitem(s, dir),
        Seq(
          (Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey")),
          (Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey")),
          (Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))),
        Seq("r_name"),
        Seq(
          Num.dsum(col("l_extendedprice")).as("price_sum"),
          count(lit(1)).as("n_items"),
          countDistinct(col("s_suppkey")).as("n_suppliers")))
    }),
    Query("q_stats_loader", s"""
      SELECT p.p_partkey, p.p_name, p.p_brand, l.n_items, l.qty_sum
      FROM part p
      LEFT JOIN (SELECT l_partkey, COUNT(*) AS n_items, ${dsum("l_quantity")} AS qty_sum
                 FROM lineitem GROUP BY 1) l
      ON l.l_partkey = p.p_partkey
      ORDER BY p.p_partkey""", { (s, dir) =>
      Joins.referenceStats(
        Tables.part(s, dir), "p_partkey", Seq("p_name", "p_brand"),
        Tables.lineitem(s, dir).withColumnRenamed("l_partkey", "p_partkey"),
        "p_partkey",
        Seq(count(lit(1)).as("n_items"), Num.dsum(col("l_quantity")).as("qty_sum")))
    }),
    // Fuzzy entity matching (H3): supplier names with a dropped 5th
    // character resolved back against the clean list, blocked on the
    // digit suffix (untouched by the mutation).
    Query("q_fuzzy_match", """
      WITH dirty AS (
        SELECT s_suppkey AS dirty_id,
               substr(s_name, 1, 4) || substr(s_name, 6) AS dirty_name
        FROM supplier),
      ref AS (SELECT s_suppkey AS ref_id, s_name AS ref_name FROM supplier),
      w AS (SELECT len(CAST(COUNT(*) AS VARCHAR)) AS n FROM supplier),
      -- block key materialized as a COLUMN before the join: a scalar
      -- subquery inside the join condition blocks hash-join planning
      -- and the pairing degenerates to a nested loop
      db AS (SELECT dirty_id, dirty_name,
                    right(dirty_name, (SELECT n FROM w)) AS blk FROM dirty),
      rb AS (SELECT ref_id, ref_name,
                    right(ref_name, (SELECT n FROM w)) AS blk FROM ref),
      cand AS (
        SELECT d.dirty_id, d.dirty_name, r.ref_id, r.ref_name,
               levenshtein(d.dirty_name, r.ref_name) AS dist
        FROM db d JOIN rb r ON d.blk = r.blk
        WHERE levenshtein(d.dirty_name, r.ref_name) <= 2),
      best AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY dirty_id ORDER BY dist, ref_id) AS rn
        FROM cand)
      SELECT dirty_id, dirty_name, ref_id, ref_name, CAST(dist AS INT) AS dist
      FROM best WHERE rn = 1 ORDER BY dirty_id""", { (s, dir) =>
      val ref = Tables.supplier(s, dir)
      val dirty = ref.select(
        col("s_suppkey").as("dirty_key"),
        concat(substring(col("s_name"), 1, 4), substring(col("s_name"), 6, 100))
          .as("dirty_name"))
      // Blocking-key CARDINALITY must grow with the corpus, or block
      // size grows ∝ n and the candidate join degenerates quadratic
      // (the sf10 bench caught exactly this: a fixed 3-char suffix
      // saturates at 1000 blocks → 64× cost for 10× data). Suffix
      // width derives from the reference count via the same integer
      // arithmetic the oracle's scalar subquery replays: the decimal
      // width of count(*) ⇒ ~one key per block at any SF.
      val w = ref.count().toString.length
      Joins.fuzzyMatch(
        dirty, "dirty_key", "dirty_name",
        ref, "s_suppkey", "s_name",
        blockOf = n => substring(n, -w, w), maxDist = 2)
    }),
    // Chained transform (chains/transform_chain.py): step 1 computes
    // per-part stats (stats_loader), step 2 bins step 1's OUTPUT by
    // brand (binned_distribution referencing "@stats") — one composed
    // Catalyst plan, nothing materialized between steps.
    Query("q_transform_chain", s"""
      WITH stats AS (
        SELECT p.p_brand, l.qty_sum
        FROM part p
        LEFT JOIN (SELECT l_partkey, ${dsum("l_quantity")} AS qty_sum
                   FROM lineitem GROUP BY 1) l
        ON l.l_partkey = p.p_partkey),
      groups AS (SELECT DISTINCT p_brand FROM stats),
      bins(bin, bin_label) AS (VALUES
        (0,'0.0-250.0'),(1,'250.0-500.0'),(2,'500.0-750.0'),
        (3,'750.0-1000.0'),(4,'1000.0-2000.0')),
      counts AS (
        SELECT p_brand,
          CASE WHEN qty_sum >= 1000 AND qty_sum <= 2000 THEN 4
               WHEN qty_sum >= 750 AND qty_sum < 1000 THEN 3
               WHEN qty_sum >= 500 AND qty_sum < 750 THEN 2
               WHEN qty_sum >= 250 AND qty_sum < 500 THEN 1
               WHEN qty_sum >= 0 AND qty_sum < 250 THEN 0 END AS bin,
          COUNT(*) AS cnt
        FROM stats WHERE qty_sum IS NOT NULL GROUP BY 1, 2),
      counts2 AS (SELECT * FROM counts WHERE bin IS NOT NULL),
      totals AS (SELECT p_brand, SUM(cnt) AS total FROM counts2 GROUP BY 1)
      SELECT g.p_brand, CAST(b.bin AS INT) AS bin, b.bin_label,
             CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt,
             CASE WHEN t.total > 0 THEN
               ROUND(CAST(COALESCE(c.cnt, 0) AS DOUBLE) * 100.0 / CAST(t.total AS DOUBLE), 2)
             ELSE 0.0 END AS pct
      FROM groups g CROSS JOIN bins b
      LEFT JOIN counts2 c ON c.p_brand = g.p_brand AND c.bin = b.bin
      LEFT JOIN totals t ON t.p_brand = g.p_brand
      ORDER BY g.p_brand, b.bin""", { (s, dir) =>
      Chain.run(
        Tables.lineitem(s, dir), Seq[(String, Chain.Step)](
          "stats" -> { ctx =>
            Joins.referenceStats(
              Tables.part(s, dir), "p_partkey", Seq("p_brand"),
              ctx("input").withColumnRenamed("l_partkey", "p_partkey"),
              "p_partkey",
              Seq(Num.dsum(col("l_quantity")).as("qty_sum")))
          },
          "binned" -> { ctx =>
            Distributions.binnedDistribution(
              ctx("stats"), "qty_sum",
              bins = Seq(0, 250, 500, 750, 1000, 2000),
              groupBy = Seq("p_brand"))
          }))
    }),
  )
}
