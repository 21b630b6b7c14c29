package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{ClassObjects, Num}

/** Batch 5b: class-object reshape suite (SURVEY.md §2 O). Long stats
  * frames derive from `documents` (categorical axis) and `lineitem`
  * (numeric axis); the operators take any (class_object, class_name,
  * class_value) frame.
  */
object ClassObjectQueries {

  /** Numeric-axis long frame: per return flag, the quantity histogram
    * as class objects `qty_<flag>` with class_name = integer quantity. */
  def quantityLong(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(
        concat(lit("qty_"), col("l_returnflag")).as("class_object"),
        col("l_quantity").cast("int").cast("string").as("class_name"))
      .agg(count(lit(1)).cast("double").as("class_value"))

  private val quantityLongSql = """
    SELECT 'qty_' || l_returnflag AS class_object,
           CAST(CAST(l_quantity AS INT) AS VARCHAR) AS class_name,
           CAST(COUNT(*) AS DOUBLE) AS class_value
    FROM lineitem GROUP BY 1, 2"""

  private val parityMapping: Map[String, String] =
    (0 until 20).map(i => s"src$i" -> (if (i % 2 == 0) "even" else "odd")).toMap

  import CoreQueries.dsum

  val queries: Seq[Query] = Seq(
    Query("q_co_binary_aggregator", """
      WITH longf AS (
        SELECT source AS class_name, CAST(COUNT(*) AS DOUBLE) AS class_value
        FROM documents WHERE lang = 'en' GROUP BY 1),
      mapped AS (
        SELECT CASE WHEN CAST(SUBSTRING(class_name, 4) AS INT) % 2 = 0
                    THEN 'even' ELSE 'odd' END AS out_class,
               class_value
        FROM longf),
      shell(out_class) AS (VALUES ('even'), ('odd'))
      SELECT 'sources' AS label, s.out_class,
             COALESCE(SUM(m.class_value), 0.0) AS value
      FROM shell s LEFT JOIN mapped m ON m.out_class = s.out_class
      GROUP BY s.out_class ORDER BY s.out_class""", { (s, dir) =>
      ClassObjects.binaryAggregator(
        ExtractionQueries.classObjectLong(s, dir),
        classObject = "en", mapping = parityMapping, label = "sources")
    }),
    Query("q_co_categories_mapper", """
      WITH longf AS (
        SELECT lang AS class_object, source AS class_name,
               CAST(COUNT(*) AS DOUBLE) AS class_value
        FROM documents GROUP BY 1, 2),
      picks(category, subcategory, class_object, class_name) AS (VALUES
        ('english', 'primary', 'en', 'src0'),
        ('english', 'secondary', 'en', 'src1'),
        ('french', 'primary', 'fr', 'src0'),
        ('absent', 'none', 'zz', 'src0'))
      SELECT p.category, p.subcategory,
             COALESCE(l.class_value, 0.0) AS value
      FROM picks p LEFT JOIN longf l
        ON l.class_object = p.class_object AND l.class_name = p.class_name
      ORDER BY p.category, p.subcategory""", { (s, dir) =>
      ClassObjects.categoriesMapper(
        ExtractionQueries.classObjectLong(s, dir),
        Seq(
          ("english", "primary", "en", "src0"),
          ("english", "secondary", "en", "src1"),
          ("french", "primary", "fr", "src0"),
          ("absent", "none", "zz", "src0")))
    }),
    Query("q_field_profile", s"""
      SELECT * FROM (
        SELECT 'customer' AS source, 'n_customers' AS field,
               CAST(COUNT(*) AS DOUBLE) AS value, 'count' AS units FROM customer
        UNION ALL
        SELECT 'customer', 'acctbal_sum', ${dsum("c_acctbal")}, 'usd' FROM customer
        UNION ALL
        SELECT 'orders', 'n_orders', CAST(COUNT(*) AS DOUBLE), 'count' FROM orders
        UNION ALL
        SELECT 'orders', 'totalprice_sum', ${dsum("o_totalprice")}, 'usd' FROM orders
      ) ORDER BY source, field""", { (s, dir) =>
      ClassObjects.fieldProfile(Seq(
        ("customer", Tables.customer(s, dir), Seq(
          ("n_customers", count(lit(1)), "count"),
          ("acctbal_sum", Num.dsum(col("c_acctbal")), "usd"))),
        ("orders", Tables.orders(s, dir), Seq(
          ("n_orders", count(lit(1)), "count"),
          ("totalprice_sum", Num.dsum(col("o_totalprice")), "usd")))))
    }),
    Query("q_series_extractor", s"""
      WITH longf AS ($quantityLongSql)
      SELECT CAST(class_name AS DOUBLE) AS size, class_value AS value
      FROM longf WHERE class_object = 'qty_R'
      ORDER BY size""", { (s, dir) =>
      ClassObjects.seriesExtractor(quantityLong(s, dir), "qty_R", "size", "value")
    }),
    Query("q_series_matrix", s"""
      WITH longf AS ($quantityLongSql)
      SELECT CAST(class_name AS DOUBLE) AS axis,
             COALESCE(MAX(CASE WHEN class_object = 'qty_R' THEN class_value END), 0.0)
               * 0.01 AS returned_scaled,
             100.0 - COALESCE(MAX(CASE WHEN class_object = 'qty_A' THEN class_value END), 0.0)
               * 0.01 AS accepted_inverse
      FROM longf WHERE class_object IN ('qty_R', 'qty_A')
      GROUP BY 1 ORDER BY 1""", { (s, dir) =>
      ClassObjects.seriesMatrix(
        quantityLong(s, dir),
        Seq(
          ("returned_scaled", "qty_R", 0.01, false),
          ("accepted_inverse", "qty_A", 0.01, true)))
    }),
  )
}
