package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators._

/** Batch 1: aggregation + distribution transformers (SURVEY.md §2 A, B). */
object CoreQueries {

  /** Classic dim-join aggregation used as the flagship entry:
    * revenue per nation (auto-broadcast dims, one shuffle on n_name),
    * run through [[Aggregations.databaseAggregator]] — the operator
    * the `q_database_aggregator` gate is named for. */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    Seq("supplier", "nation").foreach { t =>
      Tables(spark, dir, t).createOrReplaceTempView(t)
    }
    Aggregations.databaseAggregator(Tables.lineitem(spark, dir), "lineitem", """
      SELECT n_name,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_items
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name""")
  }

  /** Exact decimal-sum expression fragments reused across oracles (must
    * mirror graft.operators.Num — see its Scaladoc). */
  private[queries] def dsum(x: String) = s"CAST(SUM(CAST($x AS DECIMAL(18,4))) AS DOUBLE)"
  /** Sum of squares / cross products: the first operand is DECIMAL(19,4)
    * so DuckDB widens the multiply to int128 (a pure 18×18 multiply
    * overflows its int64 fast path on ~1e5-scale money values); the
    * result type (37,8) and values are identical to Spark's (18,4)×(18,4).
    * The double conversion goes THROUGH VARCHAR because DuckDB's direct
    * decimal(38,8)→double cast is not correctly rounded on >2^53-scaled
    * values (Spark's is); string→double parses correctly rounded in both. */
  private[queries] def dsum2(x: String) =
    s"CAST(CAST(SUM(CAST($x AS DECIMAL(19,4)) * CAST($x AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)"
  private[queries] def dsumProd(x: String, y: String) =
    s"CAST(CAST(SUM(CAST($x AS DECIMAL(19,4)) * CAST($y AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)"

  private val quantileBinsOracle = s"""
      WITH t AS (
        SELECT c_nationkey, c_acctbal,
               NTILE(4) OVER (PARTITION BY c_nationkey
                 ORDER BY c_acctbal, c_custkey) AS bin
        FROM customer)
      SELECT c_nationkey, CAST(bin AS INT) AS bin, COUNT(*) AS n,
             MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi,
             ${dsum("c_acctbal")} AS value_sum
      FROM t GROUP BY 1, 2 ORDER BY 1, 2"""

  private val snapshotDiffOracle = """
      WITH o AS (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 97 <> 0),
      n AS (SELECT o_orderkey,
                   CASE WHEN o_orderkey % 50 = 0 THEN o_totalprice * 1.1
                        ELSE o_totalprice END AS o_totalprice
            FROM orders WHERE o_orderkey % 89 <> 0)
      SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             CASE WHEN o.o_orderkey IS NULL THEN 'added'
                  WHEN n.o_orderkey IS NULL THEN 'removed'
                  WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'changed'
             END AS change_type,
             o.o_totalprice AS old_o_totalprice,
             n.o_totalprice AS new_o_totalprice
      FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey
      WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
         OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
      ORDER BY 1"""

  private val profileCols = Seq(
    "p_partkey" -> "bigint", "p_name" -> "string", "p_brand" -> "string",
    "p_type" -> "string", "p_size" -> "int", "p_retailprice" -> "double")

  val queries: Seq[Query] = Seq(
    Query("q_statistical_summary", s"""
      SELECT l_returnflag,
        MIN(l_quantity) AS min_val,
        ${dsum("l_quantity")} / COUNT(l_quantity) AS mean_val,
        MAX(l_quantity) AS max_val,
        MEDIAN(l_quantity) AS median_val,
        CASE WHEN COUNT(l_quantity) > 1 THEN
          SQRT(GREATEST((${dsum2("l_quantity")} - ${dsum("l_quantity")} * ${dsum("l_quantity")} / COUNT(l_quantity)) / (COUNT(l_quantity) - 1.0), 0.0))
        END AS std_val,
        COUNT(l_quantity) AS cnt
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""", { (s, dir) =>
      Aggregations.statisticalSummary(
        Tables.lineitem(s, dir), "l_quantity", Seq("l_returnflag"))
    }),
    Query("q_field_aggregator", s"""
      SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
             c.customer_count, c.acctbal_sum, s.supplier_count
      FROM (SELECT c_nationkey AS nationkey, COUNT(c_custkey) AS customer_count,
                   ${dsum("c_acctbal")} AS acctbal_sum
            FROM customer GROUP BY 1) c
      FULL OUTER JOIN
           (SELECT s_nationkey AS nationkey, COUNT(s_suppkey) AS supplier_count
            FROM supplier GROUP BY 1) s
      ON c.nationkey = s.nationkey
      ORDER BY 1""", { (s, dir) =>
      Aggregations.fieldAggregator(
        Seq(
          Aggregations.FieldSpec(
            Tables.customer(s, dir).withColumnRenamed("c_nationkey", "nationkey"),
            "c_custkey", "customer_count", "count"),
          Aggregations.FieldSpec(
            Tables.customer(s, dir).withColumnRenamed("c_nationkey", "nationkey"),
            "c_acctbal", "acctbal_sum", "sum"),
          Aggregations.FieldSpec(
            Tables.supplier(s, dir).withColumnRenamed("s_nationkey", "nationkey"),
            "s_suppkey", "supplier_count", "count")),
        key = "nationkey")
    }),
    Query("q_top_ranking", """
      SELECT p_type, p_brand, cnt, rank FROM (
        SELECT p_type, p_brand, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY p_type ORDER BY COUNT(*) DESC, p_brand) AS rank
        FROM part WHERE p_brand IS NOT NULL GROUP BY p_type, p_brand) t
      WHERE rank <= 3 ORDER BY p_type, rank""", { (s, dir) =>
      Aggregations.topRanking(Tables.part(s, dir), "p_brand", Seq("p_type"), n = 3)
    }),
    Query("q_binary_counter", """
      SELECT event_type,
        COUNT(CASE WHEN value > 0 THEN 1 END) AS true_count,
        COUNT(CASE WHEN NOT (value > 0) THEN 1 END) AS false_count,
        COUNT(CASE WHEN (value > 0) IS NULL THEN 1 END) AS null_count
      FROM events GROUP BY event_type ORDER BY event_type""", { (s, dir) =>
      Aggregations.binaryCounter(
        Tables.events(s, dir), col("value") > 0, Seq("event_type"))
    }),
    Query("q_database_aggregator", """
      SELECT n_name,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_items
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name""", { (s, dir) => revenueByNation(s, dir) }),
    // skew path: salted two-stage collect; the oracle compares an
    // order-canonical digest (sorted integer list → md5), since raw
    // array columns don't compare portably across engines
    Query("q_salted_collect", """
      SELECT l_returnflag,
             CAST(len(list(l_quantity)) AS INT) AS n_values,
             md5(array_to_string(list_sort(list(CAST(l_quantity AS BIGINT))), ',')) AS digest
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""", { (s, dir) =>
      Aggregations.saltedCollectList(
        Tables.lineitem(s, dir)
          .select(col("l_returnflag"), col("l_quantity").cast("long").as("qty"),
            col("l_orderkey")),
        Seq("l_returnflag"), "qty", saltBy = col("l_orderkey"), salts = 8)
        .select(
          col("l_returnflag"),
          size(col("qty_list")).as("n_values"),
          md5(concat_ws(",",
            transform(col("qty_list"), x => x.cast("string"))).cast("binary"))
            .as("digest"))
    }),
    // A6 gate — sketch estimates vs exact values, hash-verified: the
    // exact halves (cnt, count_distinct, exact percentiles' tolerance
    // flags) are DuckDB-recomputable, and the sketch halves enter as
    // relative-error flags (HLL++ rsd=0.05 gated at 15%; GK quantiles
    // gated at 2% of value) — generous enough to absorb any legal
    // sketch-merge order, tight enough that a broken sketch flips a
    // flag and fails the row hash.
    Query("q_sketch_profile", """
      SELECT l_returnflag, COUNT(*) AS cnt,
             COUNT(DISTINCT l_partkey) AS exact_distinct,
             CAST(1 AS INT) AS hll_ok, CAST(1 AS INT) AS q_ok
      FROM lineitem GROUP BY 1 ORDER BY 1""", { (s, dir) =>
      val li = Tables.lineitem(s, dir)
      val sk = Aggregations.sketchProfile(
        li, "l_extendedprice", "l_partkey", Seq("l_returnflag"))
      // exact comparator via the histogram percentile (exchange ∝
      // distinct values, not rows — Spark's `percentile` agg buffers
      // every row per group and was the slowest line of the sf1 bench)
      val exact = li.groupBy("l_returnflag")
        .agg(count_distinct(col("l_partkey")).as("exact_distinct"))
        .join(Aggregations.exactPercentilesByValue(
          li, "l_extendedprice", Seq("l_returnflag"),
          Seq(0.25, 0.5, 0.75, 0.95)), "l_returnflag")
      def near(a: Column, i: Int): Column = {
        val e = element_at(col("eq"), i)
        abs(a - e) <= lit(0.02) * (abs(e) + 1.0)
      }
      sk.join(exact, "l_returnflag")
        .select(
          col("l_returnflag"), col("cnt"), col("exact_distinct"),
          (abs(col("approx_distinct") - col("exact_distinct"))
            <= lit(0.15) * col("exact_distinct")).cast("int").as("hll_ok"),
          (near(col("q25"), 1) && near(col("q50"), 2) &&
            near(col("q75"), 3) && near(col("q95"), 4))
            .cast("int").as("q_ok"))
        .orderBy("l_returnflag")
    }),
    // A9 gate — same exact-vs-sketch shape for the mergeable HLL
    // rollup: n_cells (count of fine day-cells merged) and the exact
    // distinct-user count are DuckDB-recomputable; the merged-sketch
    // estimate enters as a 15% relative-error flag.
    Query("q_sketch_rollup", """
      SELECT event_type,
             COUNT(DISTINCT CAST(ts AS DATE)) AS n_cells,
             COUNT(DISTINCT user_id) AS exact_distinct,
             CAST(1 AS INT) AS hll_ok
      FROM events GROUP BY 1 ORDER BY 1""", { (s, dir) =>
      val ev = Tables.events(s, dir)
      val roll = Aggregations.sketchRollup(
        ev.withColumn("day", to_date(col("ts"))),
        fineCols = Seq("day"), rollupCols = Seq("event_type"), "user_id")
      val exact = ev.groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("exact_distinct"))
      roll.join(exact, "event_type")
        .select(
          col("event_type"), col("n_cells"), col("exact_distinct"),
          (abs(col("approx_distinct") - col("exact_distinct"))
            <= lit(0.15) * col("exact_distinct")).cast("int").as("hll_ok"))
        .orderBy("event_type")
    }),
    // dataset profiler (imports/profiler.py): one agg pass, row per column
    Query("q_table_profile", s"""
      WITH prof AS (
        ${profileCols.map { case (c, t) =>
          s"""SELECT '$c' AS column_name, '$t' AS dtype, COUNT(*) AS n_rows,
              COUNT(*) - COUNT($c) AS n_nulls,
              COUNT(DISTINCT $c) AS n_distinct FROM part"""
        }.mkString(" UNION ALL ")})
      SELECT column_name, dtype, n_rows, n_nulls, n_distinct,
             CAST(n_nulls AS DOUBLE) / n_rows AS null_ratio,
             CAST(n_distinct AS DOUBLE) / n_rows AS unique_ratio
      FROM prof ORDER BY column_name""", { (s, dir) =>
      Aggregations.tableProfile(
        Tables.part(s, dir),
        Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"))
    }),
    // A8b gate — deterministic column type/role detection
    // (column_detector.py pattern rules + profiler.py value rules):
    // events plus a synthesized WKT column so the VALUE-based geometry
    // rule (not just name patterns) is under the hash; the role
    // cascade's data-dependent branches (distinct-count thresholds,
    // bool_or WKT detection) replay in the oracle.
    Query("q_column_roles", {
      // per-column row builder: name-rule flags are metadata constants
      // (functions of the column NAME — precomputed here exactly as the
      // operator precomputes them on the driver); stats, the WKT value
      // rule, and every data-dependent role branch compute in SQL.
      def row(c: String, t: String, isId: Boolean, nameGeo: Boolean,
              isDate: Boolean, isLabel: Boolean, kind: String): String = {
        val isStr = kind == "string"
        val wkt =
          if (isStr) s"COALESCE(bool_or(regexp_matches($c, 'POINT|POLYGON|LINESTRING')), FALSE)"
          else "FALSE"
        val geo = if (nameGeo) "TRUE" else wkt
        val dtypeRole = kind match {
          case "numeric" => s"CASE WHEN COUNT(DISTINCT $c) <= 20 THEN 'categorical' ELSE 'measure' END"
          case "string"  => s"CASE WHEN COUNT(DISTINCT $c) <= 100 THEN 'categorical' ELSE 'text' END"
          case _ => "'other'"
        }
        val role =
          if (isId) "'identifier'"
          else s"""CASE WHEN $geo THEN 'geometry'
                   WHEN ${if (isDate) "TRUE" else "FALSE"} THEN 'temporal'
                   WHEN ${if (isLabel) "TRUE" else "FALSE"} THEN 'label'
                   ELSE $dtypeRole END"""
        s"""SELECT '$c' AS column_name, '$t' AS dtype, COUNT(*) AS n_rows,
            COUNT(*) - COUNT($c) AS n_nulls,
            COUNT(DISTINCT $c) AS n_distinct,
            CAST(COUNT(DISTINCT $c) AS DOUBLE) / COUNT(*) AS unique_ratio,
            $isId AS is_id, $geo AS is_geometry,
            $isDate AS is_date, $isLabel AS is_label,
            $role AS role
         FROM ev"""
      }
      s"""
      WITH ev AS (
        SELECT *, 'POINT(' || CAST(user_id % 90 AS VARCHAR) || ' 1)' AS footprint
        FROM events)
      ${Seq(
        row("event_id", "bigint", isId = true, nameGeo = false, isDate = false, isLabel = false, "numeric"),
        row("ts", "timestamp", isId = false, nameGeo = false, isDate = true, isLabel = false, "temporal"),
        row("user_id", "bigint", isId = true, nameGeo = false, isDate = false, isLabel = false, "numeric"),
        row("event_type", "string", isId = false, nameGeo = false, isDate = false, isLabel = false, "string"),
        row("value", "double", isId = false, nameGeo = false, isDate = false, isLabel = false, "numeric"),
        row("props", "string", isId = false, nameGeo = false, isDate = false, isLabel = false, "string"),
        row("footprint", "string", isId = false, nameGeo = false, isDate = false, isLabel = false, "string"))
        .mkString(" UNION ALL ")}
      ORDER BY column_name"""
    }, { (s, dir) =>
      import org.apache.spark.sql.functions._
      val ev = Tables.events(s, dir).withColumn("footprint",
        concat(lit("POINT("), (col("user_id") % 90).cast("string"), lit(" 1)")))
      Analysis.columnRoles(ev,
        Seq("event_id", "ts", "user_id", "event_type", "value", "props", "footprint"))
    }),
    Query("q_binned_distribution", """
      WITH groups AS (SELECT DISTINCT l_returnflag FROM lineitem),
      bins(bin, bin_label) AS (VALUES
        (0,'0.0-10.0'),(1,'10.0-20.0'),(2,'20.0-30.0'),(3,'30.0-40.0'),(4,'40.0-50.0')),
      counts AS (
        SELECT l_returnflag,
          CASE WHEN l_quantity >= 40 AND l_quantity <= 50 THEN 4
               WHEN l_quantity >= 30 AND l_quantity < 40 THEN 3
               WHEN l_quantity >= 20 AND l_quantity < 30 THEN 2
               WHEN l_quantity >= 10 AND l_quantity < 20 THEN 1
               WHEN l_quantity >= 0 AND l_quantity < 10 THEN 0 END AS bin,
          COUNT(*) AS cnt
        FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2),
      counts2 AS (SELECT * FROM counts WHERE bin IS NOT NULL),
      totals AS (SELECT l_returnflag, SUM(cnt) AS total FROM counts2 GROUP BY 1)
      SELECT g.l_returnflag, CAST(b.bin AS INT) AS bin, b.bin_label,
             CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt,
             CASE WHEN t.total > 0 THEN
               ROUND(CAST(COALESCE(c.cnt, 0) AS DOUBLE) * 100.0 / CAST(t.total AS DOUBLE), 2)
             ELSE 0.0 END AS pct
      FROM groups g CROSS JOIN bins b
      LEFT JOIN counts2 c ON c.l_returnflag = g.l_returnflag AND c.bin = b.bin
      LEFT JOIN totals t ON t.l_returnflag = g.l_returnflag
      ORDER BY g.l_returnflag, b.bin""", { (s, dir) =>
      Distributions.binnedDistribution(
        Tables.lineitem(s, dir), "l_quantity",
        bins = Seq(0, 10, 20, 30, 40, 50), groupBy = Seq("l_returnflag"))
    }),
    Query("q_categorical_distribution", """
      WITH groups AS (SELECT DISTINCT o_orderstatus FROM orders),
      cats(category, cat_order) AS (VALUES
        ('1-URGENT',0),('2-HIGH',1),('3-MEDIUM',2),('4-NOT SPECIFIED',3),('5-LOW',4)),
      counts AS (
        SELECT o_orderstatus, o_orderpriority AS category, COUNT(*) AS cnt
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
        GROUP BY 1, 2),
      totals AS (SELECT o_orderstatus, SUM(cnt) AS total FROM counts GROUP BY 1)
      SELECT g.o_orderstatus, k.category, CAST(k.cat_order AS INT) AS cat_order,
             CAST(COALESCE(c.cnt, 0) AS BIGINT) AS cnt,
             CASE WHEN t.total > 0 THEN
               ROUND(CAST(COALESCE(c.cnt, 0) AS DOUBLE) * 100.0 / CAST(t.total AS DOUBLE), 2)
             ELSE 0.0 END AS pct
      FROM groups g CROSS JOIN cats k
      LEFT JOIN counts c ON c.o_orderstatus = g.o_orderstatus AND c.category = k.category
      LEFT JOIN totals t ON t.o_orderstatus = g.o_orderstatus
      ORDER BY g.o_orderstatus, k.cat_order""", { (s, dir) =>
      Distributions.categoricalDistribution(
        Tables.orders(s, dir), "o_orderpriority",
        categories = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        groupBy = Seq("o_orderstatus"))
    }),
    Query("q_time_series", """
      WITH groups AS (SELECT DISTINCT event_type FROM events),
      months AS (SELECT CAST(range AS INT) AS month FROM range(1, 13)),
      agg AS (
        SELECT event_type, CAST(MONTH(ts) AS INT) AS month,
               COUNT(*) AS n_rows,
               COUNT(CASE WHEN value IS NOT NULL AND value > 0 THEN 1 END) AS n_present
        FROM events GROUP BY 1, 2)
      SELECT g.event_type, m.month,
             CAST(COALESCE(a.n_rows, 0) AS BIGINT) AS n_rows,
             CAST(COALESCE(a.n_present, 0) AS BIGINT) AS n_present,
             CASE WHEN COALESCE(a.n_rows, 0) > 0 THEN
               ROUND(CAST(a.n_present AS DOUBLE) * 100.0 / CAST(a.n_rows AS DOUBLE), 2)
             ELSE 0.0 END AS presence_pct
      FROM groups g CROSS JOIN months m
      LEFT JOIN agg a ON a.event_type = g.event_type AND a.month = m.month
      ORDER BY g.event_type, m.month""", { (s, dir) =>
      Distributions.timeSeriesPresence(
        Tables.events(s, dir), "ts", "value", Seq("event_type"))
    }),
    // equal-frequency quartiles of customer balance within each nation
    Query("q_quantile_bins", quantileBinsOracle, { (s, dir) =>
      Distributions.quantileBins(
        Tables.customer(s, dir).select("c_nationkey", "c_acctbal", "c_custkey"),
        Seq("c_nationkey"), "c_acctbal", "c_custkey", k = 4)
    }),
    // global quartile binning of lineitem quantity (exact edges for the
    // oracle; the operator's default is the percentile_approx scale path)
    Query("q_global_bins", s"""
      WITH e AS (
        SELECT quantile_cont(CAST(l_quantity AS DOUBLE), [0.25, 0.5, 0.75]) AS edges
        FROM lineitem)
      SELECT CAST(len(list_filter(e.edges, x -> l.l_quantity > x)) AS INT) AS bin,
             COUNT(*) AS n, MIN(l_quantity) AS lo, MAX(l_quantity) AS hi,
             ${dsum("l_quantity")} AS value_sum
      FROM lineitem l CROSS JOIN e
      GROUP BY 1 ORDER BY 1""", { (s, dir) =>
      Distributions.globalQuantileBins(
        Tables.lineitem(s, dir).select("l_quantity"), "l_quantity", k = 4,
        exact = true)
    }),
    // snapshot reconciliation over two synthetic versions of orders:
    // %97-keys appear only in new (added), %89-keys only in old
    // (removed), %50-keys get a price bump (changed)
    Query("q_snapshot_diff", snapshotDiffOracle, { (s, dir) =>
      val orders = Tables.orders(s, dir)
      val prev = orders
        .where(pmod(col("o_orderkey"), lit(97)) =!= 0)
        .select("o_orderkey", "o_totalprice")
      val next = orders
        .where(pmod(col("o_orderkey"), lit(89)) =!= 0)
        .select(
          col("o_orderkey"),
          when(pmod(col("o_orderkey"), lit(50)) === 0, col("o_totalprice") * 1.1)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      Joins.snapshotDiff(prev, next, Seq("o_orderkey"), Seq("o_totalprice"))
    }),
    // incremental re-import refresh over two synthetic document
    // snapshots: %89-keys deleted, %97-keys added, %50-keys rewritten
    // to one of 7 boilerplate variants (forcing intra-batch dup
    // collapse); actions ∝ churn, corpus never rewritten
    Query("q_incremental_refresh", """
      WITH prev AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 89 <> 0),
      nxt AS (
        SELECT doc_id,
               CASE WHEN doc_id % 50 = 0
                    THEN 'shared boilerplate ' || CAST(doc_id % 7 AS VARCHAR)
                    ELSE text END AS text
        FROM documents WHERE doc_id % 97 <> 0),
      d AS (
        SELECT * FROM (
          SELECT COALESCE(p.doc_id, n.doc_id) AS doc_id,
                 CASE WHEN p.doc_id IS NULL THEN 'added'
                      WHEN n.doc_id IS NULL THEN 'removed'
                      WHEN p.text <> n.text THEN 'changed' END AS change_type,
                 n.text AS new_text
          FROM prev p FULL OUTER JOIN nxt n ON p.doc_id = n.doc_id)
        WHERE change_type IS NOT NULL),
      ups AS (
        SELECT doc_id, change_type, md5(new_text) AS text_hash
        FROM d WHERE change_type <> 'removed'),
      corpus_dup AS (
        SELECT DISTINCT md5(text) AS text_hash FROM nxt
        WHERE doc_id NOT IN (SELECT doc_id FROM d)
          AND md5(text) IN (SELECT text_hash FROM ups))
      SELECT doc_id, change_type,
             CASE WHEN text_hash IN (SELECT text_hash FROM corpus_dup)
                    OR doc_id > MIN(doc_id) OVER (PARTITION BY text_hash)
                  THEN 'skip_duplicate' ELSE 'upsert' END AS action,
             text_hash
      FROM ups
      UNION ALL
      SELECT doc_id, change_type, 'delete' AS action, NULL AS text_hash
      FROM d WHERE change_type = 'removed'
      ORDER BY doc_id""", { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val prev = docs
        .where(pmod(col("doc_id"), lit(89)) =!= 0)
        .select("doc_id", "text")
      val next = docs
        .where(pmod(col("doc_id"), lit(97)) =!= 0)
        .select(
          col("doc_id"),
          when(pmod(col("doc_id"), lit(50)) === 0,
            concat(lit("shared boilerplate "),
              pmod(col("doc_id"), lit(7)).cast("string")))
            .otherwise(col("text")).as("text"))
      Incremental.refreshActions(prev, next, "doc_id", "text")
    }),
  )
}
