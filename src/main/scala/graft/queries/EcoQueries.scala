package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Ecology

/** Batch 5: ecological suite (SURVEY.md §2 N). The corpus has no
  * rasters, so the rasterized world derives deterministically from
  * `events` (integer modular arithmetic, exact in both engines): each
  * event is one pixel with a zone, an elevation, a forest flag/type,
  * and a Holdridge life zone. Patch/feature tables derive from `part`
  * and `orders` the same way. The operators take any conforming
  * DataFrame — the derivations are test wiring, not operator logic.
  */
object EcoQueries {

  /** Pixel table: zone, elevation 0–1500, forest flag + type, life zone. */
  def ecoCells(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      (col("event_id") % 4).as("zone"),
      ((col("event_id") * 37) % 1500).cast("double").as("elevation"),
      ((col("event_id") * 13) % 100 < 45).as("forest"),
      when((col("event_id") * 13) % 100 < 45,
        element_at(
          array(lit("core"), lit("mature"), lit("secondary")),
          ((col("event_id") * 11) % 3 + 1).cast("int")))
        .otherwise(lit("none")).as("forest_type"),
      (lit(1) + (col("event_id") * 7) % 3).cast("int").as("life_zone"))

  private val cellsSql = """
    SELECT event_id % 4 AS zone,
           CAST((event_id * 37) % 1500 AS DOUBLE) AS elevation,
           (event_id * 13) % 100 < 45 AS forest,
           CASE WHEN (event_id * 13) % 100 < 45
                THEN ['core','mature','secondary'][CAST((event_id * 11) % 3 AS INT) + 1]
                ELSE 'none' END AS forest_type,
           CAST(1 + (event_id * 7) % 3 AS INT) AS life_zone
    FROM events"""

  /** Forest patch table: zone, patch area (2 dp), perimeter. */
  def forestPatches(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir).select(
      (col("p_partkey") % 4).as("zone"),
      (col("p_retailprice") / 100.0).as("patch_area"),
      (col("p_size") * 40.0).as("perimeter"))

  private val patchesSql = """
    SELECT p_partkey % 4 AS zone,
           p_retailprice / 100.0 AS patch_area,
           p_size * 40.0 AS perimeter
    FROM part"""

  def zoneLandscape(s: SparkSession, dir: String): DataFrame =
    forestPatches(s, dir).select("zone").distinct()
      .withColumn("landscape_area", (col("zone") + 1) * 50000.0)

  private val landscapeSql = """
    SELECT DISTINCT p_partkey % 4 AS zone,
           (p_partkey % 4 + 1) * 50000.0 AS landscape_area
    FROM part"""

  /** Clipped land-use features: zone, layer, category, area. */
  def landUseFeatures(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      (col("o_orderkey") % 4).as("zone"),
      when(col("o_orderkey") % 2 === 0, "vegetation").otherwise("tenure")
        .as("layer"),
      col("o_orderpriority").as("category"),
      // /100 keeps areas at 4 decimal places — exact under the
      // DECIMAL(18,4) cast in Num.dsum (a 5th place would round and
      // Spark/DuckDB disagree on ties; see Num's Scaladoc)
      (col("o_totalprice") / 100.0).as("area"))

  private val featuresSql = """
    SELECT o_orderkey % 4 AS zone,
           CASE WHEN o_orderkey % 2 = 0 THEN 'vegetation' ELSE 'tenure' END AS layer,
           o_orderpriority AS category,
           o_totalprice / 100.0 AS area
    FROM orders"""

  private val elevEdges = Seq(0.0, 300.0, 600.0, 900.0, 1200.0, 1500.0)
  private val forestTypes = Seq("core", "mature", "secondary")
  private val sizeEdges = Seq(0.0, 5.0, 10.0, 15.0, 20.0)

  import CoreQueries.dsum

  val queries: Seq[Query] = Seq(
    Query("q_elevation_profile", s"""
      WITH cells AS ($cellsSql),
      bounds AS (
        SELECT zone,
               FLOOR(MIN(elevation) / 100.0) * 100.0 AS min_elev,
               CEIL(MAX(elevation) / 100.0) * 100.0 AS max_elev
        FROM cells GROUP BY zone),
      b AS (SELECT zone, min_elev, (max_elev - min_elev) / 10 AS bin_width FROM bounds),
      binned AS (
        SELECT c.zone,
               CAST(LEAST(FLOOR((c.elevation - b.min_elev) / b.bin_width), 9) AS INT) AS bin,
               b.min_elev, b.bin_width, c.forest
        FROM cells c JOIN b ON c.zone = b.zone)
      SELECT zone, bin,
             min_elev + bin * bin_width AS elev_lo,
             min_elev + (bin + 1) * bin_width AS elev_hi,
             COUNT(*) AS pixel_count,
             CAST(COUNT(*) AS DOUBLE) * CAST(0.64 AS DOUBLE) AS area,
             COUNT(CASE WHEN forest THEN 1 END) AS forest_pixels,
             COUNT(CASE WHEN forest THEN 1 END) * 100.0 / COUNT(*) AS forest_pct
      FROM binned GROUP BY zone, bin, min_elev, bin_width ORDER BY zone, bin""", { (s, dir) =>
      Ecology.elevationProfile(
        ecoCells(s, dir), "zone", "elevation", "forest",
        nBins = 10, pixelArea = 0.64)
    }),
    Query("q_forest_elevation", {
      val edgeArr = elevEdges.mkString("[", ",", "]")
      s"""
      WITH cells AS ($cellsSql),
      binned AS (
        SELECT zone, forest_type,
               CASE ${elevEdges.sliding(2).zipWithIndex.map { case (Seq(lo, hi), i) =>
                 s"WHEN elevation >= $lo AND elevation < $hi THEN $i" }.mkString(" ")}
               END AS bin
        FROM cells),
      g AS (
        SELECT zone, bin, COUNT(*) AS n_pixels,
               ${forestTypes.map(t =>
                 s"COUNT(CASE WHEN forest_type = '$t' THEN 1 END) AS n_$t").mkString(", ")},
               COUNT(CASE WHEN forest_type IN (${forestTypes.map("'" + _ + "'").mkString(",")})
                     THEN 1 END) AS n_forest
        FROM binned WHERE bin IS NOT NULL GROUP BY zone, bin)
      SELECT zone, CAST(bin AS INT) AS bin,
             CAST($edgeArr[bin + 1] AS DOUBLE) AS elev_lo,
             CAST($edgeArr[bin + 2] AS DOUBLE) AS elev_hi,
             n_pixels,
             ${forestTypes.map(t =>
               s"n_$t * 100.0 / n_pixels AS pct_$t").mkString(", ")},
             n_forest * 100.0 / n_pixels AS pct_forest_total
      FROM g ORDER BY zone, bin"""
    }, { (s, dir) =>
      Ecology.forestElevationMatrix(
        ecoCells(s, dir), "zone", "elevation", "forest_type",
        elevEdges, forestTypes)
    }),
    Query("q_holdridge", s"""
      WITH cells AS ($cellsSql),
      g AS (
        SELECT zone, life_zone, COUNT(*) AS n_pixels,
               COUNT(CASE WHEN forest THEN 1 END) AS n_forest
        FROM cells GROUP BY zone, life_zone),
      t AS (SELECT zone, SUM(n_pixels) AS zone_total FROM g GROUP BY zone)
      SELECT g.zone, g.life_zone,
             CAST(g.n_forest AS DOUBLE) / t.zone_total AS forest_frac,
             CAST(g.n_pixels - g.n_forest AS DOUBLE) / t.zone_total AS non_forest_frac
      FROM g JOIN t ON g.zone = t.zone ORDER BY g.zone, g.life_zone""", { (s, dir) =>
      Ecology.holdridgeFractions(ecoCells(s, dir), "zone", "life_zone", "forest")
    }),
    Query("q_fragmentation", s"""
      WITH p AS ($patchesSql), l AS ($landscapeSql),
      g AS (
        SELECT zone, COUNT(*) AS patch_count,
               ${dsum("patch_area")} AS total_forest_area,
               ${dsum("patch_area * patch_area")} AS sum_sq_area,
               MAX(patch_area) AS largest_patch,
               ${dsum("perimeter")} AS total_edge
        FROM p GROUP BY zone)
      SELECT g.zone, g.patch_count, g.total_forest_area,
             g.sum_sq_area / l.landscape_area AS meff,
             g.largest_patch,
             g.largest_patch * 100.0 / l.landscape_area AS largest_patch_index,
             g.total_edge / l.landscape_area AS edge_density
      FROM g JOIN l ON g.zone = l.zone ORDER BY g.zone""", { (s, dir) =>
      Ecology.fragmentationMetrics(
        forestPatches(s, dir), zoneLandscape(s, dir),
        "zone", "patch_area", "perimeter", "landscape_area")
    }),
    Query("q_patch_sizes", s"""
      WITH p AS ($patchesSql),
      cls AS (
        SELECT zone, patch_area,
               CASE ${sizeEdges.init.zipWithIndex.map { case (lo, i) =>
                 val hi = sizeEdges(i + 1)
                 s"WHEN patch_area >= $lo AND patch_area < $hi THEN $i"
               }.mkString(" ")}
                 WHEN patch_area >= ${sizeEdges.last} THEN ${sizeEdges.size - 1}
               END AS size_class
        FROM p),
      g AS (
        SELECT zone, CAST(size_class AS INT) AS size_class,
               COUNT(*) AS n_patches, ${dsum("patch_area")} AS class_area
        FROM cls WHERE size_class IS NOT NULL GROUP BY 1, 2),
      t AS (SELECT zone, CAST(SUM(CAST(class_area AS DECIMAL(18,4))) AS DOUBLE) AS zone_area
            FROM g GROUP BY zone)
      SELECT g.zone, g.size_class, g.n_patches, g.class_area,
             g.class_area * 100.0 / t.zone_area AS pct_of_forest
      FROM g JOIN t ON g.zone = t.zone ORDER BY g.zone, g.size_class""", { (s, dir) =>
      Ecology.patchSizeClasses(forestPatches(s, dir), "zone", "patch_area", sizeEdges)
    }),
    Query("q_diversity", s"""
      WITH cells AS ($cellsSql),
      c AS (
        SELECT zone, forest_type, COUNT(*) AS n
        FROM cells GROUP BY zone, forest_type),
      g AS (
        SELECT zone, CAST(COUNT(*) AS INT) AS richness,
               CAST(SUM(n) AS BIGINT) AS total,
               list(n ORDER BY forest_type) AS counts
        FROM c GROUP BY zone)
      SELECT zone, richness, total,
             -list_sum(list_transform(counts,
               x -> (CAST(x AS DOUBLE) / CAST(total AS DOUBLE))
                    * ln(CAST(x AS DOUBLE) / CAST(total AS DOUBLE)))) AS shannon,
             1.0 - list_sum(list_transform(counts,
               x -> (CAST(x AS DOUBLE) / CAST(total AS DOUBLE))
                    * (CAST(x AS DOUBLE) / CAST(total AS DOUBLE)))) AS simpson,
             CASE WHEN richness > 1 THEN
               -list_sum(list_transform(counts,
                 x -> (CAST(x AS DOUBLE) / CAST(total AS DOUBLE))
                      * ln(CAST(x AS DOUBLE) / CAST(total AS DOUBLE))))
               / ln(CAST(richness AS DOUBLE))
             END AS pielou
      FROM g ORDER BY zone""", { (s, dir) =>
      Ecology.diversityIndices(ecoCells(s, dir), Seq("zone"), "forest_type")
    }),
    Query("q_land_use", s"""
      WITH f AS ($featuresSql),
      g AS (
        SELECT zone, layer, category, COUNT(*) AS n_features,
               ${dsum("area")} AS area
        FROM f GROUP BY zone, layer, category),
      t AS (SELECT DISTINCT o_orderkey % 4 AS zone,
                   (o_orderkey % 4 + 1) * 1000000.0 AS total_area FROM orders)
      SELECT g.zone, g.layer, g.category, g.n_features, g.area,
             g.area * 100.0 / t.total_area AS pct_of_zone
      FROM g JOIN t ON g.zone = t.zone ORDER BY g.zone, g.layer, g.category""", { (s, dir) =>
      Ecology.landUse(
        landUseFeatures(s, dir),
        landUseFeatures(s, dir).select("zone").distinct()
          .withColumn("total_area", (col("zone") + 1) * 1000000.0),
        "zone", "layer", "category", "area", "total_area")
    }),
  )
}
