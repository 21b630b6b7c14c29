package graft.queries

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.operators.{Geo, Num}

/** Batch 4b: geospatial operators (SURVEY.md §2 F). The corpus has no
  * coordinate columns, so points derive deterministically from keys
  * (integer modular arithmetic — exact in both engines); the operators
  * themselves take any (lon, lat) columns.
  */
object GeoQueries {

  /** Synthetic customer point cloud: lon ∈ [−180, 179.9], lat ∈ [−90, 89.9]. */
  def customerPoints(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(
      col("c_custkey"), col("c_acctbal"),
      ((col("c_custkey") * 7919 % 3600) / 10.0 - 180.0).as("lon"),
      ((col("c_custkey") * 104729 % 1800) / 10.0 - 90.0).as("lat"))

  private val pointsSql = """
    SELECT c_custkey, c_acctbal,
           ((c_custkey * 7919) % 3600) / 10.0 - 180.0 AS lon,
           ((c_custkey * 104729) % 1800) / 10.0 - 90.0 AS lat
    FROM customer"""

  /** Rectangle zones derived from nations (the broadcastable dim side). */
  def nationZones(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir).select(
      col("n_nationkey").as("zone_id"),
      (col("n_nationkey") * 14.0 - 180.0).as("xmin"),
      (col("n_nationkey") * 14.0 - 160.0).as("xmax"),
      (col("n_nationkey") * 7.0 - 90.0).as("ymin"),
      (col("n_nationkey") * 7.0 - 78.0).as("ymax"))

  private val zonesSql = """
    SELECT n_nationkey AS zone_id,
           n_nationkey * 14.0 - 180.0 AS xmin, n_nationkey * 14.0 - 160.0 AS xmax,
           n_nationkey * 7.0 - 90.0 AS ymin, n_nationkey * 7.0 - 78.0 AS ymax
    FROM nation"""

  /** Raster modeled as (cell_x, cell_y, value) samples from events. */
  def eventRaster(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      (col("event_id") * 31 % 360).cast("int").as("cell_x"),
      (col("event_id") * 17 % 180).cast("int").as("cell_y"),
      col("value"))

  private val rasterSql = """
    SELECT CAST((event_id * 31) % 360 AS INT) AS cell_x,
           CAST((event_id * 17) % 180 AS INT) AS cell_y, value
    FROM events"""

  /** Fixed test rings shared verbatim by the Spark query and the SQL
    * oracle (generated from THIS data — no transcription drift). */
  private val testPolygons: Seq[(Long, Seq[Double], Seq[Double])] = Seq(
    (1L, Seq(0.3, 10.7, 5.1), Seq(0.2, 1.3, 9.8)),
    (2L, Seq(-8.6, -1.2, -0.7, -7.9), Seq(-7.4, -8.1, -0.9, -1.6)),
    (3L, Seq(20.2, 28.9, 24.5, 22.1, 20.9), Seq(5.1, 5.7, 12.4, 8.3, 11.2)))

  /** [[testPolygons]] as `(poly_id, xs, ys)` rows, from an explicit
    * schema: a tuple `toDF` derives its encoder by reflection on every
    * call. */
  private def polygons(s: SparkSession): DataFrame = s.createDataFrame(
    testPolygons.map { case (id, xs, ys) => Row(id, xs, ys) }.asJava,
    StructType(Seq(
      StructField("poly_id", LongType, nullable = false),
      StructField("xs", ArrayType(DoubleType, containsNull = false)),
      StructField("ys", ArrayType(DoubleType, containsNull = false)))))

  /** P6 fixture: feature name → polygons → OPEN rings (outer first,
    * then holes). zoneA is a quad with a rectangular hole; zoneB is a
    * two-part multipolygon. BOTH the GeoJSON literal the query parses
    * and the oracle's VALUES rows are generated from THIS data, so a
    * parser regression (wrong ring, kept closing vertex, dropped hole)
    * shifts coordinates and breaks the hash. */
  private val geoFeatures: Seq[(String, Seq[Seq[(Seq[Double], Seq[Double])]])] = Seq(
    ("zoneA", Seq(Seq(
      (Seq(0.3, 30.7, 28.1, 2.2), Seq(0.2, 1.3, 24.8, 22.9)),
      (Seq(8.2, 18.6, 17.1, 9.4), Seq(6.3, 7.1, 16.8, 15.2))))),
    ("zoneB", Seq(
      Seq((Seq(-60.6, -35.2, -50.7), Seq(-40.4, -38.1, -10.9))),
      Seq((Seq(-150.6, -120.2, -125.7, -145.9), Seq(30.4, 32.1, 58.9, 55.6))))))

  /** The FeatureCollection document: rings CLOSED per the GeoJSON spec
    * (first vertex repeated last — the parser must drop it), single
    * polygons as `Polygon`, multi-part as `MultiPolygon` (the parser
    * must handle both coordinate depths). */
  private[queries] def geoJsonDoc: String = {
    def ringJson(xs: Seq[Double], ys: Seq[Double]): String =
      ((xs :+ xs.head) zip (ys :+ ys.head))
        .map { case (x, y) => s"[$x,$y]" }.mkString("[", ",", "]")
    val feats = geoFeatures.map { case (name, polys) =>
      val ringsJson = polys.map(_.map { case (xs, ys) => ringJson(xs, ys) }
        .mkString("[", ",", "]"))
      val geom =
        if (polys.size == 1) s"""{"type":"Polygon","coordinates":${ringsJson.head}}"""
        else s"""{"type":"MultiPolygon","coordinates":${ringsJson.mkString("[", ",", "]")}}"""
      s"""{"type":"Feature","properties":{"name":"$name"},"geometry":$geom}"""
    }
    s"""{"type":"FeatureCollection","features":${feats.mkString("[", ",", "]")}}"""
  }

  private def ringValuesSql: String =
    geoFeatures.flatMap { case (name, polys) =>
      polys.flatten.map { case (xs, ys) =>
        s"(CAST('$name' AS VARCHAR), CAST(${xs.mkString("[", ",", "]")} AS DOUBLE[]), " +
          s"CAST(${ys.mkString("[", ",", "]")} AS DOUBLE[]))"
      }
    }.mkString(", ")

  /** [[ringValuesSql]] plus the hole flag (ring index > 0 within its
    * polygon) — the roundtrip oracle's inventory columns. */
  private def ringFlaggedValuesSql: String =
    geoFeatures.flatMap { case (name, polys) =>
      polys.flatMap(_.zipWithIndex.map { case ((xs, ys), ringIdx) =>
        s"(CAST('$name' AS VARCHAR), ${if (ringIdx > 0) 1 else 0}, " +
          s"CAST(${xs.mkString("[", ",", "]")} AS DOUBLE[]), " +
          s"CAST(${ys.mkString("[", ",", "]")} AS DOUBLE[]))"
      })
    }.mkString(", ")

  private def polygonValuesSql: String =
    testPolygons.map { case (id, xs, ys) =>
      s"(CAST($id AS BIGINT), CAST(${xs.mkString("[", ",", "]")} AS DOUBLE[]), " +
        s"CAST(${ys.mkString("[", ",", "]")} AS DOUBLE[]))"
    }.mkString(", ")

  import CoreQueries.dsum

  /** The even-odd crossing count `c` of point (px, py) against the ring
    * (xs, ys) of n vertices, summed over the edge index `i`. Vertices sit
    * off the .5 cell centers, so no ray grazes one. */
  private val crossings: String = """SUM(CASE WHEN ((ys[i + 1] > py) <> (ys[((i + 1) % n) + 1] > py))
                AND (px < (xs[((i + 1) % n) + 1] - xs[i + 1])
                          * (py - ys[i + 1])
                          / (ys[((i + 1) % n) + 1] - ys[i + 1])
                        + xs[i + 1])
              THEN 1 ELSE 0 END) AS c"""

  /** The ring sets of `rings`(fname, xs, ys) rasterized on 1° cells:
    * per-feature bbox, candidate cells, crossings per cell (`cr`) and the
    * covered-cell count per feature (`cellagg`). */
  private val ringCellCtes: String = s"""
      bbox AS (
        SELECT fname, MIN(list_min(xs)) AS x0, MAX(list_max(xs)) AS x1,
               MIN(list_min(ys)) AS y0, MAX(list_max(ys)) AS y1
        FROM rings GROUP BY 1),
      b1 AS (
        SELECT fname, y0, y1,
               unnest(generate_series(CAST(FLOOR(x0 / 1.0) AS BIGINT),
                                      CAST(FLOOR(x1 / 1.0) AS BIGINT))) AS cxb
        FROM bbox),
      b2 AS (
        SELECT fname, cxb,
               unnest(generate_series(CAST(FLOOR(y0 / 1.0) AS BIGINT),
                                      CAST(FLOOR(y1 / 1.0) AS BIGINT))) AS cyb
        FROM b1),
      cand AS (
        SELECT b2.fname, CAST(cxb AS INT) AS cell_x, CAST(cyb AS INT) AS cell_y,
               (CAST(cxb AS INT) + 0.5) * 1.0 AS px,
               (CAST(cyb AS INT) + 0.5) * 1.0 AS py,
               r.xs, r.ys, len(r.xs) AS n
        FROM b2 JOIN rings r ON r.fname = b2.fname),
      edges AS (SELECT *, unnest(generate_series(0, n - 1)) AS i FROM cand),
      cr AS (
        SELECT fname, cell_x, cell_y,
          $crossings
        FROM edges GROUP BY 1, 2, 3),
      cellagg AS (SELECT fname, COUNT(*) AS n_cells FROM cr WHERE c % 2 = 1 GROUP BY 1)"""

  val queries: Seq[Query] = Seq(
    Query("q_geo_extract", s"""
      WITH p AS ($pointsSql)
      SELECT lon, lat, COUNT(*) AS n_points
      FROM p
      WHERE lon IS NOT NULL AND lat IS NOT NULL
        AND lon BETWEEN -180.0 AND 180.0 AND lat BETWEEN -90.0 AND 90.0
      GROUP BY 1, 2 ORDER BY 1, 2""", { (s, dir) =>
      Geo.pointDedupe(customerPoints(s, dir), "lon", "lat")
    }),
    Query("q_grid_binning", s"""
      WITH p AS ($pointsSql)
      SELECT CAST(FLOOR((lon + 180.0) / 5.0) AS INT) AS cell_x,
             CAST(FLOOR((lat + 90.0) / 5.0) AS INT) AS cell_y,
             COUNT(*) AS n_points,
             MIN(c_acctbal) AS min_val, MAX(c_acctbal) AS max_val,
             ${dsum("c_acctbal")} / COUNT(c_acctbal) AS mean_val
      FROM p WHERE lon IS NOT NULL AND lat IS NOT NULL
      GROUP BY 1, 2 ORDER BY 1, 2""", { (s, dir) =>
      Geo.gridBin(customerPoints(s, dir), "lon", "lat", cellDeg = 5.0, valueCol = "c_acctbal")
    }),
    Query("q_spatial_join", s"""
      WITH p AS ($pointsSql), z AS ($zonesSql)
      SELECT z.zone_id, COUNT(*) AS n_points, ${dsum("p.c_acctbal")} AS acctbal_sum
      FROM p JOIN z ON p.lon >= z.xmin AND p.lon < z.xmax
                   AND p.lat >= z.ymin AND p.lat < z.ymax
      GROUP BY 1 ORDER BY 1""", { (s, dir) =>
      Geo.pointInRect(
        customerPoints(s, dir), nationZones(s, dir), "lon", "lat", "zone_id",
        Seq(Num.dsum(col("c_acctbal")).as("acctbal_sum")))
    }),
    Query("q_raster_stats", s"""
      WITH r AS ($rasterSql)
      SELECT CAST(FLOOR(cell_x / 30) AS INT) AS zone_x,
             CAST(FLOOR(cell_y / 30) AS INT) AS zone_y,
             COUNT(*) AS n_cells,
             MIN(value) AS min_val, MAX(value) AS max_val,
             ${dsum("value")} AS sum_val,
             ${dsum("value")} / COUNT(value) AS mean_val
      FROM r GROUP BY 1, 2 ORDER BY 1, 2""", { (s, dir) =>
      Geo.zonalStats(eventRaster(s, dir), "cell_x", "cell_y", "value", factor = 30)
    }),
    Query("q_vector_overlay", """
      WITH z AS (SELECT c_custkey % 5 AS zone, c_custkey AS cell FROM customer),
      ov AS (SELECT DISTINCT (s_suppkey * 15) % 2000 AS cell FROM supplier),
      g AS (
        SELECT z.zone, COUNT(*) AS n_cells, COUNT(ov.cell) AS n_intersection
        FROM z LEFT JOIN ov ON z.cell = ov.cell GROUP BY z.zone),
      n AS (SELECT COUNT(*) AS n_overlay FROM ov)
      SELECT zone, n_cells, n_intersection,
             n_cells - n_intersection AS n_difference,
             n_cells + n_overlay - n_intersection AS n_union,
             n_cells + n_overlay - n_intersection * 2 AS n_sym_difference,
             n_intersection * 100.0 / n_cells AS coverage_pct,
             n_intersection * CAST(0.25 AS DOUBLE) AS intersection_area
      FROM g CROSS JOIN n ORDER BY zone""", { (s, dir) =>
      Geo.cellOverlay(
        Tables.customer(s, dir).select(
          (col("c_custkey") % 5).as("zone"), col("c_custkey").as("cell")),
        "zone", "cell",
        Tables.supplier(s, dir).select(
          ((col("s_suppkey") * 15) % 2000).as("ov_cell")),
        "ov_cell", cellArea = 0.25)
    }),
    // P4 — polygon scanline rasterization on three fixed rings (a
    // triangle, a quad, a non-convex pentagon; vertices off the .5 cell
    // centers so no ray grazes a vertex). The oracle replays the exact
    // even-odd crossing arithmetic in SQL, so every covered cell must
    // match bit-for-bit.
    Query("q_polygon_raster", s"""
      WITH polys(poly_id, xs, ys) AS (VALUES $polygonValuesSql),
      p1 AS (
        SELECT poly_id, xs, ys,
               unnest(generate_series(CAST(FLOOR(list_min(xs) / 1.0) AS BIGINT),
                                      CAST(FLOOR(list_max(xs) / 1.0) AS BIGINT))) AS cxb
        FROM polys),
      p2 AS (
        SELECT poly_id, xs, ys, cxb,
               unnest(generate_series(CAST(FLOOR(list_min(ys) / 1.0) AS BIGINT),
                                      CAST(FLOOR(list_max(ys) / 1.0) AS BIGINT))) AS cyb
        FROM p1),
      cand AS (
        SELECT poly_id, xs, ys, len(xs) AS n,
               CAST(cxb AS INT) AS cell_x, CAST(cyb AS INT) AS cell_y,
               (CAST(cxb AS INT) + 0.5) * 1.0 AS px,
               (CAST(cyb AS INT) + 0.5) * 1.0 AS py
        FROM p2),
      edges AS (
        SELECT *, unnest(generate_series(0, n - 1)) AS i FROM cand),
      crossings AS (
        SELECT poly_id, cell_x, cell_y,
          $crossings
        FROM edges
        GROUP BY 1, 2, 3)
      SELECT poly_id, cell_x, cell_y FROM crossings
      WHERE c % 2 = 1 ORDER BY 1, 2, 3""", { (s, dir) =>
      Geo.rasterizePolygons(polygons(s), "poly_id", "xs", "ys", cellDeg = 1.0)
    }),
    // P5 — exact point-in-polygon containment join: bbox-cell-blocked
    // hash join + exact even-odd predicate on the point coordinates;
    // the oracle replays the identical crossing arithmetic per
    // (point, polygon) pair, so membership AND aggregates must match.
    Query("q_polygon_join", s"""
      WITH p AS ($pointsSql),
      polys(poly_id, xs, ys) AS (VALUES $polygonValuesSql),
      pairs AS (
        SELECT p.c_custkey, p.c_acctbal, p.lon AS px, p.lat AS py,
               polys.poly_id, polys.xs, polys.ys, len(polys.xs) AS n
        FROM p, polys
        WHERE p.lon BETWEEN list_min(polys.xs) AND list_max(polys.xs)
          AND p.lat BETWEEN list_min(polys.ys) AND list_max(polys.ys)),
      edges AS (
        SELECT *, unnest(generate_series(0, n - 1)) AS i FROM pairs),
      cr AS (
        SELECT poly_id, c_custkey, c_acctbal,
          $crossings
        FROM edges GROUP BY 1, 2, 3)
      SELECT poly_id, COUNT(*) AS n_points, ${dsum("c_acctbal")} AS acctbal_sum
      FROM cr WHERE c % 2 = 1
      GROUP BY 1 ORDER BY 1""", { (s, dir) =>
      Geo.pointInPolygon(
        customerPoints(s, dir), polygons(s), "lon", "lat", "poly_id", "xs", "ys",
        Seq(Num.dsum(col("c_acctbal")).as("acctbal_sum")))
    }),
    // F5 — point-entity elevation enrichment (the local-join analogue
    // of loaders/api_elevation_enricher.py, bbox_grid/9 profile):
    // every customer point samples the 3×3 cell neighborhood of the
    // event-raster elevation surface through a broadcast cell-agg
    // join; the oracle replays the neighborhood expansion + two-level
    // decimal summary in SQL.
    Query("q_elevation_enrich", s"""
      WITH p AS ($pointsSql), r AS ($rasterSql),
      cells AS (
        SELECT cell_x AS cx, cell_y AS cy, COUNT(*) AS c_n,
               MIN(value) AS c_min, MAX(value) AS c_max,
               SUM(CAST(value AS DECIMAL(18,4))) AS c_sum
        FROM r GROUP BY 1, 2),
      nbr AS (
        SELECT p.c_custkey, c.c_n, c.c_min, c.c_max, c.c_sum
        FROM p
        CROSS JOIN (VALUES (-1), (0), (1)) dx(dx)
        CROSS JOIN (VALUES (-1), (0), (1)) dy(dy)
        JOIN cells c
          ON c.cx = CAST(FLOOR((p.lon + 180.0) / 1.0) AS INT) + dx.dx
         AND c.cy = CAST(FLOOR((p.lat + 90.0) / 1.0) AS INT) + dy.dy)
      SELECT c_custkey, CAST(SUM(c_n) AS BIGINT) AS n_samples,
             MIN(c_min) AS elevation_min, MAX(c_max) AS elevation_max,
             CAST(SUM(c_sum) AS DOUBLE) / CAST(SUM(c_n) AS DOUBLE)
               AS elevation_mean
      FROM nbr GROUP BY 1 ORDER BY 1""", { (s, dir) =>
      Geo.elevationEnrich(
        customerPoints(s, dir), eventRaster(s, dir),
        "c_custkey", "lon", "lat", "cell_x", "cell_y", "value")
    }),
    // F6 — shape-entity spatial enrichment (api_spatial_enricher.py
    // with include_bbox_summary): nation rect zones zonal-summarize
    // the raster cell centers via the same grid-blocked pointInRect
    // join P5 uses, bbox fields re-attached from the zone dim.
    Query("q_spatial_enrich", s"""
      WITH z AS ($zonesSql), r AS ($rasterSql),
      c AS (SELECT cell_x * 1.0 - 180.0 + 0.5 AS lon,
                   cell_y * 1.0 - 90.0 + 0.5 AS lat, value FROM r),
      j AS (SELECT z.zone_id, z.xmin, z.xmax, z.ymin, z.ymax, c.value
            FROM c JOIN z
              ON c.lon >= z.xmin AND c.lon < z.xmax
             AND c.lat >= z.ymin AND c.lat < z.ymax)
      SELECT zone_id, xmin, xmax, ymin, ymax,
             COUNT(*) AS n_cells,
             MIN(value) AS value_min, MAX(value) AS value_max,
             ${dsum("value")} AS value_sum,
             ${dsum("value")} / COUNT(value) AS value_mean
      FROM j GROUP BY 1, 2, 3, 4, 5 ORDER BY 1""", { (s, dir) =>
      Geo.spatialEnrich(
        nationZones(s, dir), eventRaster(s, dir),
        "zone_id", "cell_x", "cell_y", "value")
    }),
    // F4b — raster ingestion from an ACTUAL GeoTIFF file: the query
    // writes a deterministic float32 raster (formula values, strip
    // layout, ModelPixelScale/Tiepoint), imports it through the
    // windowed per-strip distributed reader, and aggregates per zone
    // with cell-center world coordinates on the verified path; the
    // oracle regenerates the raster from the same formula in SQL, so a
    // defect in strip windowing, float decode or the geo transform
    // breaks the hash. (GeoTiffSpec additionally proves the writer
    // against the JDK's independent TIFF parser.)
    // regenerate the raster from the shared formula: PNG-style
    // losslessness holds trivially (uncompressed float32 + integer
    // values < 2^24), so decoded cells must equal the formula exactly
    Query("q_geotiff_import", s"""
      WITH g AS (
        SELECT x.range AS cx, y.range AS cy,
               CAST((x.range * 7 + y.range * 13) % 1000 AS DOUBLE) AS value,
               100.0 + (x.range + 0.5) * 0.5 AS lon,
               -20.0 - (y.range + 0.5) * 0.25 AS lat
        FROM range(60) x, range(40) y)
      SELECT CAST(FLOOR(cx / 30) AS INT) AS zone_x,
             CAST(FLOOR(cy / 20) AS INT) AS zone_y,
             COUNT(*) AS n_cells,
             ${dsum("value")} AS value_sum,
             MIN(lon) AS lon_min, MAX(lon) AS lon_max,
             MIN(lat) AS lat_min, MAX(lat) AS lat_max
      FROM g GROUP BY 1, 2 ORDER BY 1, 2""", { (s, dir) =>
      val W = 60; val H = 40
      val values = Array.tabulate(W * H)(k => (((k % W) * 7 + (k / W) * 13) % 1000).toFloat)
      val bytes = graft.sources.GeoTiff.write(
        values, W, H, rowsPerStrip = 8,
        scaleX = 0.5, scaleY = 0.25, originX = 100.0, originY = -20.0)
      val tmp = java.nio.file.Paths.get(Query.scratchPath("geotiff", dir))
      java.nio.file.Files.createDirectories(tmp)
      val f = tmp.resolve("raster.tif")
      java.nio.file.Files.write(f, bytes)
      graft.sources.GeoTiff.cells(s, f.toString)
        .groupBy(
          floor(col("cell_x") / 30).cast("int").as("zone_x"),
          floor(col("cell_y") / 20).cast("int").as("zone_y"))
        .agg(
          count(lit(1)).as("n_cells"),
          Num.dsum(col("value")).as("value_sum"),
          min(col("lon")).as("lon_min"), max(col("lon")).as("lon_max"),
          min(col("lat")).as("lat_min"), max(col("lat")).as("lat_max"))
        .orderBy("zone_x", "zone_y")
    }),
    // P6 — GeoJSON ingestion end-to-end: parse a FeatureCollection
    // literal (Polygon-with-hole + MultiPolygon, closed rings) into
    // ring rows, rasterize the ring sets AND containment-join the
    // customer points, all under multi-ring even-odd semantics. The
    // oracle starts from the OPEN ring vertex lists the parser must
    // produce and replays the identical crossing arithmetic, so a
    // parsing or hole-handling defect breaks the hash.
    Query("q_geojson_rings", s"""
      WITH rings(fname, xs, ys) AS (VALUES $ringValuesSql),$ringCellCtes,
      p AS ($pointsSql),
      pcand AS (
        SELECT p.c_custkey, p.c_acctbal, p.lon AS px, p.lat AS py,
               r.fname, r.xs, r.ys, len(r.xs) AS n
        FROM p
        JOIN bbox ON p.lon BETWEEN bbox.x0 AND bbox.x1
                 AND p.lat BETWEEN bbox.y0 AND bbox.y1
        JOIN rings r ON r.fname = bbox.fname),
      pedges AS (SELECT *, unnest(generate_series(0, n - 1)) AS i FROM pcand),
      pcr AS (
        SELECT fname, c_custkey, c_acctbal,
          $crossings
        FROM pedges GROUP BY 1, 2, 3),
      pagg AS (
        SELECT fname, COUNT(*) AS n_points, ${dsum("c_acctbal")} AS acctbal_sum
        FROM pcr WHERE c % 2 = 1 GROUP BY 1)
      SELECT cellagg.fname AS feature_key, cellagg.n_cells,
             pagg.n_points, pagg.acctbal_sum
      FROM cellagg LEFT JOIN pagg ON pagg.fname = cellagg.fname
      ORDER BY 1""", { (s, dir) =>
      import s.implicits._
      val rings = graft.sources.GeoJson.featureRings(
        Seq(geoJsonDoc).toDF("doc"), "doc", "name")
      val cells = Geo.rasterizeRingSet(rings, "feature_key", "xs", "ys", cellDeg = 1.0)
        .groupBy("feature_key").agg(count(lit(1)).as("n_cells"))
      val pts = Geo.pointInRingSet(
        customerPoints(s, dir), rings, "lon", "lat", "feature_key", "xs", "ys",
        Seq(Num.dsum(col("c_acctbal")).as("acctbal_sum")))
      cells.join(pts, Seq("feature_key"), "left").orderBy("feature_key")
    }),
    // P6b — GeoJSON EXPORT round trip on the verified path (the
    // reference ships GeoJSON layers for its site maps): parse the
    // literal → write newline-delimited Features (distributed) → read
    // back through readSeq → ring inventory + rasterization of the
    // REREAD rings. The oracle computes the same from the open ring
    // lists, so a writer defect (lost hole, unclosed ring, wrong
    // geometry type, float drift in to_json) changes counts or cells.
    Query("q_geojson_roundtrip", s"""
      WITH rings(fname, is_hole, xs, ys) AS (VALUES $ringFlaggedValuesSql),
      inv AS (
        SELECT fname, COUNT(*) AS n_rings,
               CAST(SUM(len(xs)) AS BIGINT) AS n_vertices,
               CAST(SUM(is_hole) AS BIGINT) AS n_holes
        FROM rings GROUP BY 1),$ringCellCtes
      SELECT inv.fname AS feature_key, inv.n_rings, inv.n_vertices,
             inv.n_holes, cellagg.n_cells
      FROM inv JOIN cellagg ON cellagg.fname = inv.fname
      ORDER BY 1""", { (s, dir) =>
      import s.implicits._
      val rings = graft.sources.GeoJson.featureRings(
        Seq(geoJsonDoc).toDF("doc"), "doc", "name")
      val out = s"${Query.scratchPath("geojson", dir)}/layer"
      graft.sources.GeoJson.writeFeatures(
        rings, out, "feature_key", "poly_idx", "ring_idx", "xs", "ys")
      val back = graft.sources.GeoJson.readSeq(s, out, "name")
      val inv = back.groupBy("feature_key").agg(
        count(lit(1)).as("n_rings"),
        sum(size(col("xs"))).as("n_vertices"),
        sum(col("is_hole").cast("long")).as("n_holes"))
      val cells = Geo.rasterizeRingSet(back, "feature_key", "xs", "ys", cellDeg = 1.0)
        .groupBy("feature_key").agg(count(lit(1)).as("n_cells"))
      inv.join(cells, Seq("feature_key")).orderBy("feature_key")
    }),
  )
}
