package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Geospatial operators (SURVEY.md §2 F), re-expressing niamoto's
  * point-extraction / grid / spatial-join / raster-stats plugins
  * (ref: `transformers/geospatial/geospatial_extractor.py`,
  * `shape_processor.py`, `raster_stats.py`, `loaders/spatial.py`)
  * without a geometry library: points are (lon, lat) doubles, zones
  * are rectangles, rasters are (cell_x, cell_y, value) tables — the
  * representations that actually shard over a cluster. Geometry joins
  * stay range-predicate joins so the small side broadcasts and the
  * point side never shuffles.
  */
object Geo {

  /** F1 — point extraction: validate coordinate range, dedupe exact
    * coordinates, count occurrences per point (niamoto's
    * `geospatial_extractor` groups identical coordinates the same
    * way). One hash-groupBy. */
  def pointDedupe(df: DataFrame, lonCol: String, latCol: String): DataFrame =
    df.where(
        col(lonCol).isNotNull && col(latCol).isNotNull &&
        col(lonCol).between(-180.0, 180.0) && col(latCol).between(-90.0, 90.0))
      .groupBy(col(lonCol).as("lon"), col(latCol).as("lat"))
      .agg(count(lit(1)).as("n_points"))
      .orderBy("lon", "lat")

  /** F2 — fixed-size grid binning (geohash-style): cell indices by
    * floor division of shifted coordinates, plus per-cell stats. */
  def gridBin(
      df: DataFrame, lonCol: String, latCol: String, cellDeg: Double,
      valueCol: String): DataFrame =
    df.where(col(lonCol).isNotNull && col(latCol).isNotNull)
      .groupBy(
        floor((col(lonCol) + 180.0) / cellDeg).cast("int").as("cell_x"),
        floor((col(latCol) + 90.0) / cellDeg).cast("int").as("cell_y"))
      .agg(
        count(lit(1)).as("n_points"),
        min(col(valueCol)).as("min_val"),
        max(col(valueCol)).as("max_val"),
        Num.dmean(col(valueCol)).as("mean_val"))
      .orderBy("cell_x", "cell_y")

  /** F3 — point-in-rectangle containment join, GRID-BLOCKED: zones
    * explode once into the grid cells their bounding box covers, points
    * compute their (single) cell, and the containment join becomes an
    * EQUI-join on the cell key followed by the exact range predicate —
    * a hash join Spark can broadcast (small zone sets) or shuffle on
    * the cell key (huge ones), instead of the BroadcastNestedLoopJoin a
    * pure range-predicate join degenerates to (every point × every
    * zone — dies past ~10⁴ zones). A point lies in exactly one cell, so
    * no dedup is needed; a point inside k overlapping zones still
    * contributes to all k. `cellDeg` trades zone-side duplication
    * (≈ area/cellDeg² rows per zone) against cell-key selectivity;
    * match it to typical zone extent. Mirrors `loaders/spatial.py:103`
    * containment semantics at cluster scale. */
  def pointInRect(
      points: DataFrame, zones: DataFrame,
      lonCol: String, latCol: String, zoneKey: String,
      aggs: Seq[Column], cellDeg: Double = 5.0): DataFrame = {
    def cellOf(c: Column): Column = floor(c / cellDeg).cast("int")
    // bbox cells, boundary-inclusive on the max edge: a harmless
    // superset (the exact predicate re-filters), never a miss.
    val zoneCells = zones
      .withColumn("cx", explode(sequence(cellOf(col("xmin")), cellOf(col("xmax")))))
      .withColumn("cy", explode(sequence(cellOf(col("ymin")), cellOf(col("ymax")))))
    points
      .withColumn("cx", cellOf(col(lonCol)))
      .withColumn("cy", cellOf(col(latCol)))
      .join(zoneCells, Seq("cx", "cy"))
      .where(
        col(lonCol) >= col("xmin") && col(lonCol) < col("xmax") &&
        col(latCol) >= col("ymin") && col(latCol) < col("ymax"))
      .groupBy(col(zoneKey))
      .agg(count(lit(1)).as("n_points"), aggs: _*)
      .orderBy(col(zoneKey))
  }

  /** F5 — vector overlay (`transformers/geospatial/vector_overlay.py`)
    * at cell resolution: the reference intersects/unions/differences a
    * zone geometry with an overlay layer in shapely and reports areas +
    * coverage. Rasterized onto a discrete grid — the representation
    * that shards — every overlay op is a set op on cell tables, all
    * derivable from ONE left join: |A∩B| per zone plus the overlay's
    * global cell count give intersection, difference, union, symmetric
    * difference and coverage % in closed form. The overlay side is
    * deduped and the per-zone tallies are a single shuffle on zone.
    */
  def cellOverlay(
      zoneCells: DataFrame,
      zoneCol: String,
      cellCol: String,
      overlayCells: DataFrame,
      overlayCellCol: String,
      cellArea: Double): DataFrame = {
    val ov = overlayCells.select(col(overlayCellCol).as("__ov_cell")).distinct()
    val nOverlay = ov.agg(count(lit(1)).as("n_overlay"))
    zoneCells
      .join(ov, col(cellCol) === col("__ov_cell"), "left")
      .groupBy(col(zoneCol))
      .agg(
        count(lit(1)).as("n_cells"),
        count(col("__ov_cell")).as("n_intersection"))
      .crossJoin(broadcast(nOverlay)) // 1-row dim: stays a broadcast
      .select(
        col(zoneCol), col("n_cells"), col("n_intersection"),
        (col("n_cells") - col("n_intersection")).as("n_difference"),
        (col("n_cells") + col("n_overlay") - col("n_intersection")).as("n_union"),
        (col("n_cells") + col("n_overlay") - col("n_intersection") * 2)
          .as("n_sym_difference"),
        (col("n_intersection") * lit(100.0) / col("n_cells")).as("coverage_pct"),
        (col("n_intersection") * cellArea).as("intersection_area"))
      .orderBy(col(zoneCol))
  }

  /** P4 — polygon PRE-RASTERIZATION: arbitrary polygons (one row per
    * polygon, ring vertices as parallel `xs`/`ys` arrays) → the grid
    * cells whose CENTER lies inside, by the even-odd ray-cast rule.
    * This is the bridge to niamoto's real shapes (`shape_processor.py`,
    * `vector_overlay.py` run shapely ops; `loaders/spatial.py:103`
    * selects by point-in-shape containment): rasterize each polygon
    * ONCE — a map-side explode of bbox candidate cells + a per-cell
    * fold over the edge list, no shuffle at all — and every downstream
    * containment join (F3 [[pointInRect]], F5 [[cellOverlay]]) becomes
    * an equi-join on the cell key. No geometry library enters the hot
    * path: the geometry cost is paid once per polygon × bbox-cell,
    * distributed, and the output is the representation that shards.
    *
    * The crossing test
    * `(yi > py) ≠ (yj > py) ∧ px < (xj−xi)·(py−yi)/(yj−yi) + xi`
    * is evaluated in fixed double-precision order, so any engine
    * replaying the same expression (the DuckDB oracle does) lands on
    * bit-identical booleans. Cells whose center falls exactly on an
    * edge follow that shared IEEE arithmetic — consistent, if
    * arbitrary, on degenerate inputs.
    */
  /** The ray-cast crossing count as a composed column fold — the
    * bit-equal REFERENCE implementation of the native codegen'd
    * [[graft.functions.RayCastCrossings]] (equality asserted in
    * EventsGeoFormatsSpec). The HOF `aggregate` is CodegenFallback —
    * an interpreted lambda per edge per candidate pair — which is why
    * the operators below default to the native expression. */
  private[graft] def rayCastCrossingsHof(
      px: Column, py: Column, xs: Column, ys: Column): Column = {
    val n = size(xs)
    aggregate(
      sequence(lit(0), n - 1), lit(0),
      (acc, i) => {
        val xi = element_at(xs, i + 1)
        val yi = element_at(ys, i + 1)
        val xj = element_at(xs, pmod(i + 1, n) + 1)
        val yj = element_at(ys, pmod(i + 1, n) + 1)
        acc + when(
          ((yi > py) =!= (yj > py)) &&
            (px < (xj - xi) * (py - yi) / (yj - yi) + xi),
          1).otherwise(0)
      })
  }

  private def rayCastCrossings(
      px: Column, py: Column, xs: Column, ys: Column): Column =
    graft.functions.GraftFunctions.ray_cast_crossings(
      px.cast("double"), py.cast("double"),
      xs.cast("array<double>"), ys.cast("array<double>"))

  def rasterizePolygons(
      polys: DataFrame, polyKey: String, xsCol: String, ysCol: String,
      cellDeg: Double): DataFrame = {
    val xs = col(xsCol); val ys = col(ysCol)
    def cellOf(c: Column): Column = floor(c / cellDeg).cast("int")
    val px = (col("cell_x") + 0.5) * cellDeg
    val py = (col("cell_y") + 0.5) * cellDeg
    val crossings = rayCastCrossings(px, py, xs, ys)
    polys
      .withColumn("cell_x",
        explode(sequence(cellOf(array_min(xs)), cellOf(array_max(xs)))))
      .withColumn("cell_y",
        explode(sequence(cellOf(array_min(ys)), cellOf(array_max(ys)))))
      .where(pmod(crossings, lit(2)) === 1)
      .select(col(polyKey), col("cell_x"), col("cell_y"))
      .orderBy(polyKey, "cell_x", "cell_y")
  }

  /** P5 — point-in-POLYGON containment join, exact: candidates come
    * from a grid equi-join (polygon bbox cells × point cells — same
    * blocking as [[pointInRect]], so it is a hash join at any zone
    * count), then the exact even-odd ray cast on the point's own
    * coordinates decides containment. This is `loaders/spatial.py:103`
    * with REAL polygon semantics, shaped for a cluster: the geometry
    * test runs once per candidate pair as a fused column fold, the
    * points never shuffle, and no geometry library is involved.
    * For huge polygon sets, pre-classify cells with
    * [[rasterizePolygons]] (fully-interior cells skip the exact test);
    * at the bbox densities the reference deals in, the plain exact
    * predicate is cheaper than the two-pass refinement. */
  def pointInPolygon(
      points: DataFrame, polys: DataFrame,
      lonCol: String, latCol: String, polyKey: String,
      xsCol: String, ysCol: String,
      aggs: Seq[Column], cellDeg: Double = 5.0): DataFrame = {
    def cellOf(c: Column): Column = floor(c / cellDeg).cast("int")
    val xs = col(xsCol); val ys = col(ysCol)
    val polyCells = polys
      .withColumn("cx", explode(sequence(cellOf(array_min(xs)), cellOf(array_max(xs)))))
      .withColumn("cy", explode(sequence(cellOf(array_min(ys)), cellOf(array_max(ys)))))
    val px = col(lonCol); val py = col(latCol)
    val crossings = rayCastCrossings(px, py, xs, ys)
    points
      .withColumn("cx", cellOf(px))
      .withColumn("cy", cellOf(py))
      .join(polyCells, Seq("cx", "cy"))
      .where(pmod(crossings, lit(2)) === 1)
      .groupBy(col(polyKey))
      .agg(count(lit(1)).as("n_points"), aggs: _*)
      .orderBy(col(polyKey))
  }

  /** Collapse ring ROWS (one per outer ring / hole / multipolygon
    * part, as [[graft.sources.GeoJson.featureRings]] emits) to one row
    * per feature: the ring-array pair the [[graft.functions
    * .RingCrossings]] test consumes, plus the feature's overall bbox.
    * One tiny shuffle on the feature key — polygons are the dim side;
    * ring counts per feature are bounded (communes have tens of rings,
    * not millions), so the collected arrays stay small. The two
    * collect_lists fill from the same aggregation iterator, keeping
    * xs/ys ring order aligned (and the crossing TOTAL is
    * order-independent anyway). */
  private def ringSetPerFeature(
      rings: DataFrame, key: String, xsCol: String, ysCol: String): DataFrame =
    rings.groupBy(col(key))
      .agg(
        collect_list(col(xsCol).cast("array<double>")).as("xss"),
        collect_list(col(ysCol).cast("array<double>")).as("yss"),
        min(array_min(col(xsCol))).as("xmin"), max(array_max(col(xsCol))).as("xmax"),
        min(array_min(col(ysCol))).as("ymin"), max(array_max(col(ysCol))).as("ymax"))

  /** P6 — ring-SET rasterization: polygons with holes and
    * multipolygons, input as one row per ring. Same plan shape as
    * [[rasterizePolygons]] — map-side bbox-cell explode + a fused
    * codegen'd crossing test per cell, no shuffle past the one tiny
    * feature-level ring collection — but the even-odd test totals
    * crossings over ALL of a feature's rings, so holes punch out and
    * disjoint parts union, with no outer/hole casework. */
  def rasterizeRingSet(
      rings: DataFrame, featureKey: String, xsCol: String, ysCol: String,
      cellDeg: Double): DataFrame = {
    def cellOf(c: Column): Column = floor(c / cellDeg).cast("int")
    val px = (col("cell_x") + 0.5) * cellDeg
    val py = (col("cell_y") + 0.5) * cellDeg
    ringSetPerFeature(rings, featureKey, xsCol, ysCol)
      .withColumn("cell_x",
        explode(sequence(cellOf(col("xmin")), cellOf(col("xmax")))))
      .withColumn("cell_y",
        explode(sequence(cellOf(col("ymin")), cellOf(col("ymax")))))
      .where(pmod(
        graft.functions.GraftFunctions.ring_crossings(px, py, col("xss"), col("yss")),
        lit(2)) === 1)
      .select(col(featureKey), col("cell_x"), col("cell_y"))
      .orderBy(featureKey, "cell_x", "cell_y")
  }

  /** The containment-tagging stage of [[pointInRingSet]], exposed so
    * a STREAM of points runs it unchanged (streaming geofence
    * tagging): every operation is stateless per point row (cell key,
    * broadcast dim join, exact ring test), which is exactly what a
    * stream-static join needs. Emits the point rows (minus blocking
    * keys) with their containing `featureKey`; a point inside k
    * overlapping features emits k rows. */
  def tagPointsInRingSet(
      points: DataFrame, rings: DataFrame,
      lonCol: String, latCol: String, featureKey: String,
      xsCol: String, ysCol: String, cellDeg: Double): DataFrame = {
    def cellOf(c: Column): Column = floor(c / cellDeg).cast("int")
    val featureCells = ringSetPerFeature(rings, featureKey, xsCol, ysCol)
      .withColumn("cx", explode(sequence(cellOf(col("xmin")), cellOf(col("xmax")))))
      .withColumn("cy", explode(sequence(cellOf(col("ymin")), cellOf(col("ymax")))))
    val px = col(lonCol); val py = col(latCol)
    points
      .withColumn("cx", cellOf(px))
      .withColumn("cy", cellOf(py))
      .join(broadcast(featureCells), Seq("cx", "cy"))
      .where(pmod(
        graft.functions.GraftFunctions.ring_crossings(px, py, col("xss"), col("yss")),
        lit(2)) === 1)
      .drop("cx", "cy", "xss", "yss", "xmin", "xmax", "ymin", "ymax")
  }

  /** P6 — point-in-RING-SET containment join: [[pointInPolygon]] with
    * hole/multipolygon semantics. Candidates come from the same grid
    * equi-join blocking (feature bbox cells × point cells — a hash
    * join at any feature count, never a nested loop), then the exact
    * multi-ring even-odd test on the point's own coordinates decides.
    * Points never shuffle; the ring-set dim broadcasts. */
  def pointInRingSet(
      points: DataFrame, rings: DataFrame,
      lonCol: String, latCol: String, featureKey: String,
      xsCol: String, ysCol: String,
      aggs: Seq[Column], cellDeg: Double = 5.0): DataFrame =
    tagPointsInRingSet(points, rings, lonCol, latCol, featureKey, xsCol, ysCol, cellDeg)
      .groupBy(col(featureKey))
      .agg(count(lit(1)).as("n_points"), aggs: _*)
      .orderBy(col(featureKey))

  /** F4 — zonal statistics over a cell raster: zones are coarse cells
    * (factor×factor fine cells); one groupBy, no join at all. */
  def zonalStats(
      raster: DataFrame, xCol: String, yCol: String, valueCol: String,
      factor: Int): DataFrame =
    raster.groupBy(
        // floor, not int-cast: double→int casts truncate in Spark but
        // round in DuckDB; floor agrees everywhere
        floor(col(xCol) / factor).cast("int").as("zone_x"),
        floor(col(yCol) / factor).cast("int").as("zone_y"))
      .agg(
        count(lit(1)).as("n_cells"),
        min(col(valueCol)).as("min_val"),
        max(col(valueCol)).as("max_val"),
        Num.dsum(col(valueCol)).as("sum_val"),
        Num.dmean(col(valueCol)).as("mean_val"))
      .orderBy("zone_x", "zone_y")

  /** F7 — point-entity ELEVATION ENRICHMENT: the local-join analogue
    * of `loaders/api_elevation_enricher.py:24` (profile
    * `openmeteo_elevation_v1`, `sample_mode: bbox_grid`,
    * `sample_count: 9`). The reference calls a remote elevation API
    * once per entity with rate limiting and a cache; in a zero-egress
    * deployment the elevation source is a LOCAL raster table, and the
    * Spark-first shape enriches EVERY entity in one join instead of
    * 10⁸ sequential HTTP calls: each point samples the 3×3 cell
    * neighborhood around its own `cellDeg` grid cell and summarizes
    * min / mean / max elevation over every raster sample in those
    * cells.
    *
    * Scale shape: the raster pre-aggregates per cell FIRST, so the
    * join side is bounded by the grid size (≤ 360×180 at 1°), never
    * the raster sample count — it broadcasts, and the entity side
    * neither shuffles nor fans out beyond the fixed 9 offsets.
    * Entities whose neighborhood holds no raster sample drop out
    * (inner join), mirroring the reference's skip-on-no-data path.
    * Mean goes through exact decimal accumulation (cell sums, then
    * entity sums) so parallel merge order cannot wiggle the double. */
  def elevationEnrich(
      points: DataFrame, raster: DataFrame,
      idCol: String, lonCol: String, latCol: String,
      xCol: String, yCol: String, valueCol: String,
      cellDeg: Double = 1.0): DataFrame = {
    val cellAgg = raster.groupBy(col(xCol).as("cx"), col(yCol).as("cy"))
      .agg(
        count(lit(1)).as("c_n"),
        min(col(valueCol)).as("c_min"),
        max(col(valueCol)).as("c_max"),
        sum(col(valueCol).cast(org.apache.spark.sql.types.DecimalType(18, 4)))
          .as("c_sum"))
    points
      .withColumn("__dx", explode(sequence(lit(-1), lit(1))))
      .withColumn("__dy", explode(sequence(lit(-1), lit(1))))
      .withColumn("cx",
        (floor((col(lonCol) + 180.0) / cellDeg).cast("int") + col("__dx")))
      .withColumn("cy",
        (floor((col(latCol) + 90.0) / cellDeg).cast("int") + col("__dy")))
      .join(broadcast(cellAgg), Seq("cx", "cy"))
      .groupBy(col(idCol))
      .agg(
        sum(col("c_n")).as("n_samples"),
        min(col("c_min")).as("elevation_min"),
        max(col("c_max")).as("elevation_max"),
        (sum(col("c_sum")).cast("double") /
          sum(col("c_n")).cast("double")).as("elevation_mean"))
      .orderBy(idCol)
  }

  /** F8 — shape-entity SPATIAL ENRICHMENT: the zonal twin of
    * `loaders/api_spatial_enricher.py` (shape → spatial summary with
    * `include_bbox_summary`). Rect zones containment-join the raster
    * cell CENTERS through [[pointInRect]] (the same grid-blocked
    * broadcast join P5/F3 use — zones explode to bbox cells, the
    * raster side never shuffles), then the per-zone value summary is
    * re-attached to the zone's own bbox fields. One broadcast join +
    * one aggregation, shuffle ∝ zones. */
  def spatialEnrich(
      zones: DataFrame, raster: DataFrame, zoneKey: String,
      xCol: String, yCol: String, valueCol: String,
      cellDeg: Double = 1.0): DataFrame = {
    val centers = raster.select(
      (col(xCol) * cellDeg - 180.0 + cellDeg / 2).as("lon"),
      (col(yCol) * cellDeg - 90.0 + cellDeg / 2).as("lat"),
      col(valueCol).as("value"))
    val summary = pointInRect(
      centers, zones, "lon", "lat", zoneKey,
      Seq(
        min(col("value")).as("value_min"),
        max(col("value")).as("value_max"),
        Num.dsum(col("value")).as("value_sum"),
        Num.dmean(col("value")).as("value_mean")))
    summary
      .join(broadcast(zones), Seq(zoneKey))
      .select(col(zoneKey), col("xmin"), col("xmax"), col("ymin"), col("ymax"),
        col("n_points").as("n_cells"),
        col("value_min"), col("value_max"), col("value_sum"), col("value_mean"))
      .orderBy(zoneKey)
  }
}
