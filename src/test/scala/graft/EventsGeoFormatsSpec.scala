package graft

import java.sql.Timestamp
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.operators.{Events, Formats, Geo, Joins, Num}

class EventsGeoFormatsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** The ray-cast crossing count as a composed column fold — the
    * bit-equal REFERENCE implementation of the native codegen'd
    * [[graft.functions.RayCastCrossings]] (equality asserted below).
    * The HOF `aggregate` is CodegenFallback — an interpreted lambda per
    * edge per candidate pair — which is why the Geo operators use the
    * native expression. */
  def rayCastCrossingsHof(
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

  test("scd2FromChangelog compresses runs and labels validity intervals") {
    val log = Seq(
      (1L, ts("2024-01-01 10:00:00"), "A"),
      (1L, ts("2024-01-01 11:00:00"), "A"), // no change → compressed away
      (1L, ts("2024-01-01 12:00:00"), "B"), // change
      (1L, ts("2024-01-01 13:00:00"), "A"), // change back
      (2L, ts("2024-01-01 10:30:00"), "X"),
    ).toDF("user_id", "ts", "event_type")
    val out = Events.scd2FromChangelog(log, Seq("user_id"), "ts", "event_type")
      .collect()
    assert(out.length == 4) // 3 versions for user 1, 1 for user 2
    val u1 = out.filter(_.getLong(0) == 1L)
    assert(u1.map(_.getString(1)).toSeq == Seq("A", "B", "A"))
    assert(u1.head.getTimestamp(3) == ts("2024-01-01 12:00:00")) // A closed by B
    assert(u1.last.isNullAt(3) && u1.last.getBoolean(4)) // open current row
    assert(u1.count(_.getBoolean(4)) == 1)
  }

  test("sessionize splits on gaps greater than the threshold") {
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, ts("2024-01-01 10:10:00"), 2.0), // same session (10 min)
      (1L, ts("2024-01-01 11:00:00"), 3.0), // new session (50 min gap)
      (2L, ts("2024-01-01 10:05:00"), 4.0),
    ).toDF("user_id", "ts", "value")
    val out = Events.sessionize(
      events, "user_id", "ts", gapSeconds = 1800L,
      Seq(Num.dsum(col("value")).as("value_sum"))).collect()
    assert(out.length == 3)
    val u1s1 = out.find(r => r.getLong(0) == 1L && r.getLong(1) == 1L).get
    assert(u1s1.getAs[Long]("n_events") == 2L)
    assert(u1s1.getAs[Double]("value_sum") == 3.0)
    assert(u1s1.getAs[Timestamp]("session_end") == ts("2024-01-01 10:10:00"))
  }

  test("windowAggregate buckets by date_trunc") {
    val events = Seq(
      (ts("2024-01-01 10:00:00"), "a", 1.0),
      (ts("2024-01-01 23:59:59"), "a", 2.0),
      (ts("2024-01-02 00:00:00"), "a", 4.0),
    ).toDF("ts", "event_type", "value")
    val out = Events.windowAggregate(
      events, "ts", "day", Seq("event_type"),
      Seq(count(lit(1)).as("n_events"), Num.dsum(col("value")).as("value_sum")))
      .collect()
    assert(out.length == 2)
    assert(out.head.getAs[Long]("n_events") == 2L)
    assert(out.head.getAs[Double]("value_sum") == 3.0)
  }

  test("pointInRect assigns points to containing rectangles only") {
    val points = Seq((0.5, 0.5, 10.0), (5.0, 5.0, 20.0)).toDF("lon", "lat", "v")
    val zones = Seq((1, 0.0, 1.0, 0.0, 1.0), (2, 4.0, 6.0, 4.0, 6.0), (3, -10.0, -5.0, 0.0, 1.0))
      .toDF("zone_id", "xmin", "xmax", "ymin", "ymax")
    val out = Geo.pointInRect(points, zones, "lon", "lat", "zone_id",
      Seq(Num.dsum(col("v")).as("v_sum"))).collect()
    assert(out.map(r => (r.getInt(0), r.getAs[Double]("v_sum"))).toSeq ==
      Seq((1, 10.0), (2, 20.0)))
  }

  test("gridBin and zonalStats agree on cell arithmetic") {
    val pts = Seq((-180.0, -90.0, 1.0), (-176.0, -86.0, 3.0), (0.0, 0.0, 5.0))
      .toDF("lon", "lat", "v")
    val out = Geo.gridBin(pts, "lon", "lat", 5.0, "v").collect()
    // first two points share cell (0,0); third lands at (36,18)
    assert(out.length == 2)
    assert(out.head.getAs[Long]("n_points") == 2L)
    assert(out.head.getAs[Double]("mean_val") == 2.0)

    val raster = Seq((0, 0, 1.0), (29, 29, 3.0), (30, 0, 7.0)).toDF("x", "y", "v")
    val z = Geo.zonalStats(raster, "x", "y", "v", factor = 30).collect()
    assert(z.length == 2)
    assert(z.head.getAs[Double]("sum_val") == 4.0)
  }

  test("mapToSchema renames, derives, and injects constants in order") {
    val df = Seq((1L, "x")).toDF("id", "name")
    val out = Formats.mapToSchema(df, Seq(
      "recordID" -> concat_ws(":", lit("urn"), col("id")),
      "label" -> col("name"),
      "kind" -> lit("Thing")))
    assert(out.columns.toSeq == Seq("recordID", "label", "kind"))
    assert(out.head.toSeq == Seq("urn:1", "x", "Thing"))
  }

  test("jsonDetailRecords emits top-N details per entity as JSON") {
    val df = Seq(
      (1, "N1", 10.0, 101L, "a"), (1, "N1", 30.0, 102L, "b"),
      (1, "N1", 20.0, 103L, "c"), (2, "N2", 5.0, 201L, "d"),
    ).toDF("nk", "nname", "bal", "ck", "cname")
    val out = Formats.jsonDetailRecords(
      df, Seq("nk", "nname"), struct(col("bal"), col("ck"), col("cname")), topN = 2)
      .collect()
    assert(out.length == 2)
    val r1 = out.find(_.getInt(0) == 1).get
    assert(r1.getAs[Long]("n_details") == 3L)
    val payload = r1.getAs[String]("payload")
    assert(payload.contains("\"bal\":30.0") && payload.contains("\"bal\":20.0"))
    assert(!payload.contains("\"bal\":10.0")) // beyond top-2
  }

  test("asofJoin picks the latest state at-or-before each event") {
    val left = Seq(
      (1L, ts("2024-01-01 09:00:00"), "before-any"),
      (1L, ts("2024-01-01 10:00:00"), "at-state"), // == state ts → inclusive
      (1L, ts("2024-01-01 11:30:00"), "between"),
      (1L, ts("2024-01-01 13:00:00"), "after-last"),
      (2L, ts("2024-01-01 10:00:00"), "other-user"),
    ).toDF("user_id", "ts", "label")
    val states = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0),
      (1L, ts("2024-01-01 12:00:00"), 200.0),
    ).toDF("user_id", "ts", "state_v")
    val out = Events.asofJoin(left, states, "user_id", "ts", Seq("state_v"))
      .collect().map(r => r.getAs[String]("label") -> Option(r.getAs[Any]("state_v"))).toMap
    assert(out("before-any").isEmpty)
    assert(out("at-state").contains(100.0))
    assert(out("between").contains(100.0))
    assert(out("after-last").contains(200.0))
    assert(out("other-user").isEmpty) // states never cross users
  }

  test("jsonAttributes surfaces typed fields; malformed rows yield null") {
    import org.apache.spark.sql.types._
    val df = Seq(
      ("a", """{"k": 7, "tag": "x"}"""),
      ("b", """{"k": "not-an-int"}"""),
      ("c", "not json at all"),
    ).toDF("id", "props")
    val out = graft.operators.Extraction.jsonAttributes(
      df, "props",
      StructType(Seq(StructField("k", IntegerType), StructField("tag", StringType))),
      keep = Seq("id")).collect()
    val byId = out.map(r => r.getString(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(byId("a") == ((Some(7), Some("x"))))
    assert(byId("b")._1.isEmpty) // type mismatch → null field
    assert(byId("c") == ((None, None))) // malformed → null row
  }

  test("fuzzyMatch picks the closest in-block reference, ties to min id") {
    val ref = Seq((1L, "acacia spirorbis"), (2L, "acacia simplex"), (3L, "banyan tree"))
      .toDF("id", "name")
    val dirty = Seq(
      (10L, "acacia spirorbys"), // 1 edit from #1, blocked together by prefix
      (11L, "zzz unknown"),      // no block partner → unmatched (dropped)
      (12L, "banyan trees"),     // 1 edit from #3... but blocked by 4-prefix "bany"
    ).toDF("id", "name")
    val out = Joins.fuzzyMatch(
      dirty, "id", "name", ref, "id", "name",
      blockOf = n => substring(n, 1, 4), maxDist = 3).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(2), r.getInt(4))).toSeq ==
      Seq((10L, 1L, 1), (12L, 3L, 1)))
  }

  test("rasterizePolygons covers exactly the interior cells of a square") {
    val square = Seq((1L, Seq(0.0, 10.0, 10.0, 0.0), Seq(0.0, 0.0, 10.0, 10.0)))
      .toDF("poly_id", "xs", "ys")
    val cells = graft.operators.Geo.rasterizePolygons(square, "poly_id", "xs", "ys", 1.0)
      .collect().map(r => (r.getInt(1), r.getInt(2))).toSet
    assert(cells == (for (x <- 0 until 10; y <- 0 until 10) yield (x, y)).toSet)
  }

  test("rasterizePolygons matches a reference even-odd test on a concave ring") {
    val xs = Seq(20.2, 28.9, 24.5, 22.1, 20.9)
    val ys = Seq(5.1, 5.7, 12.4, 8.3, 11.2)
    val df = Seq((7L, xs, ys)).toDF("poly_id", "xs", "ys")
    val got = graft.operators.Geo.rasterizePolygons(df, "poly_id", "xs", "ys", 1.0)
      .collect().map(r => (r.getInt(1), r.getInt(2))).toSet
    def inside(px: Double, py: Double): Boolean = {
      val n = xs.size
      var c = 0
      for (i <- 0 until n) {
        val (xi, yi) = (xs(i), ys(i)); val (xj, yj) = (xs((i + 1) % n), ys((i + 1) % n))
        if (((yi > py) != (yj > py)) && (px < (xj - xi) * (py - yi) / (yj - yi) + xi)) c += 1
      }
      c % 2 == 1
    }
    val want = (for {
      x <- math.floor(xs.min).toInt to math.floor(xs.max).toInt
      y <- math.floor(ys.min).toInt to math.floor(ys.max).toInt
      if inside(x + 0.5, y + 0.5)
    } yield (x, y)).toSet
    assert(got == want && got.nonEmpty)
  }

  test("native ray_cast_crossings is bit-equal to the HOF fold") {
    val rnd = new scala.util.Random(31)
    val rows = (0 until 200).map { i =>
      val k = 3 + rnd.nextInt(8)
      (i.toLong,
        rnd.nextDouble() * 20, rnd.nextDouble() * 20,
        Seq.fill(k)(rnd.nextDouble() * 20), Seq.fill(k)(rnd.nextDouble() * 20))
    }
    val df = rows.toDF("id", "px", "py", "xs", "ys")
    val out = df.select(
      graft.functions.GraftFunctions.ray_cast_crossings(
        col("px"), col("py"), col("xs"), col("ys")).as("native"),
      rayCastCrossingsHof(
        col("px"), col("py"), col("xs"), col("ys")).as("hof")).collect()
    out.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    // null polygon → null, not a crash
    val nul = Seq((1.0, 1.0, Option.empty[Seq[Double]], Option(Seq(1.0))))
      .toDF("px", "py", "xs", "ys")
      .select(graft.functions.GraftFunctions.ray_cast_crossings(
        col("px"), col("py"), col("xs"), col("ys"))).collect()
    assert(nul(0).isNullAt(0))
  }

  test("pointInPolygon matches brute-force containment on random polygons") {
    // the cell blocking must never drop a true containment (a contained
    // point is inside the bbox, and bbox cells cover the bbox), and the
    // joined ray cast must agree with an independent reference loop
    val rnd = new scala.util.Random(23)
    val polys = (0 until 5).map { p =>
      val cx = rnd.nextDouble() * 40; val cy = rnd.nextDouble() * 40
      val k = 4 + rnd.nextInt(5)
      // star-shaped around (cx, cy) → simple (non-self-intersecting)
      val verts = (0 until k).map { i =>
        val ang = 2 * math.Pi * i / k + rnd.nextDouble() * 0.5
        val rad = 2 + rnd.nextDouble() * 9
        (cx + rad * math.cos(ang), cy + rad * math.sin(ang))
      }
      (p.toLong, verts.map(_._1), verts.map(_._2))
    }
    val points = (0 until 400).map(i =>
      (i.toLong, rnd.nextDouble() * 50, rnd.nextDouble() * 50))
    def inside(px: Double, py: Double, xs: Seq[Double], ys: Seq[Double]): Boolean = {
      var c = 0
      for (i <- xs.indices) {
        val (xi, yi) = (xs(i), ys(i))
        val (xj, yj) = (xs((i + 1) % xs.size), ys((i + 1) % xs.size))
        if (((yi > py) != (yj > py)) && (px < (xj - xi) * (py - yi) / (yj - yi) + xi)) c += 1
      }
      c % 2 == 1
    }
    val want = polys.map { case (pid, xs, ys) =>
      pid -> points.count { case (_, px, py) => inside(px, py, xs, ys) }.toLong
    }.filter(_._2 > 0L).toMap
    val got = graft.operators.Geo.pointInPolygon(
        points.toDF("pt_id", "lon", "lat"), polys.toDF("poly_id", "xs", "ys"),
        "lon", "lat", "poly_id", "xs", "ys", aggs = Seq(max(col("pt_id")).as("max_pt")),
        cellDeg = 5.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want && want.nonEmpty)
  }

  // a Polygon with a hole plus a two-part MultiPolygon, rings CLOSED
  // per the GeoJSON spec
  private val geoJsonFixture = """{"type":"FeatureCollection","features":[
    {"type":"Feature","properties":{"name":"withHole"},"geometry":{"type":"Polygon",
     "coordinates":[[[0.0,0.0],[10.0,0.0],[10.0,10.0],[0.0,10.0],[0.0,0.0]],
                    [[3.0,3.0],[7.0,3.0],[7.0,7.0],[3.0,7.0],[3.0,3.0]]]}},
    {"type":"Feature","properties":{"name":"twoParts"},"geometry":{"type":"MultiPolygon",
     "coordinates":[[[[20.0,0.0],[26.0,0.0],[26.0,6.0],[20.0,6.0],[20.0,0.0]]],
                    [[[30.0,0.0],[34.0,0.0],[34.0,4.0],[30.0,4.0],[30.0,0.0]]]]}}]}"""
    .replaceAll("\n\\s*", "")

  test("GeoJson.featureRings parses both depths, drops closing vertices, flags holes") {
    val rings = graft.sources.GeoJson.featureRings(
      Seq(geoJsonFixture).toDF("doc"), "doc", "name")
      .collect().map(r => (r.getString(1), r.getInt(2), r.getInt(3), r.getBoolean(4),
        r.getSeq[Double](5), r.getSeq[Double](6)))
    assert(rings.length == 4)
    val byKey = rings.groupBy(_._1)
    // Polygon: one poly, outer + hole; closing vertex gone (4 verts, not 5)
    val hole = byKey("withHole").sortBy(_._3)
    assert(hole.map(t => (t._2, t._3, t._4)).toSeq == Seq((0, 0, false), (0, 1, true)))
    assert(hole(0)._5 == Seq(0.0, 10.0, 10.0, 0.0) && hole(0)._6 == Seq(0.0, 0.0, 10.0, 10.0))
    assert(hole(1)._5 == Seq(3.0, 7.0, 7.0, 3.0))
    // MultiPolygon: two polys, each a single outer ring
    val parts = byKey("twoParts").sortBy(_._2)
    assert(parts.map(t => (t._2, t._3, t._4)).toSeq == Seq((0, 0, false), (1, 0, false)))
    assert(parts(1)._5 == Seq(30.0, 34.0, 34.0, 30.0))
  }

  test("GeoJson.read parses a FeatureCollection file distributed") {
    val dir = java.nio.file.Files.createTempDirectory("graft-geojson")
    java.nio.file.Files.write(dir.resolve("zones.geojson"), geoJsonFixture.getBytes("UTF-8"))
    val rings = graft.sources.GeoJson.read(spark, dir.toString, "name")
    assert(rings.count() == 4)
    assert(rings.select("feature_key").distinct().collect().map(_.getString(0)).sorted
      .toSeq == Seq("twoParts", "withHole"))
  }

  test("unsupported geometry types fail loudly") {
    val doc = """{"type":"FeatureCollection","features":[{"type":"Feature",
      "properties":{"name":"pt"},"geometry":{"type":"Point","coordinates":[1.0,2.0]}}]}"""
      .replaceAll("\n\\s*", "")
    val err = intercept[Exception](graft.sources.GeoJson.featureRings(
      Seq(doc).toDF("doc"), "doc", "name").collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(err).exists(_.contains("unsupported geometry type")))
  }

  test("featureRings fails loudly when a non-empty doc yields no features") {
    // malformed input (or partial-results parsing disabled) must not
    // produce a silently empty layer
    val err = intercept[Exception](graft.sources.GeoJson.featureRings(
      Seq("""{"not":"a feature collection"}""").toDF("doc"), "doc", "name")
      .collect())
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: msgs(e.getCause))
    assert(msgs(err).exists(_.contains("no features under both")))
  }

  test("ring_crossings equals the per-ring ray_cast sum") {
    val rnd = new scala.util.Random(53)
    val rows = (0 until 100).map { i =>
      val nRings = 1 + rnd.nextInt(3)
      val rings = Seq.fill(nRings) {
        val k = 3 + rnd.nextInt(6)
        (Seq.fill(k)(rnd.nextDouble() * 20), Seq.fill(k)(rnd.nextDouble() * 20))
      }
      (rnd.nextDouble() * 20, rnd.nextDouble() * 20, rings.map(_._1), rings.map(_._2))
    }
    val df = rows.toDF("px", "py", "xss", "yss")
    val out = df.select(
      graft.functions.GraftFunctions.ring_crossings(
        col("px"), col("py"), col("xss"), col("yss")).as("multi"),
      aggregate(sequence(lit(0), size(col("xss")) - 1), lit(0), (acc, i) =>
        acc + graft.functions.GraftFunctions.ray_cast_crossings(
          col("px"), col("py"),
          element_at(col("xss"), i + 1), element_at(col("yss"), i + 1))).as("summed"))
      .collect()
    out.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("rasterizeRingSet: holes punch out, multipolygon parts union") {
    val rings = graft.sources.GeoJson.featureRings(
      Seq(geoJsonFixture).toDF("doc"), "doc", "name")
    val cells = graft.operators.Geo.rasterizeRingSet(rings, "feature_key", "xs", "ys", 1.0)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2)))
    val byKey = cells.groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    val outer = (for (x <- 0 until 10; y <- 0 until 10) yield (x, y)).toSet
    val holeCells = (for (x <- 3 until 7; y <- 3 until 7) yield (x, y)).toSet
    assert(byKey("withHole") == outer -- holeCells)
    val partA = (for (x <- 20 until 26; y <- 0 until 6) yield (x, y)).toSet
    val partB = (for (x <- 30 until 34; y <- 0 until 4) yield (x, y)).toSet
    assert(byKey("twoParts") == partA ++ partB)
  }

  test("GeoJSON export round-trips ring rows exactly through readSeq") {
    val rings = graft.sources.GeoJson.featureRings(
      Seq(geoJsonFixture).toDF("doc"), "doc", "name")
    val dir = java.nio.file.Files.createTempDirectory("graft-geojson-out").toString
    graft.sources.GeoJson.writeFeatures(
      rings, s"$dir/layer", "feature_key", "poly_idx", "ring_idx", "xs", "ys")
    val back = graft.sources.GeoJson.readSeq(spark, s"$dir/layer", "name")
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("feature_key", "poly_idx", "ring_idx", "is_hole", "xs", "ys")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getBoolean(3),
        r.getSeq[Double](4).toSeq, r.getSeq[Double](5).toSeq)).toSet
    assert(key(back) == key(rings))
    // the emitted lines are real GeoJSON Features (spot parse one)
    val line = spark.read.text(s"$dir/layer").head.getString(0)
    assert(line.startsWith("""{"type":"Feature"""") && line.contains(""""coordinates":"""))
  }

  test("pointInRingSet excludes hole interiors and unions parts") {
    val rings = graft.sources.GeoJson.featureRings(
      Seq(geoJsonFixture).toDF("doc"), "doc", "name")
    val points = Seq(
      (1L, 1.2, 1.2),   // withHole: inside outer, outside hole
      (2L, 5.0, 5.0),   // withHole: inside the hole → excluded
      (3L, 21.3, 1.1),  // twoParts part 1
      (4L, 33.2, 3.3),  // twoParts part 2
      (5L, 28.0, 2.0),  // between the parts → excluded
    ).toDF("pt_id", "lon", "lat")
    val got = graft.operators.Geo.pointInRingSet(
        points, rings, "lon", "lat", "feature_key", "xs", "ys",
        aggs = Seq(collect_set(col("pt_id")).as("pts")))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](2).toSet).toMap
    assert(got == Map("withHole" -> Set(1L), "twoParts" -> Set(3L, 4L)))
  }

  test("elevationEnrich summarizes the 3x3 cell neighborhood per point") {
    // cellDeg=1: point cell = floor(lon+180), floor(lat+90).
    val points = Seq(
      (1L, -179.5, -89.5), // cell (0,0): neighborhood reaches (1,1)
      (2L, -177.5, -87.5), // cell (2,2): neighborhood reaches (1,1)
      (3L, -170.5, -80.5), // cell (9,9): no raster in reach → dropped
    ).toDF("id", "lon", "lat")
    val raster = Seq(
      (0, 0, 100.0), (1, 1, 200.0), (2, 2, 999.0),
    ).toDF("cell_x", "cell_y", "value")
    val out = Geo.elevationEnrich(
      points, raster, "id", "lon", "lat", "cell_x", "cell_y", "value")
    // the cell-agg side must broadcast — the raster pre-agg is grid-bounded
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    val rows = out.collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val r1 = rows(0)
    assert(r1.getLong(1) == 2L && r1.getDouble(2) == 100.0 &&
      r1.getDouble(3) == 200.0 && r1.getDouble(4) == 150.0)
    val r2 = rows(1)
    assert(r2.getLong(1) == 2L && r2.getDouble(2) == 200.0 &&
      r2.getDouble(3) == 999.0 && r2.getDouble(4) == 599.5)
  }

  test("spatialEnrich zonal-summarizes raster cell centers per rect zone") {
    // center of cell (cx,cy) at cellDeg=1 is (cx-179.5, cy-89.5)
    val raster = Seq(
      (0, 0, 10.0), (1, 0, 20.0), (5, 5, 99.0),
    ).toDF("cell_x", "cell_y", "value")
    val zones = Seq(
      ("A", -180.0, -178.0, -90.0, -89.0), // holds centers of (0,0),(1,0)
      ("B", -175.0, -174.0, -85.0, -84.0), // holds center of (5,5)
      ("C", 10.0, 20.0, 10.0, 20.0),       // empty → absent
    ).toDF("zone_id", "xmin", "xmax", "ymin", "ymax")
    val got = Geo.spatialEnrich(zones, raster, "zone_id", "cell_x", "cell_y", "value")
      .collect().map(r => r.getString(0) ->
        (r.getLong(5), r.getDouble(6), r.getDouble(7), r.getDouble(9))).toMap
    assert(got == Map(
      "A" -> ((2L, 10.0, 20.0, 15.0)),
      "B" -> ((1L, 99.0, 99.0, 99.0))))
  }
}
