package graft
package battery

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators._
import Helpers._

/** Geometry battery: planar and geodesic measures, containment, tiled
  * joins and the spatial layout. */
object GeoQueries {

  /** Customer points on the quarter grid: px ∈ [0, 24], py ∈ [0, 22]. */
  private def customerPoints(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_custkey"),
      ((col("c_custkey") % 97).cast("double") * 0.25).as("px"),
      ((col("c_custkey") % 89).cast("double") * 0.25).as("py"))

  /** Non-convex 8-point star offsets (unit scale). */
  private val starOffsets = Seq((3.0, 0.0), (1.0, 1.0), (0.0, 3.0),
    (-1.0, 1.0), (-3.0, 0.0), (-1.0, -1.0), (0.0, -3.0), (1.0, -1.0))

  /** Closed ring: center + scaled offsets, closing vertex repeated. */
  private def offsetRing(cx: Column, cy: Column, scale: Column,
                         offsets: Seq[(Double, Double)]): Column =
    array((offsets :+ offsets.head).map { case (ox, oy) =>
      struct((cx + lit(ox) * scale).as("x"), (cy + lit(oy) * scale).as("y"))
    }: _*)

  /** One star polygon per nation: centers on a 5×5 grid of pitch 5,
    * scale cycling 1.0/1.5/2.0 — neighbors overlap, so intersects and
    * containment queries exercise both outcomes. */
  private def nationPolys(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d).select(col("n_nationkey"),
      GeoAlgebra.wktPolygon(offsetRing(
        (col("n_nationkey") % 5).cast("double") * 5.0,
        floor(col("n_nationkey") / lit(5.0)) * 5.0,
        lit(1.0) + (col("n_nationkey") % 3).cast("double") * 0.5,
        starOffsets)).as("wkt"))

  /** One diamond per region, centered on the y = 10 row. */
  private def regionPolys(s: SparkSession, d: String): DataFrame =
    Tables.region(s, d).select(col("r_regionkey"),
      GeoAlgebra.wktPolygon(offsetRing(
        col("r_regionkey").cast("double") * 5.0 + 2.0, lit(10.0), lit(1.0),
        Seq((4.0, 0.0), (0.0, 4.0), (-4.0, 0.0), (0.0, -4.0)))).as("rwkt"))

  /** DuckDB twin of [[nationPolys]]: per-nation star vertices `nv` and
    * directed edges `ne(n_nationkey, x1, y1, x2, y2)` — same arithmetic,
    * exact doubles. Starts inside a WITH clause (no leading `WITH`). */
  private val nationEdgesSql =
    """off(i, dx, dy) AS (VALUES
      |  (0,3.0,0.0),(1,1.0,1.0),(2,0.0,3.0),(3,-1.0,1.0),
      |  (4,-3.0,0.0),(5,-1.0,-1.0),(6,0.0,-3.0),(7,1.0,-1.0)),
      |nv AS (SELECT n_nationkey, i,
      |         (n_nationkey % 5) * 5.0 + dx * (1.0 + (n_nationkey % 3) * 0.5) AS x,
      |         floor(n_nationkey / 5.0) * 5.0 + dy * (1.0 + (n_nationkey % 3) * 0.5) AS y
      |       FROM nation CROSS JOIN off),
      |ne AS (SELECT a.n_nationkey, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
      |       FROM nv a JOIN nv b ON a.n_nationkey = b.n_nationkey
      |                          AND b.i = (a.i + 1) % 8)""".stripMargin

  /** DuckDB twin of [[customerPoints]]. */
  private val customerPointsSql =
    """cp AS (SELECT c_custkey, (c_custkey % 97) * 0.25 AS px,
      |         (c_custkey % 89) * 0.25 AS py FROM customer)""".stripMargin

  /** Antimeridian wrap of an edge's longitude step into [−π, π) — the
    * exact mirror of [[graft.operators.Geo.areaGeoSqMeters]]'s `wrapPi`
    * (`Δλ − 2π·⌊Δλ/2π + ½⌋`, identity for |Δλ| < π; all exact-rounded
    * ops, 6.283185307179586 is the double 2π both engines share). */
  private def duckWrapPi(e: String): String =
    s"(($e) - 6.283185307179586 * floor(($e) / 6.283185307179586 + 0.5))"

  /** Even-odd raycast crossing term against an edge row — the exact
    * mirror of [[GeoAlgebra.stContains]]'s fold body. */
  private def raycastSql(e: String = "", px: String = "px", py: String = "py"): String =
    s"""CASE WHEN (${e}y1 > $py) <> (${e}y2 > $py)
       | AND $px < (${e}x2 - ${e}x1) * ($py - ${e}y1) / (${e}y2 - ${e}y1) + ${e}x1
       | THEN 1 ELSE 0 END""".stripMargin.replace("\n", "")

  private val geoLayouts =
    new graft.core.OnceMemo[String, String]

  /** Tile-partitioned point ENTITY (cell 2.0) — the PostGIS-spatial-
    * index role as a partition-pruned entity layout; one-time artifact
    * per (JVM, data dir). */
  private def geoLayout(s: SparkSession, d: String): String =
    geoLayouts.getOrElseUpdate(d, {
      val dir = freshScratch(s"geo-${dirTag(d)}")
      val e = graft.core.Entity.create(s, dir, "geopts")
      e.insert(customerPoints(s, d))
      e.partitionLayout(graft.core.Partitioning.Tile("px", "py", 2.0))
      dir
    })

  /** Pre-build the tile-partitioned point entity (untimed bench warmup). */
  private[graft] def warmLayouts(s: SparkSession, d: String): Unit = geoLayout(s, d)

  // interiors of a tiling are disjoint, so inclusive-minus-plain
  // intersects IS the 8-neighbor grid adjacency — statable exactly in
  // integer arithmetic, no geometry replay needed
  private val tilingAdjacencySql =
    """WITH g AS (SELECT n_nationkey, n_nationkey % 5 AS gx,
      |             CAST(floor(n_nationkey / 5.0) AS BIGINT) AS gy FROM nation)
      |SELECT a.n_nationkey AS n_a, b.n_nationkey AS n_b
      |FROM g a JOIN g b ON a.n_nationkey < b.n_nationkey
      | AND abs(a.gx - b.gx) <= 1 AND abs(a.gy - b.gy) <= 1
      |ORDER BY n_a, n_b""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("geo_radius_join", (s, d) => {
      // 2-D grid-binned radius JOIN (every point within 300 km of every
      // 50th point as POI) — one hash equi-join on radius-sized lat/lng
      // cells, never a nested loop; exact Haversine filter after.
      // Grid built with 5 mm slack past the radius so the rounded
      // cutoff below is the ONLY cut both engines apply.
      val emb = Tables.embeddings(s, d)
      def latOf(c: Column) = (element_at(c, 1).cast("double") * 20.0)
      def lngOf(c: Column) = (element_at(c, 2).cast("double") * 40.0)
      val pts = emb.select(col("vec_id"), latOf(col("embedding")).as("lat"),
        lngOf(col("embedding")).as("lng"))
      val pois = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("poi_id"), latOf(col("embedding")).as("poi_lat"),
          lngOf(col("embedding")).as("poi_lng"))
      Geo.radiusJoin(pts, "lat", "lng", pois, "poi_lat", "poi_lng", 300000.005)
        .select(col("poi_id"), col("vec_id"), round(col("dist_m"), 2).as("dist_m"))
        .filter(col("dist_m") <= 300000.0)
        .orderBy("poi_id", "vec_id")
    },
      {
        def glat(e: String) = s"radians(greatest(-90.0, least(90.0, CAST($e[1] AS DOUBLE) * 20.0)))"
        def glng(e: String) =
          s"""radians(CASE WHEN fmod(fmod(CAST($e[2] AS DOUBLE) * 40.0, 360.0) + 360.0, 360.0) >= 180.0
             | THEN fmod(fmod(CAST($e[2] AS DOUBLE) * 40.0, 360.0) + 360.0, 360.0) - 360.0
             | ELSE fmod(fmod(CAST($e[2] AS DOUBLE) * 40.0, 360.0) + 360.0, 360.0) END)""".stripMargin
        val h =
          """(power(sin((pla - qla) / 2), 2)
            | + cos(qla) * cos(pla) * power(sin((plo - qlo) / 2), 2))""".stripMargin
        s"""WITH p AS (SELECT vec_id, ${glat("embedding")} AS pla, ${glng("embedding")} AS plo
           |           FROM embeddings),
           |q AS (SELECT vec_id AS poi_id, ${glat("embedding")} AS qla, ${glng("embedding")} AS qlo
           |      FROM embeddings WHERE vec_id % 50 = 0)
           |SELECT poi_id, vec_id, dist_m FROM (
           |  SELECT q.poi_id, p.vec_id,
           |         round(2.0 * 6371000.0 * atan2(sqrt($h), sqrt(1.0 - $h)), 2) AS dist_m
           |  FROM p, q
           |) WHERE dist_m <= 300000.0 ORDER BY poi_id, vec_id""".stripMargin
      },
      Gate.noNlj("lat/lng grid equi-join")),

    // --- geometry slice: WKT point attribute + Haversine radius scan ---
    Q("geo_radius", (s, d) => {
      val emb = Tables.embeddings(s, d)
      val q = queryVecOf(emb)
      // WKT round-trips the exact double (shortest-repr print + reparse),
      // so the distance equals computing straight off the raw columns —
      // which is exactly what the oracle does
      val wkt = emb.select(col("vec_id"),
        Geo.wktPoint(element_at(col("embedding"), 2).cast("double") * 40.0,
          element_at(col("embedding"), 1).cast("double") * 20.0).as("wkt"))
      wkt.select(col("vec_id"),
          round(Geo.haversineMeters(Geo.wktLat(col("wkt")), Geo.wktLng(col("wkt")),
            lit(q(0) * 20.0), lit(q(1) * 40.0)), 2).as("dist_m"))
        .filter(col("dist_m") <= 250000.0)
        .orderBy("vec_id")
    },
      {
        def glat(e: String) = s"radians(greatest(-90.0, least(90.0, CAST($e[1] AS DOUBLE) * 20.0)))"
        def glng(e: String) =
          s"""radians(CASE WHEN fmod(fmod(CAST($e[2] AS DOUBLE) * 40.0, 360.0) + 360.0, 360.0) >= 180.0
             | THEN fmod(fmod(CAST($e[2] AS DOUBLE) * 40.0, 360.0) + 360.0, 360.0) - 360.0
             | ELSE fmod(fmod(CAST($e[2] AS DOUBLE) * 40.0, 360.0) + 360.0, 360.0) END)""".stripMargin
        val h =
          s"""(power(sin((${glat("e.embedding")} - ${glat("q.qv")}) / 2), 2)
             | + cos(${glat("q.qv")}) * cos(${glat("e.embedding")})
             |   * power(sin((${glng("e.embedding")} - ${glng("q.qv")}) / 2), 2))""".stripMargin
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
           |SELECT vec_id, dist_m FROM (
           |  SELECT e.vec_id,
           |         round(2.0 * 6371000.0 * atan2(sqrt($h), sqrt(1.0 - $h)), 2) AS dist_m
           |  FROM embeddings e, q
           |) WHERE dist_m <= 250000.0 ORDER BY vec_id""".stripMargin
      }),

    // --- planar geometry algebra (r18): contains/intersects/buffer/
    //     distance over WKT columns — the PostGIS-role slice. All pure
    //     codegen expressions (raycast/shoelace/orientation), quarter-grid
    //     fixtures so every op except the trig-bearing buffer is
    //     bit-identical to the DuckDB oracle with NO rounding slack.
    Q("geo_polygon_stats", (s, d) => {
      // WKT round-trips the exact doubles, so parsing the printed polygon
      // and measuring it equals measuring the generating arithmetic —
      // which is exactly what the oracle does numerically.
      val ring = GeoAlgebra.wktPolygonRing(col("wkt"))
      val cen = GeoAlgebra.stCentroid(ring)
      val env = GeoAlgebra.stEnvelope(ring)
      nationPolys(s, d).select(col("n_nationkey"),
          round(GeoAlgebra.stArea(ring), 6).as("area"),
          round(GeoAlgebra.stLength(ring), 6).as("perimeter"),
          round(cen.getField("x"), 6).as("cx"),
          round(cen.getField("y"), 6).as("cy"),
          round(env.getField("xmin"), 6).as("xmin"),
          round(env.getField("ymin"), 6).as("ymin"),
          round(env.getField("xmax"), 6).as("xmax"),
          round(env.getField("ymax"), 6).as("ymax"))
        .orderBy("n_nationkey")
    },
      // --- geometry algebra oracles (r18): same quarter-grid fixtures, same
      //     IEEE formulas — bit-identical; round(_, 6) only absorbs
      //     summation-order / libm ulps where noted.
      s"""WITH $nationEdgesSql
         |SELECT n_nationkey,
         |  round(abs(sum(x1*y2 - x2*y1)) / 2.0, 6) AS area,
         |  round(sum(sqrt((x2-x1)*(x2-x1) + (y2-y1)*(y2-y1))), 6) AS perimeter,
         |  round(sum((x1+x2)*(x1*y2 - x2*y1)) / (sum(x1*y2 - x2*y1) / 2.0 * 6.0), 6) AS cx,
         |  round(sum((y1+y2)*(x1*y2 - x2*y1)) / (sum(x1*y2 - x2*y1) / 2.0 * 6.0), 6) AS cy,
         |  round(min(least(x1, x2)), 6) AS xmin,
         |  round(min(least(y1, y2)), 6) AS ymin,
         |  round(max(greatest(x1, x2)), 6) AS xmax,
         |  round(max(greatest(y1, y2)), 6) AS ymax
         |FROM ne GROUP BY n_nationkey ORDER BY n_nationkey""".stripMargin,
      Gate.noShuffle("shoelace measures are per-row kernels over the dim scan")),

    Q("geo_polygon_contains", (s, d) => {
      // Point-in-polygon SCAN: even-odd raycast against a non-convex
      // literal star — a per-row codegen predicate, no join, no shuffle
      // before the presentation sort.
      val ring = GeoAlgebra.wktPolygonRing(lit(
        "POLYGON ((21 10, 15 13, 12 19, 9 13, 3 10, 9 7, 12 1, 15 7, 21 10))"))
      customerPoints(s, d)
        .filter(GeoAlgebra.stContains(ring, col("px"), col("py")))
        .orderBy("c_custkey")
    },
      s"""WITH poly(i, x1, y1) AS (VALUES
         |  (0,21.0,10.0),(1,15.0,13.0),(2,12.0,19.0),(3,9.0,13.0),
         |  (4,3.0,10.0),(5,9.0,7.0),(6,12.0,1.0),(7,15.0,7.0)),
         |e AS (SELECT a.x1, a.y1, b.x1 AS x2, b.y1 AS y2
         |      FROM poly a JOIN poly b ON b.i = (a.i + 1) % 8),
         |$customerPointsSql
         |SELECT c_custkey, px, py FROM (
         |  SELECT cp.c_custkey, cp.px, cp.py, sum(${raycastSql()}) AS cr
         |  FROM cp CROSS JOIN e GROUP BY cp.c_custkey, cp.px, cp.py)
         |WHERE cr % 2 = 1 ORDER BY c_custkey""".stripMargin,
      Gate.noShuffle("raycast predicate is a pure codegen filter over the scan")),

    Q("geo_contains_join", (s, d) => {
      // Points-in-polygons JOIN via the square-grid equi-join (each point
      // one tile, each polygon its envelope's tiles) + exact raycast —
      // never a nested loop; the shape that survives 10⁹ points × 10⁶
      // polygons.
      val polys = nationPolys(s, d).select(col("n_nationkey"),
        GeoAlgebra.wktPolygonRing(col("wkt")).as("ring"))
      GeoAlgebra.containsJoin(customerPoints(s, d), "px", "py",
          polys, "ring", cell = 4.0)
        .select("n_nationkey", "c_custkey")
        .orderBy("n_nationkey", "c_custkey")
    },
      s"""WITH $nationEdgesSql,
         |$customerPointsSql
         |SELECT n_nationkey, c_custkey FROM (
         |  SELECT ne.n_nationkey, cp.c_custkey, sum(${raycastSql()}) AS cr
         |  FROM cp CROSS JOIN ne GROUP BY 1, 2)
         |WHERE cr % 2 = 1 ORDER BY n_nationkey, c_custkey""".stripMargin,
      Gate.noNlj("square-grid tile equi-join + exact raycast")),

    Q("geo_polygon_intersects", (s, d) => {
      // Polygon-polygon intersects: proper edge crossing (orientation
      // signs — exact integer-grid arithmetic) or either first vertex
      // contained. The 5-row region dim broadcasts; at scale the big side
      // streams through the predicate without reshuffling.
      val np = nationPolys(s, d).select(col("n_nationkey"),
        GeoAlgebra.wktPolygonRing(col("wkt")).as("ring_n"))
      val rp = regionPolys(s, d).select(col("r_regionkey"),
        GeoAlgebra.wktPolygonRing(col("rwkt")).as("ring_r"))
      np.crossJoin(broadcast(rp))
        .filter(GeoAlgebra.stIntersects(col("ring_n"), col("ring_r")))
        .select("n_nationkey", "r_regionkey")
        .orderBy("n_nationkey", "r_regionkey")
    },
      s"""WITH $nationEdgesSql,
         |roff(i, dx, dy) AS (VALUES (0,4.0,0.0),(1,0.0,4.0),(2,-4.0,0.0),(3,0.0,-4.0)),
         |rv AS (SELECT r_regionkey, i,
         |         r_regionkey * 5.0 + 2.0 + dx * 1.0 AS x, 10.0 + dy * 1.0 AS y
         |       FROM region CROSS JOIN roff),
         |re AS (SELECT a.r_regionkey, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
         |       FROM rv a JOIN rv b ON a.r_regionkey = b.r_regionkey
         |                          AND b.i = (a.i + 1) % 4),
         |crossed AS (
         |  SELECT ne.n_nationkey, re.r_regionkey FROM ne CROSS JOIN re
         |  WHERE ((ne.x2-ne.x1)*(re.y1-ne.y1) - (ne.y2-ne.y1)*(re.x1-ne.x1))
         |      * ((ne.x2-ne.x1)*(re.y2-ne.y1) - (ne.y2-ne.y1)*(re.x2-ne.x1)) < 0
         |    AND ((re.x2-re.x1)*(ne.y1-re.y1) - (re.y2-re.y1)*(ne.x1-re.x1))
         |      * ((re.x2-re.x1)*(ne.y2-re.y1) - (re.y2-re.y1)*(ne.x2-re.x1)) < 0
         |  GROUP BY 1, 2),
         |n_in_r AS (
         |  SELECT v.n_nationkey, re.r_regionkey,
         |    sum(${raycastSql("re.", "v.x", "v.y")}) AS cr
         |  FROM (SELECT n_nationkey, x, y FROM nv WHERE i = 0) v
         |  CROSS JOIN re GROUP BY 1, 2),
         |r_in_n AS (
         |  SELECT ne.n_nationkey, v.r_regionkey,
         |    sum(${raycastSql("ne.", "v.x", "v.y")}) AS cr
         |  FROM (SELECT r_regionkey, x, y FROM rv WHERE i = 0) v
         |  CROSS JOIN ne GROUP BY 1, 2)
         |SELECT DISTINCT n_nationkey, r_regionkey FROM (
         |  SELECT * FROM crossed
         |  UNION ALL SELECT n_nationkey, r_regionkey FROM n_in_r WHERE cr % 2 = 1
         |  UNION ALL SELECT n_nationkey, r_regionkey FROM r_in_n WHERE cr % 2 = 1)
         |ORDER BY n_nationkey, r_regionkey""".stripMargin,
      Gate.marker("5-row region poly dim broadcast under the intersects predicate",
        "BroadcastNestedLoopJoin")),

    Q("geo_line_distance", (s, d) => {
      // Distance-to-route: min over the linestring's segments of the
      // clamped-projection point-segment distance — per-row kernel over
      // the scan, dwithin filter on the rounded value.
      val line = GeoAlgebra.wktLineString(lit(
        "LINESTRING (0 0, 6 8, 12 2, 18 14, 24 6)"))
      customerPoints(s, d)
        .withColumn("dist", round(GeoAlgebra.stDistanceLine(line,
          col("px"), col("py")), 6))
        .filter(col("dist") <= 3.0)
        .orderBy("c_custkey")
    },
      s"""WITH seg(x1, y1, x2, y2) AS (VALUES
         |  (0.0,0.0,6.0,8.0),(6.0,8.0,12.0,2.0),
         |  (12.0,2.0,18.0,14.0),(18.0,14.0,24.0,6.0)),
         |$customerPointsSql
         |SELECT c_custkey, px, py, dist FROM (
         |  SELECT c_custkey, px, py,
         |    round(min(sqrt((px - (x1 + t*(x2-x1))) * (px - (x1 + t*(x2-x1)))
         |                 + (py - (y1 + t*(y2-y1))) * (py - (y1 + t*(y2-y1))))), 6) AS dist
         |  FROM (SELECT cp.*, seg.*,
         |          greatest(0.0, least(1.0,
         |            ((px-x1)*(x2-x1) + (py-y1)*(y2-y1))
         |            / ((x2-x1)*(x2-x1) + (y2-y1)*(y2-y1)))) AS t
         |        FROM cp CROSS JOIN seg)
         |  GROUP BY c_custkey, px, py)
         |WHERE dist <= 3.0 ORDER BY c_custkey""".stripMargin,
      Gate.noShuffle("segment-distance kernel is a pure projection over the scan")),

    Q("geo_buffer_contains", (s, d) => {
      // ST_Buffer(point) as an off-axis regular octagon ring, then the
      // grid containment join counts customers inside each supplier's
      // buffer; buffer area via shoelace. The one trig-bearing query —
      // measures rounded to absorb cross-engine libm ulps.
      val sup = Tables.supplier(s, d).select(col("s_suppkey"),
        ((col("s_suppkey") % 23).cast("double") + 0.125).as("sx"),
        ((col("s_suppkey") % 19).cast("double") + 0.125).as("sy"),
        (lit(1.0) + (col("s_suppkey") % 4).cast("double") * 0.5).as("r"))
      val polys = sup.select(col("s_suppkey"),
        GeoAlgebra.stBufferPoint(col("sx"), col("sy"), col("r"), 8).as("ring"))
      val inside = GeoAlgebra.containsJoin(customerPoints(s, d), "px", "py",
          polys, "ring", cell = 1.0)
        .groupBy("s_suppkey").agg(count(lit(1)).as("n_inside"))
      polys.select(col("s_suppkey"),
          round(GeoAlgebra.stArea(col("ring")), 6).as("buf_area"))
        .join(inside, Seq("s_suppkey"), "left")
        .na.fill(0L, Seq("n_inside"))
        .orderBy("s_suppkey")
    },
      s"""WITH sup AS (SELECT s_suppkey, (s_suppkey % 23) + 0.125 AS sx,
         |               (s_suppkey % 19) + 0.125 AS sy,
         |               1.0 + (s_suppkey % 4) * 0.5 AS r FROM supplier),
         |idx(i) AS (VALUES (0),(1),(2),(3),(4),(5),(6),(7)),
         |v AS (SELECT s_suppkey, i,
         |        sx + r * cos(2.0 * pi() * i / 8.0 + pi() / 8.0) AS x,
         |        sy + r * sin(2.0 * pi() * i / 8.0 + pi() / 8.0) AS y
         |      FROM sup CROSS JOIN idx),
         |e AS (SELECT a.s_suppkey, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
         |      FROM v a JOIN v b ON a.s_suppkey = b.s_suppkey
         |                       AND b.i = (a.i + 1) % 8),
         |$customerPointsSql,
         |cnt AS (SELECT e.s_suppkey, cp.c_custkey, sum(${raycastSql()}) AS cr
         |        FROM cp CROSS JOIN e GROUP BY 1, 2),
         |ins AS (SELECT s_suppkey, count(*) AS n_inside FROM cnt
         |        WHERE cr % 2 = 1 GROUP BY 1),
         |ar AS (SELECT s_suppkey, round(abs(sum(x1*y2 - x2*y1)) / 2.0, 6) AS buf_area
         |       FROM e GROUP BY 1)
         |SELECT sup.s_suppkey, ar.buf_area, coalesce(ins.n_inside, 0) AS n_inside
         |FROM sup JOIN ar USING (s_suppkey) LEFT JOIN ins USING (s_suppkey)
         |ORDER BY s_suppkey""".stripMargin,
      Gate.noNlj("buffer octagon tile equi-join")),

    // --- geodesic (GEOGRAPHY-role) measures (r19): great-circle length
    //     and spherical (Chamberlain–Duquette) area on the R = 6371 km
    //     Haversine sphere, same WKT fixtures read as lng/lat. Trig-
    //     bearing like the buffer query — measures rounded to absorb
    //     cross-engine libm ulps.
    Q("geo_geodesic_measures", (s, d) => {
      val wkt = col("wkt")
      nationPolys(s, d).select(col("n_nationkey"),
          round(Geo.stLengthGeo(wkt), 2).as("perim_m"),
          round(Geo.stAreaGeo(wkt) / 1e6, 2).as("area_km2"))
        .orderBy("n_nationkey")
    },
      // geodesic replays: the same Haversine text as knn_haversine (lat
      // clamp, lng wrap, R = 6371000) over the nation-star edges /
      // customer lattice; Chamberlain–Duquette area term mirrors
      // Geo.areaGeoSqMeters op-for-op, round(_, 2) absorbing libm ulps
      // and the SUM-vs-ordered-fold addition order.
      {
        def gla(e: String) = s"radians(greatest(-90.0, least(90.0, $e)))"
        def gln(e: String) =
          s"""radians(CASE WHEN fmod(fmod($e, 360.0) + 360.0, 360.0) >= 180.0
             | THEN fmod(fmod($e, 360.0) + 360.0, 360.0) - 360.0
             | ELSE fmod(fmod($e, 360.0) + 360.0, 360.0) END)""".stripMargin
        val h =
          s"""(power(sin((${gla("y2")} - ${gla("y1")}) / 2), 2)
             | + cos(${gla("y1")}) * cos(${gla("y2")})
             |   * power(sin((${gln("x2")} - ${gln("x1")}) / 2), 2))""".stripMargin
        s"""WITH $nationEdgesSql,
           |seg AS (SELECT n_nationkey,
           |          2.0 * 6371000.0 * atan2(sqrt($h), sqrt(1.0 - $h)) AS len_m,
           |          ${duckWrapPi("radians(x2) - radians(x1)")}
           |            * (2.0 + sin(radians(y1)) + sin(radians(y2))) AS aterm
           |        FROM ne)
           |SELECT n_nationkey, round(sum(len_m), 2) AS perim_m,
           |       round(abs(sum(aterm)) * 6371000.0 * 6371000.0 / 2.0
           |             / 1000000.0, 2) AS area_km2
           |FROM seg GROUP BY n_nationkey ORDER BY n_nationkey""".stripMargin
      },
      Gate.noShuffle("great-circle measures are per-row trig folds over the dim scan")),

    Q("geo_geodesic_dwithin", (s, d) => {
      // ST_DWithin(geography): customers as WKT lng/lat points within
      // 600 km great-circle of a query point. The predicate prunes with
      // a half-cm slack; the exact cut is on the rounded distance (the
      // geo_radius convention, so both engines decide ties identically).
      val q = lit("POINT (10 10)")
      customerPoints(s, d)
        .withColumn("wkt", Geo.wktPoint(col("px"), col("py")))
        .filter(Geo.stDWithinGeo(col("wkt"), q, lit(600000.01)))
        .select(col("c_custkey"),
          round(Geo.stDistanceGeo(col("wkt"), q), 2).as("dist_m"))
        .filter(col("dist_m") <= 600000.0)
        .orderBy("c_custkey")
    },
      {
        def gla(e: String) = s"radians(greatest(-90.0, least(90.0, $e)))"
        def gln(e: String) =
          s"""radians(CASE WHEN fmod(fmod($e, 360.0) + 360.0, 360.0) >= 180.0
             | THEN fmod(fmod($e, 360.0) + 360.0, 360.0) - 360.0
             | ELSE fmod(fmod($e, 360.0) + 360.0, 360.0) END)""".stripMargin
        val h =
          s"""(power(sin((${gla("10.0")} - ${gla("py")}) / 2), 2)
             | + cos(${gla("py")}) * cos(${gla("10.0")})
             |   * power(sin((${gln("10.0")} - ${gln("px")}) / 2), 2))""".stripMargin
        s"""WITH $customerPointsSql,
           |d AS (SELECT c_custkey,
           |        round(2.0 * 6371000.0 * atan2(sqrt($h), sqrt(1.0 - $h)), 2) AS dist_m
           |      FROM cp)
           |SELECT c_custkey, dist_m FROM d
           |WHERE dist_m <= 600000.0 ORDER BY c_custkey""".stripMargin
      },
      Gate.noShuffle("geodesic radius predicate is a pure filter over the scan")),

    Q("geo_tiling_adjacency", (s, d) => {
      // boundary-inclusive intersects under the oracle gate: nations as
      // a 5×5 tiling of side-2 squares whose neighbors share edges or
      // corners — interiors are disjoint, so the general-position test
      // reports every distinct pair disjoint while the inclusive sweep
      // reports exactly the grid adjacency (which the oracle states as
      // pure integer arithmetic, no geometry needed). 25×25 broadcast
      // dim pairs — the geo_polygon_intersects precedent.
      val tiles = Tables.nation(s, d).select(col("n_nationkey"),
        GeoAlgebra.wktPolygon(offsetRing(
          (col("n_nationkey") % 5).cast("double") * 2.0 + 1.0,
          floor(col("n_nationkey") / lit(5.0)) * 2.0 + 1.0, lit(1.0),
          Seq((-1.0, -1.0), (1.0, -1.0), (1.0, 1.0), (-1.0, 1.0)))).as("wkt"))
      val a = tiles.select(col("n_nationkey").as("n_a"),
        GeoAlgebra.wktPolygonRing(col("wkt")).as("ring_a"))
      val b = tiles.select(col("n_nationkey").as("n_b"),
        GeoAlgebra.wktPolygonRing(col("wkt")).as("ring_b"))
      a.crossJoin(broadcast(b))
        .filter(col("n_a") < col("n_b"))
        .filter(GeoAlgebra.stIntersectsInclusive(col("ring_a"), col("ring_b")) &&
          !GeoAlgebra.stIntersects(col("ring_a"), col("ring_b")))
        .select("n_a", "n_b")
        .orderBy("n_a", "n_b")
    },
      tilingAdjacencySql),

    Q("geo_tiling_adjacency_join", (s, d) => {
      // the SAME adjacency through the big×big path: grid-partitioned
      // polygon-polygon intersects JOIN (PBSM report-once — each pair
      // from its min common tile, no distinct) instead of the broadcast
      // cross product. Identical oracle = the two paths must agree.
      val tiles = Tables.nation(s, d).select(col("n_nationkey"),
        GeoAlgebra.wktPolygonRing(GeoAlgebra.wktPolygon(offsetRing(
          (col("n_nationkey") % 5).cast("double") * 2.0 + 1.0,
          floor(col("n_nationkey") / lit(5.0)) * 2.0 + 1.0, lit(1.0),
          Seq((-1.0, -1.0), (1.0, -1.0), (1.0, 1.0), (-1.0, 1.0))))).as("ring"))
      val a = tiles.select(col("n_nationkey").as("n_a"), col("ring").as("ring_a"))
      val b = tiles.select(col("n_nationkey").as("n_b"), col("ring").as("ring_b"))
      GeoAlgebra.intersectsJoin(a, "ring_a", b, "ring_b",
          cell = 2.0, inclusive = true)
        .filter(col("n_a") < col("n_b"))
        .select("n_a", "n_b")
        .orderBy("n_a", "n_b")
    },
      tilingAdjacencySql,
      Gate.noNlj("tile equi-join + min-common-tile report-once, polygon x polygon")),

    Q("geo_geodesic_buffer", (s, d) => {
      // geodesic ST_Buffer(point): destination-point octagon at each
      // depot's service radius, measured with the spherical kernels —
      // every op trig-bearing, so both measures round (the buffer
      // convention), per-row over the supplier dim scan.
      val dep = Tables.supplier(s, d).select(col("s_suppkey"),
        ((col("s_suppkey") % 19).cast("double") + 0.125).as("dlat"),
        ((col("s_suppkey") % 23).cast("double") + 0.125).as("dlng"),
        (lit(50000.0) + (col("s_suppkey") % 4).cast("double") * 25000.0).as("r"))
      val ring = Geo.stBufferPointGeo(col("dlat"), col("dlng"), col("r"), 8)
      dep.select(col("s_suppkey"),
          round(Geo.lengthGeoMeters(ring), 2).as("perim_m"),
          round(Geo.areaGeoSqMeters(ring) / 1e6, 2).as("area_km2"))
        .orderBy("s_suppkey")
    },
      {
        def gla(e: String) = s"radians(greatest(-90.0, least(90.0, $e)))"
        def gln(e: String) =
          s"""radians(CASE WHEN fmod(fmod($e, 360.0) + 360.0, 360.0) >= 180.0
             | THEN fmod(fmod($e, 360.0) + 360.0, 360.0) - 360.0
             | ELSE fmod(fmod($e, 360.0) + 360.0, 360.0) END)""".stripMargin
        val h =
          s"""(power(sin((${gla("y2")} - ${gla("y1")}) / 2), 2)
             | + cos(${gla("y1")}) * cos(${gla("y2")})
             |   * power(sin((${gln("x2")} - ${gln("x1")}) / 2), 2))""".stripMargin
        s"""WITH sup AS (SELECT s_suppkey, (s_suppkey % 19) + 0.125 AS dlat,
           |               (s_suppkey % 23) + 0.125 AS dlng,
           |               50000.0 + (s_suppkey % 4) * 25000.0 AS r FROM supplier),
           |idx(i) AS (VALUES (0),(1),(2),(3),(4),(5),(6),(7)),
           |b0 AS (SELECT s_suppkey, i,
           |         ${gla("dlat")} AS p1, ${gln("dlng")} AS l1,
           |         r / 6371000.0 AS dl, 2.0 * pi() * i / 8.0 + pi() / 8.0 AS th
           |       FROM sup CROSS JOIN idx),
           |b1 AS (SELECT *, asin(sin(p1) * cos(dl) + cos(p1) * sin(dl) * cos(th)) AS p2
           |       FROM b0),
           |v AS (SELECT s_suppkey, i,
           |        degrees(l1 + atan2(sin(th) * sin(dl) * cos(p1),
           |                           cos(dl) - sin(p1) * sin(p2))) AS x,
           |        degrees(p2) AS y
           |      FROM b1),
           |e AS (SELECT a.s_suppkey, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
           |      FROM v a JOIN v b ON a.s_suppkey = b.s_suppkey
           |                       AND b.i = (a.i + 1) % 8),
           |seg AS (SELECT s_suppkey,
           |          2.0 * 6371000.0 * atan2(sqrt($h), sqrt(1.0 - $h)) AS len_m,
           |          ${duckWrapPi("radians(x2) - radians(x1)")}
           |            * (2.0 + sin(radians(y1)) + sin(radians(y2))) AS aterm
           |        FROM e)
           |SELECT s_suppkey, round(sum(len_m), 2) AS perim_m,
           |       round(abs(sum(aterm)) * 6371000.0 * 6371000.0 / 2.0
           |             / 1000000.0, 2) AS area_km2
           |FROM seg GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin
      },
      Gate.noShuffle("destination-point buffer + measures are per-row folds over the dim scan")),

    Q("geo_geodesic_antimeridian", (s, d) => {
      // dateline-straddling rings: the SAME nation stars with every
      // longitude shifted half a world east and re-wrapped into
      // [-180, 180) — vertices land on BOTH sides of ±180°, so every
      // seam-crossing edge exercises areaGeoSqMeters' Δλ wrap (without
      // it the ±2π jumps integrate the polygon's WORLD-COMPLEMENT).
      // Shift arithmetic is exact (quarter-grid doubles through
      // +/fmod/−), the only rounding is the usual trig round(_, 2),
      // and GeoSpec asserts the shift-invariance property against the
      // unshifted measures.
      val shifted = Tables.nation(s, d).select(col("n_nationkey"),
        transform(offsetRing(
          (col("n_nationkey") % 5).cast("double") * 5.0,
          floor(col("n_nationkey") / lit(5.0)) * 5.0,
          lit(1.0) + (col("n_nationkey") % 3).cast("double") * 0.5,
          starOffsets), p =>
          struct((pmod(p.getField("x") + 360.0, lit(360.0)) - 180.0).as("x"),
            p.getField("y").as("y"))).as("ring"))
      shifted.select(col("n_nationkey"),
          round(Geo.lengthGeoMeters(col("ring")), 2).as("perim_m"),
          round(Geo.areaGeoSqMeters(col("ring")) / 1e6, 2).as("area_km2"))
        .orderBy("n_nationkey")
    },
      // the same star fixtures shifted half a world east and re-wrapped
      // into [-180, 180): seam-crossing edges exercise the Δλ wrap — the
      // shift arithmetic (+360 / pmod / −180 on quarter-grid doubles) is
      // exact, so only the usual trig rounding applies
      {
        def gla(e: String) = s"radians(greatest(-90.0, least(90.0, $e)))"
        def gln(e: String) =
          s"""radians(CASE WHEN fmod(fmod($e, 360.0) + 360.0, 360.0) >= 180.0
             | THEN fmod(fmod($e, 360.0) + 360.0, 360.0) - 360.0
             | ELSE fmod(fmod($e, 360.0) + 360.0, 360.0) END)""".stripMargin
        val h =
          s"""(power(sin((${gla("y2")} - ${gla("y1")}) / 2), 2)
             | + cos(${gla("y1")}) * cos(${gla("y2")})
             |   * power(sin((${gln("x2")} - ${gln("x1")}) / 2), 2))""".stripMargin
        s"""WITH off(i, dx, dy) AS (VALUES
           |  (0,3.0,0.0),(1,1.0,1.0),(2,0.0,3.0),(3,-1.0,1.0),
           |  (4,-3.0,0.0),(5,-1.0,-1.0),(6,0.0,-3.0),(7,1.0,-1.0)),
           |nv AS (SELECT n_nationkey, i,
           |         fmod(fmod((n_nationkey % 5) * 5.0
           |             + dx * (1.0 + (n_nationkey % 3) * 0.5) + 360.0, 360.0)
           |           + 360.0, 360.0) - 180.0 AS x,
           |         floor(n_nationkey / 5.0) * 5.0
           |           + dy * (1.0 + (n_nationkey % 3) * 0.5) AS y
           |       FROM nation CROSS JOIN off),
           |ne AS (SELECT a.n_nationkey, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
           |       FROM nv a JOIN nv b ON a.n_nationkey = b.n_nationkey
           |                          AND b.i = (a.i + 1) % 8),
           |seg AS (SELECT n_nationkey,
           |          2.0 * 6371000.0 * atan2(sqrt($h), sqrt(1.0 - $h)) AS len_m,
           |          ${duckWrapPi("radians(x2) - radians(x1)")}
           |            * (2.0 + sin(radians(y1)) + sin(radians(y2))) AS aterm
           |        FROM ne)
           |SELECT n_nationkey, round(sum(len_m), 2) AS perim_m,
           |       round(abs(sum(aterm)) * 6371000.0 * 6371000.0 / 2.0
           |             / 1000000.0, 2) AS area_km2
           |FROM seg GROUP BY n_nationkey ORDER BY n_nationkey""".stripMargin
      },
      Gate.noShuffle("dateline wrap is exact per-row arithmetic over the dim scan")),

    Q("geo_geodesic_spheroid", (s, d) => {
      // WGS84 first-order spheroid corrections (PostGIS geography is
      // ellipsoidal by default): areas on the authalic sphere, lengths
      // on the rectifying sphere — same fixtures as
      // geo_geodesic_measures, same per-row zero-shuffle shape; the
      // residual vs true WGS84 geodesics is documented on the Geo
      // constants (~0.1 % areas, ≤0.5 % lengths worst-case).
      val wkt = col("wkt")
      nationPolys(s, d).select(col("n_nationkey"),
          round(Geo.stLengthGeo(wkt, spheroid = true), 2).as("perim_m"),
          round(Geo.stAreaGeo(wkt, spheroid = true) / 1e6, 2).as("area_km2"))
        .orderBy("n_nationkey")
    },
      // spheroid-corrected twin of geo_geodesic_measures: lengths on the
      // WGS84 rectifying sphere, areas on the authalic sphere — the same
      // constants the Geo object documents
      {
        def gla(e: String) = s"radians(greatest(-90.0, least(90.0, $e)))"
        def gln(e: String) =
          s"""radians(CASE WHEN fmod(fmod($e, 360.0) + 360.0, 360.0) >= 180.0
             | THEN fmod(fmod($e, 360.0) + 360.0, 360.0) - 360.0
             | ELSE fmod(fmod($e, 360.0) + 360.0, 360.0) END)""".stripMargin
        val h =
          s"""(power(sin((${gla("y2")} - ${gla("y1")}) / 2), 2)
             | + cos(${gla("y1")}) * cos(${gla("y2")})
             |   * power(sin((${gln("x2")} - ${gln("x1")}) / 2), 2))""".stripMargin
        s"""WITH $nationEdgesSql,
           |seg AS (SELECT n_nationkey,
           |          2.0 * 6367449.145823415 * atan2(sqrt($h), sqrt(1.0 - $h)) AS len_m,
           |          ${duckWrapPi("radians(x2) - radians(x1)")}
           |            * (2.0 + sin(radians(y1)) + sin(radians(y2))) AS aterm
           |        FROM ne)
           |SELECT n_nationkey, round(sum(len_m), 2) AS perim_m,
           |       round(abs(sum(aterm)) * 6371007.1809184737 * 6371007.1809184737
           |             / 2.0 / 1000000.0, 2) AS area_km2
           |FROM seg GROUP BY n_nationkey ORDER BY n_nationkey""".stripMargin
      },
      Gate.noShuffle("spheroid-radius measures are per-row trig folds over the dim scan")),

    Q("geo_geodesic_azimuth", (s, d) => {
      // ST_Azimuth(geography): initial great-circle bearing from the
      // query point to every customer point, radians clockwise from
      // north in [0, 2π); the coincident row (customer at the query
      // point) is NULL — the PostGIS no-bearing convention.
      // Due-north/south rows hit the formula's exact-zero branches
      // (sin 0 = 0 is exact in both engines), so the 0/2π wrap never
      // straddles a rounding ulp; everything else rounds (6).
      customerPoints(s, d).select(col("c_custkey"),
          round(Geo.azimuthGeo(lit(10.0), lit(10.0), col("py"), col("px")), 6)
            .as("az_rad"),
          round(Geo.haversineMeters(lit(10.0), lit(10.0), col("py"), col("px")), 2)
            .as("dist_m"))
        .orderBy("c_custkey")
    },
      // bearing replay: same atan2 text as Geo.azimuthGeo, wrap via
      // fmod(fmod(θ,2π)+2π,2π) — θ ∈ (−π, π] makes the first fmod the
      // identity; the shared 2π double literal keeps the wrap exact
      {
        def gla(e: String) = s"radians(greatest(-90.0, least(90.0, $e)))"
        def gln(e: String) =
          s"""radians(CASE WHEN fmod(fmod($e, 360.0) + 360.0, 360.0) >= 180.0
             | THEN fmod(fmod($e, 360.0) + 360.0, 360.0) - 360.0
             | ELSE fmod(fmod($e, 360.0) + 360.0, 360.0) END)""".stripMargin
        val dl = s"(${gln("px")} - ${gln("10.0")})"
        val theta =
          s"""atan2(sin($dl) * cos(${gla("py")}),
             | cos(${gla("10.0")}) * sin(${gla("py")})
             |   - sin(${gla("10.0")}) * cos(${gla("py")}) * cos($dl))""".stripMargin
        val az =
          s"""CASE WHEN ${gla("py")} = ${gla("10.0")} AND $dl = 0.0 THEN NULL
             | ELSE fmod(fmod($theta, 6.283185307179586)
             |   + 6.283185307179586, 6.283185307179586) END""".stripMargin
        val h =
          s"""(power(sin((${gla("py")} - ${gla("10.0")}) / 2), 2)
             | + cos(${gla("10.0")}) * cos(${gla("py")})
             |   * power(sin((${gln("px")} - ${gln("10.0")}) / 2), 2))""".stripMargin
        s"""WITH $customerPointsSql
           |SELECT c_custkey, round($az, 6) AS az_rad,
           |       round(2.0 * 6371000.0 * atan2(sqrt($h), sqrt(1.0 - $h)), 2) AS dist_m
           |FROM cp ORDER BY c_custkey""".stripMargin
      },
      Gate.noShuffle("bearing is a pure trig projection over the point scan")),

    Q("geo_geodesic_nearest", (s, d) => {
      // nearest-depot: each customer's 2 closest supplier depots by
      // great-circle distance within 300 km — radius-grid candidates +
      // per-point window, never a nested loop. Grid radius carries the
      // 5 mm slack so the rounded cutoff is the ONLY cut both engines
      // apply (the geo_radius_join convention).
      val dep = Tables.supplier(s, d).select(col("s_suppkey"),
        ((col("s_suppkey") % 19).cast("double") + 0.125).as("dep_lat"),
        ((col("s_suppkey") % 23).cast("double") + 0.125).as("dep_lng"))
      Geo.nearestJoinGeo(customerPoints(s, d), "c_custkey", "py", "px",
          dep, "dep_lat", "dep_lng", "s_suppkey", 300000.005, k = 2)
        .select(col("c_custkey"), col("s_suppkey"),
          col("nn_rank").cast("long").as("nn_rank"),
          round(col("dist_m"), 2).as("dist_m"))
        .filter(col("dist_m") <= 300000.0)
        .orderBy("c_custkey", "nn_rank")
    },
      {
        def gla(e: String) = s"radians(greatest(-90.0, least(90.0, $e)))"
        def gln(e: String) =
          s"""radians(CASE WHEN fmod(fmod($e, 360.0) + 360.0, 360.0) >= 180.0
             | THEN fmod(fmod($e, 360.0) + 360.0, 360.0) - 360.0
             | ELSE fmod(fmod($e, 360.0) + 360.0, 360.0) END)""".stripMargin
        // radiusJoin computes haversine(pointLat, pointLng, poiLat, poiLng)
        val h =
          s"""(power(sin((${gla("dlat")} - ${gla("py")}) / 2), 2)
             | + cos(${gla("py")}) * cos(${gla("dlat")})
             |   * power(sin((${gln("dlng")} - ${gln("px")}) / 2), 2))""".stripMargin
        s"""WITH $customerPointsSql,
           |dep AS (SELECT s_suppkey, (s_suppkey % 19) + 0.125 AS dlat,
           |          (s_suppkey % 23) + 0.125 AS dlng FROM supplier),
           |d AS (SELECT c_custkey, s_suppkey,
           |        2.0 * 6371000.0 * atan2(sqrt($h), sqrt(1.0 - $h)) AS dm
           |      FROM cp CROSS JOIN dep),
           |r AS (SELECT c_custkey, s_suppkey, dm,
           |        row_number() OVER (PARTITION BY c_custkey
           |                           ORDER BY dm, s_suppkey) AS nn_rank
           |      FROM d WHERE dm <= 300000.005)
           |SELECT c_custkey, s_suppkey, CAST(nn_rank AS BIGINT) AS nn_rank,
           |       round(dm, 2) AS dist_m
           |FROM r WHERE nn_rank <= 2 AND round(dm, 2) <= 300000.0
           |ORDER BY c_custkey, nn_rank""".stripMargin
      },
      Gate.noNlj("lat/lng radius-grid equi-join + per-point window")),

    Q("geo_covers_boundary", (s, d) => {
      // ST_Covers semantics: boundary-INCLUSIVE containment — customers
      // on the 0.25-lattice land exactly on the square's edges, where
      // the raw even-odd raycast is deterministic-but-arbitrary; covers
      // must report every closed-box point, with the exact on-segment
      // test flagged alongside.
      val wkt = lit("POLYGON ((2 2, 12 2, 12 12, 2 12, 2 2))")
      val ring = GeoAlgebra.wktPolygonRing(wkt)
      customerPoints(s, d)
        .filter(GeoAlgebra.stCoversWkt(wkt, col("px"), col("py")))
        .select(col("c_custkey"), col("px"), col("py"),
          GeoAlgebra.stOnBoundary(ring, col("px"), col("py")).as("on_edge"))
        .orderBy("c_custkey")
    },
      // covers on an axis-aligned square IS the closed box; on-edge is the
      // exact lattice condition — both sides decide with exact arithmetic
      s"""WITH $customerPointsSql
         |SELECT c_custkey, px, py,
         |       (px = 2.0 OR px = 12.0 OR py = 2.0 OR py = 12.0) AS on_edge
         |FROM cp
         |WHERE px >= 2.0 AND px <= 12.0 AND py >= 2.0 AND py <= 12.0
         |ORDER BY c_custkey""".stripMargin,
      Gate.noShuffle("covers + on-segment tests are per-row folds over the scan")),

    Q("geo_multipolygon_contains", (s, d) => {
      // full WKT polygon semantics: even-odd parity across every ring —
      // a POLYGON's hole subtracts, a MULTIPOLYGON's parts union. Same
      // exact-arithmetic contract as the single-ring raycast.
      val donut = lit(
        "POLYGON ((2 2, 22 2, 22 20, 2 20, 2 2), (8 6, 16 6, 16 14, 8 14, 8 6))")
      val multi = lit("MULTIPOLYGON (((0 0, 6 0, 6 6, 0 6, 0 0)), " +
        "((18 14, 24 14, 24 22, 18 22, 18 14)))")
      customerPoints(s, d).select(col("c_custkey"), col("px"), col("py"),
          GeoAlgebra.stContainsWkt(donut, col("px"), col("py")).as("in_donut"),
          GeoAlgebra.stContainsWkt(multi, col("px"), col("py")).as("in_multi"))
        .filter(col("in_donut") || col("in_multi"))
        .orderBy("c_custkey")
    },
      s"""WITH $customerPointsSql,
         |de(x1, y1, x2, y2) AS (VALUES
         |  (2.0,2.0,22.0,2.0),(22.0,2.0,22.0,20.0),(22.0,20.0,2.0,20.0),(2.0,20.0,2.0,2.0),
         |  (8.0,6.0,16.0,6.0),(16.0,6.0,16.0,14.0),(16.0,14.0,8.0,14.0),(8.0,14.0,8.0,6.0)),
         |me(x1, y1, x2, y2) AS (VALUES
         |  (0.0,0.0,6.0,0.0),(6.0,0.0,6.0,6.0),(6.0,6.0,0.0,6.0),(0.0,6.0,0.0,0.0),
         |  (18.0,14.0,24.0,14.0),(24.0,14.0,24.0,22.0),(24.0,22.0,18.0,22.0),(18.0,22.0,18.0,14.0)),
         |dq AS (SELECT c_custkey, sum(${raycastSql()}) AS cr
         |       FROM cp CROSS JOIN de GROUP BY 1),
         |mq AS (SELECT c_custkey, sum(${raycastSql()}) AS cr
         |       FROM cp CROSS JOIN me GROUP BY 1)
         |SELECT cp.c_custkey, cp.px, cp.py,
         |       dq.cr % 2 = 1 AS in_donut, mq.cr % 2 = 1 AS in_multi
         |FROM cp JOIN dq ON cp.c_custkey = dq.c_custkey
         |        JOIN mq ON cp.c_custkey = mq.c_custkey
         |WHERE dq.cr % 2 = 1 OR mq.cr % 2 = 1
         |ORDER BY cp.c_custkey""".stripMargin),

    Q("geo_donut_measures", (s, d) => {
      // hole-aware measures: per-nation donuts (star shell + a scaled
      // hole) — area subtracts the hole, perimeter counts both rings'
      // boundaries. Quarter-grid arithmetic → bit-identical oracle.
      val shell = offsetRing((col("n_nationkey") % 5).cast("double") * 5.0,
        floor(col("n_nationkey") / lit(5.0)) * 5.0,
        lit(1.0) + (col("n_nationkey") % 3).cast("double") * 0.5, starOffsets)
      val hole = offsetRing((col("n_nationkey") % 5).cast("double") * 5.0,
        floor(col("n_nationkey") / lit(5.0)) * 5.0, lit(0.25), starOffsets)
      val wkt = concat(lit("POLYGON (("),
        array_join(transform(shell, p => concat(p.getField("x").cast("string"),
          lit(" "), p.getField("y").cast("string"))), ", "),
        lit("), ("),
        array_join(transform(hole, p => concat(p.getField("x").cast("string"),
          lit(" "), p.getField("y").cast("string"))), ", "),
        lit("))"))
      Tables.nation(s, d).select(col("n_nationkey"),
          round(GeoAlgebra.stAreaWkt(wkt), 6).as("area"),
          round(GeoAlgebra.stLengthWkt(wkt), 6).as("perimeter"))
        .orderBy("n_nationkey")
    },
      """WITH off(i, dx, dy) AS (VALUES
        |  (0,3.0,0.0),(1,1.0,1.0),(2,0.0,3.0),(3,-1.0,1.0),
        |  (4,-3.0,0.0),(5,-1.0,-1.0),(6,0.0,-3.0),(7,1.0,-1.0)),
        |sv AS (SELECT n_nationkey, i,
        |         (n_nationkey % 5) * 5.0 + dx * (1.0 + (n_nationkey % 3) * 0.5) AS x,
        |         floor(n_nationkey / 5.0) * 5.0 + dy * (1.0 + (n_nationkey % 3) * 0.5) AS y
        |       FROM nation CROSS JOIN off),
        |se AS (SELECT a.n_nationkey, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
        |       FROM sv a JOIN sv b ON a.n_nationkey = b.n_nationkey
        |                          AND b.i = (a.i + 1) % 8),
        |hv AS (SELECT n_nationkey, i,
        |         (n_nationkey % 5) * 5.0 + dx * 0.25 AS x,
        |         floor(n_nationkey / 5.0) * 5.0 + dy * 0.25 AS y
        |       FROM nation CROSS JOIN off),
        |he AS (SELECT a.n_nationkey, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
        |       FROM hv a JOIN hv b ON a.n_nationkey = b.n_nationkey
        |                          AND b.i = (a.i + 1) % 8),
        |sa AS (SELECT n_nationkey, abs(sum(x1*y2 - x2*y1)) / 2.0 AS a,
        |              sum(sqrt((x2-x1)*(x2-x1) + (y2-y1)*(y2-y1))) AS p
        |       FROM se GROUP BY n_nationkey),
        |ha AS (SELECT n_nationkey, abs(sum(x1*y2 - x2*y1)) / 2.0 AS a,
        |              sum(sqrt((x2-x1)*(x2-x1) + (y2-y1)*(y2-y1))) AS p
        |       FROM he GROUP BY n_nationkey)
        |SELECT sa.n_nationkey, round(sa.a - ha.a, 6) AS area,
        |       round(sa.p + ha.p, 6) AS perimeter
        |FROM sa JOIN ha ON sa.n_nationkey = ha.n_nationkey
        |ORDER BY sa.n_nationkey""".stripMargin),

    Q("geo_extent_by_nation", (s, d) => {
      // grouped spatial extents: per-nation point count, bounding box,
      // mean center — one map-side-combined aggregation over the point
      // scan (no geometry objects shuffle, just 4 doubles + count).
      // Quarter-grid coords: sums exact, mean = one division → the
      // oracle replays bit-identically.
      Tables.customer(s, d).select(col("c_nationkey"),
          ((col("c_custkey") % 97).cast("double") * 0.25).as("px"),
          ((col("c_custkey") % 89).cast("double") * 0.25).as("py"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_points"),
          min("px").as("xmin"), min("py").as("ymin"),
          max("px").as("xmax"), max("py").as("ymax"),
          round(sum("px") / count(lit(1)), 6).as("cx"),
          round(sum("py") / count(lit(1)), 6).as("cy"))
        .orderBy("c_nationkey")
    },
      """SELECT c_nationkey, count(*) AS n_points,
        |  min((c_custkey % 97) * 0.25) AS xmin, min((c_custkey % 89) * 0.25) AS ymin,
        |  max((c_custkey % 97) * 0.25) AS xmax, max((c_custkey % 89) * 0.25) AS ymax,
        |  round(sum((c_custkey % 97) * 0.25) / count(*), 6) AS cx,
        |  round(sum((c_custkey % 89) * 0.25) / count(*), 6) AS cy
        |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,
      Gate.marker("extents aggregate map-side; no geometry shuffles",
        "partial_min", "partial_count", "HashAggregate")),

    Q("predicate_geo_dwithin", (s, d) => {
      // PostGIS-role predicates through the Boolean front door: a WKT
      // point ATTRIBUTE queried with st_within (polygon) AND st_dwithin
      // (route linestring) — the reference's GEOMETRYTYPE WHERE
      // pass-through, evaluated in-engine. WKT round-trips the exact
      // doubles, so the oracle computes off the raw coordinates.
      val pts = customerPoints(s, d)
        .withColumn("loc", Geo.wktPoint(col("px"), col("py")))
      pts.filter(BooleanPredicates.conjunction(Seq(
          BooleanPredicates.Predicate("loc", "st_within", Seq(
            "POLYGON ((21 10, 15 13, 12 19, 9 13, 3 10, 9 7, 12 1, 15 7, 21 10))")),
          BooleanPredicates.Predicate("loc", "st_dwithin", Seq(
            "LINESTRING (0 0, 6 8, 12 2, 18 14, 24 6)", "4.0")))))
        .select("c_custkey", "px", "py")
        .orderBy("c_custkey")
    },
      s"""WITH poly(i, x1, y1) AS (VALUES
         |  (0,21.0,10.0),(1,15.0,13.0),(2,12.0,19.0),(3,9.0,13.0),
         |  (4,3.0,10.0),(5,9.0,7.0),(6,12.0,1.0),(7,15.0,7.0)),
         |e AS (SELECT a.x1, a.y1, b.x1 AS x2, b.y1 AS y2
         |      FROM poly a JOIN poly b ON b.i = (a.i + 1) % 8),
         |seg(x1, y1, x2, y2) AS (VALUES
         |  (0.0,0.0,6.0,8.0),(6.0,8.0,12.0,2.0),
         |  (12.0,2.0,18.0,14.0),(18.0,14.0,24.0,6.0)),
         |$customerPointsSql,
         |inq AS (SELECT cp.c_custkey, cp.px, cp.py, sum(${raycastSql()}) AS cr
         |        FROM cp CROSS JOIN e GROUP BY 1, 2, 3),
         |dq AS (SELECT c_custkey,
         |         min(sqrt((px - (x1 + t*(x2-x1))) * (px - (x1 + t*(x2-x1)))
         |               + (py - (y1 + t*(y2-y1))) * (py - (y1 + t*(y2-y1))))) AS dist
         |       FROM (SELECT cp.*, seg.*,
         |               greatest(0.0, least(1.0,
         |                 ((px-x1)*(x2-x1) + (py-y1)*(y2-y1))
         |                 / ((x2-x1)*(x2-x1) + (y2-y1)*(y2-y1)))) AS t
         |             FROM cp CROSS JOIN seg)
         |       GROUP BY c_custkey)
         |SELECT i.c_custkey, i.px, i.py
         |FROM inq i JOIN dq ON i.c_custkey = dq.c_custkey
         |WHERE i.cr % 2 = 1 AND dq.dist <= 4.0
         |ORDER BY i.c_custkey""".stripMargin),

    Q("geo_tile_pruned_scan", (s, d) => {
      // The PostGIS-spatial-index ROLE as an ENTITY layout: points
      // tile-partitioned via Partitioning.Tile (survives inserts and
      // mutation rewrites like any entity layout), the radius read
      // prunes to the covered tile dirs (plan-gated PartitionFilters),
      // exact distance filter on the pruned scan. Lossless: the tile
      // set covers the circle's bounding box.
      val (qx, qy, r) = (12.0, 10.0, 3.0)
      val d2 = (col("px") - qx) * (col("px") - qx) +
        (col("py") - qy) * (col("py") - qy)
      graft.core.Entity.open(s, geoLayout(s, d), "geopts")
        .readPrunedRadius(qx, qy, r)
        .filter(d2 <= r * r)
        .select(col("c_custkey"), col("px"), col("py"),
          round(sqrt(d2), 6).as("dist"))
        .orderBy("c_custkey")
    },
      s"""WITH $customerPointsSql
         |SELECT c_custkey, px, py,
         |  round(sqrt((px - 12.0) * (px - 12.0) + (py - 10.0) * (py - 10.0)), 6) AS dist
         |FROM cp
         |WHERE (px - 12.0) * (px - 12.0) + (py - 10.0) * (py - 10.0) <= 9.0
         |ORDER BY c_custkey""".stripMargin,
      Gate.marker("radius tiles prune at the scan as partition filters",
        "PartitionFilters: [ap_partition")),

    Q("geo_nearest_poi", (s, d) => {
      // Bounded-radius nearest-neighbor spatial join: candidates from
      // the maxDist grid (poi → 3×3 neighborhood — lossless), exact
      // distance filter, one per-point window picks the closest. Exact
      // planar arithmetic → rankings replay bit-identically in DuckDB.
      val pois = Tables.supplier(s, d).select(col("s_suppkey"),
        ((col("s_suppkey") % 23).cast("double") + 0.125).as("sx"),
        ((col("s_suppkey") % 19).cast("double") + 0.125).as("sy"))
      GeoAlgebra.nearestJoin(customerPoints(s, d), "c_custkey", "px", "py",
          pois, "sx", "sy", "s_suppkey", maxDist = 3.0)
        .select(col("c_custkey"), col("s_suppkey"), round(col("dist"), 6).as("dist"))
        .orderBy("c_custkey")
    },
      s"""WITH $customerPointsSql,
         |sp AS (SELECT s_suppkey, (s_suppkey % 23) + 0.125 AS sx,
         |         (s_suppkey % 19) + 0.125 AS sy FROM supplier),
         |cand AS (
         |  SELECT c_custkey, s_suppkey,
         |         (px - sx) * (px - sx) + (py - sy) * (py - sy) AS d2
         |  FROM cp CROSS JOIN sp
         |  WHERE (px - sx) * (px - sx) + (py - sy) * (py - sy) <= 9.0),
         |rk AS (SELECT c_custkey, s_suppkey, d2,
         |         row_number() OVER (PARTITION BY c_custkey
         |           ORDER BY d2, s_suppkey) AS rn
         |       FROM cand)
         |SELECT c_custkey, s_suppkey, round(sqrt(d2), 6) AS dist
         |FROM rk WHERE rn = 1 ORDER BY c_custkey""".stripMargin,
      Gate.noNlj("3x3-neighborhood grid equi-join + per-point window")),

    Q("geo_clip_area", (s, d) => {
      // ST_Intersection (convex clip): each region diamond folded
      // through the literal window's half-planes (Sutherland–Hodgman as
      // a pure expression fold). Slope-±1 edges, power-of-two radius,
      // and quarter-grid bounds keep every intersection vertex an exact
      // dyadic double, so the fold and the oracle's INDEPENDENT
      // convex-vertex-set computation (candidate points → angular sort
      // → shoelace) agree bit-for-bit.
      val window = GeoAlgebra.wktPolygonRing(lit(
        "POLYGON ((4 6.5, 18 6.5, 18 13.5, 4 13.5, 4 6.5))"))
      regionPolys(s, d).select(col("r_regionkey"),
          round(GeoAlgebra.stIntersectionArea(
            GeoAlgebra.wktPolygonRing(col("rwkt")), window), 6).as("clip_area"))
        .orderBy("r_regionkey")
    },
      // independent convex∩convex area: candidate vertices (subject verts
      // in window ∪ window corners in subject ∪ edge×edge crossings) →
      // filter to both shapes → dedupe → angular sort → shoelace. Never
      // runs the Sutherland–Hodgman fold it checks.
      """WITH rp AS (SELECT r_regionkey, r_regionkey * 5.0 + 2.0 AS cx,
        |              10.0 AS cy FROM region),
        |dv(i, ox, oy) AS (VALUES (0,4.0,0.0),(1,0.0,4.0),(2,-4.0,0.0),(3,0.0,-4.0)),
        |dverts AS (SELECT r_regionkey, cx, cy, i, cx + ox AS x, cy + oy AS y
        |           FROM rp CROSS JOIN dv),
        |dedges AS (SELECT a.r_regionkey, a.cx, a.cy, a.x AS x1, a.y AS y1,
        |                  b.x AS x2, b.y AS y2
        |           FROM dverts a JOIN dverts b
        |             ON a.r_regionkey = b.r_regionkey AND b.i = (a.i + 1) % 4),
        |rv(j, x, y) AS (VALUES (0,4.0,6.5),(1,18.0,6.5),(2,18.0,13.5),(3,4.0,13.5)),
        |redges AS (SELECT a.j, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
        |           FROM rv a JOIN rv b ON b.j = (a.j + 1) % 4),
        |xing AS (
        |  SELECT de.r_regionkey,
        |         de.x1 + t * (de.x2 - de.x1) AS x,
        |         de.y1 + t * (de.y2 - de.y1) AS y
        |  FROM (
        |    SELECT de.*,
        |      ((re.x2-re.x1)*(de.y1-re.y1) - (re.y2-re.y1)*(de.x1-re.x1))
        |      / ((re.y2-re.y1)*(de.x2-de.x1) - (re.x2-re.x1)*(de.y2-de.y1)) AS t
        |    FROM dedges de CROSS JOIN redges re) de
        |  WHERE t >= 0 AND t <= 1),
        |cand AS (
        |  SELECT r_regionkey, cx, cy, x, y FROM dverts
        |  UNION ALL SELECT r_regionkey, cx, cy, rv.x, rv.y FROM rp CROSS JOIN rv
        |  UNION ALL SELECT x.r_regionkey, rp.cx, rp.cy, x.x, x.y
        |            FROM xing x JOIN rp USING (r_regionkey)),
        |verts AS (
        |  SELECT DISTINCT r_regionkey, x, y FROM cand
        |  WHERE abs(x - cx) + abs(y - cy) <= 4.0
        |    AND x >= 4.0 AND x <= 18.0 AND y >= 6.5 AND y <= 13.5),
        |cent AS (SELECT r_regionkey, avg(x) AS mx, avg(y) AS my,
        |                count(*) AS n
        |         FROM verts GROUP BY r_regionkey),
        |ordered AS (
        |  SELECT v.r_regionkey, v.x, v.y, c.n,
        |    row_number() OVER (PARTITION BY v.r_regionkey
        |      ORDER BY atan2(v.y - c.my, v.x - c.mx)) AS rn
        |  FROM verts v JOIN cent c USING (r_regionkey)),
        |area AS (
        |  SELECT a.r_regionkey,
        |         round(abs(sum(a.x * b.y - b.x * a.y)) / 2.0, 6) AS clip_area
        |  FROM ordered a JOIN ordered b
        |    ON a.r_regionkey = b.r_regionkey AND b.rn = a.rn % a.n + 1
        |  GROUP BY a.r_regionkey)
        |SELECT r.r_regionkey, coalesce(area.clip_area, 0.0) AS clip_area
        |FROM region r LEFT JOIN area ON r.r_regionkey = area.r_regionkey
        |ORDER BY r.r_regionkey""".stripMargin,
      Gate.marker("Sutherland-Hodgman fold is a pure projection over the dim scan", "aggregate(")),

    Q("geo_fence_hourly", (s, d) => {
      // Batch twin of EventStream.geofenceCounts: events tagged with
      // every containing fence via the broadcast raycast (stateless,
      // dim-sized fence table — the geofence-alerting shape), counted
      // per (hour, fence). Overlapping fences each count the event.
      val ev = Tables.events(s, d).select(col("event_id"), col("ts"),
        ((col("event_id") % 101).cast("double") * 0.25).as("ex"),
        ((col("event_id") % 103).cast("double") * 0.25).as("ey"))
      val fences = nationPolys(s, d).select(col("n_nationkey"),
        GeoAlgebra.wktPolygonRing(col("wkt")).as("ring"))
      ev.join(broadcast(fences),
          GeoAlgebra.stContains(col("ring"), col("ex"), col("ey")))
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00")
          .as("hour"), col("n_nationkey"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("hour", "n_nationkey")
    },
      s"""WITH $nationEdgesSql,
         |ev AS (SELECT event_id, ts, (event_id % 101) * 0.25 AS ex,
         |         (event_id % 103) * 0.25 AS ey FROM events),
         |hit AS (SELECT ev.event_id, ev.ts, ne.n_nationkey,
         |          sum(${raycastSql("", "ex", "ey")}) AS cr
         |        FROM ev CROSS JOIN ne GROUP BY 1, 2, 3)
         |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
         |       n_nationkey, count(*) AS cnt
         |FROM hit WHERE cr % 2 = 1
         |GROUP BY 1, 2 ORDER BY hour, n_nationkey""".stripMargin,
      Gate.marker("fence dim broadcast; codegen raycast kernel in the join condition",
        "BroadcastNestedLoopJoin", "partial_count", "poly_contains")),
  )
}
