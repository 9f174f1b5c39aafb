package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL surface for the graft expression kernels: registers `vec_*`,
  * `minhash_sig`, `simhash`, `shingle_hashes`, `repetition_stats`, and
  * `densify` so they are callable from `spark.sql(...)` and `selectExpr`.
  *
  * Two wiring paths:
  *  - config: `spark.sql.extensions=graft.functions.GraftExtensions`
  *    (build-time, cluster-wide; the functions only, no optimizer rule);
  *  - runtime: `GraftFunctions.register(spark)` on a live session.
  */
object GraftFunctions {

  private def vecBuilder(kind: String): Seq[Expression] => Expression = {
    case Seq(a, b) => VectorDistanceExpr(a, b, kind)
    case args => throw new IllegalArgumentException(
      s"vec_$kind expects 2 arguments, got ${args.length}")
  }

  private def intArg(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  private def boolArg(e: Expression, what: String): Boolean = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Boolean, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be a boolean literal, got $other")
  }

  /** Fold a numeric literal to double — SQL parses bare `2.5` as
    * DECIMAL, so Decimal must be accepted alongside the primitive
    * literal types or the natural invocation form throws. */
  private def doubleArg(e: Expression, what: String): Double = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    e match {
      case Literal(v: Double, _) => v
      case Literal(v: Float, _) => v.toDouble
      case Literal(v: Int, _) => v.toDouble
      case Literal(v: Long, _) => v.toDouble
      case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
      case other => throw new IllegalArgumentException(s"$what must be a numeric literal, got $other")
    }
  }

  /** Evaluate a foldable array expression (the query vector) to doubles.
    * `array(1.0, 2.0)` in SQL is array<decimal>, so Decimal elements are
    * first-class here too. */
  private def doubleArrayArg(e: Expression, what: String): Array[Double] = {
    import org.apache.spark.sql.types._
    require(e.foldable, s"$what must be a literal array")
    val ad = e.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData => a
      case other => throw new IllegalArgumentException(s"$what is not an array: $other")
    }
    e.dataType match {
      case ArrayType(DoubleType, _) => ad.toDoubleArray()
      case ArrayType(FloatType, _) => ad.toFloatArray().map(_.toDouble)
      case ArrayType(IntegerType, _) => ad.toIntArray().map(_.toDouble)
      case ArrayType(LongType, _) => ad.toLongArray().map(_.toDouble)
      case ArrayType(dt: DecimalType, _) =>
        Array.tabulate(ad.numElements())(i =>
          ad.get(i, dt).asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble)
      case other => throw new IllegalArgumentException(s"$what has non-numeric type ${other.sql}")
    }
  }

  /** Bridge a one-WKT-argument geometry Column composition back to an
    * expression for SQL registration. */
  private def geoSql(wkt: Expression)(
      f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Expression =
    org.apache.spark.sql.graft.Bridge.expressionEager(
      f(org.apache.spark.sql.graft.Bridge.column(wkt)))

  private def sparseQueryBuilder(kind: String): Seq[Expression] => Expression = {
    // minkowski REQUIRES its p — a silent 2-arg default would compute
    // euclidean under a name promising an explicit power
    case Seq(sv, q) if kind != SparseDistances.Minkowski =>
      SparseQueryDistanceExpr(sv, doubleArrayArg(q, "query"), kind, 2.0)
    case Seq(sv, q, p) if kind == SparseDistances.Minkowski =>
      SparseQueryDistanceExpr(sv, doubleArrayArg(q, "query"), kind, doubleArg(p, "p"))
    case args => throw new IllegalArgumentException(
      s"sparse_$kind(sparseStruct, queryArray${if (kind == SparseDistances.Minkowski) ", p" else ""}) got ${args.length} args")
  }

  private def sparsePairBuilder(kind: String): Seq[Expression] => Expression = {
    case Seq(a, b) if kind != SparseDistances.Minkowski =>
      SparseSparseDistanceExpr(a, b, kind, 2.0)
    case Seq(a, b, p) if kind == SparseDistances.Minkowski =>
      SparseSparseDistanceExpr(a, b, kind, doubleArg(p, "p"))
    case args => throw new IllegalArgumentException(
      s"sparse_pair_$kind expects ${if (kind == SparseDistances.Minkowski) "3" else "2"} args, got ${args.length}")
  }

  private val sparseKinds =
    (SparseDistances.Kinds - SparseDistances.Minkowski).toSeq.sorted

  val builders: Seq[(String, Seq[Expression] => Expression)] =
    VectorKernel.All.toSeq.sorted.map(k => s"vec_$k" -> vecBuilder(k)) ++
    sparseKinds.map(k => s"sparse_$k" -> sparseQueryBuilder(k)) ++
    sparseKinds.map(k => s"sparse_pair_$k" -> sparsePairBuilder(k)) ++ Seq(
      "minhash_sig" -> {
        case Seq(th, n, nh) => MinHashSigExpr(th, intArg(n, "n"), intArg(nh, "numHashes"), 0)
        case args => throw new IllegalArgumentException(
          s"minhash_sig(tokenHashes, n, numHashes) expects 3 args, got ${args.length}")
      },
      "simhash" -> {
        case Seq(th) => SimHashExpr(th)
        case args => throw new IllegalArgumentException(
          s"simhash(tokenHashes) expects 1 arg, got ${args.length}")
      },
      "shingle_hashes" -> {
        case Seq(th, n) => ShingleHashesExpr(th, intArg(n, "n"))
        case args => throw new IllegalArgumentException(
          s"shingle_hashes(tokenHashes, n) expects 2 args, got ${args.length}")
      },
      "densify" -> {
        case Seq(sv) => DensifyExpr(sv)
        case args => throw new IllegalArgumentException(
          s"densify(sparseStruct) expects 1 arg, got ${args.length}")
      },
      "repetition_stats" -> {
        case Seq(toks) => RepetitionStatsExpr(toks)
        case args => throw new IllegalArgumentException(
          s"repetition_stats(tokens) expects 1 arg, got ${args.length}")
      },
      "sparse_minkowski" -> sparseQueryBuilder(SparseDistances.Minkowski),
      "sparse_pair_minkowski" -> sparsePairBuilder(SparseDistances.Minkowski),
      "bounded_topk" -> {
        // cast here — raw SQL args may be int/float and the aggregate's
        // update() trusts double/long buffers
        case Seq(d, id, k) => BoundedTopK(
          org.apache.spark.sql.catalyst.expressions.Cast(d, org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.catalyst.expressions.Cast(id, org.apache.spark.sql.types.LongType),
          intArg(k, "k"))
        case args => throw new IllegalArgumentException(
          s"bounded_topk(distance, id, k) expects 3 args, got ${args.length}")
      },
      "kmv_distinct" -> {
        case Seq(h, k) => KmvDistinct(
          org.apache.spark.sql.catalyst.expressions.Cast(h, org.apache.spark.sql.types.LongType),
          intArg(k, "k"), KmvDistinct.KeyHashRange)
        case args => throw new IllegalArgumentException(
          s"kmv_distinct(hash, k) expects 2 args, got ${args.length}")
      },
      "heavy_hitters" -> {
        case Seq(key, m) => HeavyHitters(
          org.apache.spark.sql.catalyst.expressions.Cast(key, org.apache.spark.sql.types.StringType),
          intArg(m, "m"))
        case args => throw new IllegalArgumentException(
          s"heavy_hitters(key, m) expects 2 args, got ${args.length}")
      },
      // ST_* SQL surface over the geometry algebra: WKT in, measures/
      // predicates out — Column compositions re-bridged to expressions,
      // so `spark.sql("SELECT st_area('POLYGON (...)')")` just works.
      // hole-aware (PostGIS ST_Area/ST_Perimeter semantics): holes
      // subtract from area, count toward the boundary length
      "st_area" -> {
        case Seq(wkt) => geoSql(wkt)(w =>
          graft.operators.GeoAlgebra.stAreaWkt(w))
        case args => throw new IllegalArgumentException(
          s"st_area(wkt) expects 1 arg, got ${args.length}")
      },
      "st_perimeter" -> {
        case Seq(wkt) => geoSql(wkt)(w =>
          graft.operators.GeoAlgebra.stLengthWkt(w))
        case args => throw new IllegalArgumentException(
          s"st_perimeter(wkt) expects 1 arg, got ${args.length}")
      },
      "st_centroid" -> {
        // hole-aware (PostGIS semantics): holes subtract their
        // area-weighted moments, MULTIPOLYGON parts sum
        case Seq(wkt) => geoSql(wkt)(w =>
          graft.operators.GeoAlgebra.stCentroidWkt(w))
        case args => throw new IllegalArgumentException(
          s"st_centroid(wkt) expects 1 arg, got ${args.length}")
      },
      "st_envelope" -> {
        case Seq(wkt) => geoSql(wkt)(w =>
          graft.operators.GeoAlgebra.stEnvelope(
            graft.operators.GeoAlgebra.wktPolygonRing(w)))
        case args => throw new IllegalArgumentException(
          s"st_envelope(wkt) expects 1 arg, got ${args.length}")
      },
      "st_contains" -> {
        case Seq(wkt, px, py) =>
          org.apache.spark.sql.graft.Bridge.expressionEager(
            graft.operators.GeoAlgebra.stContains(
              graft.operators.GeoAlgebra.wktPolygonRing(
                org.apache.spark.sql.graft.Bridge.column(wkt)),
              org.apache.spark.sql.graft.Bridge.column(px),
              org.apache.spark.sql.graft.Bridge.column(py)))
        case args => throw new IllegalArgumentException(
          s"st_contains(wkt, px, py) expects 3 args, got ${args.length}")
      },
      "st_covers" -> {
        case Seq(wkt, px, py) =>
          org.apache.spark.sql.graft.Bridge.expressionEager(
            graft.operators.GeoAlgebra.stCoversWkt(
              org.apache.spark.sql.graft.Bridge.column(wkt),
              org.apache.spark.sql.graft.Bridge.column(px),
              org.apache.spark.sql.graft.Bridge.column(py)))
        case args => throw new IllegalArgumentException(
          s"st_covers(wkt, px, py) expects 3 args, got ${args.length}")
      },
      // geodesic (GEOGRAPHY-role) twins: WKT in lng/lat axis order,
      // measures in meters / m² on the R = 6371 km Haversine sphere.
      // The optional boolean literal mirrors PostGIS's
      // `ST_Area(geography, use_spheroid)`: true evaluates on the
      // WGS84 authalic (area) / rectifying (length) sphere instead
      "st_area_geo" -> {
        case Seq(wkt) => geoSql(wkt)(w => graft.operators.Geo.stAreaGeo(w))
        case Seq(wkt, sph) => geoSql(wkt)(w => graft.operators.Geo.stAreaGeo(w,
          spheroid = boolArg(sph, "st_area_geo spheroid")))
        case args => throw new IllegalArgumentException(
          s"st_area_geo(wkt[, use_spheroid]) expects 1-2 args, got ${args.length}")
      },
      "st_length_geo" -> {
        case Seq(wkt) => geoSql(wkt)(w => graft.operators.Geo.stLengthGeo(w))
        case Seq(wkt, sph) => geoSql(wkt)(w => graft.operators.Geo.stLengthGeo(w,
          spheroid = boolArg(sph, "st_length_geo spheroid")))
        case args => throw new IllegalArgumentException(
          s"st_length_geo(wkt[, use_spheroid]) expects 1-2 args, got ${args.length}")
      },
      // bearing + destination (PostGIS ST_Azimuth / ST_Project on the
      // geography role): radians clockwise from north in [0, 2π);
      // the destination emits WKT POINT text (x=lng, y=lat, meters)
      "st_azimuth_geo" -> {
        case Seq(a, b) =>
          org.apache.spark.sql.graft.Bridge.expressionEager(
            graft.operators.Geo.stAzimuthGeo(
              org.apache.spark.sql.graft.Bridge.column(a),
              org.apache.spark.sql.graft.Bridge.column(b)))
        case args => throw new IllegalArgumentException(
          s"st_azimuth_geo(wktA, wktB) expects 2 args, got ${args.length}")
      },
      "st_project_geo" -> {
        case Seq(lat, lng, r, az) =>
          org.apache.spark.sql.graft.Bridge.expressionEager {
            val p = graft.operators.Geo.projectGeo(
              org.apache.spark.sql.graft.Bridge.column(lat),
              org.apache.spark.sql.graft.Bridge.column(lng),
              org.apache.spark.sql.graft.Bridge.column(r),
              org.apache.spark.sql.graft.Bridge.column(az))
            graft.operators.Geo.wktPoint(p.getField("x"), p.getField("y"))
          }
        case args => throw new IllegalArgumentException(
          s"st_project_geo(lat, lng, meters, azimuth) expects 4 args, got ${args.length}")
      },
      // buffer constructors: POINT buffers as WKT polygon text — planar
      // n-gon and geodesic destination-point ring (x=lng, y=lat, meters)
      "st_buffer_point" -> {
        case Seq(x, y, r) =>
          org.apache.spark.sql.graft.Bridge.expressionEager(
            graft.operators.GeoAlgebra.wktPolygon(
              graft.operators.GeoAlgebra.stBufferPoint(
                org.apache.spark.sql.graft.Bridge.column(x),
                org.apache.spark.sql.graft.Bridge.column(y),
                org.apache.spark.sql.graft.Bridge.column(r))))
        case args => throw new IllegalArgumentException(
          s"st_buffer_point(x, y, r) expects 3 args, got ${args.length}")
      },
      "st_buffer_point_geo" -> {
        case Seq(lng, lat, m) =>
          org.apache.spark.sql.graft.Bridge.expressionEager(
            graft.operators.GeoAlgebra.wktPolygon(
              graft.operators.Geo.stBufferPointGeo(
                org.apache.spark.sql.graft.Bridge.column(lat),
                org.apache.spark.sql.graft.Bridge.column(lng),
                org.apache.spark.sql.graft.Bridge.column(m))))
        case args => throw new IllegalArgumentException(
          s"st_buffer_point_geo(lng, lat, meters) expects 3 args, got ${args.length}")
      },
      "st_distance_geo" -> {
        case Seq(a, b) =>
          org.apache.spark.sql.graft.Bridge.expressionEager(
            graft.operators.Geo.stDistanceGeo(
              org.apache.spark.sql.graft.Bridge.column(a),
              org.apache.spark.sql.graft.Bridge.column(b)))
        case args => throw new IllegalArgumentException(
          s"st_distance_geo(wktA, wktB) expects 2 args, got ${args.length}")
      },
      "st_dwithin_geo" -> {
        case Seq(a, b, m) =>
          org.apache.spark.sql.graft.Bridge.expressionEager(
            graft.operators.Geo.stDWithinGeo(
              org.apache.spark.sql.graft.Bridge.column(a),
              org.apache.spark.sql.graft.Bridge.column(b),
              org.apache.spark.sql.graft.Bridge.column(m)))
        case args => throw new IllegalArgumentException(
          s"st_dwithin_geo(wktA, wktB, meters) expects 3 args, got ${args.length}")
      },
      "st_intersects" -> {
        case Seq(wktA, wktB) =>
          org.apache.spark.sql.graft.Bridge.expressionEager(
            graft.operators.GeoAlgebra.stIntersects(
              graft.operators.GeoAlgebra.wktPolygonRing(
                org.apache.spark.sql.graft.Bridge.column(wktA)),
              graft.operators.GeoAlgebra.wktPolygonRing(
                org.apache.spark.sql.graft.Bridge.column(wktB))))
        case args => throw new IllegalArgumentException(
          s"st_intersects(wktA, wktB) expects 2 args, got ${args.length}")
      },
      "st_intersects_inclusive" -> {
        case Seq(wktA, wktB) =>
          org.apache.spark.sql.graft.Bridge.expressionEager(
            graft.operators.GeoAlgebra.stIntersectsInclusive(
              graft.operators.GeoAlgebra.wktPolygonRing(
                org.apache.spark.sql.graft.Bridge.column(wktA)),
              graft.operators.GeoAlgebra.wktPolygonRing(
                org.apache.spark.sql.graft.Bridge.column(wktB))))
        case args => throw new IllegalArgumentException(
          s"st_intersects_inclusive(wktA, wktB) expects 2 args, got ${args.length}")
      },
      "st_intersection_area" -> {
        case Seq(wktA, wktB) =>
          org.apache.spark.sql.graft.Bridge.expressionEager(
            graft.operators.GeoAlgebra.stIntersectionArea(
              graft.operators.GeoAlgebra.wktPolygonRing(
                org.apache.spark.sql.graft.Bridge.column(wktA)),
              graft.operators.GeoAlgebra.wktPolygonRing(
                org.apache.spark.sql.graft.Bridge.column(wktB))))
        case args => throw new IllegalArgumentException(
          s"st_intersection_area(wktA, wktB) expects 2 args, got ${args.length}")
      },
      "poly_contains" -> {
        case Seq(ring, px, py) => GeoPointExpr(ring,
          org.apache.spark.sql.catalyst.expressions.Cast(px, org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.catalyst.expressions.Cast(py, org.apache.spark.sql.types.DoubleType),
          GeoKernel.Contains)
        case args => throw new IllegalArgumentException(
          s"poly_contains(ring, px, py) expects 3 args, got ${args.length}")
      },
      "poly_on_boundary" -> {
        case Seq(chain, px, py) => GeoPointExpr(chain,
          org.apache.spark.sql.catalyst.expressions.Cast(px, org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.catalyst.expressions.Cast(py, org.apache.spark.sql.types.DoubleType),
          GeoKernel.OnBoundary)
        case args => throw new IllegalArgumentException(
          s"poly_on_boundary(chain, px, py) expects 3 args, got ${args.length}")
      },
      "poly_dist2" -> {
        case Seq(chain, px, py) => GeoPointExpr(chain,
          org.apache.spark.sql.catalyst.expressions.Cast(px, org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.catalyst.expressions.Cast(py, org.apache.spark.sql.types.DoubleType),
          GeoKernel.Dist2)
        case args => throw new IllegalArgumentException(
          s"poly_dist2(chain, px, py) expects 3 args, got ${args.length}")
      },
      "bottomk_sample" -> {
        case Seq(h, v, k) => BottomKSample(
          org.apache.spark.sql.catalyst.expressions.Cast(h, org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.catalyst.expressions.Cast(v, org.apache.spark.sql.types.DoubleType),
          intArg(k, "k"))
        case args => throw new IllegalArgumentException(
          s"bottomk_sample(hash, value, k) expects 3 args, got ${args.length}")
      })

  /** Register into a live session's function registry. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}

/** `spark.sql.extensions` entry point: the SQL function surface. It
  * injects no optimizer rule; a kNN query uses an index through
  * [[graft.api.QueryOps.route]]'s hint walk. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), builder))
    }
  }
}
