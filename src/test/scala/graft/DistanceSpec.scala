package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.{Distances, SparseDistances, VectorKernel}

/** Unit values for every distance function, weighted and unweighted —
  * the reference's `DistanceTestSuite.scala:23-299` pattern. Vectors
  * a=(1,2,3), b=(4,6,3), w=(2,0.5,1). */
class DistanceSpec extends SparkSpec {

  private val va = Seq(1.0, 2.0, 3.0)
  private val vb = Seq(4.0, 6.0, 3.0)
  private val vw = Seq(2.0, 0.5, 1.0)

  private def eval(c: Column): Double = {
    import spark.implicits._
    Seq(1).toDF("x").select(c.as("d")).head().getDouble(0)
  }
  private def ac = Distances.vecLit(va)
  private def bc = Distances.vecLit(vb)
  private def wc = Distances.vecLit(vw)

  private def closeTo(got: Double, exp: Double): Unit =
    math.abs(got - exp) should be < Epsilon

  test("manhattan")    { closeTo(eval(Distances.manhattan(ac, bc)), 7.0) }
  test("manhattanW")   { closeTo(eval(Distances.manhattanW(ac, bc, wc)), 2 * 3 + 0.5 * 4 + 0.0) }
  test("sqEuclidean")  { closeTo(eval(Distances.sqEuclidean(ac, bc)), 25.0) }
  test("sqEuclideanW") { closeTo(eval(Distances.sqEuclideanW(ac, bc, wc)), 2 * 9 + 0.5 * 16 + 0.0) }
  test("euclidean")    { closeTo(eval(Distances.euclidean(ac, bc)), 5.0) }
  test("chebyshev")    { closeTo(eval(Distances.chebyshev(ac, bc)), 4.0) }
  test("chebyshevW")   { closeTo(eval(Distances.chebyshevW(ac, bc, wc)), 6.0) }
  test("minkowski3")   { closeTo(eval(Distances.minkowski(ac, bc, 3.0)), math.cbrt(27 + 64)) }
  test("dot")          { closeTo(eval(Distances.dot(ac, bc)), 25.0) }
  test("cosine") {
    closeTo(eval(Distances.cosine(ac, bc)), 1.0 - 25.0 / (math.sqrt(14) * math.sqrt(61)))
  }
  test("cosine of parallel vectors is 0") {
    closeTo(eval(Distances.cosine(ac, Distances.vecLit(va.map(_ * 2)))), 0.0)
  }
  test("cosineSim")    { closeTo(eval(Distances.cosineSim(ac, bc)), 25.0 / (math.sqrt(14) * math.sqrt(61))) }
  test("chiSquared")   { closeTo(eval(Distances.chiSquared(ac, bc)), 9.0 / 5 + 16.0 / 8) }
  test("chiSquaredW")  { closeTo(eval(Distances.chiSquaredW(ac, bc, wc)), 2 * 9.0 / 5 + 0.5 * 16.0 / 8) }
  test("hammingW")     { closeTo(eval(Distances.hammingW(ac, bc, wc)), 2 * 1.0 + 0.5 * 1.0) }
  test("correlation") {
    val ca = va.map(_ - 2.0)
    val cb = vb.map(_ - 13.0 / 3)
    val d = ca.zip(cb).map { case (x, y) => x * y }.sum
    val na = math.sqrt(ca.map(x => x * x).sum)
    val nb = math.sqrt(cb.map(x => x * x).sum)
    closeTo(eval(Distances.correlation(ac, bc)), 1.0 - d / (na * nb))
  }
  test("hamming")      { closeTo(eval(Distances.hamming(ac, bc)), 2.0) }
  test("hamming is exact, not tolerance-based") {
    closeTo(eval(Distances.hamming(ac, Distances.vecLit(Seq(1.0 + 1e-9, 2.0, 3.0)))), 1.0)
  }
  test("jaccard")      { closeTo(eval(Distances.jaccard(ac, bc)), 1.0 - 6.0 / 13.0) }
  test("kullbackLeibler") {
    closeTo(eval(Distances.kullbackLeibler(ac, bc)),
      1 * math.log(1.0 / 4) + 2 * math.log(2.0 / 6) + 3 * math.log(1.0))
  }
  test("spanNorm")     { closeTo(eval(Distances.spanNorm(ac, bc)), 4.0) }
  test("modulo")       { closeTo(eval(Distances.modulo(ac, bc)), (4 % 1) + (6 % 2) + (3 % 3)) }
  test("moduloW")      { closeTo(eval(Distances.moduloW(ac, bc, wc)), 0.0) }

  test("haversine Berlin to Paris within 1% of 878 km") {
    val berlin = Distances.vecLit(Seq(52.5200, 13.4050))
    val paris = Distances.vecLit(Seq(48.8566, 2.3522))
    val got = eval(Distances.haversine(berlin, paris))
    got should be(878000.0 +- 10000.0)
  }
  test("haversine wraps out-of-range longitude (190 == -170)") {
    val p1 = Distances.vecLit(Seq(10.0, 190.0))
    val p2 = Distances.vecLit(Seq(10.0, -170.0))
    closeTo(eval(Distances.haversine(p1, p2)), 0.0)
  }
  test("haversine of short vector is +Infinity") {
    eval(Distances.haversine(Distances.vecLit(Seq(1.0)), bc)).isPosInfinity shouldBe true
  }

  test("byName dispatch covers the registry, defaults to euclidean") {
    closeTo(eval(Distances.byName("manhattan")(ac, bc)), 7.0)
    closeTo(eval(Distances.byName("nonsense")(ac, bc)), 5.0)
  }

  test("float input arrays work (parquet embedding shape)") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 6.0f, 3.0f))).toDF("a", "b")
    df.select(Distances.manhattan(col("a"), col("b"))).head().getDouble(0) shouldBe 7.0
  }

  // ---- canonical alias table: every dispatch site, same resolution ----

  test("alias table: byName resolves every spelling to the canonical metric") {
    val groups: Seq[(Seq[String], (Column, Column) => Column)] = Seq(
      Seq("manhattan", "minkowski-1") -> (Distances.manhattan _),
      Seq("euclidean", "minkowski-2") -> (Distances.euclidean _),
      Seq("sqeuclidean", "squaredeuclidean") -> (Distances.sqEuclidean _),
      Seq("chebyshev", "minkowski-inf") -> (Distances.chebyshev _))
    groups.foreach { case (aliases, f) =>
      val exp = eval(f(ac, bc))
      aliases.foreach { n =>
        withClue(n) {
          closeTo(eval(Distances.byName(n)(ac, bc)), exp)
          closeTo(eval(Distances.byName(n.toUpperCase)(ac, bc)), exp)
        }
      }
    }
    // generic minkowski-p computes the true p-norm on the unweighted
    // path too (the weighted path always did — they must not differ)
    closeTo(eval(Distances.byName("minkowski-3")(ac, bc)), math.cbrt(27 + 64))
    // unknown names keep the reference's default-to-euclidean
    closeTo(eval(Distances.byName("no-such-metric")(ac, bc)), 5.0)
    closeTo(eval(Distances.byName("minkowski-bogus")(ac, bc)), 5.0)
  }

  test("alias table: minkowskiP / isL2Family agree across spellings") {
    Seq("sqeuclidean", "squaredeuclidean", "SquaredEuclidean", "euclidean",
      "minkowski-2").foreach { n =>
      withClue(n) {
        Distances.minkowskiP(n) shouldBe Some(2.0)
        Distances.isL2Family(n) shouldBe true
      }
    }
    Distances.minkowskiP("manhattan") shouldBe Some(1.0)
    Distances.minkowskiP("minkowski-1") shouldBe Some(1.0)
    Distances.minkowskiP("minkowski-3") shouldBe Some(3.0)
    Distances.minkowskiP("cosine") shouldBe None
    Distances.minkowskiP("chebyshev") shouldBe None
    Seq("manhattan", "cosine", "minkowski-3", "haversine").foreach(n =>
      withClue(n)(Distances.isL2Family(n) shouldBe false))
  }

  test("alias table: weighted dispatch accepts every spelling of the family") {
    import graft.api.{NnQuery, QueryOps}
    import spark.implicits._
    val df = Seq(Tuple1(va)).toDF("vec")
    def wEval(dist: String): Double =
      df.select(QueryOps.distanceColumn(
        NnQuery("vec", vb, dist, 1, Some(vw))).as("d")).head().getDouble(0)
    val sqExp = eval(Distances.sqEuclideanW(ac, bc, wc))
    closeTo(wEval("sqeuclidean"), sqExp)
    // previously threw "no weighted variant" — the alias split
    closeTo(wEval("squaredeuclidean"), sqExp)
    closeTo(wEval("minkowski-2"), eval(Distances.euclideanW(ac, bc, wc)))
    closeTo(wEval("minkowski-1"), eval(Distances.manhattanW(ac, bc, wc)))
    an[IllegalArgumentException] should be thrownBy wEval("haversine")
  }

  // ---- sparse kernels: must agree with the dense path without densify ----

  private def sparseLit(idx: Seq[Int], vs: Seq[Double], len: Int): Column =
    struct(array(idx.map(lit): _*).as("indices"),
      array(vs.map(lit): _*).as("values"), lit(len).as("length"))

  private val sIdx = Seq(1, 4)
  private val sVs = Seq(2.0, -3.0)
  private val sDense = Seq(0.0, 2.0, 0.0, 0.0, -3.0, 0.0)
  private val sIdx2 = Seq(0, 4, 5)
  private val sVs2 = Seq(1.0, 4.0, -1.0)
  private val sDense2 = Seq(1.0, 0.0, 0.0, 0.0, 4.0, -1.0)
  private val sq = Seq(0.5, -1.0, 2.0, 0.0, 1.5, -2.5)
  private val sparseKinds =
    Seq("manhattan", "sqeuclidean", "euclidean", "dot", "cosine", "cosinesim")

  test("sparse-vs-dense-query kernels equal the dense kernels") {
    val sv = sparseLit(sIdx, sVs, 6)
    sparseKinds.foreach { k =>
      withClue(k) {
        closeTo(eval(SparseDistances.toQuery(k, sv, sq)),
          eval(VectorKernel(k, Distances.vecLit(sDense), Distances.vecLit(sq))))
      }
    }
    closeTo(eval(SparseDistances.toQuery(SparseDistances.Minkowski, sv, sq, 3.0)),
      eval(Distances.minkowski(Distances.vecLit(sDense), Distances.vecLit(sq), 3.0)))
  }

  test("sparse-vs-sparse merge walk equals the dense kernels") {
    val sv = sparseLit(sIdx, sVs, 6)
    val sv2 = sparseLit(sIdx2, sVs2, 6)
    sparseKinds.foreach { k =>
      withClue(k) {
        closeTo(eval(SparseDistances.pairwise(k, sv, sv2)),
          eval(VectorKernel(k, Distances.vecLit(sDense), Distances.vecLit(sDense2))))
      }
    }
    closeTo(eval(SparseDistances.pairwise(SparseDistances.Minkowski, sv, sv2, 3.0)),
      eval(Distances.minkowski(Distances.vecLit(sDense), Distances.vecLit(sDense2), 3.0)))
  }

  test("sparse kernel over a sparsified float entity column (no densify)") {
    import spark.implicits._
    val base = SharedSpark.tempDir("graft-sparsedist").toString
    val e = graft.core.Entity.create(spark, base, "v")
    e.insert(Seq((1L, Seq(1.0f, 0.0f, 3.0f)), (2L, Seq(0.0f, 2.0f, 0.0f)))
      .toDF("id", "vec"))
    e.sparsify("vec")
    val q = Seq(1.0, 1.0, 1.0)
    val got = e.read()
      .select($"id", SparseDistances.toQuery("euclidean", $"vec", q).as("d"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got(1L) should be(math.sqrt(0.0 + 1.0 + 4.0) +- 1e-9)
    got(2L) should be(math.sqrt(1.0 + 1.0 + 1.0) +- 1e-9)
  }
}
