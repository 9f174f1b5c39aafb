package servebench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Equality predicate on an int (`cat`) or string (`tag`) attribute. */
final case class Pred(attr: String, value: Any) {
  def holds(d: Data, r: Int): Boolean = attr match {
    case "cat" => d.cat(r) == value
    case "tag" => d.tag(r) == value
  }
}

/** The benchmark's own copy of every row it sends: a seeded Gaussian
  * mixture of float vectors with an int and a string attribute. Row ids
  * (`rid`) are insertion positions, so the rows visible after `n`
  * inserted rows are exactly rids `[0, n)`. */
final class Data(seed: Long, val dim: Int, val tagCard: Int) {
  private val rnd = new SplittableRandom(seed)
  private val centers = Array.fill(Data.Centers)(Array.fill(dim)(rnd.nextDouble().toFloat))
  private val vecs = ArrayBuffer.empty[Array[Float]]
  private val cats = ArrayBuffer.empty[Int]
  private val tags = ArrayBuffer.empty[String]

  def size: Int = vecs.size
  def vec(r: Int): Array[Float] = vecs(r)
  def cat(r: Int): Int = cats(r)
  def tag(r: Int): String = tags(r)

  /** Append `n` new rows; returns their rids. */
  def grow(n: Int): Range = {
    val from = size
    (0 until n).foreach { _ =>
      val c = centers(rnd.nextInt(centers.length))
      vecs += Array.tabulate(dim)(i => (c(i) + Data.Spread * rnd.nextGaussian()).toFloat)
      cats += rnd.nextInt(Data.Cats)
      tags += s"t${rnd.nextInt(tagCard)}"
    }
    from until size
  }

  def row(r: Int): Map[String, Any] =
    Map("rid" -> r, "cat" -> cat(r), "tag" -> tag(r), "vec" -> vec(r).toSeq)

  /** A query vector near a visible row, drawn from the request stream. */
  def near(rs: SplittableRandom, visible: Int): Array[Float] =
    vec(rs.nextInt(visible)).map(x => (x + Data.QueryNoise * rs.nextGaussian()).toFloat)
}

object Data {
  val Centers = 8
  val Spread = 0.08
  val QueryNoise = 0.02
  val Cats = 10
}

/** How a kNN request is routed: an exact scan, a stored index named in
  * the hints, or a planner hint walked over the stored indexes. */
sealed trait Route
case object Scan extends Route
final case class NamedIndex(name: String, exact: Boolean) extends Route
final case class PlannerHint(hint: String) extends Route

sealed trait Op { def isWrite: Boolean = false; def viaHttp: Boolean }
final case class KnnOp(q: Array[Float], k: Int, pred: Option[Pred], route: Route,
                       viaHttp: Boolean, insertedRid: Int = -1) extends Op
final case class LookupOp(pred: Pred, viaHttp: Boolean) extends Op
final case class CountOp(viaHttp: Boolean) extends Op
final case class InsertOp(rids: Range) extends Op {
  override def isWrite = true
  def viaHttp = false
}

/** One served answer, reduced to what the checks need; `visible` is the
  * number of rows inserted when the request was sent. */
final case class Answer(op: Op, visible: Int, ids: Array[Int], dists: Array[Double],
                        count: Long)

/** A workload: the entity it loads and the round of requests it repeats.
  * A run always executes whole rounds. */
final case class Workload(name: String, rows: Int, dim: Int, tagCard: Int,
                          loadBatch: Int, indexes: Seq[String], indexRebuilds: Int, warmRounds: Int,
                          round: (SplittableRandom, Data, Int) => Seq[Op]) {
  val entity = s"bench_$name"
}

/** Entity sizes keep one run, set-up included, near 40 s on 4 vCPUs, so
  * that twenty runs per workload fit within an hour (see README). */
object Workload {
  val VafIndex = "vaf_vec"
  val PqIndex = "pq_vec"

  /** Exact scans over a 64-dim entity; one request in four is filtered. */
  val knnScan = Workload("knn_scan", rows = 10000, dim = 64, tagCard = 1000,
    loadBatch = 1200, indexes = Nil, indexRebuilds = 5, warmRounds = 5, round = (rs, d, n) =>
      Seq.tabulate(4) { i =>
        KnnOp(d.near(rs, n), 100,
          if (i == 3) Some(Pred("cat", rs.nextInt(Data.Cats))) else None, Scan, viaHttp = false)
      })

  /** The same entity shape with a persisted exact (vaf) and approximate
    * (pq) index; requests name either index or give a planner hint. */
  val knnIndex = Workload("knn_index", rows = 10000, dim = 64, tagCard = 1000,
    loadBatch = 1200, indexes = Seq("vaf", "pq"), indexRebuilds = 1, warmRounds = 2, round = (rs, d, n) =>
      Seq(NamedIndex(VafIndex, exact = true), NamedIndex(PqIndex, exact = false),
        PlannerHint("exact")).map(r => KnnOp(d.near(rs, n), 100, None, r, viaHttp = false)))

  /** Small reads alternating between the gRPC and HTTP front doors, with a
    * 200-row insert every fifth op; the filtered kNN after each insert
    * queries with one of the rows just inserted. */
  val mixedSmall = Workload("mixed_small", rows = 20000, dim = 16, tagCard = 2000,
    loadBatch = 4900, indexes = Nil, indexRebuilds = 5, warmRounds = 2, round = (rs, d, _) =>
      Seq(false, true).flatMap { odd =>
        val ins = d.grow(200)
        val probe = ins.start + rs.nextInt(ins.size)
        val visible = ins.end
        Seq(InsertOp(ins),
          KnnOp(d.vec(probe), 10, Some(Pred("cat", d.cat(probe))), Scan, viaHttp = false,
            insertedRid = probe),
          LookupOp(Pred("tag", s"t${rs.nextInt(d.tagCard)}"), viaHttp = !odd),
          CountOp(viaHttp = odd),
          KnnOp(d.near(rs, visible), 10, None, Scan, viaHttp = true))
      })

  val all: Seq[Workload] = Seq(knnScan, knnIndex, mixedSmall)

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $name; one of ${all.map(_.name).mkString(", ")}"))
}
