package servebench

/** Answer checks that depend only on the benchmark's own copy of the
  * data, never on the program's answers: brute-force top-k, predicate
  * membership, row counts. Every check returns the list of problems it
  * found; an empty list means the answer is right. */
object Checks {

  /** Euclidean distance summed left to right in double over float
    * inputs — the same arithmetic order as the program's kernel, so an
    * exact answer matches to the last bit. */
  def euclid(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** The k nearest rows among rids `[0, n)` that pass `keep`, as
    * (rid, distance) ascending by distance then rid. */
  def bruteForce(data: Data, n: Int, q: Array[Float], k: Int,
                 keep: Int => Boolean = _ => true): Array[(Int, Double)] = {
    val heap = new java.util.PriorityQueue[(Int, Double)](k + 1,
      (x: (Int, Double), y: (Int, Double)) =>
        if (x._2 != y._2) java.lang.Double.compare(y._2, x._2) else Integer.compare(y._1, x._1))
    var r = 0
    while (r < n) {
      if (keep(r)) {
        val d = euclid(data.vec(r), q)
        if (heap.size < k) heap.add((r, d))
        else if (d < heap.peek()._2) { heap.poll(); heap.add((r, d)) }
      }
      r += 1
    }
    val out = new Array[(Int, Double)](heap.size)
    var i = out.length - 1
    while (i >= 0) { out(i) = heap.poll(); i -= 1 }
    out
  }

  val DistTol = 1e-4
  /** Two true distances this close are a tie: either order is right. */
  val TieTol = 1e-9

  /** An exact kNN answer: rank by rank, the distance matches brute force
    * within [[DistTol]] and the returned row truly lies at that distance
    * (ids exact up to exact ties); no row twice. */
  def exactKnn(data: Data, q: Array[Float], ids: Array[Int], dists: Array[Double],
               truth: Array[(Int, Double)]): Seq[String] = {
    val problems = Seq.newBuilder[String]
    if (ids.length != truth.length)
      problems += s"returned ${ids.length} rows, brute force has ${truth.length}"
    if (ids.distinct.length != ids.length) problems += "a row is returned twice"
    ids.indices.take(truth.length).foreach { i =>
      val (tid, td) = truth(i)
      if (math.abs(dists(i) - td) > DistTol)
        problems += f"rank $i: distance ${dists(i)}%.6f, brute force $td%.6f"
      else if (ids(i) != tid) {
        val d = if (ids(i) >= 0 && ids(i) < data.size) euclid(data.vec(ids(i)), q)
                else Double.MaxValue
        if (math.abs(d - td) > TieTol) problems += s"rank $i: row ${ids(i)}, brute force row $tid"
      }
    }
    problems.result()
  }

  /** An approximate kNN answer: every reported distance is the row's
    * true distance, ascending, no row twice. */
  def approxKnn(data: Data, q: Array[Float], ids: Array[Int], dists: Array[Double])
  : Seq[String] = {
    val problems = Seq.newBuilder[String]
    if (ids.distinct.length != ids.length) problems += "a row is returned twice"
    ids.indices.foreach { i =>
      if (ids(i) < 0 || ids(i) >= data.size) problems += s"rank $i: unknown row ${ids(i)}"
      else {
        val d = euclid(data.vec(ids(i)), q)
        if (math.abs(d - dists(i)) > DistTol)
          problems += f"rank $i: reported ${dists(i)}%.6f, true $d%.6f"
      }
      if (i > 0 && dists(i) < dists(i - 1)) problems += s"rank $i: distances not ascending"
    }
    problems.result()
  }

  /** Share of the brute-force top-k that the answer holds. */
  def recall(ids: Array[Int], truth: Array[(Int, Double)]): Double = {
    val want = truth.map(_._1).toSet
    if (want.isEmpty) 1.0 else ids.count(want.contains).toDouble / want.size
  }

  /** Mean recall of the approximate answers is at least `floor`. */
  def recallFloor(recalls: Seq[Double], floor: Double): Seq[String] =
    if (recalls.isEmpty || recalls.sum / recalls.size >= floor) Nil
    else Seq(f"approximate recall ${recalls.sum / recalls.size}%.3f below floor $floor")

  /** Every returned row satisfies the predicate. */
  def satisfies(data: Data, ids: Array[Int], pred: Pred): Seq[String] =
    ids.filterNot(r => r >= 0 && r < data.size && pred.holds(data, r)).toSeq
      .map(r => s"row $r does not satisfy ${pred.attr} = ${pred.value}")

  /** A Boolean lookup returns exactly the visible rows that match. */
  def lookup(data: Data, n: Int, ids: Array[Int], pred: Pred): Seq[String] = {
    val want = (0 until n).filter(pred.holds(data, _)).toSet
    val got = ids.toSet
    (if (got.size != ids.length) Seq("a row is returned twice") else Nil) ++
      (if (got != want) Seq(s"lookup ${pred.attr} = ${pred.value}: ${got.size} rows, " +
        s"${(want -- got).size} missing, ${(got -- want).size} extra") else Nil)
  }

  /** Count equals the rows inserted so far. */
  def count(n: Int, got: Long): Seq[String] =
    if (got == n) Nil else Seq(s"count $got, rows inserted $n")

  /** A query with a just-inserted vector finds that row at distance 0. */
  def findsInserted(rid: Int, ids: Array[Int], dists: Array[Double]): Seq[String] =
    if (ids.nonEmpty && ids(0) == rid && dists(0) == 0.0) Nil
    else Seq(s"just-inserted row $rid not first at distance 0 " +
      s"(got ${ids.headOption.getOrElse(-1)} at ${dists.headOption.getOrElse(Double.NaN)})")
}
