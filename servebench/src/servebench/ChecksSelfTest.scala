package servebench

/** Shows that every answer check passes on a right answer and fails on a
  * deliberately perturbed one. Needs no Spark: the answers are computed
  * here from the benchmark's own rows. Exits non-zero on the first check
  * that does not behave. */
object ChecksSelfTest {
  private var failures = 0

  private def expect(name: String, problems: Seq[String], wantProblems: Boolean): Unit = {
    val ok = problems.nonEmpty == wantProblems
    if (!ok) failures += 1
    println(f"${if (ok) "ok  " else "FAIL"} $name%-58s ${problems.headOption.getOrElse("(no problem)")}")
  }

  def main(args: Array[String]): Unit = {
    val data = new Data(7L, 16, 50)
    data.grow(3000)
    val n = data.size
    val rs = new java.util.SplittableRandom(11L)
    val q = data.near(rs, n)
    val k = 10

    // exact kNN
    val truth = Checks.bruteForce(data, n, q, k)
    val ids = truth.map(_._1)
    val dists = truth.map(_._2)
    expect("exact kNN: brute-force answer", Checks.exactKnn(data, q, ids, dists, truth), false)
    val swapped = ids.clone(); swapped(3) = ids(4); swapped(4) = ids(3)
    expect("exact kNN: two ranks swapped", Checks.exactKnn(data, q, swapped, dists, truth), true)
    val outsider = ids.clone()
    outsider(k - 1) = (0 until n).find(r => !ids.contains(r)).get
    expect("exact kNN: last row replaced by a farther row",
      Checks.exactKnn(data, q, outsider, dists, truth), true)
    val shifted = dists.clone(); shifted(0) += 1e-3
    expect("exact kNN: a distance off by 1e-3", Checks.exactKnn(data, q, ids, shifted, truth), true)
    expect("exact kNN: one row short",
      Checks.exactKnn(data, q, ids.init, dists.init, truth), true)

    // filtered kNN
    val pred = Pred("cat", data.cat(ids(0)))
    val fTruth = Checks.bruteForce(data, n, q, k, pred.holds(data, _))
    val fIds = fTruth.map(_._1)
    expect("predicate: filtered answer", Checks.satisfies(data, fIds, pred), false)
    val leak = fIds.clone(); leak(2) = (0 until n).find(r => !pred.holds(data, r)).get
    expect("predicate: one row failing the predicate", Checks.satisfies(data, leak, pred), true)

    // approximate kNN (pq)
    expect("approximate kNN: true distances ascending", Checks.approxKnn(data, q, ids, dists), false)
    val recall = Checks.recall(ids, truth)
    if (recall != 1.0) { failures += 1; println(s"FAIL recall of the exact answer is $recall") }
    val partial = Checks.bruteForce(data, n, q, 2 * k).drop(k)
    expect("approximate kNN: farther rows, true distances",
      Checks.approxKnn(data, q, partial.map(_._1), partial.map(_._2)), false)
    val farRecall = Checks.recall(partial.map(_._1), truth)
    if (farRecall != 0.0) { failures += 1; println(s"FAIL recall of disjoint answer is $farRecall") }
    val lied = dists.clone(); lied(5) = lied(5) * 0.9
    expect("approximate kNN: a reported distance not the true one",
      Checks.approxKnn(data, q, ids, lied), true)
    expect("approximate kNN: distances not ascending",
      Checks.approxKnn(data, q, ids.reverse, dists.reverse), true)

    expect("recall floor: recall above the floor", Checks.recallFloor(Seq(0.9, 0.7), 0.5), false)
    expect("recall floor: recall below the floor", Checks.recallFloor(Seq(0.5, 0.3), 0.5), true)

    // Boolean lookup
    val tag = Pred("tag", data.tag(0))
    val match_ = (0 until n).filter(tag.holds(data, _)).toArray
    expect("lookup: exact match set", Checks.lookup(data, n, match_, tag), false)
    expect("lookup: one match missing", Checks.lookup(data, n, match_.tail, tag), true)
    expect("lookup: one extra row",
      Checks.lookup(data, n, match_ :+ (0 until n).find(r => !tag.holds(data, r)).get, tag), true)

    // count and read-your-write
    expect("count: rows inserted", Checks.count(n, n.toLong), false)
    expect("count: one row lost in a vacuum", Checks.count(n, n - 1L), true)
    val probe = n - 1
    expect("inserted row: found at distance 0",
      Checks.findsInserted(probe, Array(probe, 5), Array(0.0, 0.3)), false)
    expect("inserted row: not returned",
      Checks.findsInserted(probe, Array(5, probe), Array(0.0, 0.3)), true)
    expect("inserted row: returned at a nonzero distance",
      Checks.findsInserted(probe, Array(probe), Array(1e-6)), true)

    if (failures > 0) { println(s"$failures check(s) misbehaved"); sys.exit(1) }
    println("all checks catch their perturbation")
  }
}
