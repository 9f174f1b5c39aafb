package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.index.ECPIndex

/** Repartitioning API — the reference's three partitioners
  * (`SparkPartitioner.scala:37-59`, `RandomPartitioner.scala`,
  * `ECPPartitioner.scala:27-105`) plus the partition-skip read that
  * makes cluster-local partitioning pay off at scale.
  *
  * Spark-native locality: instead of a custom RDD partitioner, the eCP
  * mode materializes the leader id as an `ap_partition` column and the
  * writer lays data out as `partitionBy(ap_partition)` parquet
  * directories — so a leader-pruned read is plain Catalyst PARTITION
  * PRUNING (only matching directories are listed/scanned), which
  * survives any cluster size. */
object Partitioning {

  val PartitionCol = "ap_partition"

  sealed trait Mode
  case class Hash(cols: Seq[String], n: Int) extends Mode
  case class Random(n: Int) extends Mode
  /** Cluster-locality partitioning on a vector column via KMeans leaders. */
  case class Ecp(vecCol: String, nClusters: Int) extends Mode
  /** Deterministic layout keyed by an existing (categorical) column —
    * the production shape for date/tenant/label partition pruning, and
    * the only mode whose pruned reads are LOSSLESS for predicates on
    * the key (Ecp leader-skip is approximate by construction). */
  case class ByColumn(keyCol: String) extends Mode
  /** Z-order (Morton-curve) clustering on two numeric columns: rows are
    * range-partitioned AND sorted by the interleaved bits of each
    * column's min-max-normalized 16-bit value, so every output file
    * covers a small rectangle in (c1, c2) space — parquet min/max
    * row-group stats then prune scans filtered on EITHER column (a
    * single-column sort only helps its own column). The lakehouse
    * multi-dimension clustering tool at 100 TB. */
  case class ZOrder(col1: String, col2: String, n: Int) extends Mode
  /** Spatial grid layout on two numeric point columns: one directory
    * per `cell`-sized square tile — radius/bbox reads prune to the
    * covered tiles as plain partition pruning (lossless: the tile set
    * covers the query region). The PostGIS-spatial-index role as a
    * physical layout. */
  case class Tile(xCol: String, yCol: String, cell: Double) extends Mode {
    require(cell > 0, "tile cell must be positive")
  }

  /** Partitioner name → [[Mode]]: the one table both front doors decode
    * into. `cols` are the mode's columns in order — hash: the keys; ecp:
    * the vector column; column (alias bycolumn): the key column; zorder:
    * two columns; tile: x, y and the cell size. `n` below 1 reads as 1. */
  def parseMode(name: String, cols: Seq[String], n: Int): Mode = {
    val parts = math.max(n, 1)
    def need(k: Int, what: String): Unit =
      require(cols.size >= k, s"${if (name.isEmpty) "hash" else name} partitioner needs $what")
    name.toLowerCase match {
      case "" | "hash" => need(1, "attributes"); Hash(cols, parts)
      case "random" => Random(parts)
      case "ecp" => need(1, "the vector attribute"); Ecp(cols.head, parts)
      case "column" | "bycolumn" => need(1, "the key attribute"); ByColumn(cols.head)
      case "zorder" => need(2, "two attributes"); ZOrder(cols(0), cols(1), parts)
      case "tile" => need(3, "[x, y, cell]"); Tile(cols(0), cols(1), cols(2).toDouble)
      case other => throw new IllegalArgumentException(s"unknown partitioner: $other")
    }
  }

  /** Packed tile key: (gx, gy) grid indexes into one long. 2^17 rows
    * per x-stripe keeps keys unique for |gy| < 65536 — beyond any
    * realistic cell/extent ratio. */
  def tileKey(x: Column, y: Column, cell: Double): Column =
    floor(x.cast("double") / cell).cast("long") * 131072L +
      floor(y.cast("double") / cell).cast("long")

  /** Tile keys covering the radius-`r` disc around (qx, qy) — the
    * bounding box's tiles, enumerable at plan time. */
  def tileKeysFor(qx: Double, qy: Double, r: Double, cell: Double): Seq[Long] = {
    require(r >= 0 && cell > 0, "radius must be >= 0, cell > 0")
    for {
      gx <- math.floor((qx - r) / cell).toLong to math.floor((qx + r) / cell).toLong
      gy <- math.floor((qy - r) / cell).toLong to math.floor((qy + r) / cell).toLong
    } yield gx * 131072L + gy
  }

  /** KMeans leaders trained on a bounded sample (≤5000 rows). */
  def trainLeaders(df: DataFrame, vecCol: String, k: Int): Array[Array[Double]] = {
    val n = math.max(1L, df.count())
    val sample = (if (n <= 5000) df
      else df.sample(withReplacement = false, 5000.0 / n, seed = 42L))
      .select(col(vecCol).cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    graft.index.PQIndex.lloyd(sample, math.max(2, k), iters = 10, seed = 42L)
  }

  /** Nearest-leader assignment with FIXED centroids — a pure per-row
    * codegen kernel, reusable for appends to an already-partitioned
    * table. There is NO id join — joining two independent
    * `monotonically_increasing_id` evaluations is not row-stable when
    * the input contains shuffles. */
  def assignLeaders(df: DataFrame, vecCol: String,
                    centers: Array[Array[Double]]): DataFrame =
    df.withColumn(PartitionCol,
      org.apache.spark.sql.graft.Bridge.column(graft.index.PQEncodeExpr(
        org.apache.spark.sql.graft.Bridge.expression(col(vecCol)),
        Array(centers), centers.head.length)).getItem(0))

  /** Leader centroids trained on a bounded sample; assignment via
    * [[assignLeaders]]. */
  private def ecpAssign(df: DataFrame, vecCol: String, k: Int)
  : (DataFrame, Array[(Int, Array[Double], Long)]) = {
    val centers = trainLeaders(df, vecCol, k)
    (assignLeaders(df, vecCol, centers),
      centers.zipWithIndex.map { case (c, i) => (i, c, 0L) })
  }

  /** Interleave the low 16 bits of two longs (Morton code) with the
    * standard bit-spread magic numbers — pure Column arithmetic, stays
    * in codegen. */
  private def morton(a: Column, b: Column): Column = {
    def spread(x0: Column): Column = {
      // 0x0000ffff -> one zero bit between every payload bit
      val x1 = (x0.bitwiseOR(shiftleft(x0, 8))).bitwiseAND(lit(0x00FF00FFL))
      val x2 = (x1.bitwiseOR(shiftleft(x1, 4))).bitwiseAND(lit(0x0F0F0F0FL))
      val x3 = (x2.bitwiseOR(shiftleft(x2, 2))).bitwiseAND(lit(0x33333333L))
      (x3.bitwiseOR(shiftleft(x3, 1))).bitwiseAND(lit(0x55555555L))
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** Z-value column: each input min-max-normalized to 16 bits (one tiny
    * two-value agg collected per column pair), then bit-interleaved. */
  private def zValue(df: DataFrame, c1: String, c2: String): Column = {
    val r = df.agg(min(col(c1)).cast("double"), max(col(c1)).cast("double"),
      min(col(c2)).cast("double"), max(col(c2)).cast("double")).head()
    // an empty (or all-null) frame aggregates to nulls — any constant
    // z-value is vacuously correct there
    if (r.isNullAt(0) || r.isNullAt(2)) return lit(0L)
    def norm(c: String, lo: Double, hi: Double): Column =
      if (hi <= lo) lit(0L)
      else least(lit(65535L), floor(
        (coalesce(col(c).cast("double"), lit(lo)) - lit(lo)) / lit(hi - lo) * 65536.0)
        .cast("long"))
    morton(norm(c1, r.getDouble(0), r.getDouble(1)),
      norm(c2, r.getDouble(2), r.getDouble(3)))
  }

  /** Returns the repartitioned frame; Ecp additionally appends the
    * `ap_partition` leader column (callers write with
    * `partitionBy(PartitionCol)`). */
  def repartition(df: DataFrame, mode: Mode): DataFrame = mode match {
    case Hash(cols, n) => df.repartition(n, cols.map(col): _*)
    case Random(n) => df.repartition(n)
    case Ecp(vecCol, k) =>
      ecpAssign(df, vecCol, k)._1.repartition(col(PartitionCol))
    case ByColumn(c) =>
      df.withColumn(PartitionCol, col(c)).repartition(col(PartitionCol))
    case Tile(x, y, cell) =>
      df.withColumn(PartitionCol, tileKey(col(x), col(y), cell))
        .repartition(col(PartitionCol))
    case ZOrder(c1, c2, n) =>
      // range-partition + in-partition sort on the Morton code: files
      // cover small (c1, c2) rectangles; the helper column is dropped
      // so the layout is invisible to readers beyond the stats
      df.withColumn("__zv", zValue(df, c1, c2))
        .repartitionByRange(n, col("__zv"))
        .sortWithinPartitions("__zv")
        .drop("__zv")
  }

  /** Write with physical layout matching the partitioning mode; for Ecp
    * returns the leader centroids (needed for partition-skip reads). */
  def write(df: DataFrame, mode: Mode, path: String): Array[(Int, Array[Double], Long)] = mode match {
    case Ecp(vecCol, k) =>
      val (assigned, centroids) = ecpAssign(df, vecCol, k)
      assigned.repartition(col(PartitionCol))
        .write.mode("overwrite").partitionBy(PartitionCol).parquet(path)
      centroids
    case ByColumn(_) | Tile(_, _, _) =>
      repartition(df, mode)
        .write.mode("overwrite").partitionBy(PartitionCol).parquet(path)
      Array.empty
    case m =>
      repartition(df, m).write.mode("overwrite").parquet(path)
      Array.empty
  }

  /** Write a catalog table bucketed (and per-bucket sorted) by the join
    * key. Two tables bucketed the same way equi-join with NO exchange —
    * the bucketed scan reports hash partitioning, so Catalyst plans the
    * join shuffle-free. THE co-location tool for repeated big-join keys
    * at 100 TB: pay one layout write, never shuffle that join again. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    nBuckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(table)

  /** Partition-skip scan over an Ecp-layout table: keep only the
    * partitions whose leaders are nearest the query (reference
    * `Index.scala:242-251`, `ECPPartitioner.getPartitions`). The isin
    * filter on the partition column prunes parquet directories before
    * any data IO. */
  def partitionSkipRead(df: DataFrame, centroids: Array[(Int, Array[Double], Long)],
                        q: Seq[Double], keep: Int): DataFrame = {
    val nearest = centroids.sortBy { case (_, c, _) => ECPIndex.sqDist(q, c) }
      .take(keep).map(_._1)
    df.filter(col(PartitionCol).isin(nearest.toSeq: _*))
  }

  /** Partition-skip by explicit key values over a [[ByColumn]] layout:
    * plain Catalyst partition pruning — only matching directories are
    * listed and scanned, and (unlike leader-skip) the result is exactly
    * the rows whose key is in `keys`. */
  def partitionSkipKeys(df: DataFrame, keys: Seq[Any]): DataFrame =
    df.filter(col(PartitionCol).isin(keys: _*))
}
