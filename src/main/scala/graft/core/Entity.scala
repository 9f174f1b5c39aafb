package graft.core

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.JsonNode

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Materialize.Ops
import org.apache.spark.sql.types.{DataType, StructType}

/** Entity lifecycle over Parquet — the reference's DDL/DML surface
  * (`/root/reference/src/main/scala/org/vitrivr/adampro/data/entity/Entity.scala:295-450`,
  * RPC `DataDefintion.scala`): create, insert (with system `ap_id`
  * assignment), read, count, delete-by-predicate, vacuum, sparsify,
  * drop.
  *
  * Storage layout: `<base>/<entity>/data_v<N>/` parquet + `_meta.json`.
  * Inserts APPEND part files into the live version directory (O(batch));
  * every whole-table mutation (delete/vacuum/sparsify) writes a NEW
  * versioned directory and then swaps the catalog pointer — the
  * reference's write-new-storename-then-drop-old overwrite dance
  * (`StorageHandler.scala:122-170`), crash-safe without a commit
  * protocol. `_meta.json` also records the schema readers see, so a read
  * never runs a schema-discovery job; until the first insert it holds
  * the attributes declared at [[Entity.create]].
  *
  * Reads go through one [[Entity.Snapshot]] per [[stamp]]: the read
  * frame (its file list taken once), the row count (from the parquet
  * footers) and the loaded indexes. It lives until the stamp moves or a
  * mutation block ([[exclusively]]: every insert, mutation and index
  * save/drop/repartition) ends, and is shared by every handle this JVM
  * opens on the entity.
  *
  * Isolation is by lease. A snapshot holds a lease on its version
  * directory while it is the current one, and [[Entity.leasing]] holds
  * the lease of every snapshot its block reads until the block returns —
  * both front doors run each request that reads rows inside one, until
  * its response is encoded. A swap deletes a superseded version only
  * once its last lease is released, so a leased frame still collects the
  * old rows after a vacuum; unleased versions older than
  * [[retainVersions]] are swept at every swap, crash leftovers included.
  * A frame read outside a lease may lose its files to the next
  * mutation's swap. Leases are
  * per JVM: a second process mutating the same base moves the stamp (or,
  * by dropping and re-creating the entity, the incarnation id drawn at
  * [[Entity.create]]), so this process's next read sees its change, but
  * that process is not held back by this one's leases. Reads inside a
  * mutation block take no lease: the block's lock covers them.
  *
  * `ap_id` layout: `insertCount (15 bits) | monotonically_increasing_id
  * (48 bits)` — unique for ≤32k insert batches × ≤32k partitions ×
  * ≤2^33 rows per partition task (the reference packs
  * nanotime|counter|rowindex, `Entity.scala:299-320`); assignment is
  * fully distributed, no zipWithIndex pass.
  */
class Entity private(val name: String, base: Path, spark: SparkSession) {

  import Entity._

  private def dir: Path = base.resolve(name)
  private def metaPath: Path = dir.resolve("_meta.json")
  private def layoutPath: Path = dir.resolve("_layout.json")
  private def groupsPath: Path = dir.resolve("_groups.json")

  private def meta: Meta = readMeta(metaPath)
  private def dataPath(v: Int): Path = dataPathOf(dir, v)
  private def shared: Shared = sharedOf(dir)

  /** Run `f` holding this entity's mutation lock. Every mutating method
    * takes it, so mutations from any caller (either front door, the
    * streaming path, library code) serialize per entity: each is a
    * read-modify-write of `_meta.json`. Reads stay lock-free — a reader
    * mid-swap sees the old version. Reentrant (an insert may vacuum).
    * The block's end retires the current snapshot, so the next read sees
    * what it wrote, indexes included. */
  private[graft] def exclusively[T](f: => T): T = {
    val sh = shared
    sh.mutation.synchronized(try f finally sh.retire())
  }

  def schema: StructType = snapshot.schema

  /** The user attributes: [[schema]] without the `ap_*` system columns.
    * Both front doors read inserted rows against it. */
  def userSchema: StructType = StructType(schema.filterNot(_.name.startsWith("ap_")))

  /** Attributes stored outside the primary parquet store, per handler —
    * the reference's per-attribute storage-handler assignment
    * (`Entity.scala:91-110`), populated by [[transferAttributes]]. */
  def attributeGroups: Seq[AttributeGroup] = readGroups(groupsPath)

  private[graft] def handlerFor(h: String): graft.sources.StorageHandler = h match {
    // the KV store is keyed by the system id — that is what the
    // reassembly join and point lookups address rows by
    case "keyvalue" => graft.sources.StorageHandlers.keyValue(ApId)
    // compound = parquet scans + KV point lookups over the same rows
    // (reference CompoundEngine)
    case "compound" => graft.sources.StorageHandlers.compound(ApId)
    case other => graft.sources.StorageHandlers(other)
  }

  /** The current snapshot's read frame. */
  def read(): DataFrame = snapshot.frame

  /** The snapshot of the current [[stamp]]: built by the first read after
    * the stamp moves, then shared until it moves again or a mutation
    * block ends. Inside [[Entity.leasing]] it stays leased — its version
    * directory kept — until the block returns, unless it is taken inside
    * a mutation block ([[exclusively]]): that block's lock covers its own
    * reads, and a long [[Entity.leasing]] around many inserts would
    * otherwise keep every version their auto-vacuums supersede. */
  def snapshot: Snapshot = {
    val s = acquire()
    Entity.held.get match {
      case held if held != null && !Thread.holdsLock(shared.mutation) => held += s
      case _ => s.release()
    }
    s
  }

  /** The current snapshot with one reference taken for the caller. A
    * pending stamp (an insert's writes in flight) is never made current:
    * each read in that window builds its own. */
  private def acquire(): Snapshot = {
    val sh = shared
    val (m, cached, ticket) = sh.synchronized {
      val m = meta
      Option(sh.current).filter(c => c.id == m.id && c.stamp == stampOf(m) &&
          (c.frame.sparkSession eq spark)) match {
        case Some(c) => c.retain(); (m, Some(c), 0L)
        case None => sh.lease(m.version); (m, None, sh.ticket())
      }
    }
    cached.getOrElse {
      val groups = attributeGroups
      val s = try new Snapshot(sh, dir.toString, m.id, stampOf(m), m.version, frameOf(m, groups),
        footerCount = groups.isEmpty, ticket)
      catch { case e: Throwable => sh.synchronized(sh.unlease(m.version)); throw e }
      if (!m.pending) sh.synchronized(sh.install(s))
      s
    }
  }

  /** Version `m`'s rows: the primary store read with its recorded schema
    * (inferred, one Spark job, for a store written before schemas were
    * recorded), each external attribute group joined back on. An empty
    * entity has no rows, and its declared attributes as columns. */
  private def frameOf(m: Meta, groups: Seq[AttributeGroup]): DataFrame =
    if (m.version == 0) spark.createDataFrame(
      java.util.Collections.emptyList[Row](), m.schema.getOrElse(new StructType()))
    else {
      val path = dataPath(m.version).toString
      val main = m.schema.fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
      // vertical reassembly: equi-join each external group back on the
      // system id (1:1 by construction — every store was written from
      // the same full frame)
      groups.foldLeft(main) { (acc, g) =>
        acc.join(handlerFor(g.handler).read(spark, dir.resolve(g.store).toString)
          .select((ApId +: g.attrs).map(col): _*), Seq(ApId))
      }
    }

  // ---- cluster-partitioned physical layout (reference repartitionEntity,
  // `DataDefintion.scala:489-560` + `ECPPartitioner.scala:27-105`) ----

  /** The persisted directory-layout descriptor, if this entity was
    * [[partitionLayout]]-ed. */
  def layout: Option[Layout] = readLayout(layoutPath)

  /** Rewrite the entity with a physical partition layout that survives
    * inserts and mutations:
    *  - `Ecp(vecCol, k)`: KMeans leaders trained once and persisted;
    *    every row lands in its nearest leader's parquet directory, and
    *    [[readPruned]] serves leader-skip scans as plain Catalyst
    *    partition pruning;
    *  - `ByColumn(key)`: one directory per key value — lossless
    *    key-skip via [[readPrunedKeys]];
    *  - `Hash`/`Random`: plain repartitioned rewrite, no directory
    *    layout (clears any previous one). */
  def partitionLayout(mode: Partitioning.Mode): Entity = exclusively {
    val m = meta
    require(m.version > 0, "empty entity")
    val df = read().drop(Partitioning.PartitionCol)
    val next = m.version + 1
    def byKey(keyed: DataFrame) = writeStore(
      keyed.repartition(col(Partitioning.PartitionCol)), dataPath(next), partitioned = true)
    val written = mode match {
      case Partitioning.Ecp(vecCol, k) =>
        val centers = Partitioning.trainLeaders(df, vecCol, k)
        val schema = byKey(Partitioning.assignLeaders(df, vecCol, centers))
        writeLayout(layoutPath, Layout("ecp", vecCol, centers))
        schema
      case Partitioning.ByColumn(c) =>
        val schema = byKey(df.withColumn(Partitioning.PartitionCol, col(c)))
        writeLayout(layoutPath, Layout("bycolumn", c, Array.empty))
        schema
      case Partitioning.Tile(x, y, cell) =>
        val schema = byKey(df.withColumn(Partitioning.PartitionCol,
          Partitioning.tileKey(col(x), col(y), cell)))
        // keyCol carries "x,y"; the cell rides the (otherwise ecp-only)
        // centroids slot so the descriptor schema stays unchanged
        writeLayout(layoutPath, Layout("tile", s"$x,$y", Array(Array(cell))))
        schema
      case other =>
        val schema = writeStore(Partitioning.repartition(df, other), dataPath(next),
          partitioned = false)
        Files.deleteIfExists(layoutPath)
        schema
    }
    swap(m.copy(version = next, schema = Some(written)))
    foldGroupsAfterRewrite()
    this
  }

  /** Leader-skip read over an Ecp layout: scan only the `keep`
    * partitions whose leaders are nearest `q` (approximate — a pruned
    * neighbour can live in a skipped cluster). */
  def readPruned(q: Seq[Double], keep: Int): DataFrame = {
    val l = layout.getOrElse(throw new IllegalStateException(s"$name has no layout"))
    require(l.mode == "ecp", s"readPruned needs an ecp layout, found ${l.mode}")
    val centroids = l.centroids.zipWithIndex.map { case (c, i) => (i, c, 0L) }
    Partitioning.partitionSkipRead(read(), centroids, q, keep)
  }

  /** Key-skip read over any directory layout — lossless for ByColumn
    * (exactly the rows whose key is in `keys`). */
  def readPrunedKeys(keys: Seq[Any]): DataFrame = {
    require(layout.isDefined, s"$name has no layout")
    Partitioning.partitionSkipKeys(read(), keys)
  }

  /** Tile-pruned radius read: scans ONLY the tile directories covering
    * the disc's bounding box (plain partition pruning — lossless, the
    * tile set covers the region; callers apply the exact distance
    * filter). Requires a Tile layout. */
  def readPrunedRadius(qx: Double, qy: Double, r: Double): DataFrame = {
    val l = layout.getOrElse(throw new IllegalStateException(s"$name has no layout"))
    require(l.mode == "tile", s"readPrunedRadius needs a tile layout, found ${l.mode}")
    Partitioning.partitionSkipKeys(read(),
      Partitioning.tileKeysFor(qx, qy, r, l.centroids(0)(0)))
  }

  /** Assign the layout's partition column to a batch (no-op without a
    * directory layout). */
  private def assignPartition(df: DataFrame): DataFrame = layout match {
    case Some(_) if df.columns.contains(Partitioning.PartitionCol) => df
    // a drifted batch without the layout's key column CAN'T be assigned
    // — leave it; the schema comparison then routes it through the
    // union-rewrite fallback (its rows land in the null partition)
    case Some(Layout("ecp", vecCol, centers)) if df.columns.contains(vecCol) =>
      Partitioning.assignLeaders(df, vecCol, centers)
    case Some(Layout("bycolumn", c, _)) if df.columns.contains(c) =>
      df.withColumn(Partitioning.PartitionCol, col(c))
    case Some(Layout("tile", xy, cells))
        if xy.split(',').forall(df.columns.contains) =>
      val Array(x, y) = xy.split(',')
      df.withColumn(Partitioning.PartitionCol,
        Partitioning.tileKey(col(x), col(y), cells(0)(0)))
    case _ => df
  }

  /** Layout-aware rewrite: partitioned entities keep their directory
    * layout through delete/vacuum/sparsify rewrites. Returns the schema
    * to record, as [[writeStore]]. */
  private def writeData(df: DataFrame, path: Path): StructType =
    writeStore(df, path,
      partitioned = layout.isDefined && df.columns.contains(Partitioning.PartitionCol))

  /** Write `df` as the version store at `path` and return the schema a
    * read of it has, which `_meta.json` records: Spark reads parquet back
    * all-nullable, and a layout's partition column comes last, typed from
    * the directory names. Found by listing the written files — no Spark
    * job. */
  private def writeStore(df: DataFrame, path: Path, partitioned: Boolean): StructType = {
    val w = df.write.mode("overwrite")
    (if (partitioned) w.partitionBy(Partitioning.PartitionCol) else w).parquet(path.toString)
    val data =
      if (partitioned) StructType(df.schema.filterNot(_.name == Partitioning.PartitionCol))
      else df.schema
    spark.read.schema(data).parquet(path.toString).schema
  }


  /** Whole-table rewrites write the REASSEMBLED frame back into the
    * primary store, so any external attribute groups fold back into
    * parquet automatically — afterwards their stores and the descriptor
    * are dropped. (Mutations already pay O(table); keeping groups alive
    * through them would mean per-handler predicate replay.) */
  private def foldGroupsAfterRewrite(): Unit = {
    val gs = attributeGroups
    if (gs.nonEmpty) {
      Files.deleteIfExists(groupsPath)
      gs.foreach(g => scala.util.Try(
        handlerFor(g.handler).drop(spark, dir.resolve(g.store).toString)))
    }
  }

  /** The current snapshot's row count (parquet footers, no Spark job,
    * unless attribute groups make the read a join). */
  def count(): Long = snapshot.count

  /** Append rows; assigns `ap_id` unless the frame already carries one.
    *
    * Cost is O(batch), not O(table): new part files land in the live
    * `data_v<N>` directory via `SaveMode.Append` — the reference appends
    * too (`ParquetEngine` via `StorageHandler.scala:122-170`, overwrite
    * dance only for overwrites). At 100 TB a read-union-rewrite insert
    * would be a scale-killer. The versioned-swap path is kept for the
    * mutating ops (delete/vacuum/sparsify). If the batch's column set
    * differs from the stored schema, we fall back to a one-off
    * union-rewrite (schema evolution is rare; appending mixed-schema
    * files would make reads schema-nondeterministic).
    *
    * O(batch) appends accumulate small part files; when the live
    * directory exceeds `autoVacuumMaxParts` of them the insert triggers
    * a compacting [[vacuum]] — the reference's auto-vacuum after
    * repeated inserts (`Entity.scala:376-386`, default 100). The
    * part-file count is a directory listing, metadata-only. */
  def insert(df: DataFrame,
             autoVacuumMaxParts: Int = Entity.AutoVacuumMaxParts): Entity = exclusively {
    val m = meta
    require(m.insertCount < (1 << 15) - 1, "insert-batch counter exhausted")
    val batch = m.insertCount + 1
    val withId = assignPartition(
      if (df.columns.contains(ApId)) df
      else df.withColumn(ApId,
        lit(batch.toLong << 48).bitwiseOR(
          monotonically_increasing_id().bitwiseAND(lit((1L << 48) - 1)))))
    def schemaKey(df: DataFrame): Set[(String, String)] =
      df.schema.fields.map(f => f.name -> f.dataType.sql).toSet
    if (m.version == 0) {
      val written = writeStore(withId, dataPath(1), partitioned = false)
      swap(m.copy(version = 1, insertCount = batch, schema = Some(written)))
    } else if (schemaKey(read()) == schemaKey(withId)) {
      val groups = attributeGroups
      // with external groups the batch is split per store; pin the
      // assigned ids first — re-evaluating monotonically_increasing_id
      // per store write could drift across actions
      val pinned = if (groups.isEmpty) withId else withId.materialized
      val mainBatch =
        if (groups.isEmpty) pinned
        else {
          val grouped = groups.flatMap(_.attrs).toSet
          pinned.select(pinned.columns.filterNot(grouped.contains).map(col): _*)
        }
      // burn the batch counter FIRST: if any store write below fails, a
      // retried insert must take a FRESH batch-id prefix — reusing the
      // prefix would re-append group rows under already-present ap_ids
      // and read()'s inner join would then duplicate the whole batch. A
      // failed insert after this line costs only a gap in the counter.
      // Burned as PENDING: the stamp in this window is (v, -batch), so
      // an index saved mid-insert can never compare fresh once the
      // append completes (equality would otherwise claim the index saw
      // the whole batch it was racing)
      writeMeta(metaPath, m.copy(insertCount = batch, pending = true))
      // group stores are written BEFORE the main append: a failed group
      // write then leaves only invisible orphans (read()'s inner join by
      // ap_id skips group rows with no main row), whereas main-first would
      // silently drop the whole batch from reassembly if a group write died
      groups.foreach(g => handlerFor(g.handler).write(spark,
        dir.resolve(g.store).toString,
        pinned.select((ApId +: g.attrs).map(col): _*), overwrite = false))
      // layout-aware append: batches land in their partition directories
      val w = mainBatch.write.mode("append")
      (if (layout.isDefined) w.partitionBy(Partitioning.PartitionCol) else w)
        .parquet(dataPath(m.version).toString)
      // every store write landed: clear the pending marker — the stamp
      // becomes (v, batch) and index staleness comparisons are exact. The
      // recorded schema holds: a batch appends only when its partition
      // column has the recorded type, and the directory names of values
      // of that type read back as it
      writeMeta(metaPath, m.copy(insertCount = batch, pending = false))
      // layout entities can never compact below one file per partition
      // directory — scale the trigger with key cardinality or a
      // >cap-key layout would vacuum (full rewrite) on EVERY insert
      val effectiveCap =
        if (layout.isDefined)
          math.max(autoVacuumMaxParts, 2 * partitionDirCount(dataPath(m.version)))
        else autoVacuumMaxParts
      // vacuum is a whole-table rewrite that folds attribute groups back
      // into the primary store — auto-triggering it from an insert would
      // silently drop a keyvalue/JDBC layout the user set up explicitly,
      // so with groups present compaction stays an explicit vacuum() call
      if (groups.isEmpty &&
          partFileCount(dataPath(m.version)) > effectiveCap) vacuum()
    } else { // schema drift (names OR types): align via union and rewrite once
      val next = m.version + 1
      val stored = read()
      // a layout's partition column reads typed from its directory names
      // ('001' as int): when that differs from the batch's, take it from
      // the key columns again, or the union would cast one side ('abc' to
      // bigint) or rename directories ('001' to '1')
      val pc = Partitioning.PartitionCol
      val aligned =
        if (stored.columns.contains(pc) && withId.columns.contains(pc) &&
            stored.schema(pc).dataType != withId.schema(pc).dataType)
          assignPartition(stored.drop(pc))
        else stored
      val written = writeData(
        aligned.unionByName(withId, allowMissingColumns = true), dataPath(next))
      swap(m.copy(version = next, insertCount = batch, schema = Some(written)))
    }
    this
  }

  /** Delete rows matching the predicate — filter-NOT-and-overwrite
    * (reference `Entity.scala:415-450`). Returns deleted-row count. */
  def deleteWhere(predicate: Column): Long = exclusively {
    val m = meta
    if (m.version == 0) 0L else {
      val current = read()
      val keep = current.filter(!coalesce(predicate, lit(false)))
      val next = m.version + 1
      val written = writeData(keep, dataPath(next))
      // deleted = rows(v) − rows(v+1). With no external attribute groups
      // both versions are plain parquet stores, so the counts come off the
      // parquet FOOTERS, read driver-side — zero Spark jobs where the old
      // path launched two count() actions (identical values: a parquet
      // count() is the same footer row-count sum, run as a job). Group
      // entities keep the general count()s — read() is a reassembly join
      // there, not a footer sum.
      val deleted =
        if (attributeGroups.isEmpty)
          parquetRowCount(dataPath(m.version)) - parquetRowCount(dataPath(next))
        else current.count() -
          spark.read.schema(written).parquet(dataPath(next).toString).count()
      swap(m.copy(version = next, schema = Some(written)))
      foldGroupsAfterRewrite()
      deleted
    }
  }

  /** Total row count of a parquet store from its file footers. */
  private def parquetRowCount(p: Path): Long = {
    val stream = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      footerRows(spark, stream.iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
        .map(_.toUri)).sum
    } finally stream.close()
  }

  /** Upsert (merge-by-key): incoming rows REPLACE existing rows sharing
    * their `keyCol` value; keys absent from the table append. The
    * reference exposes only insert + delete-by-predicate — merge is the
    * composition every CDC/refresh pipeline hand-rolls on top, so it is
    * first-class here, as one atomic versioned rewrite instead of a
    * delete+insert pair a concurrent reader could observe half-done.
    *
    * Semantics: the incoming batch must be key-distinct (an ambiguous
    * replacement is refused, not resolved arbitrarily — DataFrames carry
    * no row order to break the tie with) and schema-identical to the
    * entity (insert handles drift; a drifted REPLACEMENT is ambiguous).
    * Replaced rows get fresh `ap_id`s from the next batch counter;
    * untouched rows keep theirs.
    *
    * Scale: survivors come from ONE left-anti join keyed on the merge
    * key against the incoming batch's distinct keys — the common CDC
    * shape (small batch vs big table) broadcasts the key set under AQE,
    * so the table never shuffles; the rewrite is the same O(table)
    * write-new-then-swap every mutation on a versioned store pays, and
    * layout entities keep their directory layout through it. */
  def upsert(df: DataFrame, keyCol: String): Entity = exclusively {
    val m = meta
    if (m.version == 0) insert(df) else {
      require(m.insertCount < (1 << 15) - 1, "insert-batch counter exhausted")
      val current = read()
      require(current.columns.contains(keyCol), s"no such attribute: $keyCol")
      require(df.columns.contains(keyCol), s"incoming batch lacks '$keyCol'")
      require(df.groupBy(col(keyCol))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("c"))
        .filter(col("c") > 1).isEmpty,
        s"incoming batch has duplicate '$keyCol' keys — ambiguous replacement refused")
      val batch = m.insertCount + 1
      val withId = assignPartition(df.withColumn(ApId,
        lit(batch.toLong << 48).bitwiseOR(
          monotonically_increasing_id().bitwiseAND(lit((1L << 48) - 1)))))
      def schemaKey(x: DataFrame): Set[(String, String)] =
        x.schema.fields.map(f => f.name -> f.dataType.sql).toSet
      require(schemaKey(current) == schemaKey(withId),
        "upsert requires the incoming schema to match the entity")
      val kept = current.join(df.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
      val merged = kept.select(current.columns.map(col): _*)
        .unionByName(withId.select(current.columns.map(col): _*))
      val next = m.version + 1
      val written = writeData(merged, dataPath(next))
      swap(m.copy(version = next, insertCount = batch, schema = Some(written)))
      foldGroupsAfterRewrite()
      this
    }
  }

  /** Rewrite + repartition (reference vacuum, `Entity.scala:376-386`).
    * Layout entities compact within their partition directories (one
    * shuffle partition per layout key) instead of a flat repartition. */
  def vacuum(numPartitions: Int = 8): Entity = exclusively {
    val m = meta
    if (m.version > 0) {
      val next = m.version + 1
      val df =
        if (layout.isDefined) read().repartition(col(Partitioning.PartitionCol))
        else read().repartition(numPartitions)
      val written = writeData(df, dataPath(next))
      swap(m.copy(version = next, schema = Some(written)))
      foldGroupsAfterRewrite()
    }
    this
  }

  /** Dense vector attribute → sparse struct (indices, values, length) —
    * reference sparsify (`EntityOp.scala:101-117`). Zero elements are
    * dropped. */
  def sparsify(vecCol: String): Entity = exclusively {
    val m = meta
    require(m.version > 0, "empty entity")
    val df = read()
    val zipped = filter(
      zip_with(col(vecCol),
        sequence(lit(0), size(col(vecCol)) - 1),
        (v, i) => struct(v.as("v"), i.as("i"))),
      s => s.getField("v") =!= 0.0f)
    val sparse = struct(
      transform(zipped, _.getField("i")).as("indices"),
      transform(zipped, _.getField("v")).as("values"),
      size(col(vecCol)).as("length"))
    val next = m.version + 1
    val written = writeData(df.withColumn(vecCol, sparse), dataPath(next))
    swap(m.copy(version = next, schema = Some(written)))
    foldGroupsAfterRewrite()
    this
  }

  /** Migrate attributes to a different storage handler — the reference's
    * `transferStorageHandler` (`DataDefintion.scala:704-720`,
    * `storage/Transferer.scala`): the named attributes move out of the
    * primary parquet store into a handler-owned store under the entity
    * directory ("keyvalue" → bucket-pruned point-lookup store, "orc" →
    * columnar ORC), and [[read]] reassembles them by an `ap_id`
    * equi-join. Transferring to "parquet" folds attributes back into the
    * primary store. One O(table) rewrite per call — the same cost shape
    * as the reference's Transferer, which also copies the data.
    *
    * Handlers are restricted to the type-round-trip-safe set (parquet /
    * orc / keyvalue): json and csv widen float→double on read, which
    * would silently drift the entity schema. */
  def transferAttributes(attrs: Seq[String], handlerName: String): Entity = exclusively {
    val m = meta
    require(m.version > 0, "empty entity")
    require(attrs.nonEmpty && attrs.distinct.size == attrs.size,
      "attributes must be non-empty and distinct")
    require(!attrs.contains(ApId), "the system id cannot be transferred")
    require(Set("parquet", "orc", "keyvalue", "compound").contains(handlerName),
      s"unsupported transfer handler: $handlerName (parquet|orc|keyvalue|compound)")
    // the reassembled frame feeds the main rewrite plus one write per
    // group — persist it for the duration or each store write re-runs
    // the read (and its reassembly joins)
    val full = read().persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    attrs.foreach(a =>
      require(full.columns.contains(a), s"no such attribute: $a"))
    val next = m.version + 1
    // transferred attrs leave any group they were in; empty groups die;
    // "parquet" target = primary store, so no new group is created
    val kept = attributeGroups
      .map(g => g.copy(attrs = g.attrs.filterNot(attrs.contains)))
      .filter(_.attrs.nonEmpty)
    val specs =
      if (handlerName == "parquet") kept
      else kept :+ AttributeGroup(handlerName, "", attrs)
    // all stores are rebuilt under version-stamped names so every write
    // targets a FRESH directory while `full` still lazily reads the old
    // ones (write-new-then-swap, like every other mutation)
    val rebuilt = specs.zipWithIndex.map { case (g, i) =>
      g.copy(store = s"ext_v${next}_${i}_${g.handler}")
    }
    val grouped = rebuilt.flatMap(_.attrs).toSet
    val written = writeData(full.select(
      full.columns.filterNot(grouped.contains).map(col): _*), dataPath(next))
    rebuilt.foreach(g => handlerFor(g.handler).write(spark,
      dir.resolve(g.store).toString,
      full.select((ApId +: g.attrs).map(col): _*), overwrite = true))
    val oldStores = attributeGroups
    if (rebuilt.isEmpty) Files.deleteIfExists(groupsPath)
    else writeGroups(groupsPath, rebuilt)
    swap(m.copy(version = next, schema = Some(written)))
    oldStores.foreach(g => scala.util.Try(
      handlerFor(g.handler).drop(spark, dir.resolve(g.store).toString)))
    } finally full.unpersist()
    this
  }

  /** Bucket-pruned point lookup against a "keyvalue" or "compound"
    * attribute group — serves the LevelDB/PalDB random-access role after
    * a [[transferAttributes]] to either handler (the compound group
    * routes lookups to its KV half, reference `CompoundEngine`). */
  def kvLookup(ids: Seq[Any]): DataFrame =
    attributeGroups.collectFirst {
      case g if g.handler == "keyvalue" =>
        graft.sources.StorageHandlers.keyValue(ApId)
          .get(spark, dir.resolve(g.store).toString, ids)
      case g if g.handler == "compound" =>
        graft.sources.StorageHandlers.compound(ApId)
          .get(spark, dir.resolve(g.store).toString, ids)
    }.getOrElse(
      throw new IllegalStateException(s"$name has no keyvalue/compound group"))

  def drop(): Unit = exclusively(deleteRecursively(dir))

  // ---- index persistence (reference `Index.scala:442-471`, `:162-169`) ----

  /** (version, insertCount) — any mutation moves it, which is what flags
    * persisted indexes stale. A PENDING insert (counter burned, data
    * writes in flight) reports the NEGATED counter: an index saved in
    * that window records a value no completed state ever equals, so
    * stamp equality always implies the data was fully visible at build
    * time — without giving up the retry-safe counter-first burn. */
  def stamp: (Int, Int) = stampOf(meta)

  /** Persist an index built over this entity. `builtAt` is the stamp the
    * build's scan saw — take it BEFORE `read()`, so rows that land during
    * the build leave the index stale instead of falsely fresh; it
    * defaults to the stamp at save time. */
  def saveIndex(name: String, idx: graft.index.VectorIndex,
                buildInfo: Map[String, String] = Map.empty,
                builtAt: (Int, Int) = stamp): Entity = exclusively {
    graft.index.IndexStore.save(dir.toString, name, idx, builtAt, buildInfo)
    this
  }

  /** The index's recorded build recipe (type/attribute/options), empty
    * if none was recorded at save time. */
  def indexBuildInfo(name: String): Map[String, String] =
    graft.index.IndexStore.buildInfo(dir.toString, name)

  /** A persisted index, loaded once per snapshot; `stale` is true iff the
    * entity mutated (insert/delete/vacuum/sparsify) since it was saved. */
  def loadIndex(name: String): graft.index.IndexStore.Loaded = snapshot.loadIndex(name)

  /** The entity stamp recorded when the index was saved — same-version
    * drift means append-only mutation since the save. */
  def indexSavedStamp(name: String): Option[(Int, Int)] =
    graft.index.IndexStore.savedStamp(dir.toString, name)

  def listIndexes: Seq[String] = graft.index.IndexStore.list(dir.toString)

  /** Every stored index that is fresh against the current stamp, over
    * any attribute; [[Entity.Snapshot.freshIndexesOver]] scopes it to
    * the one a kNN query ranks. */
  def freshIndexes: Seq[graft.index.VectorIndex] = snapshot.freshIndexes

  def dropIndex(name: String): Unit =
    exclusively(graft.index.IndexStore.drop(dir.toString, name))

  /** The index's narrow on-disk table (cache pinning, diagnostics). */
  def indexData(name: String): DataFrame =
    graft.index.IndexStore.dataFrame(spark, dir.toString, name)

  /** Repartition a persisted index's table (reference
    * `repartitionIndexData`); structure metadata and stamp survive. */
  def repartitionIndex(name: String, mode: Partitioning.Mode): Entity = exclusively {
    require(mode.isInstanceOf[Partitioning.Hash] || mode.isInstanceOf[Partitioning.Random],
      s"index repartition supports hash|random, got: $mode")
    graft.index.IndexStore.repartitionData(spark, dir.toString, name, mode)
    this
  }

  private def swap(m: Meta): Unit = {
    // swap is only called once a mutation's data is fully written — a
    // pending flag inherited from an earlier crashed insert clears here
    writeMeta(metaPath, m.copy(pending = false))
    val sh = shared
    sh.synchronized(sh.sweep())
  }

  /** Versioned snapshot directories currently on disk, oldest first.
    * Each whole-table mutation (delete/vacuum/sparsify/layout/merge)
    * produces a new version; with [[retainVersions]] > 1 the previous
    * ones survive as readable snapshots. */
  def versions: Seq[Int] = if (!Files.exists(dir)) Nil else versionsOn(dir, meta.version)

  /** Keep the newest `k` versioned snapshots across future mutations —
    * the reproducibility knob for training pipelines (pin the exact
    * corpus a run read while mutations continue). Snapshot boundaries
    * are MUTATION swaps: inserts append into the live version, so the
    * live snapshot is frozen only once the next mutation lands. */
  def retainVersions(k: Int): Entity = exclusively {
    require(k >= 1, "must retain at least the live version")
    writeMeta(metaPath, meta.copy(retain = k))
    this
  }

  /** Read a retained snapshot version (primary store only — attribute
    * groups migrate over time and are served by [[read]] on the live
    * version). */
  def readVersion(v: Int): DataFrame = {
    require(versions.contains(v), s"version $v not on disk (have: ${versions.mkString(",")})")
    require(attributeGroups.isEmpty || v == meta.version,
      "snapshot reads cover the primary store only; the live version serves attribute groups")
    if (v == meta.version) read() else spark.read.parquet(dataPath(v).toString)
  }

  /** Row-level DIFF between two retained snapshot versions, keyed by
    * `keyCol` (assumed unique per version — the upsert key): one row
    * per differing key with `op ∈ {added, removed, changed}`. Payload
    * comparison is an `xxhash64` fingerprint over the SHARED non-system
    * columns (sorted by name), so versions that evolved schema diff on
    * the intersection, and the wide payload never crosses the wire —
    * the join carries (key, 8-byte fingerprint) per side.
    *
    * Scale: one keyed full-outer join between two (key, fp) projections
    * — hash-partitioned on the key; output is bounded by the number of
    * DIFFERING keys, which is what an incremental consumer (index
    * refresh, downstream sync, audit) actually wants. */
  def diffVersions(vOld: Int, vNew: Int, keyCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val a = readVersion(vOld)
    val b = readVersion(vNew)
    val system = Set(ApId, Partitioning.PartitionCol, keyCol)
    val shared = a.columns.toSet.intersect(b.columns.toSet)
      .diff(system).toSeq.sorted
    require(a.columns.contains(keyCol) && b.columns.contains(keyCol),
      s"key column $keyCol must exist in both versions")
    def fp(df: DataFrame, as: String) =
      df.select(col(keyCol),
        (if (shared.isEmpty) lit(0L) else xxhash64(shared.map(col): _*)).as(as))
    fp(a, "__fa").join(fp(b, "__fb"), Seq(keyCol), "full_outer")
      .withColumn("op",
        when(col("__fa").isNull, "added")
          .when(col("__fb").isNull, "removed")
          .when(col("__fa") =!= col("__fb"), "changed"))
      .where(col("op").isNotNull)
      .select(col("op"), col(keyCol))
  }

  /** Metadata-only compaction check: number of data part files in the
    * live version directory (depth 2 covers partition subdirectories). */
  private def partFileCount(p: Path): Int = {
    if (!Files.exists(p)) return 0
    val s = Files.walk(p, 2)
    try s.filter(f => f.getFileName.toString.startsWith("part-")).count().toInt
    finally s.close()
  }

  /** Number of partition directories in a layout version dir. */
  private def partitionDirCount(p: Path): Int = {
    val files = p.toFile.listFiles()
    if (files == null) 0
    else files.count(f => f.isDirectory &&
      f.getName.startsWith(s"${Partitioning.PartitionCol}="))
  }
}

object Entity {
  val ApId = "ap_id"

  /** One version of an entity as readers see it, for one [[Entity.stamp]]
    * of one incarnation (`id`, drawn at create, so a dropped and
    * re-created entity never matches the old one's stamps): the read
    * frame (its file list taken when it was built), the row count and the
    * stored indexes, each loaded once. Shared by every handle this JVM
    * opens on the entity while it is current; see the [[Entity]]
    * scaladoc for its lifetime and leases. */
  final class Snapshot private[Entity] (shared: Shared, dir: String,
                                        private[Entity] val id: String, val stamp: (Int, Int),
                                        version: Int, val frame: DataFrame,
                                        footerCount: Boolean, private[Entity] val ticket: Long) {
    /** References: the caller that built it, the current-snapshot slot,
      * each lease. Guarded by `shared`; the version's lease goes at 0. */
    private var refs = 1
    private val pins = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    private val loaded = scala.collection.concurrent.TrieMap
      .empty[(String, java.nio.file.attribute.FileTime), graft.index.IndexStore.Loaded]

    def schema: StructType = frame.schema

    /** Rows, from the parquet footers of the frame's files (driver-side,
      * no Spark job); a read joined with attribute groups counts by job. */
    lazy val count: Long =
      if (version == 0) 0L
      else if (footerCount) shared.rows(frame.sparkSession, (id, version), frame.inputFiles)
      else frame.count()

    def listIndexes: Seq[String] = graft.index.IndexStore.list(dir)

    /** The stored index, loaded once per save (a save by another process
      * replaces it); `stale` compares its build stamp with this
      * snapshot's. */
    def loadIndex(name: String): graft.index.IndexStore.Loaded =
      loaded.getOrElseUpdate((name, graft.index.IndexStore.savedAt(dir, name)),
        graft.index.IndexStore.load(frame.sparkSession, dir, name, Some(stamp)))

    def freshIndexes: Seq[graft.index.VectorIndex] =
      listIndexes.map(loadIndex).filterNot(_.stale).map(_.index)

    /** The fresh stored indexes built over `attribute`: the one set every
      * kNN index walk or plan race chooses from. An index over another
      * attribute would rank the query's vector against the wrong column's
      * candidates. */
    def freshIndexesOver(attribute: String): Seq[graft.index.VectorIndex] =
      listIndexes.map(loadIndex).filter(l => !l.stale && l.attribute.contains(attribute))
        .map(_.index)

    /** Persist `df` — this snapshot's frame or one of its index tables —
      * and materialize it now. It is unpersisted when this snapshot stops
      * being current: Spark matches cached plans by path, so a pin that
      * outlived its snapshot would answer for newer rows. */
    def pin(df: DataFrame): Unit =
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
        df.persist()
        df.count()
        val kept = shared.synchronized((shared.current eq this) && pins.add(df))
        if (!kept) df.unpersist(blocking = false)
      }

    private[Entity] def retain(): Unit = refs += 1

    private[Entity] def unpin(): Unit =
      Iterator.continually(pins.poll()).takeWhile(_ != null)
        .foreach(_.unpersist(blocking = false))

    private[Entity] def release(): Unit = shared.synchronized {
      refs -= 1
      if (refs == 0) shared.unlease(version)
    }
  }

  /** Run `f` holding, until it returns, the lease of every snapshot it
    * reads on this thread ([[Entity.read]], [[Entity.snapshot]], counts and
    * index loads) outside a mutation block: a superseded version they
    * read stays on disk until then. The front doors run each request that
    * returns rows inside one. Nested blocks join the outermost. */
  def leasing[T](f: => T): T =
    if (held.get != null) f
    else {
      val snaps = scala.collection.mutable.ArrayBuffer.empty[Snapshot]
      held.set(snaps)
      try f
      finally {
        held.remove()
        snaps.foreach(_.release())
      }
    }

  private val held = new ThreadLocal[scala.collection.mutable.ArrayBuffer[Snapshot]]

  /** What every handle on one entity directory shares in this JVM: the
    * mutation lock, the current snapshot and the version leases. All but
    * `mutation` are guarded by this object's monitor, which is held only
    * for bookkeeping and sweeps, never across a Spark job. */
  private final class Shared(dir: Path) {
    val mutation = new Object
    var current: Snapshot = null
    private var tickets = 0L
    /** Snapshots with a ticket up to this one predate the last retire. */
    private var retiredUpTo = 0L
    /** Version → live snapshots over it. */
    private val leases = scala.collection.mutable.Map.empty[Int, Int]
    /** Rows per part file of the last counted (incarnation, version): a
      * version's files never change once written (appends add files), so
      * a count after an append reads only the new files' footers. */
    private var counted = (("", 0), Map.empty[String, Long])

    def rows(spark: SparkSession, version: (String, Int), files: Seq[String]): Long = {
      val known = synchronized(if (counted._1 == version) counted._2 else Map.empty[String, Long])
      val (seen, fresh) = files.partition(known.contains)
      val now = seen.map(f => f -> known(f)).toMap ++ fresh.zip(footerRows(spark, fresh.iterator.map(new java.net.URI(_))))
      synchronized { counted = (version, now) }
      now.values.sum
    }

    def ticket(): Long = { tickets += 1; tickets }

    def lease(v: Int): Unit = leases(v) = leases.getOrElse(v, 0) + 1

    def unlease(v: Int): Unit = leases.get(v) match {
      case Some(n) if n > 1 => leases(v) = n - 1
      case _ => leases.remove(v); sweep()
    }

    /** Make `s` current unless a retire or a later snapshot came first. */
    def install(s: Snapshot): Unit =
      if (s.ticket > retiredUpTo && (current == null || current.ticket < s.ticket)) {
        s.retain()
        replace(s)
      }

    def retire(): Unit = synchronized {
      retiredUpTo = tickets
      replace(null)
    }

    private def replace(s: Snapshot): Unit = {
      val old = current
      current = s
      if (old != null) { old.unpin(); old.release() }
    }

    /** Delete every version older than the newest `retain` that no
      * snapshot leases — superseded versions and crash leftovers alike. */
    def sweep(): Unit = {
      val metaFile = dir.resolve("_meta.json")
      if (Files.exists(metaFile)) {
        val m = readMeta(metaFile)
        versionsOn(dir, m.version)
          .filter(v => v <= m.version - math.max(1, m.retain) && !leases.contains(v))
          .foreach(v => deleteRecursively(dataPathOf(dir, v)))
      }
    }
  }

  private val shareds = new java.util.concurrent.ConcurrentHashMap[String, Shared]()
  private def sharedOf(dir: Path): Shared = {
    val d = dir.toAbsolutePath.normalize
    shareds.computeIfAbsent(d.toString, _ => new Shared(d))
  }

  private def dataPathOf(dir: Path, v: Int): Path = dir.resolve(s"data_v$v")

  private def stampOf(m: Meta): (Int, Int) =
    (m.version, if (m.pending) -m.insertCount else m.insertCount)

  /** Version directories on disk up to `live`, oldest first. */
  private def versionsOn(dir: Path, live: Int): Seq[Int] = {
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("data_v"))
        .flatMap(n => scala.util.Try(n.stripPrefix("data_v").toInt).toOption)
        // dirs ABOVE the committed meta version are crash leftovers from
        // a mutation that died before its swap — never serve them as
        // snapshots (the next mutation overwrites them, writeData is
        // mode=overwrite)
        .filter(_ <= live)
        .toSeq.sorted
    } finally s.close()
  }

  /** Rows of each parquet file from its footer — a driver-side metadata
    * read, no Spark job. Files are URIs, escaped as `inputFiles` and
    * `Path.toUri` give them: a Hadoop path built from such a string would
    * escape a `%20` again. */
  private def footerRows(spark: SparkSession, files: Iterator[java.net.URI]): Iterator[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f), conf))
      try r.getRecordCount finally r.close()
    }
  }

  /** Part-file count above which an append triggers a compacting vacuum
    * (reference auto-vacuum default, `Entity.scala:376-386`). */
  val AutoVacuumMaxParts = 100

  /** `pending` marks an insert whose counter is burned but whose data
    * writes have not all landed — the stamp must differ from the
    * completed state so an index saved mid-insert can never read as
    * fresh afterwards. */
  private[core] case class Meta(name: String, version: Int, insertCount: Int,
                                pending: Boolean = false, retain: Int = 1,
                                schema: Option[StructType] = None, id: String = "")

  /** Persisted directory-layout descriptor: `mode` ∈ {ecp, bycolumn},
    * `keyCol` = vector column (ecp) or partition key (bycolumn),
    * `centroids` = trained leaders (ecp only). */
  final case class Layout(mode: String, keyCol: String, centroids: Array[Array[Double]])

  private val jackson = new com.fasterxml.jackson.databind.ObjectMapper()

  private def writeLayout(p: Path, l: Layout): Unit = {
    val root = jackson.createObjectNode()
    root.put("mode", l.mode)
    root.put("keyCol", l.keyCol)
    val cs = root.putArray("centroids")
    l.centroids.foreach { c =>
      val row = cs.addArray()
      c.foreach(row.add)
    }
    Files.write(p, jackson.writeValueAsBytes(root))
  }

  /** One external attribute group: the handler storing it, its store
    * directory (relative to the entity dir), and the attributes. */
  final case class AttributeGroup(handler: String, store: String, attrs: Seq[String])

  private def writeGroups(p: Path, gs: Seq[AttributeGroup]): Unit = {
    val root = jackson.createArrayNode()
    gs.foreach { g =>
      val n = root.addObject()
      n.put("handler", g.handler)
      n.put("store", g.store)
      val a = n.putArray("attrs")
      g.attrs.foreach(a.add)
    }
    Files.write(p, jackson.writeValueAsBytes(root))
  }

  private def readGroups(p: Path): Seq[AttributeGroup] = {
    if (!Files.exists(p)) return Nil
    import scala.jdk.CollectionConverters._
    jackson.readTree(Files.readAllBytes(p)).elements().asScala.map { n =>
      AttributeGroup(n.get("handler").asText(), n.get("store").asText(),
        n.get("attrs").elements().asScala.map(_.asText()).toSeq)
    }.toSeq
  }

  private def readLayout(p: Path): Option[Layout] = {
    if (!Files.exists(p)) return None
    val root = jackson.readTree(Files.readAllBytes(p))
    import scala.jdk.CollectionConverters._
    val centroids = root.get("centroids").elements().asScala
      .map(row => row.elements().asScala.map(_.asDouble()).toArray).toArray
    Some(Layout(root.get("mode").asText(), root.get("keyCol").asText(), centroids))
  }

  /** Replaced whole by a rename, so a lock-free reader never sees a
    * half-written file. */
  private def writeMeta(p: Path, m: Meta): Unit = {
    val root = jackson.createObjectNode()
    root.put("name", m.name).put("version", m.version).put("insertCount", m.insertCount)
      .put("pending", m.pending).put("retain", m.retain).put("id", m.id)
    m.schema.foreach(s => root.set[JsonNode]("schema", jackson.readTree(s.json)))
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.write(tmp, jackson.writeValueAsBytes(root))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  private def readMeta(p: Path): Meta = {
    val root = jackson.readTree(Files.readAllBytes(p))
    Meta(root.get("name").asText(), root.get("version").asInt(),
      root.get("insertCount").asInt(),
      // absent in pre-pending meta files → false
      Option(root.get("pending")).exists(_.asBoolean(false)),
      // absent in pre-retention meta files → 1 (keep only the live version)
      Option(root.get("retain")).map(_.asInt(1)).getOrElse(1),
      // absent in meta files written before schemas were recorded → the
      // read infers it
      Option(root.get("schema")).map(n => DataType.fromJson(n.toString).asInstanceOf[StructType]),
      // absent in meta files written before incarnations were drawn → ""
      Option(root.get("id")).map(_.asText("")).getOrElse(""))
  }

  /** Create a new empty entity, recording its `declared` attributes (if
    * any) as the schema inserts are read against until the first insert
    * writes one. Reserved `ap_*` names are rejected for user columns at
    * insert time by construction (we add `ap_id`). */
  def create(spark: SparkSession, base: String, name: String,
             declared: StructType = new StructType()): Entity = {
    require(name.nonEmpty && name.matches("[A-Za-z0-9_]+"), s"invalid entity name: $name")
    val dir = Paths.get(base).resolve(name)
    sharedOf(dir).mutation.synchronized {
      require(!Files.exists(dir), s"entity $name already exists")
      Files.createDirectories(dir)
      writeMeta(dir.resolve("_meta.json"),
        Meta(name, 0, 0, schema = Some(declared).filter(_.nonEmpty),
          id = java.util.UUID.randomUUID.toString))
    }
    new Entity(name, Paths.get(base), spark)
  }

  /** Open the entity, creating it first when absent (atomically). */
  def openOrCreate(spark: SparkSession, base: String, name: String): Entity =
    sharedOf(Paths.get(base).resolve(name)).mutation.synchronized {
      if (exists(base, name)) open(spark, base, name) else create(spark, base, name)
    }

  def open(spark: SparkSession, base: String, name: String): Entity = {
    val dir = Paths.get(base).resolve(name)
    require(Files.exists(dir.resolve("_meta.json")), s"no such entity: $name")
    new Entity(name, Paths.get(base), spark)
  }

  def exists(base: String, name: String): Boolean =
    Files.exists(Paths.get(base).resolve(name).resolve("_meta.json"))

  def list(base: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val b = Paths.get(base)
    if (!Files.exists(b)) Nil
    else {
      val s = Files.list(b)
      try s.iterator().asScala
        .filter(p => Files.exists(p.resolve("_meta.json")))
        .map(_.getFileName.toString).toList
      finally s.close()
    }
  }

  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
  }
}
