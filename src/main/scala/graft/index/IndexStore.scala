package graft.index

import java.io.{ObjectInputStream, ObjectOutputStream}
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Index persistence through the entity store — the reference writes every
  * index as a table via its storage handler and reloads it on open
  * (`/root/reference/src/main/scala/org/vitrivr/adampro/data/index/Index.scala:442-471`),
  * flagging it stale when the entity mutates underneath it (`:162-169`).
  *
  * Layout: `<entityDir>/index_<name>/data/` holds the index's narrow
  * DataFrame as parquet (the only O(n) state — `(id, cells|codes|sig|...)`);
  * `meta.bin` holds the driver-side metadata (marks, codebooks,
  * projections, centroids — all O(KB..MB)) plus the entity version stamp
  * the index was built at; `schema.json` the narrow table's schema, so a
  * load reads it without a schema-discovery job. A reloaded index scans straight from parquet:
  * no training, no encode pass — the build cost is paid once at create
  * time, which is what makes repeated kNN queries cheap at any scale.
  *
  * Staleness: `load` compares the saved stamp with the caller's current
  * stamp; a mismatch (insert/delete/vacuum since build) marks the index
  * stale. A stale index still scans (its candidates simply predate the
  * mutation — same semantics as the reference, which keeps stale indexes
  * queryable but deprioritized) — callers such as the planner can filter
  * on the flag. `load` also reports the attribute the index was built
  * over, which scopes the planner's choice to the query's attribute.
  */
object IndexStore {

  /** A reloaded index; `attribute` is the vector attribute it was built
    * over, `None` when neither its recipe nor its name tells. */
  final case class Loaded(index: VectorIndex, stale: Boolean, attribute: Option[String])

  /** The build-recipe key naming the attribute an index was built over. */
  val AttributeKey = "attribute"

  /** Everything needed to rebuild an index object minus its DataFrame. */
  private final case class SavedMeta(indexType: String, idCol: String,
                                     stamp: (Int, Int), blob: Serializable)

  private def indexDir(baseDir: String, name: String): Path =
    Paths.get(baseDir).resolve(s"index_$name")

  def save(baseDir: String, name: String, idx: VectorIndex,
           stamp: (Int, Int) = (0, 0),
           buildInfo: Map[String, String] = Map.empty): Unit = {
    require(name.matches("[A-Za-z0-9_]+"), s"invalid index name: $name")
    val dir = indexDir(baseDir, name)
    Files.createDirectories(dir)
    val (df, blob) = idx match {
      case va: VAIndex => (va.cellsDf, (va.marks, va.p, va.indexType, va.rotate))
      case pq: PQIndex => (pq.codes, (pq.codebooks, pq.subLen))
      case sh: SHIndex => (sh.sigs, (sh.pc, sh.mins, sh.ranges, sh.modes))
      case lsh: LSHIndex => (lsh.tables, (lsh.projections, lsh.offsets, lsh.w, lsh.probes))
      case ecp: ECPIndex => (ecp.assignments, ecp.centroids)
      case ivfpq: IVFPQIndex =>
        (ivfpq.assignments, (ivfpq.centroids, ivfpq.codebooks, ivfpq.subLen))
      case mi: MIIndex => (mi.postings, (mi.refPoints, mi.ki, mi.ks))
      case sq: SQIndex => (sq.codes, (sq.mins, sq.scales))
      case bsq: BSQIndex => (bsq.codes, bsq.dim)
      case opq: OPQIndex => (opq.codes, (opq.rotation, opq.codebooks, opq.subLen))
      case nsw: NSWIndex =>
        (nsw.graph, (nsw.nShards, nsw.m, nsw.ef, nsw.nProbes, nsw.heuristic))
      case other => throw new IllegalArgumentException(
        s"index type ${other.indexType} is not persistable")
    }
    // Write-new-then-swap, NEVER overwrite in place: the frame being
    // saved may lazily READ from this very directory — an incremental
    // refresh extends a loaded index whose lineage scans
    // `index_<name>/data` (IndexOps.refresh → NSWIndex.extend →
    // saveIndex). A plain overwrite deletes the source files first, so
    // any recomputation during the write (lost cached block, executor
    // death) would read an already-deleted directory. Same dance as
    // [[repartitionData]]; recoverData first heals a half-finished
    // previous swap.
    recoverData(dir)
    val dataDir = dir.resolve("data")
    val tmp = dir.resolve("data_tmp")
    df.write.mode("overwrite").parquet(tmp.toString)
    if (Files.exists(dataDir)) {
      val old = dir.resolve("data_old")
      graft.core.Entity.deleteRecursively(old) // stale debris from a prior crash
      Files.move(dataDir, old)
      try Files.move(tmp, dataDir)
      catch { case e: Throwable => Files.move(old, dataDir); throw e }
      graft.core.Entity.deleteRecursively(old)
    } else Files.move(tmp, dataDir)
    Files.writeString(dir.resolve("schema.json"), df.schema.json)
    val out = new ObjectOutputStream(Files.newOutputStream(dir.resolve("meta.bin")))
    try out.writeObject(SavedMeta(idx.indexType, idx.idCol, stamp,
      blob.asInstanceOf[Serializable]))
    finally out.close()
    // build recipe (type, attribute, options) as a JSON sidecar — what a
    // stale-index refresh needs to rebuild with the ORIGINAL tuning.
    // Separate file, not a SavedMeta field: pre-existing meta.bin
    // artifacts keep deserializing unchanged.
    if (buildInfo.nonEmpty) {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = m.createObjectNode()
      buildInfo.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
      Files.writeString(dir.resolve("build.json"), m.writeValueAsString(node))
    }
  }

  /** The recorded build recipe, or empty for artifacts saved without one
    * (pre-r14, or ad-hoc saves). */
  def buildInfo(baseDir: String, name: String): Map[String, String] = {
    val p = indexDir(baseDir, name).resolve("build.json")
    if (!Files.exists(p)) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readString(p))
        .fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }
  }

  /** The entity stamp recorded when the index was saved — lets a
    * refresh distinguish append-only drift (same version, larger
    * insert count → incremental maintenance is sound) from rewrites
    * (delete/vacuum bump the version → full rebuild required). */
  def savedStamp(baseDir: String, name: String): Option[(Int, Int)] = {
    val p = indexDir(baseDir, name).resolve("meta.bin")
    if (!Files.exists(p)) None
    else {
      val in = new ObjectInputStream(Files.newInputStream(p)) {
        override def resolveClass(desc: java.io.ObjectStreamClass): Class[_] =
          Class.forName(desc.getName, false, Thread.currentThread.getContextClassLoader)
      }
      val meta = try in.readObject().asInstanceOf[SavedMeta] finally in.close()
      Some(meta.stamp)
    }
  }

  /** Reload an index; `currentStamp` (from the owning entity) drives the
    * stale flag — `None` skips the check (ad-hoc stores). */
  def load(spark: SparkSession, baseDir: String, name: String,
           currentStamp: Option[(Int, Int)] = None): Loaded = {
    val dir = indexDir(baseDir, name)
    require(Files.exists(dir.resolve("meta.bin")), s"no such index: $name")
    // resolve classes through the context classloader — plain
    // ObjectInputStream breaks under sbt's layered classloaders
    val in = new ObjectInputStream(Files.newInputStream(dir.resolve("meta.bin"))) {
      override def resolveClass(desc: java.io.ObjectStreamClass): Class[_] =
        Class.forName(desc.getName, false, Thread.currentThread.getContextClassLoader)
    }
    val meta = try in.readObject().asInstanceOf[SavedMeta] finally in.close()
    val df = readData(spark, dir)
    val idx: VectorIndex = (meta.indexType, meta.blob) match {
      case ("vaf" | "vav" | "vap", b) =>
        val (marks, p, typ, rotate) = b.asInstanceOf[
          (Array[Array[Double]], Double, String, Option[Array[Array[Double]]])]
        new VAIndex(df, marks, p, meta.idCol, typ, rotate)
      case ("pq", b) =>
        val (books, subLen) = b.asInstanceOf[(Array[Array[Array[Double]]], Int)]
        new PQIndex(df, books, subLen, meta.idCol)
      case ("sh", b) =>
        val (pc, mins, ranges, modes) = b.asInstanceOf[
          (Array[Array[Double]], Array[Double], Array[Double], Array[(Int, Int)])]
        new SHIndex(df, pc, mins, ranges, modes, meta.idCol)
      case ("lsh", b) => b match {
        case (proj, off, w, probes) =>
          new LSHIndex(df, proj.asInstanceOf[Array[Array[Array[Double]]]],
            off.asInstanceOf[Array[Array[Double]]], w.asInstanceOf[Double],
            meta.idCol, probes.asInstanceOf[Int])
        case (proj, off, w) => // pre-multi-probe artifact: probes = 0
          new LSHIndex(df, proj.asInstanceOf[Array[Array[Array[Double]]]],
            off.asInstanceOf[Array[Array[Double]]], w.asInstanceOf[Double],
            meta.idCol)
        case other => throw new IllegalArgumentException(
          s"unrecognized lsh metadata: ${other.getClass}")
      }
      case ("ecp", b) =>
        new ECPIndex(df, b.asInstanceOf[Array[(Int, Array[Double], Long)]], meta.idCol)
      case ("ivfpq", b) =>
        val (cents, books, subLen) = b.asInstanceOf[
          (Array[(Int, Array[Double], Long)], Array[Array[Array[Double]]], Int)]
        new IVFPQIndex(df, cents, books, subLen, meta.idCol)
      case ("mi", b) =>
        val (refs, ki, ks) = b.asInstanceOf[(Array[Array[Double]], Int, Int)]
        new MIIndex(df, refs, ki, ks, meta.idCol)
      case ("sq", b) =>
        val (mins, scales) = b.asInstanceOf[(Array[Double], Array[Double])]
        new SQIndex(df, mins, scales, meta.idCol)
      case ("bsq", b) =>
        new BSQIndex(df, b.asInstanceOf[Int], meta.idCol)
      case ("opq", b) =>
        val (rot, books, subLen) = b.asInstanceOf[
          (Array[Array[Double]], Array[Array[Array[Double]]], Int)]
        new OPQIndex(df, rot, books, subLen, meta.idCol)
      case ("nsw", b) => b match {
        case (nShards: Int, m: Int, ef: Int, nProbes: Int, heuristic: Boolean) =>
          NSWIndex.fromSaved(df, nShards, m, ef, meta.idCol, nProbes, heuristic)
        case (nShards: Int, m: Int, ef: Int, nProbes: Int) => // pre-heuristic
          NSWIndex.fromSaved(df, nShards, m, ef, meta.idCol, nProbes)
        case (nShards: Int, m: Int, ef: Int) => // pre-nProbes artifact
          NSWIndex.fromSaved(df, nShards, m, ef, meta.idCol)
        case other => throw new IllegalArgumentException(
          s"unrecognized nsw metadata: ${other.getClass}")
      }
      case (other, _) => throw new IllegalArgumentException(s"unknown index type: $other")
    }
    // the recipe names the attribute; without one, the `<type>_<attribute>`
    // naming convention does
    val attribute = buildInfo(baseDir, name).get(AttributeKey)
      .orElse(Some(name.stripPrefix(s"${idx.indexType}_"))
        .filter(a => a.nonEmpty && a != name))
    Loaded(idx, currentStamp.exists(_ != meta.stamp), attribute)
  }

  def exists(baseDir: String, name: String): Boolean =
    Files.exists(indexDir(baseDir, name).resolve("meta.bin"))

  /** When the index was last saved — what tells a loaded copy from the
    * one on disk. */
  def savedAt(baseDir: String, name: String): java.nio.file.attribute.FileTime = {
    val p = indexDir(baseDir, name).resolve("meta.bin")
    require(Files.exists(p), s"no such index: $name")
    Files.getLastModifiedTime(p)
  }

  /** The narrow table, read with its recorded schema (inferred for
    * artifacts saved before schemas were recorded); heals a half-finished
    * swap first. */
  private def readData(spark: SparkSession, dir: Path): org.apache.spark.sql.DataFrame = {
    recoverData(dir)
    val data = dir.resolve("data").toString
    val schema = dir.resolve("schema.json")
    if (Files.exists(schema))
      spark.read.schema(org.apache.spark.sql.types.DataType.fromJson(Files.readString(schema))
        .asInstanceOf[org.apache.spark.sql.types.StructType]).parquet(data)
    else spark.read.parquet(data)
  }

  def list(baseDir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val b = Paths.get(baseDir)
    if (!Files.exists(b)) Nil
    else {
      val s = Files.list(b)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("index_")).map(_.stripPrefix("index_")).toList
      finally s.close()
    }
  }

  def drop(baseDir: String, name: String): Unit =
    graft.core.Entity.deleteRecursively(indexDir(baseDir, name))

  /** The index's narrow on-disk table, read directly (cache pinning). */
  def dataFrame(spark: org.apache.spark.sql.SparkSession, baseDir: String,
                name: String): org.apache.spark.sql.DataFrame = {
    val dir = indexDir(baseDir, name)
    require(Files.exists(dir.resolve("meta.bin")), s"no such index: $name")
    readData(spark, dir)
  }

  /** Heal a half-finished [[repartitionData]] swap: a hard kill between
    * the two renames leaves `data_old` (complete, pre-swap) but no
    * `data` — restore it. A leftover `data_tmp` or a `data_old`
    * NEXT TO a live `data` is just stale debris; it is swept by the
    * next repartition and harmless to readers, which only ever open
    * `data`. */
  private def recoverData(dir: Path): Unit = {
    val data = dir.resolve("data")
    val old = dir.resolve("data_old")
    if (!Files.exists(data) && Files.exists(old)) Files.move(old, data)
  }

  /** Rewrite a persisted index's narrow table under a new partitioning
    * (reference `repartitionIndexData`, `DataDefintion.scala:489-527`):
    * the structure metadata (marks/codebooks/centroids) is untouched, so
    * the stamp — and therefore staleness — is preserved. Write-new-then-
    * swap, same crash-safety dance as entity mutations. */
  def repartitionData(spark: org.apache.spark.sql.SparkSession, baseDir: String,
                      name: String, mode: graft.core.Partitioning.Mode): Unit = {
    val dir = indexDir(baseDir, name)
    require(Files.exists(dir.resolve("meta.bin")), s"no such index: $name")
    val df = readData(spark, dir) // heals a half-finished previous swap first
    val tmp = dir.resolve("data_tmp")
    graft.core.Partitioning.repartition(df, mode)
      .write.mode("overwrite").parquet(tmp.toString)
    // swap via rename-aside so there is never an instant with no live
    // data dir: a crash before the tmp move leaves data_old restorable,
    // a crash after it leaves only stale data_old to sweep
    val old = dir.resolve("data_old")
    graft.core.Entity.deleteRecursively(old) // stale leftover from a prior crash
    Files.move(dir.resolve("data"), old)
    try Files.move(tmp, dir.resolve("data"))
    catch { case e: Throwable => Files.move(old, dir.resolve("data")); throw e }
    graft.core.Entity.deleteRecursively(old)
  }
}
