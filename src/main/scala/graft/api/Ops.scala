package graft.api

import scala.concurrent.ExecutionContext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.{Entity, Partitioning}
import graft.functions.Distances
import graft.index._
import graft.operators._
import graft.plans.{Planner, Progressive, ResultCache}

/** Programmatic API mirroring the reference's `communication/api` surface
  * (`EntityOp`, `IndexOp`, `QueryOp` — `QueryOp.scala:34-161`): a user of
  * ADAMpro's Scala API can switch to these entry points one-for-one.
  * gRPC transport is intentionally out of scope (SURVEY §7.1) — this is
  * the seam a thin server would wrap.
  */
object EntityOps {
  def create(spark: SparkSession, base: String, name: String): Entity =
    Entity.create(spark, base, name)
  def open(spark: SparkSession, base: String, name: String): Entity =
    Entity.open(spark, base, name)
  def exists(base: String, name: String): Boolean = Entity.exists(base, name)
  def list(base: String): Seq[String] = Entity.list(base)
  def insert(e: Entity, df: DataFrame): Entity = e.insert(df)
  def count(e: Entity): Long = e.count()
  def delete(e: Entity, predicate: Column): Long = e.deleteWhere(predicate)
  def vacuum(e: Entity, partitions: Int = 8): Entity = e.vacuum(partitions)
  def sparsify(e: Entity, vecCol: String): Entity = e.sparsify(vecCol)
  def drop(e: Entity): Unit = e.drop()
  def preview(e: Entity, k: Int = 100): DataFrame = Projections.preview(e.read(), k)
  def repartition(df: DataFrame, mode: Partitioning.Mode): DataFrame =
    Partitioning.repartition(df, mode)
}

object IndexOps {
  /** Every type name [[create]] accepts. */
  val knownTypes: Seq[String] =
    Seq("vaf", "vav", "vap", "ecp", "pq", "sh", "lsh", "mi", "ivfpq", "sq",
      "bsq", "opq", "nsw")

  /** Index factory by type name — reference `IndexTypes.scala:20-45`.
    * `options` carries per-type build parameters the way the reference's
    * `IndexMessage.options` feeds its generator factories (e.g.
    * `{"ntables": "8", "probes": "2"}` for lsh). Keys are lowercase;
    * an option the chosen type does not consume is an ERROR — a typo'd
    * tuning knob must not silently build a default index. */
  def create(indexType: String, df: DataFrame, idCol: String, vecCol: String,
             options: Map[String, String] = Map.empty): VectorIndex = {
    val opts = scala.collection.mutable.Map(options.map {
      case (k, v) => k.toLowerCase -> v }.toSeq: _*)
    def int(key: String, dflt: Int): Int = opts.remove(key).map(_.toInt).getOrElse(dflt)
    def dbl(key: String, dflt: Double): Double =
      opts.remove(key).map(_.toDouble).getOrElse(dflt)
    val idx = indexType.toLowerCase match {
      case "vaf" => VAIndex.buildFixed(df, idCol, vecCol,
        p = dbl("p", 2.0), bits = int("bits", -1))
      case "vav" => VAIndex.buildVariable(df, idCol, vecCol,
        p = dbl("p", 2.0), totalBits = int("totalbits", -1))
      case "vap" => VAIndex.buildPlus(df, idCol, vecCol)
      case "ecp" => ECPIndex.build(df, idCol, vecCol,
        maxLeaders = int("maxleaders", 200), assign = int("assign", 1))
      case "pq" => PQIndex.build(df, idCol, vecCol,
        nsq = int("nsq", 8), nCentroids = int("ncentroids", 16))
      case "sh" => SHIndex.build(df, idCol, vecCol, nBits = int("nbits", 32))
      case "lsh" => LSHIndex.build(df, idCol, vecCol, nTables = int("ntables", 16),
        nHashes = int("nhashes", 2), probes = int("probes", 0))
      case "mi" => MIIndex.build(df, idCol, vecCol,
        ki = int("ki", 10), ks = int("ks", 10))
      case "ivfpq" => IVFPQIndex.build(df, idCol, vecCol, nsq = int("nsq", 8),
        nCentroids = int("ncentroids", 16), assign = int("assign", 1))
      case "sq" => SQIndex.build(df, idCol, vecCol)
      case "bsq" => BSQIndex.build(df, idCol, vecCol)
      case "opq" => OPQIndex.build(df, idCol, vecCol, nsq = int("nsq", 8),
        nCentroids = int("ncentroids", 16), optIters = int("optiters", 6))
      case "nsw" => NSWIndex.build(df, idCol, vecCol,
        nShards = int("nshards", 4), m = int("m", 8),
        efC = int("efc", 64), ef = int("ef", 128),
        nProbes = int("nprobes", 1),
        // HNSW Algorithm-4 diverse selection + keep-pruned-connections —
        // DEFAULT ON for new builds (SCALING.md Run 29: strictly better
        // recall/speed on isotropic data); heuristic=0 opts back into
        // the plain closest-prune NSW. Persisted graphs are untouched:
        // the flag is stored with the index and restored on load.
        heuristic = int("heuristic", 1) != 0)
      case other => throw new IllegalArgumentException(s"unknown index type: $other")
    }
    require(opts.isEmpty,
      s"unknown options for $indexType: ${opts.keys.toSeq.sorted.mkString(", ")}")
    idx
  }

  /** The stored indexes built over `attribute`, stale ones included,
    * sorted — by the same rule that scopes the planner's walk
    * ([[IndexStore.Loaded.attribute]]). */
  def over(e: Entity, attribute: String): Seq[String] =
    e.listIndexes.filter(n => e.loadIndex(n).attribute.contains(attribute)).sorted

  /** The reference's 8 index types (`IndexTypes.scala:20-45`). */
  val referenceTypes: Seq[String] =
    Seq("vaf", "vav", "vap", "ecp", "pq", "sh", "lsh", "mi")

  /** Build each of `types` over the entity's current rows and save it
    * with its build recipe (type, attribute, id column and options), which
    * [[refresh]] replays. By default the FULL family (reference
    * `generateAllIndexes` plus the beyond-reference structures — "all
    * indexes" means everything the planner can use). Indexes are named
    * `<type>_<attribute>` unless `name` is given for a single type.
    * Returns the saved names. */
  def createAll(e: Entity, attribute: String, types: Seq[String] = knownTypes,
                idCol: String = Entity.ApId, options: Map[String, String] = Map.empty,
                name: Option[String] = None): Seq[String] = {
    require(name.isEmpty || types.size == 1, "a custom index name takes exactly one type")
    types.map { tp =>
      buildAndSave(e, name.getOrElse(s"${tp}_$attribute"),
        Map(InfoType -> tp, InfoAttribute -> attribute, InfoIdCol -> idCol) ++ options) {
        (_, rows) => create(tp, rows, idCol, attribute, options)
      }
    }
  }

  /** Save what `build` makes of the entity's rows under `recipe`, with
    * the stamp of the snapshot it scans (its files were listed after the
    * stamp was read), so rows that land meanwhile leave the index stale,
    * never falsely fresh. */
  private def buildAndSave(e: Entity, name: String, recipe: Map[String, String])
                          (build: ((Int, Int), DataFrame) => VectorIndex): String = {
    val s = e.snapshot
    e.saveIndex(name, build(s.stamp, s.frame), recipe, s.stamp)
    name
  }

  // Persistence through the entity store (reference `Index.scala:442-471`)
  def save(e: Entity, name: String, idx: VectorIndex): Entity = e.saveIndex(name, idx)
  def load(e: Entity, name: String): IndexStore.Loaded = e.loadIndex(name)
  def list(e: Entity): Seq[String] = e.listIndexes
  def drop(e: Entity, name: String): Unit = e.dropIndex(name)

  /** The build-recipe keys [[refresh]] consumes next to the per-type
    * options, recorded by [[createAll]]. */
  val InfoType = "indextype"
  val InfoAttribute = IndexStore.AttributeKey
  val InfoIdCol = "idcol"

  /** Rebuild a persisted index from its recorded build recipe — the
    * stale-index refresh path: after entity mutations flag an index
    * stale (reference `Index.scala:162-169`), one call rebuilds it over
    * the CURRENT data with its ORIGINAL type/attribute/options instead
    * of a silently different default configuration. */
  def refresh(e: Entity, name: String): String = {
    val info = e.indexBuildInfo(name)
    val tp = info.getOrElse(InfoType, throw new IllegalStateException(
      s"index $name has no recorded build recipe — drop and recreate it"))
    val attribute = info.getOrElse(InfoAttribute, throw new IllegalStateException(
      s"index $name records no attribute — drop and recreate it"))
    val idCol = info.getOrElse(InfoIdCol, Entity.ApId)
    buildAndSave(e, name, info) { (builtAt, rows) =>
      // Incremental maintenance when it is provably sound: the graph
      // index can absorb appended rows in place, and "append-only since
      // save" is exactly "saved stamp has the same entity version"
      // (delete / vacuum / sparsify bump the version; inserts only move
      // the count). A negative saved count means the index was built
      // mid-insert — rebuild rather than reason about the pending window.
      val incremental = tp.toLowerCase == "nsw" &&
        e.indexSavedStamp(name).exists(s => s._1 == builtAt._1 && s._2 >= 0)
      if (incremental) {
        val nsw = e.loadIndex(name).index.asInstanceOf[NSWIndex]
        val appended = rows.join(
          nsw.graph.select(col("id").as(idCol)), Seq(idCol), "left_anti")
        nsw.extend(appended, idCol, attribute)
      } else {
        val opts = info - InfoType - InfoAttribute - InfoIdCol
        // a pre-r20 nsw recipe records no heuristic option (plain was
        // the build default then, and only EXPLICIT options persist) —
        // rebuild with the PERSISTED graph's own flag, never the
        // current default, so refresh keeps its "same configuration"
        // promise across default changes
        val pinned =
          if (tp.toLowerCase == "nsw" && !opts.contains("heuristic"))
            opts + ("heuristic" -> (if (e.loadIndex(name).index
              .asInstanceOf[NSWIndex].heuristic) "1" else "0"))
          else opts
        create(tp, rows, idCol, attribute, pinned)
      }
    }
  }

  /** Refresh every stale index of the entity; returns refreshed names. */
  def refreshStale(e: Entity): Seq[String] =
    e.listIndexes.sorted.filter(n => e.loadIndex(n).stale).map(refresh(e, _))
}

/** Planner training + introspection (reference `QueryPlannerOp`). */
object PlannerOps {
  def train(spark: SparkSession, entity: DataFrame, idCol: String, vecCol: String,
            indexes: Seq[VectorIndex], distName: String = "euclidean",
            k: Int = 100, nQueries: Int = 3)
           (implicit ec: ExecutionContext): Int =
    Planner.train(spark, entity, idCol, vecCol, indexes, distName, k, nQueries)

  def scoredPaths(indexes: Seq[VectorIndex], distName: String): Seq[(String, Double)] =
    Planner.scoredPaths(indexes, distName)
}

final case class NnQuery(vecCol: String, q: Seq[Double], distName: String, k: Int,
                         weights: Option[Seq[Double]] = None)

object QueryOps {
  private val cache = new ResultCache()

  def distanceColumn(nnq: NnQuery): Column = distanceOn(col(nnq.vecCol), nnq)

  /** The dense distance expression over an arbitrary vector column. */
  private def distanceOn(v: Column, nnq: NnQuery): Column = {
    val q = Distances.vecLit(nnq.q)
    nnq.weights match {
      case None => Distances.byName(nnq.distName)(v, q)
      case Some(ws) =>
        val w = Distances.vecLit(ws)
        // every spelling resolves through the shared canonical-alias
        // table — the same resolution byName/conformsTo/sparseKind use
        Distances.canonical(nnq.distName) match {
          case "manhattan" => Distances.manhattanW(v, q, w)
          case "euclidean" => Distances.euclideanW(v, q, w)
          case "sqeuclidean" => Distances.sqEuclideanW(v, q, w)
          case "chebyshev" => Distances.chebyshevW(v, q, w)
          case "modulo" => Distances.moduloW(v, q, w)
          case "chisquared" => Distances.chiSquaredW(v, q, w)
          case "hamming" => Distances.hammingW(v, q, w)
          // reference parity: Jaccard warns-and-ignores weights, KL's
          // elementwise term never multiplies w — both resolve unweighted
          case "jaccard" | "kullbackleibler" => Distances.byName(nnq.distName)(v, q)
          case m if m.startsWith("minkowski-") && m.stripPrefix("minkowski-").toDoubleOption.isDefined =>
            Distances.minkowskiW(v, q, w, m.stripPrefix("minkowski-").toDouble)
          case other => throw new IllegalArgumentException(
            s"no weighted variant of distance '$other' — drop the weights or use a Minkowski-family distance")
        }
    }
  }

  /** Map a distance name onto the sparse kernel family (kind, p) —
    * ONLY for names [[Distances.byName]] resolves to the same metric,
    * so sparsifying an entity can never silently change what a query
    * computes (byName defaults unknown names to euclidean; those must
    * take the densify fallback and default identically). Similarities
    * (dot/cosinesim) are deliberately absent: kNN sorts ascending. */
  private def sparseKind(distName: String): Option[(String, Double)] =
    Distances.canonical(distName) match {
      case "manhattan" => Some((graft.functions.VectorKernel.Manhattan, 1.0))
      case "euclidean" => Some((graft.functions.VectorKernel.Euclidean, 2.0))
      case "sqeuclidean" => Some((graft.functions.VectorKernel.SqEuclidean, 2.0))
      case "cosine" => Some((graft.functions.VectorKernel.CosineDist, 2.0))
      case _ => None
    }

  /** Distance column adapted to the entity's physical vector encoding:
    * a SPARSIFIED entity (struct column) takes the O(nnz) sparse kernel
    * directly for decomposable distances; non-decomposable or weighted
    * queries densify per row; dense columns use [[distanceColumn]]. A
    * reference user who sparsified an entity keeps querying it through
    * the same endpoints. */
  def distanceColumnFor(entity: DataFrame, nnq: NnQuery): Column =
    entity.schema.find(_.name == nnq.vecCol).map(_.dataType) match {
      case Some(_: org.apache.spark.sql.types.StructType) =>
        sparseKind(nnq.distName) match {
          case Some((kind, p)) if nnq.weights.isEmpty =>
            graft.functions.SparseDistances.toQuery(kind, col(nnq.vecCol), nnq.q, p)
          case _ =>
            val dense = graft.functions.SparseVectors.densify(col(nnq.vecCol))
            distanceOn(dense, nnq)
        }
      case _ => distanceColumn(nnq)
    }

  /** Exact sequential kNN (reference `QueryOp.sequential`) — sparse or
    * dense vector encodings both served. */
  def sequential(entity: DataFrame, idCol: String, nnq: NnQuery): DataFrame =
    Knn.knn(entity, distanceColumnFor(entity, nnq), nnq.k, col(idCol))

  /** Why `idx` cannot serve `nnq` over `entity`, or `None` when it can —
    * the one query-side admission check for every index plan:
    *  - distance conformity: e.g. L2-built VA bounds over a Manhattan
    *    query would prune true neighbours and return silently wrong
    *    results (reference `isQueryConform`);
    *  - a dense vector column: stored indexes cover the dense encoding,
    *    so a sparsified entity would fail deep in the kernel type check;
    *  - for a weighted query, lossless weighted pruning: most structures
    *    prune with the UNWEIGHTED metric, so a weighted rerank over their
    *    candidates can miss true weighted neighbours (VA with w ≥ 0
    *    scales its bounds per dimension and keeps the guarantee). */
  private def refusal(entity: DataFrame, idx: VectorIndex, nnq: NnQuery): Option[String] =
    if (!idx.conformsTo(nnq.distName))
      Some(s"index ${idx.indexType} does not answer distance '${nnq.distName}' " +
        "— scan would be silently lossy; use a conforming index or the sequential plan")
    else if (entity.schema.find(_.name == nnq.vecCol)
        .exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.StructType]))
      Some(s"entity column '${nnq.vecCol}' is sparsified — stored indexes cover the dense " +
        "encoding; rebuild the index or use the sequential plan (sparse kernels)")
    else if (nnq.weights.exists(ws => !idx.conformsToWeighted(nnq.distName, ws)))
      Some(s"index ${idx.indexType} cannot answer this weighted query " +
        "— candidate pruning uses the unweighted metric; use a VA index " +
        "with non-negative weights or the sequential plan")
    else None

  /** Scan a specific index with exact rerank (reference `QueryOp.index`);
    * refuses an index that cannot serve the query. */
  def index(entity: DataFrame, idCol: String, idx: VectorIndex, nnq: NnQuery): DataFrame = {
    val reason = refusal(entity, idx, nnq)
    require(reason.isEmpty, reason.getOrElse(""))
    nnq.weights match {
      case Some(ws) => idx.knnW(entity, idCol, distanceColumn(nnq), nnq.q, ws, nnq.k)
      case None => idx.knn(entity, idCol, distanceColumn(nnq), nnq.q, nnq.k)
    }
  }

  /** Choose the hint-walked plan for this entity over the indexes that
    * may serve the query; a sparsified entity walks to the sequential
    * plan. */
  def choosePlan(entity: DataFrame, indexes: Seq[VectorIndex],
                 hints: Seq[Planner.Hint], nnq: NnQuery): Planner.Plan =
    Planner.choose(hints, indexes.filter(refusal(entity, _, nnq).isEmpty), nnq.distName)

  /** Execute an already-chosen plan with encoding-aware distance
    * dispatch (sparse kernels for sparsified entities, like
    * [[sequential]]). */
  def runPlan(plan: Planner.Plan, entity: DataFrame, idCol: String,
              nnq: NnQuery): DataFrame =
    Planner.run(plan, entity, idCol, distanceColumnFor(entity, nnq), nnq.q, nnq.k,
      nnq.weights)

  /** Hint-planned kNN (reference `QueryOp.expression` + hint grammar). */
  def planned(entity: DataFrame, idCol: String, indexes: Seq[VectorIndex],
              hints: Seq[Planner.Hint], nnq: NnQuery): DataFrame =
    runPlan(choosePlan(entity, indexes, hints, nnq), entity, idCol, nnq)

  /** A routed query: its lazy result frame, the source that serves it
    * (`index scan (<name>)`, a planner plan such as `index:vaf`,
    * `sequential scan`, `boolean filter + sequential scan` or `boolean
    * scan`), the kNN plan that runs, and whether the named stored index
    * it reads is stale. */
  final case class Routed(frame: DataFrame, source: String,
                          plan: Option[Planner.Plan], stale: Boolean)

  /** The one kNN/Boolean router behind both front doors, over `frame` (a
    * snapshot's frame, or a restriction of it). A kNN query without
    * predicates takes, in order: a named stored index (`index`, else the
    * first hint naming one), the planner's walk of the remaining hints
    * over the snapshot's fresh indexes built over the query's attribute,
    * the sequential scan. With predicates it is a filtered kNN; without a
    * kNN query, a Boolean scan. A named index built over another
    * attribute is refused; a stale one still serves and is flagged —
    * refusing it is the caller's policy. */
  def route(snapshot: Entity.Snapshot, frame: DataFrame, idCol: String, nnq: Option[NnQuery],
            predicates: Seq[BooleanPredicates.Predicate], hints: Seq[String],
            index: Option[String]): Routed = (nnq, predicates) match {
    case (Some(q), Nil) =>
      val named = index.orElse(
        if (hints.isEmpty) None
        else { val stored = snapshot.listIndexes; hints.find(stored.contains) })
      val plannerHints = Planner.hintsByName(hints)
      named match {
        case Some(name) =>
          val loaded = snapshot.loadIndex(name)
          loaded.attribute.filter(_ != q.vecCol).foreach(a => throw new IllegalArgumentException(
            s"index $name is built over attribute '$a', not the query's attribute '${q.vecCol}'"))
          Routed(this.index(frame, idCol, loaded.index, q), s"index scan ($name)",
            Some(Planner.IndexPlan(loaded.index)), loaded.stale)
        case None if plannerHints.nonEmpty =>
          // a sequential-only walk never touches the index store
          val indexes =
            if (plannerHints.forall(_ == Planner.SequentialHint)) Nil
            else snapshot.freshIndexesOver(q.vecCol)
          val plan = choosePlan(frame, indexes, plannerHints, q)
          Routed(runPlan(plan, frame, idCol, q), plan.describe, Some(plan), stale = false)
        case None =>
          Routed(sequential(frame, idCol, q), "sequential scan",
            Some(Planner.SequentialPlan()), stale = false)
      }
    case (Some(q), ps) => Routed(filteredKnn(frame, idCol, ps, q),
      "boolean filter + sequential scan", Some(Planner.SequentialPlan()), stale = false)
    case (None, ps) if ps.nonEmpty =>
      Routed(booleanQuery(frame, ps), "boolean scan", None, stale = false)
    case _ => throw new IllegalArgumentException("query needs nnq and/or bq")
  }

  /** Boolean query (reference `QueryOp.booleanQuery`). */
  def booleanQuery(entity: DataFrame, predicates: Seq[BooleanPredicates.Predicate]): DataFrame =
    entity.filter(BooleanPredicates.conjunction(predicates))

  /** Full-text query dispatch — `mode`: all | any | phrase | bm25
    * (bm25 needs `idCol`). The capability the reference fronts through
    * Solr handler params on its external scan. */
  def text(entity: DataFrame, textCol: String, mode: String, terms: Seq[String],
           idCol: String = "", k: Int = 10): DataFrame = mode match {
    case "all" => TextSearch.matchAll(entity, textCol, terms)
    case "any" => TextSearch.matchAny(entity, textCol, terms)
    case "phrase" => TextSearch.phraseMatch(entity, textCol, terms)
    case "bm25" =>
      require(idCol.nonEmpty, "bm25 requires idCol")
      TextSearch.bm25TopK(entity, idCol, textCol, terms, k)
    case other => throw new IllegalArgumentException(s"unknown text mode: $other")
  }

  /** Filtered kNN — Boolean predicate + ranking combined. */
  def filteredKnn(entity: DataFrame, idCol: String,
                  predicates: Seq[BooleanPredicates.Predicate], nnq: NnQuery): DataFrame =
    Knn.knnFiltered(entity, BooleanPredicates.conjunction(predicates),
      distanceColumnFor(entity, nnq), nnq.k, col(idCol))

  /** All plans racing; observations as they land (reference
    * `QueryOp.parallel` / progressive). Optional hints restrict the
    * racing set (reference `QueryHintsParallelPathChooser`). Each call's
    * legs run under their own job groups, `<groupPrefix><plan>`. */
  def parallel(spark: SparkSession, entity: DataFrame, idCol: String,
               indexes: Seq[VectorIndex], nnq: NnQuery,
               hints: Seq[Planner.Hint] = Nil,
               groupPrefix: String = Progressive.newGroupPrefix())
              (onNext: Progressive.Observation => Unit = _ => ())
              (implicit ec: ExecutionContext): Seq[Progressive.Observation] =
    Progressive.parallel(spark, planSpecsFor(entity, idCol, indexes, nnq, hints),
      groupPrefix)(onNext)

  /** Best result by a deadline (reference `QueryOp.timedParallel`).
    * Hints restrict the racing set exactly as in [[parallel]]; each call's
    * legs run under their own job groups. */
  def timedParallel(spark: SparkSession, entity: DataFrame, idCol: String,
                    indexes: Seq[VectorIndex], nnq: NnQuery, deadlineMs: Long,
                    hints: Seq[Planner.Hint] = Nil)
                   (implicit ec: ExecutionContext): Progressive.Observation =
    Progressive.timed(spark, planSpecsFor(entity, idCol, indexes, nnq, hints), deadlineMs)

  /** Memoized execution keyed by a query fingerprint (reference
    * `CacheExpression`). */
  def cached(fingerprint: String)(compute: => DataFrame): DataFrame =
    cache.getOrElseCompute(fingerprint)(compute)

  /** The racing plan set: the sequential scan plus every index that may
    * serve the query, restricted by hints — the reference's
    * `QueryHintsParallelPathChooser` next to the hint-less
    * `SimpleParallelPathChooser` (`DataQuery.scala:281-287`): each hint
    * contributes the plan it would choose; no hints = race everything. */
  def planSpecsFor(entity: DataFrame, idCol: String, indexes: Seq[VectorIndex],
                   nnq: NnQuery, hints: Seq[Planner.Hint]): Seq[Progressive.PlanSpec] = {
    val usable = indexes.filter(refusal(entity, _, nnq).isEmpty)
    val all = Progressive.PlanSpec("sequential", 1.0, () => sequential(entity, idCol, nnq)) +:
      usable.map(idx => Progressive.PlanSpec(s"index:${idx.indexType}", idx.confidence,
        () => index(entity, idCol, idx, nnq)))
    if (hints.isEmpty) all
    else {
      val chosen = hints.map(h => Planner.choose(Seq(h), usable, nnq.distName).describe).toSet
      val picked = all.filter(s => chosen.contains(s.description))
      // unreachable today (choose always yields a plan matching a spec
      // by construction) — but fall back to the EXPLICIT sequential
      // spec, not a positional head, if the invariant ever breaks
      if (picked.nonEmpty) picked
      else all.filter(_.description == "sequential")
    }
  }
}
