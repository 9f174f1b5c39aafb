package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.{Entity, ImportExport, RandomData}

/** Entity DDL/DML lifecycle — reference `EntityTestSuite.scala:36-517`. */
class EntitySpec extends SparkSpec {

  import spark.implicits._

  private def freshBase(): String =
    SharedSpark.tempDir("graft-entity").toString

  test("create / insert / read-back round trip with ap_id assignment") {
    val base = freshBase()
    val e = Entity.create(spark, base, "users")
    e.insert(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"))
    val back = e.read()
    back.count() shouldBe 3
    back.columns should contain(Entity.ApId)
    back.select(Entity.ApId).distinct().count() shouldBe 3
    e.drop()
  }

  test("two inserts produce distinct ap_ids and union of rows") {
    val base = freshBase()
    val e = Entity.create(spark, base, "twice")
    e.insert(Seq(1, 2, 3).toDF("k"))
    e.insert(Seq(4, 5).toDF("k"))
    val back = e.read()
    back.count() shouldBe 5
    back.select(Entity.ApId).distinct().count() shouldBe 5
    back.select("k").collect().map(_.getInt(0)).toSet shouldBe Set(1, 2, 3, 4, 5)
    e.drop()
  }

  test("insert is O(batch): second insert appends, batch-1 files untouched") {
    val base = freshBase()
    val e = Entity.create(spark, base, "appnd")
    e.insert((1 to 10).toDF("k"))
    val dataDir = new java.io.File(base, "appnd/data_v1")
    def parts() = dataDir.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
    val before = parts()
    before should not be empty
    e.insert((11 to 15).toDF("k"))
    val after = parts()
    after.size should be > before.size // new files appended...
    before.foreach { case (name, mtime) =>  // ...old files not rewritten
      after(name) shouldBe mtime
    }
    e.read().count() shouldBe 15
    e.read().select(Entity.ApId).distinct().count() shouldBe 15
    e.drop()
  }

  test("auto-vacuum compacts when appended part files exceed the cap") {
    val base = freshBase()
    val e = Entity.create(spark, base, "autovac")
    // each batch has 4 rows in 4 partitions -> 4 part files (empty
    // partitions write nothing); cap 10 must trip on the insert that
    // pushes the live dir past it
    (0 to 3).foreach { i =>
      val rows = (1 to 4).map(j => (i * 10 + j, s"v$i$j"))
      e.insert(rows.toDF("k", "v").repartition(4), autoVacuumMaxParts = 10)
    }
    def liveParts(): Int = {
      val (v, _) = e.stamp
      val files = new java.io.File(s"$base/autovac/data_v$v").listFiles()
      files.count(_.getName.startsWith("part-"))
    }
    liveParts() should be <= 10 // compaction fired
    e.stamp._1 should be > 1 // vacuum swapped to a new version
    // content preserved exactly
    e.read().select("k").collect().map(_.getInt(0)).sorted shouldBe
      (0 to 3).flatMap(i => (1 to 4).map(j => i * 10 + j)).sorted
    e.drop()
  }

  test("snapshot retention: retained versions stay readable, prune past the cap") {
    val base = freshBase()
    val e = Entity.create(spark, base, "snap")
    e.insert((1 to 10).map(i => (i, s"r$i")).toDF("k", "v"))
    e.retainVersions(2)
    e.versions shouldBe Seq(1)

    // mutation 1: delete half -> v2 live, v1 retained as a snapshot
    e.deleteWhere(col("k") > 5)
    e.versions shouldBe Seq(1, 2)
    e.read().count() shouldBe 5
    e.readVersion(1).count() shouldBe 10 // the pre-delete corpus, pinned
    e.readVersion(2).count() shouldBe 5

    // mutation 2: v1 falls past retain=2 and is pruned; v2 survives
    e.vacuum(2)
    e.versions shouldBe Seq(2, 3)
    e.readVersion(2).count() shouldBe 5
    an[IllegalArgumentException] should be thrownBy e.readVersion(1)

    // retention metadata survives reopen
    Entity.open(spark, base, "snap").deleteWhere(col("k") === 1)
    Entity.open(spark, base, "snap").versions shouldBe Seq(3, 4)

    // a crash-leftover dir ABOVE the committed version (mutation died
    // before its swap) is never listed or served as a snapshot
    Files.createDirectories(java.nio.file.Paths.get(base, "snap", "data_v99"))
    e.versions shouldBe Seq(3, 4)
    an[IllegalArgumentException] should be thrownBy e.readVersion(99)
    e.drop()
  }

  test("diffVersions: added/removed/changed by key fingerprint across snapshots") {
    val base = freshBase()
    val e = Entity.create(spark, base, "dv").retainVersions(3)
    e.insert(Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0))
      .toDF("k", "v", "x")) // v1
    // v2: key 2 repriced (changed), key 4 appended (added)
    e.upsert(Seq((2, "b", 25.0), (4, "d", 40.0)).toDF("k", "v", "x"), "k")
    // v3: key 3 deleted (removed)
    e.deleteWhere(col("k") === 3)
    val d13 = e.diffVersions(1, 3, "k")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toSet
    d13 shouldBe Set("added" -> 4, "changed" -> 2, "removed" -> 3)
    // identical snapshots diff to nothing
    e.diffVersions(3, 3, "k").count() shouldBe 0L
    // v2 → v3 sees only the delete
    e.diffVersions(2, 3, "k").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toSet shouldBe
      Set("removed" -> 3)
    e.drop()
  }

  test("default retention keeps only the live version (old behavior)") {
    val base = freshBase()
    val e = Entity.create(spark, base, "snapdef")
    e.insert((1 to 4).map(i => (i, i)).toDF("k", "v"))
    e.deleteWhere(col("k") === 1)
    e.versions shouldBe Seq(2)
    an[IllegalArgumentException] should be thrownBy e.retainVersions(0)
    e.drop()
  }

  test("stale-index refresh rebuilds with the recorded build recipe") {
    import graft.api.IndexOps
    val base = freshBase()
    val e = Entity.create(spark, base, "refr")
    val rnd = new scala.util.Random(7)
    e.insert((0 until 60).map(i =>
      (i.toLong, Seq.fill(6)(rnd.nextFloat()))).toDF("id", "vec"))
    val opts = Map("ntables" -> "4", "nhashes" -> "1")
    e.saveIndex("lsh_vec", IndexOps.create("lsh", e.read(), Entity.ApId, "vec", opts),
      Map(IndexOps.InfoType -> "lsh", IndexOps.InfoAttribute -> "vec") ++ opts)
    // a second index saved WITHOUT a recipe cannot be refreshed
    e.saveIndex("adhoc", IndexOps.create("vaf", e.read(), Entity.ApId, "vec"))
    e.loadIndex("lsh_vec").stale shouldBe false

    e.insert((100 until 110).map(i =>
      (i.toLong, Seq.fill(6)(rnd.nextFloat()))).toDF("id", "vec"))
    e.loadIndex("lsh_vec").stale shouldBe true

    // refreshStale rebuilds only the recipe-carrying index; the ad-hoc
    // one fails loudly instead of silently rebuilding with defaults
    an[IllegalStateException] should be thrownBy IndexOps.refresh(e, "adhoc")
    IndexOps.refresh(e, "lsh_vec") shouldBe "lsh_vec"
    val refreshed = e.loadIndex("lsh_vec")
    refreshed.stale shouldBe false
    // original tuning preserved (4 tables, not the 16-table default)
    refreshed.index.asInstanceOf[graft.index.LSHIndex].projections.length shouldBe 4
    // the rebuilt table covers the appended rows (one row per id per
    // hash table — distinct ids is the corpus count)
    graft.index.IndexStore.dataFrame(spark, s"$base/refr", "lsh_vec")
      .select(Entity.ApId).distinct().count() shouldBe 70
    e.drop()
  }

  test("nsw refresh is incremental for append-only drift, full rebuild after delete") {
    import graft.api.IndexOps
    val base = freshBase()
    val e = Entity.create(spark, base, "nswr")
    val rnd = new scala.util.Random(11)
    e.insert((0 until 50).map(i =>
      (i.toLong, Seq.fill(6)(rnd.nextFloat()))).toDF("id", "vec"))
    val opts = Map("nshards" -> "2", "m" -> "4", "efc" -> "16", "ef" -> "256")
    e.saveIndex("nsw_vec",
      IndexOps.create("nsw", e.read(), Entity.ApId, "vec", opts),
      Map(IndexOps.InfoType -> "nsw", IndexOps.InfoAttribute -> "vec") ++ opts)

    e.insert((100 until 120).map(i =>
      (i.toLong, Seq.fill(6)(rnd.nextFloat()))).toDF("id", "vec"))
    e.loadIndex("nsw_vec").stale shouldBe true
    // append-only since save → the refresh must EXTEND, not rebuild:
    // bit-identical to extending the saved graph with the delta
    val saved = e.loadIndex("nsw_vec").index.asInstanceOf[graft.index.NSWIndex]
    val delta = e.read().join(saved.graph.select(
      org.apache.spark.sql.functions.col("id").as(Entity.ApId)),
      Seq(Entity.ApId), "left_anti")
    val expected = saved.extend(delta, Entity.ApId, "vec")
      .graph.orderBy("id").collect()
      .map(r => (r.getLong(1), r.getSeq[Long](3).sorted))
    IndexOps.refresh(e, "nsw_vec") shouldBe "nsw_vec"
    val refreshed = e.loadIndex("nsw_vec")
    refreshed.stale shouldBe false
    refreshed.index.asInstanceOf[graft.index.NSWIndex]
      .graph.orderBy("id").collect()
      .map(r => (r.getLong(1), r.getSeq[Long](3).sorted)) shouldBe expected

    // a delete bumps the version → extend would keep ghosts; the
    // refresh must fall back to a full rebuild over the live rows
    e.deleteWhere(col("id") < 10)
    IndexOps.refresh(e, "nsw_vec") shouldBe "nsw_vec"
    val rebuilt = e.loadIndex("nsw_vec")
    rebuilt.stale shouldBe false
    rebuilt.index.asInstanceOf[graft.index.NSWIndex]
      .graph.count() shouldBe e.read().count()
    e.drop()
  }

  test("nsw heuristic/nprobes options flow through create and survive reload") {
    import graft.api.IndexOps
    val base = freshBase()
    val e = Entity.create(spark, base, "nswh")
    val rnd = new scala.util.Random(13)
    e.insert((0 until 40).map(i =>
      (i.toLong, Seq.fill(6)(rnd.nextFloat()))).toDF("id", "vec"))
    val opts = Map("nshards" -> "2", "m" -> "4", "efc" -> "16", "ef" -> "256",
      "nprobes" -> "2", "heuristic" -> "1")
    val idx = IndexOps.create("nsw", e.read(), Entity.ApId, "vec", opts)
      .asInstanceOf[graft.index.NSWIndex]
    idx.heuristic shouldBe true
    idx.nProbes shouldBe 2
    e.saveIndex("nsw_vec", idx,
      Map(IndexOps.InfoType -> "nsw", IndexOps.InfoAttribute -> "vec") ++ opts)
    val back = e.loadIndex("nsw_vec").index.asInstanceOf[graft.index.NSWIndex]
    back.heuristic shouldBe true
    back.nProbes shouldBe 2
    // the loaded graph answers exactly in the exhaustive regime
    back.candidates(Seq.fill(6)(0.5), 40).count() shouldBe 40L
    // a typo'd knob still fails loudly instead of building a default
    an[IllegalArgumentException] should be thrownBy
      IndexOps.create("nsw", e.read(), Entity.ApId, "vec",
        Map("heuristics" -> "1"))
    e.drop()
  }

  test("refresh pins the persisted nsw heuristic flag when the recipe predates the option") {
    import graft.api.IndexOps
    val base = freshBase()
    val e = Entity.create(spark, base, "nswr")
    val rnd = new scala.util.Random(17)
    e.insert((0 until 40).map(i =>
      (i.toLong, Seq.fill(6)(rnd.nextFloat()))).toDF("id", "vec"))
    // a pre-r20 deployment: PLAIN build (the then-default), recipe
    // persisted WITHOUT a heuristic option
    val idx = graft.index.NSWIndex.build(e.read(), Entity.ApId, "vec",
      nShards = 2, m = 4, efC = 16, ef = 256, heuristic = false)
    e.saveIndex("nsw_vec", idx,
      Map(IndexOps.InfoType -> "nsw", IndexOps.InfoAttribute -> "vec",
        "nshards" -> "2", "m" -> "4", "efc" -> "16", "ef" -> "256"))
    // version bump forces the FULL-REBUILD refresh path — the rebuilt
    // graph must keep the persisted plain configuration, not silently
    // adopt the new heuristic default
    e.deleteWhere(col("id") < 5)
    IndexOps.refresh(e, "nsw_vec") shouldBe "nsw_vec"
    val rebuilt = e.loadIndex("nsw_vec").index.asInstanceOf[graft.index.NSWIndex]
    rebuilt.heuristic shouldBe false
    rebuilt.graph.count() shouldBe e.read().count()
    // and an explicit heuristic recipe keeps winning over the pin
    e.saveIndex("nsw_vec2",
      IndexOps.create("nsw", e.read(), Entity.ApId, "vec",
        Map("heuristic" -> "1", "nshards" -> "2")),
      Map(IndexOps.InfoType -> "nsw", IndexOps.InfoAttribute -> "vec",
        "heuristic" -> "1", "nshards" -> "2"))
    e.deleteWhere(col("id") >= 35)
    IndexOps.refresh(e, "nsw_vec2") shouldBe "nsw_vec2"
    e.loadIndex("nsw_vec2").index.asInstanceOf[graft.index.NSWIndex]
      .heuristic shouldBe true
    e.drop()
  }

  test("compound attribute group: scans reassemble, point lookups ride the KV half") {
    val base = freshBase()
    val e = Entity.create(spark, base, "compnd")
    e.insert((0 until 40).map(i => (i.toLong, s"d$i", i * 1.5)).toDF("id", "doc", "w"))
    e.transferAttributes(Seq("doc"), "compound")
    e.attributeGroups.map(_.handler) shouldBe Seq("compound")

    // full reads reassemble the compound group's scan half by ap_id
    e.count() shouldBe 40
    e.read().filter(col("doc") === "d7").count() shouldBe 1

    // point lookups route to the group's KV half, bucket-pruned
    val someId = e.read().filter(col("id") === 5L)
      .select(Entity.ApId).collect().head.getLong(0)
    val row = e.kvLookup(Seq(someId)).collect()
    row should have length 1
    row.head.getAs[String]("doc") shouldBe "d5"

    // folding back to parquet dissolves the group and keeps the rows
    e.transferAttributes(Seq("doc"), "parquet")
    e.attributeGroups shouldBe empty
    e.count() shouldBe 40
    e.drop()
  }

  test("insert with attribute groups never auto-vacuums the groups away") {
    val base = freshBase()
    val e = Entity.create(spark, base, "grpvac")
    e.insert((0 until 20).map(i => (i.toLong, s"d$i")).toDF("id", "doc"))
    e.transferAttributes(Seq("doc"), "keyvalue")
    val vAfterTransfer = e.stamp._1
    // many tiny batches past the cap: with a keyvalue group present the
    // auto-vacuum must NOT fire (it would fold the group back to parquet)
    (0 until 4).foreach { b =>
      e.insert((0 until 4).map(i => (100L + b * 10 + i, s"n$b$i"))
        .toDF("id", "doc").repartition(4), autoVacuumMaxParts = 2)
    }
    e.stamp._1 shouldBe vAfterTransfer // no vacuum swap
    e.attributeGroups.map(_.handler) shouldBe Seq("keyvalue")
    e.count() shouldBe 36
    // the appended rows reassemble with their group attribute, and the
    // point-lookup path still serves them
    val newId = e.read().filter(col("doc") === "n00").select(Entity.ApId)
      .collect().head.getLong(0)
    e.kvLookup(Seq(newId)).collect().head.getAs[String]("doc") shouldBe "n00"
    // explicit vacuum is still allowed and folds the group deliberately
    e.vacuum()
    e.attributeGroups shouldBe empty
    e.count() shouldBe 36
    e.drop()
  }

  test("tile layout: lossless pruned radius reads, appends land in tile dirs") {
    val base = freshBase()
    val e = Entity.create(spark, base, "geo")
    def batch(from: Int, n: Int) =
      (from until from + n).map(i =>
        (i.toLong, (i % 17) * 1.0, (i % 13) * 1.0)).toDF("id", "x", "y")
    e.insert(batch(0, 150))
    e.partitionLayout(graft.core.Partitioning.Tile("x", "y", 4.0))
    val l = Entity.open(spark, base, "geo").layout.get
    l.mode shouldBe "tile"
    l.keyCol shouldBe "x,y"
    l.centroids(0)(0) shouldBe 4.0
    def tileDirs(): Int = {
      val (v, _) = e.stamp
      new java.io.File(s"$base/geo/data_v$v").listFiles()
        .count(_.getName.startsWith("ap_partition="))
    }
    tileDirs() should be >= 4
    // pruned radius read == full-scan filter (lossless cover)
    val (qx, qy, r) = (8.0, 6.0, 5.0)
    def inDisc(df: org.apache.spark.sql.DataFrame) = df.filter(
      (col("x") - qx) * (col("x") - qx) + (col("y") - qy) * (col("y") - qy)
        <= r * r).select("id").as[Long].collect().toSet
    val pruned = inDisc(e.readPrunedRadius(qx, qy, r))
    pruned shouldBe inDisc(e.read())
    pruned.size should be > 10
    // the pruned scan lists only covered tile dirs
    e.readPrunedRadius(qx, qy, r).queryExecution.executedPlan.toString should
      include("PartitionFilters: [ap_partition")
    // appends assign tiles (no relayout rewrite); new rows are pruned-visible
    e.insert(batch(150, 30))
    e.count() shouldBe 180
    inDisc(e.readPrunedRadius(qx, qy, r)) shouldBe inDisc(e.read())
    // non-tile layouts refuse the radius read
    intercept[Exception] {
      Entity.create(spark, freshBase(), "flat").readPrunedRadius(0, 0, 1)
    }
  }

  test("ecp partition layout round-trips and survives insert and vacuum") {
    val base = freshBase()
    val e = Entity.create(spark, base, "laid")
    val rnd = new scala.util.Random(3)
    def batch(from: Int, n: Int) =
      (from until from + n).map(i => (i.toLong, Seq.fill(4)(rnd.nextGaussian())))
        .toDF("id", "vec")
    e.insert(batch(0, 200))
    e.partitionLayout(graft.core.Partitioning.Ecp("vec", 4))
    val l = Entity.open(spark, base, "laid").layout.get // re-opened: from disk
    l.mode shouldBe "ecp"
    l.keyCol shouldBe "vec"
    l.centroids.length should be >= 2
    // physical layout: one directory per leader
    def leaderDirs(): Int = {
      val (v, _) = e.stamp
      new java.io.File(s"$base/laid/data_v$v").listFiles()
        .count(_.getName.startsWith("ap_partition="))
    }
    leaderDirs() should be >= 2
    // insert APPENDS into leader directories (no relayout rewrite)
    e.insert(batch(200, 50))
    e.count() shouldBe 250
    leaderDirs() should be >= 2
    e.read().columns should contain("ap_partition")
    // pruned read: keep=all is lossless; keep=1 is a strict subset
    e.readPruned(Seq.fill(4)(0.0), keep = l.centroids.length).count() shouldBe 250
    val kept = e.readPruned(Seq.fill(4)(0.0), keep = 1)
    kept.count() should be < 250L
    // every kept row's nearest leader is the kept partition (assignment
    // consistency between write path and append path)
    e.vacuum()
    e.count() shouldBe 250 // vacuum preserved content and layout
    Entity.open(spark, base, "laid").layout shouldBe defined
    leaderDirs() should be >= 2
    e.drop()
  }

  test("bycolumn layout gives lossless key-skip reads through the entity") {
    val base = freshBase()
    val e = Entity.create(spark, base, "keyed")
    e.insert((0 until 90).map(i => (i.toLong, i % 3, s"r$i")).toDF("id", "grp", "v"))
    e.partitionLayout(graft.core.Partitioning.ByColumn("grp"))
    e.readPrunedKeys(Seq(1)).select("id").collect().map(_.getLong(0)).sorted shouldBe
      (0 until 90).filter(_ % 3 == 1).map(_.toLong).toArray
    // delete keeps the layout
    e.deleteWhere(col("grp") === 2)
    e.count() shouldBe 60
    e.layout shouldBe defined
    e.readPrunedKeys(Seq(0)).count() shouldBe 30
    e.drop()
  }

  test("auto-vacuum does not livelock when layout keys exceed the part cap") {
    val base = freshBase()
    val e = Entity.create(spark, base, "manykeys")
    // 30 distinct keys -> >= 30 part files forever; cap 10 must NOT
    // trigger a full rewrite on every insert (vacuum can never compact
    // below one file per partition directory)
    e.insert((0 until 30).map(i => (i.toLong, i)).toDF("id", "grp"))
    e.partitionLayout(graft.core.Partitioning.ByColumn("grp"))
    val vAfterLayout = e.stamp._1
    e.insert((100 until 130).map(i => (i.toLong, i - 100)).toDF("id", "grp"),
      autoVacuumMaxParts = 10)
    e.stamp._1 shouldBe vAfterLayout // append stayed O(batch): no vacuum swap
    e.count() shouldBe 60
    e.drop()
  }

  test("drifted batch without the layout key column falls back to union-rewrite") {
    val base = freshBase()
    val e = Entity.create(spark, base, "driftlay")
    e.insert((0 until 10).map(i => (i.toLong, i % 2, s"v$i")).toDF("id", "grp", "v"))
    e.partitionLayout(graft.core.Partitioning.ByColumn("grp"))
    // batch lacks grp entirely: must not crash on partition assignment
    e.insert(Seq((100L, "novel")).toDF("id", "v"))
    e.count() shouldBe 11
    e.read().filter(col("id") === 100L).count() shouldBe 1
    e.drop()
  }

  test("insert with a type-drifted column falls back to union-rewrite, not mixed files") {
    val base = freshBase()
    val e = Entity.create(spark, base, "drift")
    e.insert((1 to 5).toDF("k"))
    e.insert(Seq(6.5, 7.5).toDF("k")) // same name, wider type
    val back = e.read()
    back.count() shouldBe 7 // readable — no mixed-type parquet directory
    back.schema("k").dataType.typeName shouldBe "double"
    e.drop()
  }

  test("delete-by-predicate removes matching rows via version swap") {
    val base = freshBase()
    val e = Entity.create(spark, base, "del")
    e.insert((1 to 10).toDF("k"))
    val n = e.deleteWhere(col("k") % 2 === 0)
    n shouldBe 5
    e.read().select("k").collect().map(_.getInt(0)).toSet shouldBe Set(1, 3, 5, 7, 9)
    e.drop()
  }

  test("upsert replaces rows by key, appends new keys, one version swap") {
    val base = freshBase()
    val e = Entity.create(spark, base, "ups")
    e.insert(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"))
    e.upsert(Seq((2, "B"), (4, "d")).toDF("k", "v"), "k")
    e.read().select("k", "v").collect().map(r => (r.getInt(0), r.getString(1)))
      .toSet shouldBe Set((1, "a"), (2, "B"), (3, "c"), (4, "d"))
    // untouched rows keep their ap_id batch prefix (batch 1); replaced
    // and new rows carry the fresh batch counter
    val batches = e.read().select("k", Entity.ApId).collect()
      .map(r => r.getInt(0) -> (r.getLong(1) >> 48)).toMap
    batches(1) shouldBe 1L
    batches(3) shouldBe 1L
    batches(2) shouldBe 2L
    batches(4) shouldBe 2L
    e.drop()
  }

  test("upsert into an empty entity is an insert") {
    val base = freshBase()
    val e = Entity.create(spark, base, "upsnew")
    e.upsert(Seq((1, "a")).toDF("k", "v"), "k")
    e.count() shouldBe 1
    e.drop()
  }

  test("upsert refuses ambiguous (duplicate-key) and drifted batches") {
    val base = freshBase()
    val e = Entity.create(spark, base, "upsbad")
    e.insert(Seq((1, "a")).toDF("k", "v"))
    an[IllegalArgumentException] should be thrownBy
      e.upsert(Seq((2, "x"), (2, "y")).toDF("k", "v"), "k")
    an[IllegalArgumentException] should be thrownBy
      e.upsert(Seq((2, "x", 1.0)).toDF("k", "v", "extra"), "k")
    // failed upserts left the table untouched
    e.read().select("v").collect().map(_.getString(0)).toSet shouldBe Set("a")
    e.drop()
  }

  test("upsert keeps a bycolumn layout's directory structure") {
    val base = freshBase()
    val e = Entity.create(spark, base, "upslay")
    e.insert(Seq((1, "x", "g1"), (2, "y", "g2")).toDF("k", "v", "g"))
    e.partitionLayout(graft.core.Partitioning.ByColumn("g"))
    e.upsert(Seq((2, "Y", "g2"), (3, "z", "g1")).toDF("k", "v", "g"), "k")
    e.read().select("k", "v").collect().map(r => (r.getInt(0), r.getString(1)))
      .toSet shouldBe Set((1, "x"), (2, "Y"), (3, "z"))
    // the partition directories survived the merge rewrite
    val dataDirs = new java.io.File(base, "upslay").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("data_v")).map(_.getName)
    val latest = dataDirs.sortBy(n => n.stripPrefix("data_v").toInt).last
    new java.io.File(new java.io.File(base, "upslay"), latest).listFiles()
      .map(_.getName).filter(_.startsWith(graft.core.Partitioning.PartitionCol))
      .length should be >= 2
    e.drop()
  }

  test("vacuum rewrites with requested partition count") {
    val base = freshBase()
    val e = Entity.create(spark, base, "vac")
    e.insert((1 to 100).toDF("k"))
    e.vacuum(numPartitions = 3)
    e.read().rdd.getNumPartitions shouldBe 3
    e.count() shouldBe 100
    e.drop()
  }

  test("sparsify converts dense vectors to (indices, values, length)") {
    val base = freshBase()
    val e = Entity.create(spark, base, "sparse")
    e.insert(Seq((1L, Seq(0.0f, 2.5f, 0.0f, 1.5f))).toDF("k", "vec"))
    e.sparsify("vec")
    val r = e.read().select("vec.indices", "vec.values", "vec.length").head()
    r.getSeq[Int](0) shouldBe Seq(1, 3)
    r.getSeq[Float](1) shouldBe Seq(2.5f, 1.5f)
    r.getInt(2) shouldBe 4
    e.drop()
  }

  test("entity-attached index persists, reloads, and goes stale on insert") {
    val base = freshBase()
    val e = Entity.create(spark, base, "vecs")
    val rows = (0L until 60L).map(i =>
      (i, Seq.tabulate(8)(d => ((i * 7 + d * 3) % 13).toFloat)))
    e.insert(rows.toDF("vid", "vec"))
    val idx = graft.index.VAIndex.buildFixed(e.read(), "vid", "vec", p = 2.0)
    e.saveIndex("va_main", idx)
    e.listIndexes shouldBe Seq("va_main")

    val fresh = e.loadIndex("va_main")
    fresh.stale shouldBe false
    val q = rows.head._2.map(_.toDouble)
    fresh.index.candidates(q, 10).count() should be > 0L

    e.insert(Seq((100L, Seq.fill(8)(1.0f))).toDF("vid", "vec"))
    e.loadIndex("va_main").stale shouldBe true // reference Index.scala:162-169

    e.dropIndex("va_main")
    e.listIndexes shouldBe empty
    e.drop()
  }

  test("index saved during an in-flight insert can never read fresh afterwards") {
    val base = freshBase()
    val e = Entity.create(spark, base, "pend")
    val rows = (0L until 60L).map(i =>
      (i, Seq.tabulate(8)(d => ((i * 7 + d * 3) % 13).toFloat)))
    e.insert(rows.toDF("vid", "vec"))
    e.stamp._2 should be > 0 // completed insert: positive counter
    // simulate the mid-insert window (counter burned as pending, data
    // writes in flight) by flipping the marker a crashed append leaves
    val metaPath = java.nio.file.Paths.get(base, "pend", "_meta.json")
    val completed = new String(Files.readAllBytes(metaPath))
    completed should include(""""pending":false""")
    Files.write(metaPath, completed
      .replace(""""pending":false""", """"pending":true""").getBytes)
    val racing = Entity.open(spark, base, "pend")
    racing.stamp._2 should be < 0 // never equals any completed stamp
    // an index persisted inside the window records the pending stamp
    racing.saveIndex("va_race",
      graft.index.VAIndex.buildFixed(racing.read(), "vid", "vec", p = 2.0))
    // the racing insert's append lands; the marker clears
    Files.write(metaPath, completed.getBytes)
    // stamp equality must imply full visibility: the mid-insert index
    // reads STALE (the pre-pending ordering read it falsely fresh)
    Entity.open(spark, base, "pend").loadIndex("va_race").stale shouldBe true
    e.drop()
  }

  test("an index built over a read taken before an insert saves stale") {
    val base = freshBase()
    val e = Entity.create(spark, base, "late")
    val rows = (0L until 60L).map(i =>
      (i, Seq.tabulate(8)(d => ((i * 7 + d * 3) % 13).toFloat)))
    e.insert(rows.toDF("vid", "vec"))
    val builtAt = e.stamp
    val scanned = e.read()
    e.insert(Seq((100L, Seq.fill(8)(1.0f))).toDF("vid", "vec")) // lands mid-build
    e.saveIndex("va_late",
      graft.index.VAIndex.buildFixed(scanned, "vid", "vec", p = 2.0), builtAt = builtAt)
    e.loadIndex("va_late").stale shouldBe true
    // the shared build-and-save stamps its own scan: fresh until the next insert
    graft.api.IndexOps.createAll(e, "vec", Seq("vaf"), idCol = "vid") shouldBe Seq("vaf_vec")
    e.loadIndex("vaf_vec").stale shouldBe false
    e.indexBuildInfo("vaf_vec") shouldBe Map(
      "indextype" -> "vaf", "attribute" -> "vec", "idcol" -> "vid")
    e.insert(Seq((101L, Seq.fill(8)(2.0f))).toDF("vid", "vec"))
    e.loadIndex("vaf_vec").stale shouldBe true
    e.drop()
  }

  test("exists / list / duplicate-create rejection") {
    val base = freshBase()
    Entity.create(spark, base, "one")
    Entity.create(spark, base, "two")
    Entity.exists(base, "one") shouldBe true
    Entity.exists(base, "none") shouldBe false
    Entity.list(base).toSet shouldBe Set("one", "two")
    an[IllegalArgumentException] should be thrownBy Entity.create(spark, base, "one")
    an[IllegalArgumentException] should be thrownBy Entity.create(spark, base, "bad name!")
  }

  test("import csv into entity and export parquet") {
    val base = freshBase()
    val csvDir = SharedSpark.tempDir("graft-csv")
    Files.write(csvDir.resolve("in.csv"), "k,v\n1,x\n2,y\n".getBytes)
    val df = ImportExport.importTable(spark, "csv", csvDir.toString,
      Map("header" -> "true", "inferSchema" -> "true"))
    val e = Entity.create(spark, base, "imported")
    ImportExport.importInto(e, df)
    e.count() shouldBe 2
    val out = SharedSpark.tempDir("graft-out").toString + "/exp"
    ImportExport.export(e.read(), "parquet", out)
    spark.read.parquet(out).count() shouldBe 2
    e.drop()
  }

  test("random data generator is deterministic and distributed") {
    val a = RandomData.generate(spark, 100, 8).collect()
    val b = RandomData.generate(spark, 100, 8).collect()
    a.map(_.toString).toSeq shouldBe b.map(_.toString).toSeq
    a.length shouldBe 100
    all(a.map(_.getSeq[Float](1).size)) shouldBe 8
    val g = RandomData.generateGaussian(spark, 1000, 4)
      .select(explode(col("feature")).as("x")).agg(avg("x"), stddev("x")).head()
    g.getDouble(0) should be(0.0 +- 0.15)
    g.getDouble(1) should be(1.0 +- 0.15)
  }
}
