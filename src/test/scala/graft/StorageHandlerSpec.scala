package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.StorageHandlers

/** Storage-handler seam: write/read/exists/drop per format + transfer. */
class StorageHandlerSpec extends SparkSpec {

  import spark.implicits._

  private lazy val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("k", "s", "x")

  test("parquet/orc/json/csv handlers round-trip") {
    for (name <- Seq("parquet", "orc", "json", "csv")) {
      val h = StorageHandlers(name)
      val store = SharedSpark.tempDir(s"graft-$name").toString + "/t"
      h.exists(spark, store) shouldBe false
      h.write(spark, store, df, overwrite = true)
      h.exists(spark, store) shouldBe true
      val back = h.read(spark, store)
      back.count() shouldBe 2
      h.drop(spark, store)
      h.exists(spark, store) shouldBe false
    }
  }

  test("key-value handler: point lookups prune buckets; full read hides the bucket column") {
    val h = StorageHandlers.keyValue("k", nBuckets = 8)
    val store = SharedSpark.tempDir("graft-kv-spec").toString + "/t"
    val data = (0L until 100L).map(i => (i, s"v$i", i * 0.5)).toDF("k", "s", "x")
    h.write(spark, store, data, overwrite = true)

    // full read: same rows, no internal bucket column
    val back = h.read(spark, store)
    back.columns should not contain "__kv_bucket"
    back.count() shouldBe 100

    // point lookup returns exactly the requested keys
    val got = h.get(spark, store, Seq(3L, 42L, 99L))
    got.columns should not contain "__kv_bucket"
    got.select("k", "s").as[(Long, String)].collect().toSet shouldBe
      Set((3L, "v3"), (42L, "v42"), (99L, "v99"))

    // the lookup plan prunes to the keys' bucket directories
    val plan = h.get(spark, store, Seq(3L)).queryExecution.executedPlan.toString
    plan should include regex "PartitionFilters: \\[[^\\]]*__kv_bucket"

    // appends land in the same layout and stay retrievable
    h.write(spark, store, Seq((1000L, "v1000", 0.0)).toDF("k", "s", "x"), overwrite = false)
    h.get(spark, store, Seq(1000L)).count() shouldBe 1

    // literals of a narrower type must still hit: hash is type-sensitive,
    // so get() casts keys to the stored column type before bucketing
    h.get(spark, store, Seq(42: Int)).count() shouldBe 1
    h.drop(spark, store)
  }

  test("compound handler: columnar scans + bucket-pruned point lookups over the same rows") {
    val h = StorageHandlers.compound("k", nBuckets = 8)
    val store = SharedSpark.tempDir("graft-comp-spec").toString + "/t"
    val data = (0L until 100L).map(i => (i, s"v$i", i * 0.5)).toDF("k", "s", "x")
    h.exists(spark, store) shouldBe false
    h.write(spark, store, data, overwrite = true)
    h.exists(spark, store) shouldBe true

    // full scan serves from the columnar half: pushdown works, no
    // internal bucket column leaks
    val scanned = h.read(spark, store, Seq(col("x") > 48.0))
    scanned.columns should not contain "__kv_bucket"
    scanned.count() shouldBe 3 // k = 97, 98, 99
    scanned.queryExecution.executedPlan.toString should include("PushedFilters: [")

    // point lookup serves from the KV half with bucket-directory pruning
    val got = h.get(spark, store, Seq(3L, 42L))
    got.select("k", "s").as[(Long, String)].collect().toSet shouldBe
      Set((3L, "v3"), (42L, "v42"))
    h.get(spark, store, Seq(3L)).queryExecution.executedPlan.toString should
      include regex "PartitionFilters: \\[[^\\]]*__kv_bucket"

    // params expose the duality for the wire surface
    h.params("scan") shouldBe "parquet"
    h.params("random_key") shouldBe "k"

    h.drop(spark, store)
    h.exists(spark, store) shouldBe false
  }

  test("predicates are applied (and pushed) on handler reads") {
    val h = StorageHandlers("parquet")
    val store = SharedSpark.tempDir("graft-pred").toString + "/t"
    h.write(spark, store, df, overwrite = true)
    val got = h.read(spark, store, Seq(col("x") > 2.0))
    got.collect().map(_.getLong(0)).toSeq shouldBe Seq(2L)
    got.queryExecution.executedPlan.toString should include("PushedFilters: [")
  }

  test("transfer moves data between engines") {
    val from = SharedSpark.tempDir("graft-from").toString + "/t"
    val to = SharedSpark.tempDir("graft-to").toString + "/t"
    StorageHandlers("parquet").write(spark, from, df, overwrite = true)
    StorageHandlers.transfer(spark, StorageHandlers("parquet"), from,
      StorageHandlers("json"), to)
    StorageHandlers("json").read(spark, to).count() shouldBe 2
  }

  test("unknown handler rejected") {
    an[IllegalArgumentException] should be thrownBy StorageHandlers("cassandra")
  }

  test("full-text store: index-served BM25/match == fresh scan; term lookups prune buckets") {
    import graft.sources.FullTextStore
    import graft.operators.TextSearch
    val docs = Seq(
      (1L, "vector search with hash join"),
      (2L, "hash join and merge join"),
      (3L, "btree scan only"),
      (4L, "vector vector vector hash"),
      (5L, "plain prose about nothing")
    ).toDF("doc_id", "text")
    val dir = SharedSpark.tempDir("graft-fts").toString + "/idx"
    FullTextStore.exists(dir) shouldBe false
    FullTextStore.write(spark, dir, docs, "doc_id", "text", nBuckets = 16)
    FullTextStore.exists(dir) shouldBe true
    val terms = Seq("vector", "hash")

    // rankings agree with the scan-time implementation to the bit
    val fromIndex = FullTextStore.bm25TopK(spark, dir, terms, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val fromScan = TextSearch.bm25TopK(docs, "doc_id", "text", terms, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    fromIndex shouldBe fromScan
    fromIndex.head._1 shouldBe 4L // tf-heavy doc ranks first

    FullTextStore.matchAll(spark, dir, terms).collect().map(_.getLong(0)).sorted
      .toSeq shouldBe Seq(1L, 4L)

    // the term lookup is PARTITION-pruned: the scan carries a partition
    // filter on ap_bucket and touches fewer files than the layout holds
    val lookup = FullTextStore.termPostings(spark, dir, terms)
    lookup.collect() // materialize so metrics fill
    val scan = lookup.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    scan.metadata("PartitionFilters") should include("ap_bucket")
    val allFiles = spark.read.parquet(s"$dir/postings").inputFiles.length.toLong
    scan.metrics("numFiles").value should be < allFiles

    // phrase served from STORED POSITIONS (no text access) and any-term
    // match agree with the scan-time implementations
    FullTextStore.phraseMatch(spark, dir, Seq("hash", "join"))
      .collect().map(_.getLong(0)).sorted.toSeq shouldBe
      TextSearch.phraseMatch(docs, "text", Seq("hash", "join"))
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // doc 4 repeats "vector": the 3-term run must need true adjacency
    FullTextStore.phraseMatch(spark, dir, Seq("vector", "vector", "hash"))
      .collect().map(_.getLong(0)).toSeq shouldBe Seq(4L)
    FullTextStore.phraseMatch(spark, dir, Seq("join", "hash"))
      .collect() shouldBe empty // right words, wrong order
    FullTextStore.matchAny(spark, dir, Seq("btree", "merge"))
      .collect().map(_.getLong(0)).sorted.toSeq shouldBe Seq(2L, 3L)

    FullTextStore.drop(dir)
    FullTextStore.exists(dir) shouldBe false

    // an EMPTY corpus still stores and serves (typed empty relations,
    // no parquet schema-inference failure)
    val emptyDir = SharedSpark.tempDir("graft-fts-e").toString + "/idx"
    FullTextStore.write(spark, emptyDir, docs.limit(0), "doc_id", "text")
    FullTextStore.matchAll(spark, emptyDir, Seq("vector")).collect() shouldBe empty
    FullTextStore.bm25TopK(spark, emptyDir, Seq("vector"), 5).collect() shouldBe empty
    FullTextStore.drop(emptyDir)
  }

  test("full-text store property: index-served == scan-served on generated corpora") {
    import graft.sources.FullTextStore
    import graft.operators.TextSearch
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // small vocabulary so terms repeat and phrases actually occur
    val vocab = Seq("ann", "btree", "cost", "disk", "eval", "fuse", "graph")
    val doc: Gen[String] = Gen.chooseNum(0, 18).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    def sample[T](g: Gen[T], seed: Long): T =
      g.pureApply(Gen.Parameters.default, Seed(seed))
    (1L to 8L).foreach { seed =>
      val texts = sample(Gen.listOfN(10, doc), seed)
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val dir = SharedSpark.tempDir("graft-fts-p").toString + "/idx"
      FullTextStore.write(spark, dir, docs, "doc_id", "text", nBuckets = 8)
      val terms = sample(Gen.pick(2, vocab), seed + 100).toSeq
      withClue(s"seed $seed terms $terms: ") {
        FullTextStore.bm25TopK(spark, dir, terms, 10)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq shouldBe
          TextSearch.bm25TopK(docs, "doc_id", "text", terms, 10)
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        FullTextStore.matchAll(spark, dir, terms)
          .collect().map(_.getLong(0)).sorted.toSeq shouldBe
          TextSearch.matchAll(docs, "text", terms)
            .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
        FullTextStore.phraseMatch(spark, dir, terms)
          .collect().map(_.getLong(0)).sorted.toSeq shouldBe
          TextSearch.phraseMatch(docs, "text", terms)
            .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      }
      FullTextStore.drop(dir)
    }
  }

  test("jdbc handler round-trips against embedded Derby with pushdown") {
    val dbDir = SharedSpark.tempDir("graft-derby").toString + "/db"
    System.setProperty("derby.stream.error.file", "/dev/null")
    val h = new graft.sources.JdbcHandler("jdbc", s"jdbc:derby:$dbDir;create=true")
    h.exists(spark, "tbl") shouldBe false
    h.write(spark, "tbl", df, overwrite = true)
    h.exists(spark, "tbl") shouldBe true
    h.read(spark, "tbl").count() shouldBe 2
    // append then overwrite semantics
    h.write(spark, "tbl", df, overwrite = false)
    h.read(spark, "tbl").count() shouldBe 4
    h.write(spark, "tbl", df, overwrite = true)
    h.read(spark, "tbl").count() shouldBe 2
    // predicate reaches the database scan, not a post-filter
    val got = h.read(spark, "tbl", Seq(col("x") > 2.0))
    got.collect().map(_.getLong(0)).toSeq shouldBe Seq(2L)
    got.queryExecution.executedPlan.toString should include("PushedFilters: [")
    // transfer from a file engine into the database
    val from = SharedSpark.tempDir("graft-j-from").toString + "/t"
    StorageHandlers("parquet").write(spark, from, df, overwrite = true)
    StorageHandlers.transfer(spark, StorageHandlers("parquet"), from, h, "tbl2")
    h.read(spark, "tbl2").count() shouldBe 2
    h.drop(spark, "tbl")
    h.exists(spark, "tbl") shouldBe false
  }
}
