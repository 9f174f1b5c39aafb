package graft

import org.apache.spark.sql.functions._

import graft.operators.{Ann, Dedup, TextAnalysis}

/** LLM-pipeline operators: dedup (exact, MinHash, SimHash), text
  * analysis, and ANN search on synthetic corpora. */
class DedupTextSpec extends SparkSpec {

  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "the quick brown fox jumps over the lazy dog again and again"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat again and again"), // near dup of 0
    (3L, "completely different content about spark query engines at scale"),
    (4L, "  The  Quick Brown Fox jumps over the lazy dog again and again ") // dup after normalize
  ).toDF("doc_id", "text")

  test("exact dedup groups by normalized content") {
    val g = Dedup.exactGroups(docs, "text", "doc_id").collect()
    g.length shouldBe 3
    val big = g.filter(_.getLong(1) == 3L)
    big.length shouldBe 1
    big.head.getLong(2) shouldBe 0L // survivor = min id of {0,1,4}
  }

  test("dropExactDups keeps one row per content") {
    Dedup.dropExactDups(docs, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(0L, 2L, 3L)
  }

  test("dropExactDupsBy keeps the best-priority duplicate, not the first") {
    // {0,1,4} share normalized content; 4's raw text is the longest
    // (extra whitespace), so length-priority keeps 4 instead of 0
    Dedup.dropExactDupsBy(docs, "text", "doc_id",
        org.apache.spark.sql.functions.length(col("text")))
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(4L, 2L, 3L)
  }

  test("nearDupKeepBest keeps the longest row per near-dup cluster; unclustered pass") {
    // {0,1,2,4} cluster via minhash (0/1/4 exact after normalize, 2 near);
    // 4's raw text is the longest -> priority keeps 4; 3 is unclustered
    Dedup.nearDupKeepBest(docs, "text", "doc_id", threshold = 0.4,
        priority = org.apache.spark.sql.functions.length(col("text")))
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(4L, 3L)
  }

  test("nearDupKeepBest fails fast on a non-castable id instead of no-opping") {
    // a non-numeric string id casts to null → every join would match
    // nothing and the operator would silently return its input unchanged
    val badIds = docs.withColumn("doc_id",
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("doc-"), col("doc_id")))
    val ex = intercept[Exception] {
      Dedup.nearDupKeepBest(badIds, "text", "doc_id", threshold = 0.4,
        priority = org.apache.spark.sql.functions.length(col("text"))).count()
    }
    ex.getMessage should include("not castable to long")
    // numeric STRING ids still cast fine and behave as before
    val strIds = docs.withColumn("doc_id", col("doc_id").cast("string"))
    Dedup.nearDupKeepBest(strIds, "text", "doc_id", threshold = 0.4,
        priority = org.apache.spark.sql.functions.length(col("text")))
      .select("doc_id").collect().map(_.getString(0)).toSet shouldBe Set("4", "3")
  }

  test("minhash LSH finds near-dup pairs and none across unrelated docs") {
    val pairs = Dedup.minhashNearDupPairs(docs, "text", "doc_id", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // {0,1,4} mutual exact dups + each near-dup with 2
    pairs should contain allOf ((0L, 1L), (0L, 4L), (1L, 4L))
    pairs should contain((0L, 2L))
    pairs.exists(p => p._1 == 3L || p._2 == 3L) shouldBe false
  }

  test("minhash jaccard of exact dups is 1.0") {
    val j = Dedup.minhashNearDupPairs(docs, "text", "doc_id", 0.4)
      .filter($"id_a" === 0L && $"id_b" === 1L).head().getDouble(2)
    j shouldBe 1.0
  }

  test("ngram jaccard prefix join is lossless vs the cartesian") {
    // larger corpus with graded overlap so the prefix filter actually
    // prunes: 12 docs, several near-threshold pairs
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta mu nu"),
      (3L, "alpha beta gamma delta epsilon xi omicron pi rho sigma"),
      (4L, "tau upsilon phi chi psi omega one two three four"),
      (5L, "tau upsilon phi chi psi omega one two three five"),
      (6L, "entirely disjoint vocabulary with no shared trigrams here"),
      (7L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // dup of 0
      (8L, "one two three four five six seven eight nine ten"),
      (9L, "one two three four five six seven eight nine eleven"),
      (10L, "spark scans shuffle joins aggregate sort exchange partition"),
      (11L, "spark scans shuffle joins aggregate sort exchange broadcast")
    ).toDF("doc_id", "text")
    // candidate generation is an equi-join on the shingle key — never a
    // product, whatever the threshold (asserted on the lazy plan: the
    // public API checkpoints eagerly, which hides the join shape)
    val (lazyPairs, planCached) = Dedup.ngramJaccardPlan(corpus, "text", "doc_id", 0.5, 3)
    val plan = lazyPairs.queryExecution.executedPlan.toString
    planCached.foreach(_.unpersist())
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
    for (t <- Seq(0.3, 0.5, 0.7)) {
      val got = Dedup.ngramJaccardNearDupPairs(corpus, "text", "doc_id", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // brute-force exact all-pairs ground truth
      val sh = corpus.select($"doc_id",
        Dedup.shingles($"text", 3).as("sh")).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
      val want = (for {
        a <- sh.keys; b <- sh.keys if a < b
        j = sh(a).intersect(sh(b)).size.toDouble /
          (sh(a).size + sh(b).size - sh(a).intersect(sh(b)).size)
        if j >= t
      } yield (a, b, math.round(j * 10000) / 10000.0)).toSet
      got shouldBe want
      withClue(s"t=$t expected some pruning survivors:") { want should not be empty }
    }
  }

  test("simhash corpus admission flags near-dups, passes novel docs") {
    val corpus = docs.filter($"doc_id" < 3)
    val idx = Dedup.simhashIndexCorpus(corpus, "text", "doc_id")
    val incoming = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"), // dup of 0,1
      (11L, "an entirely unrelated report on columnar storage formats")
    ).toDF("doc_id", "text")
    val flagged = Dedup.simhashAgainstCorpus(incoming, "text", "doc_id", idx, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    flagged should contain allOf ((10L, 0L), (10L, 1L))
    flagged.map(_._1) should not contain 11L
    idx.release()
  }

  test("simhash corpus admission runs on a stream via foreachBatch") {
    implicit val sqlCtx = spark.sqlContext
    val idx = Dedup.simhashIndexCorpus(docs.filter($"doc_id" < 3), "text", "doc_id")
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val seen = scala.collection.mutable.Set.empty[(Long, Long)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Dedup.simhashAgainstCorpus(batch, "text", "doc_id", idx, 3)
          .collect().foreach(r => seen.synchronized {
            seen += ((r.getLong(0), r.getLong(1)))
          })
      }.start()
    try {
      mem.addData((20L, "the quick brown fox jumps over the lazy dog again and again"),
        (21L, "novel text matching nothing in the reference corpus whatsoever"))
      q.processAllAvailable()
      seen.toSet should contain((20L, 0L))
      seen.map(_._1) should not contain 21L
    } finally { q.stop(); idx.release() }
  }

  test("dedupPipeline optional repetition stage drops dup-heavy docs") {
    val mixed = Seq(
      (0L, "spam spam spam spam spam spam spam spam spam spam spam spam"),
      (1L, "a varied, well formed sentence about query engines; it mentions " +
        "the optimizer and the storage layer in passing detail for color.")
    ).toDF("doc_id", "text")
    // ceilings 1.0 = stage off: both survive the repetition check
    Dedup.dedupPipeline(mixed, "text", "doc_id", 0.0, 0.9)
      .as[Long].collect().toSet shouldBe Set(0L, 1L)
    // tight dup-token ceiling: the all-same-token doc drops
    Dedup.dedupPipeline(mixed, "text", "doc_id", 0.0, 0.9,
        maxDupTokenFrac = 0.5, maxTopTokenFrac = 0.5)
      .as[Long].collect().toSet shouldBe Set(1L)
  }

  test("qualityVerdicts: first failing rule wins, ok rows keep") {
    val df = Seq(
      (0L, "x"), // too short -> low_quality
      // stopword-rich so the quality floor passes; dup-heavy so the
      // SECOND rule (dup_tokens) is the one that fires
      (1L, Seq.fill(6)("the spam and spam").mkString(" ")),
      (2L, "the data pipeline reads a table of documents and writes the " +
        "filtered rows to a new table for training runs with careful checks " +
        "and a detailed audit trail for every drop decision made on the way.")
    ).toDF("doc_id", "text")
    val v = TextAnalysis.qualityVerdicts(df, "text", "doc_id",
      minQuality = 0.5, maxDupTokenFrac = 0.6, maxTopTokenFrac = 0.5,
      maxDupBigramFrac = 0.9, maxPii = 0)
    val byId = v.collect().map(r => r.getAs[Long]("id") ->
      (r.getAs[Boolean]("keep"), r.getAs[String]("reason"))).toMap
    byId(0L) shouldBe ((false, "low_quality"))
    byId(1L) shouldBe ((false, "dup_tokens"))
    byId(2L) shouldBe ((true, "ok"))
  }

  test("extendCorpus: admitted docs are visible to the next admission check") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"))
      .toDF("doc_id", "text")
    var idx = Dedup.indexCorpus(corpus, "text", "doc_id")
    val batch1 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again tonight"), // dup of 1
      (11L, "an entirely novel report about columnar execution engines at scale"))
      .toDF("doc_id", "text")
    val flagged1 = Dedup.nearDupAgainstCorpus(batch1, "text", "doc_id", idx, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    flagged1 shouldBe Set((10L, 1L))
    // ingest the novel doc, then a near-dup of IT must flag on batch 2
    idx = Dedup.extendCorpus(idx,
      batch1.filter($"doc_id" === 11L), "text", "doc_id")
    val batch2 = Seq(
      (20L, "an entirely novel report about columnar execution engines at speed"))
      .toDF("doc_id", "text")
    val flagged2 = Dedup.nearDupAgainstCorpus(batch2, "text", "doc_id", idx, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    flagged2 shouldBe Set((20L, 11L))
    // the original corpus doc is still indexed after extension
    Dedup.nearDupAgainstCorpus(batch1.filter($"doc_id" === 10L),
        "text", "doc_id", idx, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe Set((10L, 1L))
    idx.release()
  }

  test("corpus index persists to disk and serves admission after reload") {
    val dir = SharedSpark.tempDir("graft-corpusidx").toString
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"))
      .toDF("doc_id", "text")
    val built = Dedup.indexCorpus(corpus, "text", "doc_id")
    Dedup.saveCorpusIndex(built, dir)
    built.release()
    val idx = Dedup.loadCorpusIndex(spark, dir)
    idx.numHashes shouldBe 96
    idx.numBands shouldBe 24
    idx.n shouldBe 3
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (11L, "an entirely novel report about columnar execution engines at scale"))
      .toDF("doc_id", "text")
    Dedup.nearDupAgainstCorpus(batch, "text", "doc_id", idx, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe Set((10L, 1L))
    // extend → save → reload: the incremental ingestion cycle a restarted
    // pipeline runs; the new doc must be visible after the round trip
    val extended = Dedup.extendCorpus(idx,
      batch.filter($"doc_id" === 11L), "text", "doc_id")
    Dedup.saveCorpusIndex(extended, dir)
    extended.release()
    val reloaded = Dedup.loadCorpusIndex(spark, dir)
    Dedup.nearDupAgainstCorpus(
        Seq((20L, "an entirely novel report about columnar execution engines at speed"))
          .toDF("doc_id", "text"), "text", "doc_id", reloaded, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe Set((20L, 11L))
    // save-over-self with a fully LAZY loaded index (no action in
    // between): the write-new-then-swap must not eat its own source
    Dedup.saveCorpusIndex(Dedup.loadCorpusIndex(spark, dir), dir)
    val again = Dedup.loadCorpusIndex(spark, dir)
    // doc 11 was ingested above, so it now self-flags alongside 10's dup
    Dedup.nearDupAgainstCorpus(batch, "text", "doc_id", again, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe
      Set((10L, 1L), (11L, 11L))
    again.release()
    reloaded.release()
  }

  test("contamination check: containment flags a long doc containing a benchmark item") {
    val bench = Seq(
      (100L, "what is the capital of france paris is the capital of france"))
      .toDF("doc_id", "text")
    val idx = Dedup.indexCorpus(bench, "text", "doc_id")
    val training = Seq(
      // long doc fully containing the benchmark item (low Jaccard, high containment)
      (1L, "some web page preamble text here " +
        "what is the capital of france paris is the capital of france " +
        "and plenty of trailing boilerplate about cookies and privacy policies"),
      (2L, "a completely unrelated document about spark query planning internals")
    ).toDF("doc_id", "text")
    val flagged = Dedup.contaminationAgainstCorpus(training, "text", "doc_id", idx, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    flagged.map(p => (p._1, p._2)) shouldBe Array((1L, 100L))
    flagged.head._3 should be >= 0.8
    idx.release()
  }

  test("qualityVerdictsPerRow equals the merge form on unique-id input") {
    val df = Seq(
      (0L, "x"),
      (1L, Seq.fill(6)("the spam and spam").mkString(" ")),
      (2L, "the data pipeline reads a table of documents and writes the " +
        "filtered rows to a new table for training runs with careful checks."),
      (3L, ""), (4L, null))
      .toDF("doc_id", "text")
    def run(f: (org.apache.spark.sql.DataFrame, String, String, Double, Double,
      Double, Double, Int) => org.apache.spark.sql.DataFrame) =
      f(df, "text", "doc_id", 0.5, 0.6, 0.15, 0.08, 0)
        .orderBy("id").collect().map(_.toSeq)
    run(TextAnalysis.qualityVerdictsPerRow) shouldBe run(TextAnalysis.qualityVerdicts)
  }

  test("simhash of identical docs equal; near dups within hamming 3") {
    val pairs = Dedup.simhashNearDupPairs(docs, "text", "doc_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    pairs.find(p => p._1 == 0L && p._2 == 1L).get._3 shouldBe 0
    pairs.exists(p => p._1 == 3L || p._2 == 3L) shouldBe false
  }

  test("token count and avg word length") {
    val r = docs.filter($"doc_id" === 3L)
      .select(TextAnalysis.tokenCount($"text"),
        TextAnalysis.avgWordLen($"text")).head()
    r.getInt(0) shouldBe 9
    r.getDouble(1) shouldBe (("completelydifferentcontentaboutsparkqueryenginesatscale".length) / 9.0 +- 1e-9)
  }

  test("language id picks marker-matching language, und when none") {
    val d = Seq((1L, "the cat and the dog of the house"),
      (2L, "el perro de la casa y la playa"),
      (3L, "zzz qqq www")).toDF("doc_id", "text")
    val got = d.select($"doc_id", TextAnalysis.langId($"text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    got(1L) shouldBe "en"
    got(2L) shouldBe "es"
    got(3L) shouldBe "und"
  }

  test("hashFeatures: dense bucket counts, stable hashing, zero-token docs absent") {
    val d = Seq((0L, "a b a"), (1L, "a"), (2L, "   ")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.hashFeatures(d, "text", "doc_id", dim = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    got.keySet shouldBe Set(0L, 1L)
    got(0L).sum shouldBe 3L // 3 token instances
    got(1L).sum shouldBe 1L
    got(0L).length shouldBe 8
    // "a" hashes to the same bucket in both docs: doc0's count there is 2x doc1's
    val aBucket = got(1L).indexWhere(_ > 0)
    got(0L)(aBucket) shouldBe 2L
  }

  test("learned quality classifier separates prose from spam") {
    val prose = (0 until 20).map(i =>
      (i.toLong, s"the quick analysis of the data shows that the result number $i " +
        "is within the expected range and the model performs well on this task"))
    val spam = (100 until 120).map(i =>
      (i.toLong, s"buy$i buy$i buy$i zzz$i zzz$i zzz$i click click click click"))
    val labeled = (prose.map { case (id, t) => (id, t, 1) } ++
      spam.map { case (id, t) => (id, t, -1) }).toDF("doc_id", "text", "label")
    val w = graft.operators.QualityClassifier.train(
      labeled, "text", "doc_id", "label", dim = 64)
    w should have size 64
    val scores = graft.operators.QualityClassifier.score(
        labeled, "text", "doc_id", w)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val proseScores = prose.map(p => scores(p._1))
    val spamScores = spam.map(p => scores(p._1))
    proseScores.min should be > spamScores.max // clean margin on train set
    // determinism: retraining yields identical weights
    graft.operators.QualityClassifier.train(
      labeled, "text", "doc_id", "label", dim = 64) shouldBe w
  }

  test("chunkText: overlapping windows cover the whole doc; tail kept") {
    val d = Seq(
      (0L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks: 0, 4, 8
      (1L, "a b c"),                                  // shorter than window
      (2L, "")                                        // empty: no chunks
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .chunkText(d, "text", "doc_id", window = 6, stride = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getString(2), r.getLong(3)))
      .toMap
    got((0L, 0L)) shouldBe (("t1 t2 t3 t4 t5 t6", 6L))
    got((0L, 1L)) shouldBe (("t5 t6 t7 t8 t9 t10", 6L)) // overlap of 2
    got((0L, 2L)) shouldBe (("t9 t10", 2L))             // partial tail
    got((1L, 0L)) shouldBe (("a b c", 3L))
    got.keySet shouldBe Set((0L, 0L), (0L, 1L), (0L, 2L), (1L, 0L))
  }

  test("unigram log-perplexity matches hand-computed corpus frequencies") {
    val d = Seq((0L, "a a b"), (1L, "b c"), (2L, "   ")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .unigramLogPerplexity(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // freq: a=2, b=2, c=1, total=5
    got(0L) shouldBe BigDecimal(-math.log(2.0 / 5))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    got(1L) shouldBe BigDecimal((-math.log(2.0 / 5) - math.log(1.0 / 5)) / 2)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    got.keySet shouldBe Set(0L, 1L) // zero-token doc has no score
  }

  test("bigram log-perplexity matches hand-computed interpolated probs") {
    // corpus pairs (BOS <s>): doc0 -> (<s>,a),(a,b); doc1 -> (<s>,a),(a,c)
    // big: (<s>,a)=2 (a,b)=1 (a,c)=1; ctx: <s>=2 a=2; uni: a=2 b=1 c=1 (4)
    val d = Seq((0L, "a b"), (1L, "a c"), (2L, " ")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .bigramLogPerplexity(d, "text", "doc_id", lambda = 0.7)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // replicate the exact float shape: (l*bc)/cc + ((1-l)*uc)/total
    def p(bc: Long, cc: Long, uc: Long) =
      (0.7 * bc) / cc + ((1.0 - 0.7) * uc) / 4.0
    val expect = BigDecimal((-math.log(p(2, 2, 2)) - math.log(p(1, 2, 1))) / 2)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    got(0L) shouldBe expect
    got(1L) shouldBe expect // (a,c) is count-symmetric with (a,b)
    got.keySet shouldBe Set(0L, 1L) // zero-token doc absent
  }

  test("bigram log-perplexity ranks transition-repeating boilerplate lower") {
    // same unigram profile, different transitions: doc0 repeats the
    // corpus-dominant bigram "x y"; doc1 uses rare transitions
    val d = (0L, "x y x y x y x y") ::
      (1L, "y x y x y y x x") ::
      (2 to 9).map(i => (i.toLong, "x y x y")).toList
    val got = graft.operators.TextAnalysis
      .bigramLogPerplexity(d.toDF("doc_id", "text"), "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got(0L) should be < got(1L)
  }

  test("nfc: composes decomposed sequences and singletons, ASCII unchanged") {
    import graft.functions.TextNorm
    val d = Seq(
      (0L, "e\u0301"),             // e + combining acute -> \u00e9
      (1L, "\u212B"),               // angstrom sign -> \u00C5 (singleton)
      (2L, "A\u030A"),              // A + combining ring -> \u00C5
      (3L, "plain ascii!"),         // fast path: untouched
      (4L, "caf\u00e9"),            // already NFC: untouched
      (5L, null.asInstanceOf[String])
    ).toDF("id", "s")
    val got = d.select(col("id"), TextNorm.nfc(col("s")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    got(0L) shouldBe "\u00e9"
    got(1L) shouldBe "\u00c5"
    got(2L) shouldBe "\u00c5"
    got(3L) shouldBe "plain ascii!"
    got(4L) shouldBe "caf\u00e9"
    got(5L) shouldBe null
  }

  test("cdcChunks: chunks tile the document exactly; short/empty edge docs") {
    val rnd = new scala.util.Random(11)
    val words = (1 to 100).map(_ => (1 to 5).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    val text = words.mkString(" ")
    val d = Seq((1L, text), (2L, "abc"), (3L, "")).toDF("doc_id", "text")
    val ch = Dedup.cdcChunks(d, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val doc1 = ch.filter(_._1 == 1L).sortBy(_._2)
    doc1.map(_._4).sum shouldBe text.length.toLong
    doc1.head._3 shouldBe 0L
    doc1.sliding(2).foreach {
      case Array(a, b) => b._3 shouldBe (a._3 + a._4)
      case _ =>
    }
    doc1.length should be > 3 // ~600 chars / divisor 64 -> several cuts
    // doc shorter than the window: one whole-document chunk
    ch.filter(_._1 == 2L).toSeq shouldBe Seq((2L, 0L, 0L, 3L))
    // empty doc: no rows
    ch.filter(_._1 == 3L) shouldBe empty
  }

  test("cdc property: chunks starting >= p+window survive ANY insertion at p") {
    // exact invariant of content-defined boundaries: a window that ends
    // at i only sees text[i-w+1..i], so every cut at i >= p+w in the
    // original maps to cut i+len(ins) in the edited copy, and every
    // chunk BETWEEN two such cuts keeps its content hash verbatim
    val w = 8
    for (seed <- Seq(3, 17, 41, 97, 123)) {
      val rnd = new scala.util.Random(seed)
      val base = (1 to 150)
        .map(_ => (1 to 4).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
        .mkString(" ")
      val p = rnd.nextInt(base.length - 1) + 1
      val ins = (1 to 3 + rnd.nextInt(15))
        .map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      val edited = base.substring(0, p) + ins + base.substring(p)
      val chunks = Dedup.cdcChunks(
        Seq((1L, base), (2L, edited)).toDF("doc_id", "text"), "text", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4)))
      val editedHashes = chunks.filter(_._1 == 2L).map(_._3).toSet
      val mustSurvive = chunks.filter(c => c._1 == 1L && c._2 >= p + w)
      withClue(s"seed=$seed p=$p insLen=${ins.length}: ") {
        mustSurvive.foreach(c => editedHashes should contain(c._3))
      }
    }
  }

  test("cdc re-syncs after head insertion where fixed token windows miss") {
    val rnd = new scala.util.Random(23)
    val words = (1 to 100).map(_ => (1 to 5).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    val a = words.mkString(" ")
    val b = "inserted head " + a // 2-token / 14-char head insertion
    val d = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    // fixed token windows (stride 10) never realign after a 2-token shift
    Dedup.repeatedChunks(d, "doc_id", "text").collect() shouldBe empty
    // content-defined boundaries re-sync at the first cut after the edit
    val shared = Dedup.cdcRepeatedChunks(d, "text", "doc_id").collect()
    shared.length should be > 2
    shared.foreach(_.getLong(1) shouldBe 2L)
    an[IllegalArgumentException] should be thrownBy
      Dedup.cdcRepeatedChunks(d, "text", "doc_id", minDocs = 1)
    an[IllegalArgumentException] should be thrownBy
      Dedup.cdcChunks(d, "text", "doc_id", divisor = 1)
  }

  test("scriptProfile: per-script counts and dominant routing") {
    val d = Seq(
      (1L, "hello world"),                    // pure latin
      (2L, "\u041f\u0440\u0438\u0432\u0435\u0442 hi"), // cyrillic 6 > latin 2
      (3L, "\u4f60\u597d\u4e16\u754c"),       // han only
      (4L, "\u0645\u0631\u062d\u0628\u0627 123"),  // arabic 5, digits 3
      (5L, "12345")                            // digits only: tie -> latin
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.scriptProfile(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5),
          r.getString(6)))).toMap
    got(1L) shouldBe ((10, 0, 0, 0, 0, "latin"))
    got(2L) shouldBe ((2, 6, 0, 0, 0, "cyrillic"))
    got(3L) shouldBe ((0, 0, 4, 0, 0, "han"))
    got(4L) shouldBe ((0, 0, 0, 5, 3, "arabic"))
    got(5L) shouldBe ((0, 0, 0, 0, 5, "latin")) // all-zero tie: fixed order
  }

  test("adaptiveLengthFilter: per-group quantile band, exact-band group keeps all") {
    // group A lengths 1..10: p10 = 1.9, p90 = 9.1 -> keeps 2..9
    // group B constant 5: band [5,5] -> keeps everything
    val d = ((1 to 10).map(i => ("a", i.toLong, i.toLong)) ++
      (1 to 4).map(i => ("b", 100L + i, 5L)))
      .toDF("source", "doc_id", "n_chars")
    val kept = graft.operators.TextAnalysis
      .adaptiveLengthFilter(d, "n_chars", "source")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    kept shouldBe ((2L to 9L).toSet ++ (101L to 104L).toSet)
    an[IllegalArgumentException] should be thrownBy
      graft.operators.TextAnalysis.adaptiveLengthFilter(d, "n_chars", "source", 0.9, 0.1)
  }

  test("ngramNovelty: fraction of shingles unique to the doc") {
    // doc0/doc1 share "a b c" (df=2); their second shingles are unique;
    // doc2's single shingle is unique
    val d = Seq((0L, "a b c d"), (1L, "a b c x"), (2L, "z z z"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.ngramNovelty(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    got(0L) shouldBe ((2L, 0.5))
    got(1L) shouldBe ((2L, 0.5))
    got(2L) shouldBe ((1L, 1.0))
    an[IllegalArgumentException] should be thrownBy
      graft.operators.TextAnalysis.ngramNovelty(d, "text", "doc_id", n = 0)
  }

  test("quality score is in [0,1] and rewards stopword-rich prose") {
    val d = Seq((1L, "the cat and the dog of the house went to the market in town"),
      (2L, ";;;;; !!!! ::::")).toDF("doc_id", "text")
    val scores = d.select($"doc_id", TextAnalysis.qualityScore($"text")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    scores(1L) should be > scores(2L)
    all(scores.values) should (be >= 0.0 and be <= 1.0)
  }

  test("rolling fingerprint is order-sensitive, stable under case/space") {
    val d = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha"),
      (3L, "  ALPHA   beta GAMMA ")).toDF("doc_id", "text")
    val fp = d.select($"doc_id", TextAnalysis.rollingFingerprint($"text")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    fp(1L) should not be fp(2L)
    fp(1L) shouldBe fp(3L)
  }

  private val vecs = {
    val rnd = new scala.util.Random(7)
    (0 until 50).map { i =>
      val base = Array.fill(16)(rnd.nextGaussian().toFloat)
      (i.toLong, base.toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("bruteForceTopK rank 1 is the query itself at distance 0") {
    val queries = vecs.filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val top = Ann.bruteForceTopK(vecs, queries, "vec_id", "qid", "embedding", "qv",
      graft.functions.Distances.euclidean, 5)
    top.count() shouldBe 15
    val self = top.filter($"rank" === 1).collect()
    self.foreach { r =>
      r.getAs[Long]("qid") shouldBe r.getAs[Long]("vec_id")
      r.getAs[Double]("distance") shouldBe 0.0
    }
  }

  test("signPack: hand-checked bits; hammingPacked equals naive sign-diff") {
    // [1,-2,0,3,-0.5]: bits 0 and 3 set -> word 2^0 + 2^3 = 9
    val got = Seq(Tuple1(Seq(1f, -2f, 0f, 3f, -0.5f))).toDF("v")
      .select(Ann.signPack(col("v"), 5)).head().getSeq[Long](0)
    got shouldBe Seq(9L)
    // full 64-bit word with bit 63 set: all dims positive -> -1L, and
    // 70 dims span two words (ANSI-safe top-bit path)
    val all = Seq(Tuple1(Seq.fill(70)(1f))).toDF("v")
      .select(Ann.signPack(col("v"), 70)).head().getSeq[Long](0)
    all shouldBe Seq(-1L, 63L)
    // hammingPacked(codes) == #dims whose sign differs, on random pairs
    val pairs = vecs.select($"vec_id", $"embedding")
      .crossJoin(vecs.select($"vec_id".as("b_id"), $"embedding".as("b")))
      .filter($"vec_id" < $"b_id" && $"vec_id" < 6)
    val chk = pairs.select(
      Ann.hammingPacked(Ann.signPack($"embedding", 16), Ann.signPack($"b", 16)).as("hp"),
      aggregate(zip_with($"embedding", $"b",
        (x, y) => when((x > 0f) =!= (y > 0f), 1).otherwise(0)),
        lit(0), (a, v) => a + v).as("naive")).collect()
    chk.foreach(r => r.getInt(0) shouldBe r.getInt(1))
  }

  test("binarySignTopK: self at rank 1; generous timesK equals brute force") {
    val queries = vecs.filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val got = Ann.binarySignTopK(vecs, queries, "vec_id", "qid",
      "embedding", "qv", dim = 16, k = 5)
    got.count() shouldBe 15
    got.filter($"rank" === 1).collect().foreach { r =>
      r.getAs[Long]("qid") shouldBe r.getAs[Long]("vec_id")
      r.getAs[Double]("distance") shouldBe 0.0 +- 1e-9
    }
    // timesK covering the whole corpus -> identical to exact brute force
    val exact = Ann.bruteForceTopK(vecs, queries, "vec_id", "qid",
      "embedding", "qv", graft.functions.Distances.cosine, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val wide = Ann.binarySignTopK(vecs, queries, "vec_id", "qid",
      "embedding", "qv", dim = 16, k = 5, timesK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    wide shouldBe exact
  }

  test("batched ivfTopK finds each query itself at rank 1") {
    val emb = vecs.withColumnRenamed("vec_id", "id")
    val idx = graft.index.ECPIndex.build(emb, "id", "embedding")
    val queries = emb.filter($"id" < 3)
      .select($"id", $"embedding".cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toSeq
    val top = graft.operators.Ann.ivfTopK(emb, idx, "id", "embedding", queries, k = 5)
    top.count() shouldBe 15
    top.filter($"rank" === 1).collect().foreach { r =>
      r.getAs[Long]("qid") shouldBe r.getAs[Long]("id")
      r.getAs[Double]("distance") shouldBe 0.0
    }
  }

  test("incoming-vs-corpus near-dup flags dups, passes novel docs") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "completely different content about distributed query engines and joins"))
      .toDF("doc_id", "text")
    val idx = Dedup.indexCorpus(corpus, "text", "doc_id")
    val incoming = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 1
      (11L, "a totally novel document with no overlap whatsoever in any shingle"))
      .toDF("doc_id", "text")
    val flagged = Dedup.nearDupAgainstCorpus(incoming, "text", "doc_id", idx, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    flagged shouldBe Set((10L, 1L))
  }

  test("incoming-vs-corpus near-dup runs on a stream via foreachBatch") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"))
      .toDF("doc_id", "text")
    val idx = Dedup.indexCorpus(corpus, "text", "doc_id")
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val seen = scala.collection.mutable.Set.empty[(Long, Long)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Dedup.nearDupAgainstCorpus(batch, "text", "doc_id", idx, 0.5)
          .collect().foreach(r => seen.synchronized {
            seen += ((r.getLong(0), r.getLong(1)))
          })
      }.start()
    try {
      mem.addData((20L, "the quick brown fox jumps over the lazy dog again and again tonight"),
        (21L, "unrelated novel text that matches nothing from before at all"))
      q.processAllAvailable()
      seen.toSet shouldBe Set((20L, 1L))
    } finally q.stop()
  }

  test("cosine corpus admission check flags near-dup vectors, passes novel ones") {
    val corpus = vecs.filter($"vec_id" < 40)
    val idx = Ann.indexCorpusCosine(corpus, "vec_id", "embedding", dim = 16)
    // incoming: an exact copy of corpus vec 3 plus an orthogonal-ish novel vector
    val incoming = vecs.filter($"vec_id" === 3L)
      .select(lit(100L).as("vec_id"), $"embedding")
      .union(Seq((101L, Seq.fill(16)(0.0f).updated(0, 1.0f)))
        .toDF("vec_id", "embedding"))
    val flagged = Ann.cosineNearDupAgainstCorpus(incoming, "vec_id", "embedding", idx, 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    flagged shouldBe Set((100L, 3L))
    idx.release()
  }

  test("cosine corpus admission check runs on a stream via foreachBatch") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = vecs.filter($"vec_id" < 40)
    val idx = Ann.indexCorpusCosine(corpus, "vec_id", "embedding", dim = 16)
    val planted = vecs.filter($"vec_id" === 5L)
      .select($"embedding").head().getSeq[Float](0)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val seen = scala.collection.mutable.Set.empty[(Long, Long)]
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Ann.cosineNearDupAgainstCorpus(batch, "vec_id", "embedding", idx, 0.99)
          .collect().foreach(r => seen.synchronized {
            seen += ((r.getLong(0), r.getLong(1)))
          })
      }.start()
    try {
      mem.addData((200L, planted), (201L, Seq.fill(16)(0.0f).updated(1, 1.0f)))
      q.processAllAvailable()
      seen.toSet shouldBe Set((200L, 5L))
    } finally {
      q.stop()
      idx.release()
    }
  }

  test("trained k-means centroids make semantic dedup self-contained") {
    val centroids = Ann.trainSemanticCentroids(vecs, "embedding", k = 4)
    centroids should have size 4
    // every cluster is a real cell: assignment spreads the corpus
    val planted = vecs.union(
      vecs.filter($"vec_id" === 0L).select(lit(100L).as("vec_id"), $"embedding"))
    val byCluster = Ann.assignClusters(planted, "embedding", centroids)
      .groupBy("cluster").count().collect()
    byCluster.length should be >= 2
    // an identical copy always shares its original's cell, so the
    // clustered pass finds it with no recall caveat for exact dups
    Ann.semanticDedupPairs(planted, "vec_id", "embedding", centroids, 0.99)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet should
      contain((0L, 100L))
    // and training is deterministic: same data, same centroids
    Ann.trainSemanticCentroids(vecs, "embedding", k = 4) shouldBe centroids
  }

  test("semantic (cluster-pruned) corpus admission flags same-cell dups only") {
    val corpus = vecs.filter($"vec_id" < 40)
    val centroids = corpus.orderBy($"vec_id").limit(4)
      .select($"embedding".cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    val idx = Ann.indexCorpusSemantic(corpus, "vec_id", "embedding", centroids)
    // an exact copy of corpus vec 7 lands in vec 7's cell and is flagged;
    // a fresh orthogonal-ish vector passes
    val incoming = vecs.filter($"vec_id" === 7L)
      .select(lit(100L).as("vec_id"), $"embedding")
      .union(Seq((101L, Seq.fill(16)(0.0f).updated(0, 1.0f)))
        .toDF("vec_id", "embedding"))
    val flagged = Ann.semanticNearDupAgainstCorpus(incoming, "vec_id", "embedding", idx, 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    flagged shouldBe Set((100L, 7L))

    // stream-static under foreachBatch, like the banded admission checks
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Seq[Float])]
    val seen = scala.collection.mutable.Set.empty[(Long, Long)]
    val planted = vecs.filter($"vec_id" === 7L).select($"embedding").head().getSeq[Float](0)
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        Ann.semanticNearDupAgainstCorpus(batch, "vec_id", "embedding", idx, 0.99)
          .collect().foreach(r => seen.synchronized {
            seen += ((r.getLong(0), r.getLong(1)))
          })
      }.start()
    try {
      mem.addData((200L, planted))
      q.processAllAvailable()
      seen.toSet shouldBe Set((200L, 7L))
    } finally {
      q.stop()
      idx.release()
    }
  }

  test("lsh cosine near-dup finds planted duplicates") {
    val planted = vecs.union(
      vecs.filter($"vec_id" === 0L).select(lit(100L).as("vec_id"), $"embedding"))
    val exact = Ann.cosineNearDupPairs(planted, "vec_id", "embedding", 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    exact should contain((0L, 100L))
    val lsh = Ann.lshCosineNearDupPairs(planted, "vec_id", "embedding", 0.99, dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    lsh should contain((0L, 100L))
  }

  test("repeatedChunks reports cross-document windows only, with exact counts") {
    val mk = (n: Int, tag: String) =>
      (0 until n).map(i => s"$tag$i").mkString(" ")
    val shared = mk(20, "s") // exactly one full 20-token window
    val d = Seq(
      (0L, shared),                       // window at start 0
      (1L, mk(10, "a") + " " + shared),   // same window at start 10
      (2L, mk(25, "b")),                  // long but unshared
      (3L, mk(5, "c"))                    // too short for any window
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedChunks(d, "doc_id", "text", window = 20, stride = 10)
      .collect()
    out.length shouldBe 1 // only the shared window crosses documents
    out.head.getLong(1) shouldBe 2L  // n_docs
    out.head.getLong(2) shouldBe 2L  // n_hits
    out.head.getLong(3) shouldBe 0L  // first_doc
    // a within-document repeat alone (same chunk twice in ONE doc) stays out
    val selfRep = Seq((7L, shared + " " + shared)).toDF("doc_id", "text")
    Dedup.repeatedChunks(selfRep, "doc_id", "text", 20, 20).count() shouldBe 0L
  }

  test("stripRepeatedChunks erases exactly the duplicated windows' tokens") {
    val mk = (n: Int, tag: String) =>
      (0 until n).map(i => s"$tag$i").mkString(" ")
    val shared = mk(20, "s")
    val d = Seq(
      (0L, shared),                      // entire doc is the dup window
      (1L, mk(10, "a") + " " + shared),  // dup window at token offset 10
      (2L, mk(25, "b")),                 // long, unshared → untouched
      (3L, mk(5, "c"))                   // too short for windows → untouched
    ).toDF("doc_id", "text")
    val out = Dedup.stripRepeatedChunks(d, "doc_id", "text", window = 20, stride = 10)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    out(0L) shouldBe (("", 20L))             // fully erased
    out(1L) shouldBe ((mk(10, "a"), 20L))    // prefix survives, window gone
    out(2L) shouldBe ((mk(25, "b"), 0L))
    out(3L) shouldBe ((mk(5, "c"), 0L))
  }

  test("stripRepeatedChunks: overlapping duplicated windows erase their union") {
    // doc 1 shares tokens 0..19 with doc 0 and 10..29 with doc 2 —
    // strided starts 0 and 10 both mark, union covers 0..29
    val w1 = (0 until 20).map(i => s"x$i").mkString(" ")
    val w2 = (20 until 40).map(i => s"y$i").mkString(" ")
    val doc1 = w1 + " " + w2
    // doc1 tokens 10..29 are x10..x19 y20..y29; doc 2 repeats that slice
    val slice1029 =
      ((10 until 20).map(i => s"x$i") ++ (20 until 30).map(i => s"y$i")).mkString(" ")
    val d = Seq(
      (0L, w1),       // duplicates doc1's window at start 0
      (1L, doc1),
      (2L, slice1029) // duplicates doc1's window at start 10
    ).toDF("doc_id", "text")
    val out = Dedup.stripRepeatedChunks(d, "doc_id", "text", window = 20, stride = 10)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // doc1: starts 0 (shared w/ doc0) and 10 (shared w/ doc2) marked →
    // tokens 0..29 erased, y30..y39 survive
    out(1L) shouldBe (((30 until 40).map(i => s"y$i").mkString(" "), 30L))
    out(0L)._2 shouldBe 20L
    out(2L)._2 shouldBe 20L
  }

  test("stripRepeatedLines: cross-doc boilerplate lines go, blanks and prose stay") {
    val d = Seq(
      (1L, "unique intro one\n\nSubscribe To Our Newsletter\nreal content here"),
      (2L, "different opening\nSubscribe  to our newsletter\nmore real words"),
      (3L, "standalone document\nwith only original lines\n\n"),
      (4L, "SUBSCRIBE TO OUR NEWSLETTER") // the boilerplate IS the doc
    ).toDF("doc_id", "text")
    val out = Dedup.stripRepeatedLines(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // normalization (case + whitespace runs) unifies all three spellings
    out(1L) shouldBe (("unique intro one\n\nreal content here", 1L))
    out(2L) shouldBe (("different opening\nmore real words", 1L))
    out(3L) shouldBe (("standalone document\nwith only original lines\n\n", 0L))
    out(4L) shouldBe (("", 1L))
    // blank lines are everywhere but never counted as duplicates
    out(1L)._1 should include("\n\n")
  }

  test("stripRepeatedLines: within-doc-only repeated lines are kept") {
    val d = Seq((1L, "la\nla\nla"), (2L, "other text entirely")).toDF("doc_id", "text")
    Dedup.stripRepeatedLines(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap.apply(1L) shouldBe 0L
  }

  test("stripRepeatedChunks: within-doc-only repeats are NOT stripped") {
    val shared = (0 until 20).map(i => s"s$i").mkString(" ")
    val d = Seq((7L, shared + " " + shared)).toDF("doc_id", "text")
    val r = Dedup.stripRepeatedChunks(d, "doc_id", "text", 20, 20).head()
    r.getLong(2) shouldBe 0L // one doc → below minDocs, nothing removed
  }

  test("semantic dedup: clusters assign to nearest centroid; dups only in-cluster") {
    val c0 = Seq.fill(16)(1.0); val c1 = Seq.fill(16)(-1.0)
    // rows 0/1 near c0 and near-identical; row 2 near c0 but distinct;
    // row 3 near c1; row 4 zero vector (ties to cluster 0 by the rule)
    val rows = Seq(
      (0L, Seq.fill(16)(1.0f)),
      (1L, (Seq.fill(15)(1.0f) :+ 0.9f)),
      (2L, (Seq.fill(8)(1.0f) ++ Seq.fill(8)(-0.2f))),
      (3L, Seq.fill(16)(-1.0f)),
      (4L, Seq.fill(16)(0.0f))
    ).toDF("vec_id", "embedding")
    val assigned = Ann.assignClusters(rows, "embedding", Seq(c0, c1))
      .select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assigned(0L) shouldBe 0
    assigned(1L) shouldBe 0
    assigned(3L) shouldBe 1
    assigned(4L) shouldBe 0 // zero-norm: sim 0 everywhere, lowest index wins
    val pairs = Ann.semanticDedupPairs(rows, "vec_id", "embedding",
      Seq(c0, c1), 0.99).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    pairs shouldBe Set((0L, 1L)) // 0–3 are near-opposite; 2 is below threshold
    // survivors drop exactly the higher id of the one in-cluster dup pair
    Ann.semanticDedupSurvivors(rows, "vec_id", "embedding", Seq(c0, c1), 0.99)
      .select("vec_id").collect().map(_.getLong(0)).toSet shouldBe
      Set(0L, 2L, 3L, 4L)
  }

  test("semantic dedup: mega-cluster cap drops degenerate clusters only") {
    val c0 = Seq.fill(16)(1.0); val c1 = Seq.fill(16)(-1.0)
    // cluster 0 degenerate: 4 near-identical members; cluster 1 has a
    // single clean dup pair that must survive the cap
    val rows = Seq(
      (0L, Seq.fill(16)(1.0f)), (1L, Seq.fill(15)(1.0f) :+ 0.99f),
      (2L, Seq.fill(15)(1.0f) :+ 0.98f), (3L, Seq.fill(15)(1.0f) :+ 0.97f),
      (10L, Seq.fill(16)(-1.0f)), (11L, Seq.fill(15)(-1.0f) :+ -0.99f)
    ).toDF("vec_id", "embedding")
    val capped = Ann.semanticDedupPairs(rows, "vec_id", "embedding",
        Seq(c0, c1), 0.99, maxBucket = 3).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    capped shouldBe Set((10L, 11L)) // cluster-0's 4 members exceed the cap
    // survivors under the cap keep every member of the dropped cluster
    Ann.semanticDedupSurvivors(rows, "vec_id", "embedding", Seq(c0, c1),
        0.99, maxBucket = 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet shouldBe
      Set(0L, 1L, 2L, 3L, 10L)
    // the uncapped default is bit-identical to an explicit no-op cap
    val dflt = Ann.semanticDedupPairs(rows, "vec_id", "embedding",
      Seq(c0, c1), 0.99).collect().map(_.toString).sorted
    val nocap = Ann.semanticDedupPairs(rows, "vec_id", "embedding",
      Seq(c0, c1), 0.99, maxBucket = Int.MaxValue).collect()
      .map(_.toString).sorted
    dflt shouldBe nocap
    // corpus admission: incoming rows landing in an over-cap corpus
    // cell are not compared (cell dropped); the clean cell still flags
    val idx = Ann.indexCorpusSemantic(rows, "vec_id", "embedding", Seq(c0, c1))
    try {
      val in = Seq((100L, Seq.fill(16)(1.0f)), (101L, Seq.fill(16)(-1.0f)))
        .toDF("vec_id", "embedding")
      val flagged = Ann.semanticNearDupAgainstCorpus(in, "vec_id", "embedding",
          idx, 0.99, maxBucket = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      flagged shouldBe Set((101L, 10L), (101L, 11L))
    } finally idx.release()
  }

  test("connectedComponents: min-label clustering over a near-dup pair graph") {
    val pairs = Seq((2L, 1L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (5L, 4L))
      .toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    comp.size shouldBe 10 // every node appearing in an edge
    Seq(1L, 2L, 3L).foreach(comp(_) shouldBe 1L)
    Seq(10L, 11L).foreach(comp(_) shouldBe 10L)
    Seq(20L, 21L, 22L).foreach(comp(_) shouldBe 20L)
    Seq(4L, 5L).foreach(comp(_) shouldBe 4L)
    // survivors are exactly the canonical representatives
    comp.count { case (id, c) => id == c } shouldBe 4

    // a 12-node chain needs multi-round propagation to one component
    val chain = (1L to 12L).sliding(2).map(s => (s.head, s(1))).toSeq
      .toDF("id_a", "id_b")
    Dedup.connectedComponents(chain).select("component").distinct()
      .collect().map(_.getLong(0)).toSeq shouldBe Seq(1L)
    // and an unconvergeable budget throws instead of lying
    an[IllegalArgumentException] should be thrownBy
      Dedup.connectedComponents(chain, maxIter = 2)
  }

  // 8 identical boilerplate docs — every band bucket they form has all 8
  // members — plus one genuine duplicate pair living in size-2 buckets
  private val boilerCorpus = {
    val boiler = (10L to 17L).map(i =>
      (i, "subscribe to our newsletter for updates and offers every single day"))
    val pair = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (1L, "the quick brown fox jumps over the lazy dog again and again"))
    (boiler ++ pair).toDF("doc_id", "text")
  }

  test("minhash maxBucket drops mega-bucket pairs, keeps small-bucket pairs") {
    // uncapped: C(8,2)=28 boilerplate pairs + the near-dup pair
    Dedup.minhashNearDupPairs(boilerCorpus, "text", "doc_id", 0.4)
      .count() shouldBe 29
    Dedup.minhashNearDupPairs(boilerCorpus, "text", "doc_id", 0.4, maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe Set((0L, 1L))
    // a cap too small to hold any pair is refused, not silently empty
    an[IllegalArgumentException] should be thrownBy
      Dedup.minhashNearDupPairs(boilerCorpus, "text", "doc_id", 0.4, maxBucket = 1)
  }

  test("simhash maxBucket drops mega-bucket pairs, keeps small-bucket pairs") {
    val uncapped = Dedup.simhashNearDupPairs(boilerCorpus, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    uncapped should contain((0L, 1L))
    uncapped.size shouldBe 29
    Dedup.simhashNearDupPairs(boilerCorpus, "text", "doc_id", maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe Set((0L, 1L))
  }

  test("lsh cosine maxBucket drops mega-bucket pairs, keeps small-bucket pairs") {
    // 8 identical embeddings (same signature in EVERY band) + vec 0
    // duplicated once — the duplicate pair sits in size-2 buckets
    val mega = vecs.filter($"vec_id" === 5L).select($"embedding")
      .crossJoin(spark.range(8).toDF("j"))
      .select(($"j" + 300L).as("vec_id"), $"embedding")
    val planted = vecs.filter($"vec_id" =!= 5L)
      .union(vecs.filter($"vec_id" === 0L).select(lit(100L).as("vec_id"), $"embedding"))
      .union(mega)
    val capped = Ann.lshCosineNearDupPairs(planted, "vec_id", "embedding",
        0.99, dim = 16, maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    capped shouldBe Set((0L, 100L))
    // and with the cap off the 8-clone pairs are all there
    Ann.lshCosineNearDupPairs(planted, "vec_id", "embedding", 0.99, dim = 16)
      .count() shouldBe 29 // C(8,2) clones + (0,100)
  }

  test("maxSimTopK: per-query best chunks sum; multi-aspect doc beats pooled-average doc") {
    // doc 1's chunks each nail ONE query axis; doc 2's chunks all sit at
    // the diagonal (equally mediocre for both queries). MaxSim must rank
    // doc 1 first — a pooled/average embedding would call them equal.
    val inv = math.sqrt(0.5)
    val chunks = Seq(
      (1L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)),
      (2L, Seq(inv, inv)), (2L, Seq(inv, inv)),
      (3L, Seq(-1.0, 0.0)), (3L, Seq(0.0, -1.0)) // anti-aligned: lowest
    ).toDF("doc", "vec")
    val qs = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val got = Ann.maxSimTopK(chunks, "doc", "vec", qs, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    got.map(_._1).toSeq shouldBe Seq(1L, 2L, 3L)
    got.toMap.apply(1L) shouldBe 2.0 +- 1e-9          // each query hits 1.0
    got.toMap.apply(2L) shouldBe 2 * inv +- 1e-9      // both capped at cos 45°
    // each query's best doc-3 chunk is the ORTHOGONAL one (0.0 beats -1.0)
    got.toMap.apply(3L) shouldBe 0.0 +- 1e-9

    // k bounds the result; refusals
    Ann.maxSimTopK(chunks, "doc", "vec", qs, 1).count() shouldBe 1
    an[IllegalArgumentException] should be thrownBy
      Ann.maxSimTopK(chunks, "doc", "vec", Seq.empty, 5)
    an[IllegalArgumentException] should be thrownBy
      Ann.maxSimTopK(chunks, "doc", "vec", qs, 0)

    // the indexed path returns the brute result exactly when candidate
    // doc recall is total (generous timesK on a small corpus)
    val lcg = Iterator.iterate(7L)(s => s * 6364136223846793005L + 1442695040888963407L)
      .map(s => (s >>> 11).toDouble / (1L << 53).toDouble - 0.5)
    val corpus = (0 until 48).map(i =>
      (i.toLong / 4, i.toLong, Seq.fill(8)(lcg.next())))
      .toDF("doc", "vec_id", "vec")
    val idx = Ann.buildCosineSQIndex(corpus, "vec_id", "vec")
    val queries = Seq(Seq.fill(8)(lcg.next()), Seq.fill(8)(lcg.next()))
    val brute = Ann.maxSimTopK(corpus, "doc", "vec", queries, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val indexed = Ann.maxSimTopKIndexed(corpus, "doc", "vec", "vec_id",
        idx, queries, 5, timesK = 24)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    indexed shouldBe brute

    // plan: ONE exchange (doc-keyed partial max), top-k as TakeOrdered.
    // k must be BELOW the local fixture's known maxRows, or Catalyst's
    // EliminateLimits removes the limit and plans a plain global sort.
    val plan = Ann.maxSimTopK(chunks, "doc", "vec", qs, 2)
      .queryExecution.executedPlan.toString
    plan should include("TakeOrderedAndProject")
    "(?<!Broadcast)Exchange".r.findAllIn(plan).size shouldBe 1
    plan should include("partial_max")
  }

  test("minhashNearDupPairs releases its banded cache after materializing") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = Dedup.minhashNearDupPairs(docs, "text", "doc_id", 0.4)
    out.count() should be > 0L
    // the banded relation must be unpersisted by the call itself; the
    // only persisted RDD allowed to linger is the localCheckpoint of the
    // pair-scale RESULT (released when `out` is garbage-collected), so a
    // forgotten banded unpersist shows up as a second lingering entry
    val lingering = (sc.getPersistentRDDs.keySet -- before).size
    lingering should be <= 1
  }
}
