package graft

import graft.io.Tables
import graft.ops.{DedupOps, NearDup}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupOpsSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark
  private def docs = Tables.documents(spark, sf)

  test("indexed screen from reloaded parquet artifacts is bit-identical to the text delta") {
    // the production claim behind bandKeyIndex + shingleHashSets: write
    // the index, drop every in-memory frame, RELOAD in a fresh read, and
    // the indexed screen must reproduce minhashDedupDelta's verdicts
    // bit-for-bit. Runs over the real corpus: every 3rd doc is the shard.
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val shard = docs.filter(col("doc_id") % 3 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_ndidx").toString
    graft.io.Sinks.writeParquet(
      DedupOps.bandKeyIndex(corpus, "text", "doc_id"), s"$dir/index")
    graft.io.Sinks.writeParquet(
      DedupOps.shingleHashSets(corpus, "text", "doc_id"), s"$dir/hashsets")
    def verdicts(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val text = verdicts(DedupOps.minhashDedupDelta(
      shard, corpus, "text", "doc_id", w = 3, nBands = 8, r = 2, minJaccard = 0.5))
    val inMemIndexed = verdicts(DedupOps.minhashDeltaIndexed(
      shard,
      DedupOps.bandKeyIndex(corpus, "text", "doc_id"),
      DedupOps.shingleHashSets(corpus, "text", "doc_id"),
      "text", "doc_id", w = 3, nBands = 8, r = 2, minJaccard = 0.5))
    val reloaded = verdicts(DedupOps.minhashDeltaIndexed(
      shard,
      spark.read.parquet(s"$dir/index"),
      spark.read.parquet(s"$dir/hashsets"),
      "text", "doc_id", w = 3, nBands = 8, r = 2, minJaccard = 0.5))
    assert(text.nonEmpty, "the corpus must contain cross-shard near-dups")
    assert(inMemIndexed == text, "indexed screen must equal the text delta")
    assert(reloaded == text, "verdicts must survive the write/reload boundary bit-identically")
  }

  test("appended index shards screen later arrivals without touching earlier artifacts") {
    import spark.implicits._
    // corpus epoch 0 indexed; a shard arrives, its accepted docs append
    // as epoch 1; a later doc duplicating an EPOCH-1 doc must be caught
    // by reading the partitioned index dirs as one relation.
    val dir = java.nio.file.Files.createTempDirectory("graft_ndappend").toString
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "pack my box with five dozen liquor jugs right now"))
      .toDF("doc_id", "text")
    val epoch1 = Seq(
      (20L, "completely novel sentence about catalyst physical planning"))
      .toDF("doc_id", "text")
    DedupOps.bandKeyIndex(corpus, "text", "doc_id")
      .write.parquet(s"$dir/index/batch=-1")
    DedupOps.shingleHashSets(corpus, "text", "doc_id")
      .write.parquet(s"$dir/hashsets/batch=-1")
    DedupOps.bandKeyIndex(epoch1, "text", "doc_id")
      .write.parquet(s"$dir/index/batch=0")
    DedupOps.shingleHashSets(epoch1, "text", "doc_id")
      .write.parquet(s"$dir/hashsets/batch=0")
    val late = Seq(
      (30L, "completely novel sentence about catalyst physical planning"),
      (31L, "the quick brown fox jumps over the lazy dog tonight"),
      (32L, "nothing here resembles any indexed document at all"))
      .toDF("doc_id", "text")
    val out = DedupOps.minhashDeltaIndexed(late,
      spark.read.parquet(s"$dir/index"),
      spark.read.parquet(s"$dir/hashsets"),
      "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out == Seq((30L, 20L, 1.0), (31L, 10L, 1.0)),
      s"both epochs must screen, the novel doc must pass: $out")
  }

  test("exactDedup keeps the minimum id per key and drops the rest") {
    import spark.implicits._
    val df = Seq((3L, "a"), (1L, "a"), (2L, "b"), (5L, "a")).toDF("id", "k")
    val out = DedupOps.exactDedup(df, "k", "id").orderBy("k").collect()
    assert(out.map(r => (r.getString(1), r.getLong(0))).toSeq == Seq(("a", 1L), ("b", 2L)))
  }

  test("LSH finds the high-similarity pairs that brute force finds") {
    // brute force over the full sf0.001 corpus (500 docs) as ground truth
    val truth = DedupOps
      .jaccardBruteForce(docs, "text", "doc_id", w = 3, sampleN = 1000000, limit = 1000000)
      .filter(col("jaccard") >= 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupOps
      .minhashPairs(docs, "text", "doc_id", w = 3, nBands = 8, r = 2, minJaccard = 0.8, limit = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "synthetic corpus should contain near-duplicate pairs")
    // 8 bands x 2 rows: P(detect | j=0.8) = 1-(1-0.64)^8 ≈ 0.9997 per pair
    assert(truth.subsetOf(lsh), s"LSH missed: ${truth -- lsh}")
  }

  test("exactDedupByVector collapses byte-identical embeddings to the min id") {
    import spark.implicits._
    val v1 = Array(1.5f, -2.25f, 3.0f)
    val v2 = Array(1.5f, -2.25f, 3.0001f)
    val df = Seq((7L, v1), (3L, v1), (5L, v2)).toDF("vec_id", "embedding")
    val out = DedupOps.exactDedupByVector(df, "vec_id", "embedding")
      .collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(3L, 5L)) // 7 collapses into 3; near-identical v2 survives
  }

  test("exactDedupReport groups by token prefix with deterministic keeper") {
    import spark.implicits._
    val df = Seq(
      (7L, "a b c d e tail one"),
      (3L, "a b c d e tail two"),
      (9L, "totally different text here x")).toDF("doc_id", "text")
    val out = DedupOps.exactDedupReport(df, "text", "doc_id", prefixLen = 5).collect()
    assert(out.length == 1)
    assert(out(0).getLong(0) == 3L && out(0).getLong(1) == 2L)
  }

  test("simhash is identical for identical texts and 60-bit bounded") {
    import spark.implicits._
    val df = Seq((0L, "alpha beta gamma delta"), (10L, "alpha beta gamma delta"),
      (20L, "omega psi chi phi")).toDF("doc_id", "text")
    val out = DedupOps.simhashFingerprints(df, "text", "doc_id", sampleMod = 1).collect()
    assert(out.length == 3)
    assert(out(0).getLong(1) == out(1).getLong(1))
    assert(out(2).getLong(1) != out(0).getLong(1))
    out.foreach(r => assert(r.getLong(1) >= 0 && r.getLong(1) < (1L << 60)))
  }

  test("connected components: chains merge, min id wins, singletons absent") {
    import spark.implicits._
    // components: {1,2,3,4} via chain, {10,11}, isolated pair {20,21}
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (21L, 20L))
      .toDF("doc_a", "doc_b")
    val out = DedupOps.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components fails loudly when maxIter is too small to converge") {
    import spark.implicits._
    // a 6-hop chain cannot converge in 1 iteration of min-label propagation
    val chain = (1L to 7L).sliding(2).map(s => (s(0), s(1))).toSeq.toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      DedupOps.connectedComponents(chain, "doc_a", "doc_b", maxIter = 1).collect()
    }
    assert(e.getMessage.contains("maxIter"))
  }

  test("maxBucket caps degenerate-duplication bucket blowup") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 60 near-identical docs (mass duplication) + 2 genuinely similar docs
    val dup = (0 until 60).map(i => (i.toLong, s"alpha beta gamma delta epsilon zeta v$i"))
    val pair = Seq((100L, "one two three four five six seven"),
      (101L, "one two three four five six eight"))
    val df = (dup ++ pair).toDF("doc_id", "text")
    val capped = DedupOps.minhashPairs(df, "text", "doc_id",
      w = 3, nBands = 8, r = 2, minJaccard = 0.5, limit = 10000, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // the 60-dup cluster's buckets exceed the cap and are dropped; the
    // small similar pair survives
    assert(capped.contains((100L, 101L)))
    assert(!capped.exists { case (a, b) => a < 100 && b < 100 })
  }

  test("bucket pairs: exactly cap members emit every pair once; cap + 1 and 1 member emit none") {
    import spark.implicits._
    val cap = 5
    // bucket 1 holds exactly cap members, listed in descending id order;
    // bucket 2 holds cap + 1; bucket 3 holds one
    val rows = ((1L to cap.toLong).reverse.map(id => (1, id)) ++
      (11L to 11L + cap).map(id => (2, id)) :+ ((3, 99L))).toDF("k", "id")
    val expected = (for (a <- 1L to cap; b <- a + 1 to cap) yield (a, b)).toSet
    val pairs = NearDup.bucketPairs(rows, Seq("k"), col("id"), cap, Seq("a", "b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length == cap * (cap - 1) / 2)
    assert(pairs.toSet == expected)
    // a struct member pairs by its first (id) field and carries the rest
    val carried = NearDup.bucketPairs(rows, Seq("k"), struct(col("id"), (-col("id")).as("p")),
        cap, Seq("a", "b"))
      .select(col("a.id"), col("b.id"), col("a.p"), col("b.p"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(carried.length == pairs.length)
    assert(carried.forall { case (a, b, pa, pb) => pa == -a && pb == -b })
    assert(carried.map(t => (t._1, t._2)).toSet == expected)
  }

  test("one-scan signature: hs is each doc's shingleHashSets set; short docs are in neither") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "x y x y x y x y"), // repeated shingles: only "x y x" and "y x y"
      (3L, "too short"),       // under w = 3 tokens
      (4L, null: String),
      (5L, "p q r p q r s")).toDF("doc_id", "text")
    val sig = NearDup.minhashSignatures(df, "text", "doc_id", 3, 16).collect()
      .map(r => r.getLong(0) -> ((r.getSeq[Long](1), r.getSeq[Long](2)))).toMap
    val sets = DedupOps.shingleHashSets(df, "text", "doc_id", 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sig.keySet == Set(1L, 2L, 5L))
    assert(sets.keySet == sig.keySet)
    sig.foreach { case (id, (m, hs)) =>
      assert(m.size == 16)
      assert(hs.size == hs.toSet.size, s"doc $id: hs is a set")
      assert(hs.toSet == sets(id).toSet, s"doc $id")
    }
    assert(sig(2L)._2.size == 2)
  }

  test("simhash hamming-LSH finds near-identical docs, excludes distant ones") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val df = Seq(
      (2L, base),                       // identical pair (hamming 0)
      (4L, base),
      (6L, base + " extraword"),        // one extra token: small hamming
      (8L, (100 to 140).map(i => s"zz$i").mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val out = DedupOps.simhashNearDupPairs(df, "text", "doc_id",
      maxHamming = 10, nChunks = 12, nBits = 60, sampleMod = 2, limit = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pairs = out.map(t => (t._1, t._2)).toSet
    assert(pairs.contains((2L, 4L)))
    assert(out.find(t => t._1 == 2L && t._2 == 4L).get._3 == 0L) // identical -> hamming 0
    assert(!pairs.exists(p => p._1 == 8L || p._2 == 8L), "unrelated doc must not pair")
  }

  test("incremental dedup: corpus keys block shard rows, shard dedups within itself, composes") {
    import spark.implicits._
    val corpus = Seq((10L, "seen before"), (11L, "also seen")).toDF("id", "k")
    val shard = Seq(
      (1L, "seen before"),  // blocked by corpus
      (2L, "brand new"),    // survives
      (3L, "brand new"),    // within-shard dup -> folded into keeper 2
      (4L, "also fresh"))   // survives
      .toDF("id", "k")
    val out = DedupOps.exactDedupDelta(shard, corpus, "k", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((2L, 2L), (4L, 1L)))
    // composition: union survivors into the corpus; a re-arriving dup is blocked
    val grown = corpus.union(Seq((2L, "brand new"), (4L, "also fresh")).toDF("id", "k"))
    val next = Seq((5L, "brand new"), (6L, "truly new")).toDF("id", "k")
    val out2 = DedupOps.exactDedupDelta(next, grown, "k", "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out2 == Set((6L, 1L)))
  }

  test("minhash delta: shard near-dups of the corpus are blocked with best-match attribution") {
    import spark.implicits._
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val corpus = Seq(
      (11L, base),                                         // exact-match target
      (13L, base + " tailword"),                           // near-match target
      (15L, (200 to 240).map(i => s"yy$i").mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val shard = Seq(
      (2L, base),                                          // dup of 11 (j=1.0) and near 13
      (4L, (100 to 140).map(i => s"zz$i").mkString(" ")),  // genuinely new
      (6L, base + " tailword"))                            // dup of 13, near 11
      .toDF("doc_id", "text")
    val out = DedupOps.minhashDedupDelta(shard, corpus, "text", "doc_id",
      w = 3, nBands = 8, r = 2, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byDoc = out.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out.map(_._1).toSet == Set(2L, 6L), "only the two near-dup shard docs block")
    assert(byDoc(2L) == ((11L, 1.0)), "best match is the exact copy")
    assert(byDoc(6L) == ((13L, 1.0)), "best match is the exact copy")
    // a shard with no corpus overlap reports nothing
    assert(DedupOps.minhashDedupDelta(
      shard.filter($"doc_id" === 4L), corpus, "text", "doc_id").isEmpty)
  }

  test("bloom incremental dedup: identical to the exact delta at tight and saturated fpp") {
    // the bloom is a pre-filter, never an answer: definitely-new keys skip
    // the anti join, maybe-seen keys are join-verified, so the output must
    // be bit-identical to exactDedupDelta at ANY false-positive rate —
    // fpp 0.5 forces the verified branch to carry real traffic
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
      .withColumn("k", expr("substring(text, 1, 40)"))
    val shard = docs.filter(col("doc_id") % 3 === 0)
      .withColumn("k", expr("substring(text, 1, 40)"))
    val exact = DedupOps.exactDedupDelta(shard, corpus, "k", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    for (fpp <- Seq(0.001, 0.5)) {
      val bloomed = DedupOps.exactDedupDeltaBloom(
        shard, corpus, "k", "doc_id", expectedKeys = 1000L, fpp = fpp)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(bloomed == exact, s"bloom path diverged at fpp=$fpp")
    }
    assert(exact.nonEmpty, "fixture should have new-shard survivors")
  }

  test("prefix containment: adjacency finds exactly the proper-prefix docs, both path lengths") {
    import spark.implicits._
    // bucketChars = 2: "a" and "b" go through the short-doc broadcast path,
    // "ab"/"abc" through the bucketed window path
    val df = Seq((1L, "a"), (2L, "ab"), (3L, "abc"), (4L, "b"), (5L, "ba"), (6L, "ca"))
      .toDF("id", "t")
    val out = DedupOps.prefixContainedDocs(df, "t", "id", bucketChars = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 1L), (2L, 2L), (4L, 1L)),
      "a < ab, ab < abc, b < ba are the only proper prefix pairs")
  }

  test("prefix containment equals brute force on the truncated corpus, min-id representative") {
    import spark.implicits._
    val cut = docs.withColumn("t",
      expr("substring(text, 1, CAST(doc_id % 40 + 40 AS INT))"))
    val out = DedupOps.prefixContainedDocs(cut, "t", "doc_id", bucketChars = 20)
      .select("doc_id").as[Long].collect().toSet
    val d = cut.filter(col("t").isNotNull)
      .groupBy(col("t")).agg(min(col("doc_id")).as("id"))
    val brute = d.as("x")
      .join(d.as("y"),
        col("y.t") =!= col("x.t") && col("y.t").startsWith(col("x.t")), "left_semi")
      .select(col("id")).as[Long].collect().toSet
    assert(out == brute)
    assert(out.nonEmpty, "truncated dup groups should yield proper prefixes")
  }

  test("prefix containment windows shard by text-prefix bucket, never a global sort") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, s"text body number $i")).toDF("id", "t")
    val plan = DedupOps.prefixContainedDocs(df, "t", "id", bucketChars = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(__bkt"),
      s"expected bucket-keyed window exchange:\n${plan.take(800)}")
  }

  test("prioritized dedup keeps the lowest (priority, id) copy per duplicate group") {
    import spark.implicits._
    val df = Seq(
      (1L, "same text here", 5L),  // dup group A: id 1 prio 5
      (2L, "same text here", 2L),  //   keeper: prio 2 beats prio 5
      (3L, "same text here", 2L),  //   ...but id 2 < id 3 inside the tier
      (4L, "uniq one", 0L),        // singleton -> absent
      (5L, "other dup", 7L),       // dup group B: equal prio ->
      (6L, "other dup", 7L))       //   min id 5 wins
      .toDF("doc_id", "text", "prio")
    val out = DedupOps.prioritizedDedupReport(df, "text", "doc_id", "prio", prefixLen = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((2L, 2L, 3L), (5L, 7L, 2L)))
    // plain exactDedupReport would have kept id 1 for group A
    val plain = DedupOps.exactDedupReport(df, "text", "doc_id", prefixLen = 8)
      .collect().map(_.getLong(0)).toSet
    assert(plain == Set(1L, 5L))
  }

  test("contamination report: hand-computed overlaps, clean docs absent, benchmark broadcast") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the quick brown fox runs"), // shares shingles "the quick brown", "quick brown fox"
      (2L, "a wholly different text entirely"), // clean
      (3L, "the quick brown fox jumps high"), // shares 3 of its 4 shingles
      (4L, "xx yy")) // under w tokens -> no shingles -> absent
      .toDF("doc_id", "text")
    val rep = DedupOps.contaminationReport(corpus, bench, "text", "doc_id", w = 3)
    val rows = rep.collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(rows.keySet == Set(1L, 3L))
    assert(rows(1L) == ((3L, 2L, 0.666667)))
    assert(rows(3L) == ((4L, 3L, 0.75)))
    // the benchmark side must broadcast — the corpus never shuffles for it
    val plan = rep.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"benchmark join not broadcast:\n${plan.take(600)}")
  }

  test("minhash pipeline has no driver-side collect and plans shuffles only on bucket keys") {
    val plan = DedupOps.minhashPairs(docs, "text", "doc_id").queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "LSH path must not cross-join")
  }

  test("segment dedup strips cross-document boilerplate and keeps unique spans") {
    import spark.implicits._
    // k=2 segments; "x1 x2 x3 x4" is the shared boilerplate tail of docs 1+2
    val df = Seq(
      (1L, "a1 a2 a3 a4 x1 x2 x3 x4"), // segs: (a1 a2)(a3 a4)(x1 x2)(x3 x4)
      (2L, "b1 b2 b3 b4 x1 x2 x3 x4"), // segs: (b1 b2)(b3 b4)(x1 x2)(x3 x4)
      (3L, "c1 c2 c3"), //                 segs: (c1 c2)(c3) — untouched
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val rows = DedupOps.segmentDedupReport(df, "text", "doc_id", segTokens = 2, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(rows.keySet == Set(1L, 2L, 3L), "null-text docs carry no segments")
    assert(rows(1L) == ((4L, 2L, 4L, md5Hex("a1 a2 a3 a4"))))
    assert(rows(2L) == ((4L, 2L, 4L, md5Hex("b1 b2 b3 b4"))))
    assert(rows(3L) == ((2L, 0L, 3L, md5Hex("c1 c2 c3"))))
  }

  test("segment dedup: a fully-boilerplate doc reports the empty-text checksum") {
    import spark.implicits._
    val df = Seq((1L, "x1 x2"), (2L, "x1 x2"), (3L, "x1 x2"))
      .toDF("doc_id", "text")
    val rows = DedupOps.segmentDedupReport(df, "text", "doc_id", segTokens = 2, minDocs = 2)
      .collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getLong(3) == 0L, "no tokens survive")
      assert(r.getString(4) == md5Hex(""), "checksum of the empty survivor text")
    }
  }

  test("segment dedup honors minDocs and never joins corpus-quadratically") {
    import spark.implicits._
    val df = Seq((1L, "x1 x2 y"), (2L, "x1 x2 z")).toDF("doc_id", "text")
    val keepAll = DedupOps.segmentDedupReport(df, "text", "doc_id", segTokens = 2, minDocs = 3)
    assert(keepAll.collect().forall(_.getLong(2) == 0L), "below minDocs nothing is removed")
    val plan = DedupOps.segmentDedupReport(docs, "text", "doc_id", segTokens = 5, minDocs = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "segment dedup must stay key-joined")
  }

  test("strided segment dedup catches boundary-straddling spans the fixed grid misses") {
    import spark.implicits._
    // the 4-token span X1..X4 sits at offset 2 in doc 1 and offset 0 in
    // doc 2: it straddles doc 1's fixed k=4 segment grid, so the
    // non-overlapping form sees no repeated segment at all
    val df = Seq(
      (1L, "a1 a2 X1 X2 X3 X4 a3 a4"),
      (2L, "X1 X2 X3 X4 b1 b2 b3 b4"))
      .toDF("doc_id", "text")
    val fixed = DedupOps.segmentDedupReport(df, "text", "doc_id",
      segTokens = 4, minDocs = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(fixed == Map(1L -> 0L, 2L -> 0L),
      "the fixed grid must MISS the straddling span (that is the blind spot)")
    // 4-token windows every 2: doc 1's window [2,6) and doc 2's [0,4)
    // carry the same TEXT, so the span is caught at both offsets
    val strided = DedupOps.segmentDedupStrided(df, "text", "doc_id",
      segTokens = 4, stride = 2, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(strided(1L) == ((3L, 1L, 4L, md5Hex("a1 a2 a3 a4"))))
    assert(strided(2L) == ((3L, 1L, 4L, md5Hex("b1 b2 b3 b4"))))
  }

  test("strided segment dedup: overlapping frequent windows strip tokens once") {
    import spark.implicits._
    // identical docs: every window is frequent and every token is covered
    // by several windows — survivors must be empty exactly once
    val df = Seq((1L, "x1 x2 x3 x4 x5"), (2L, "x1 x2 x3 x4 x5"))
      .toDF("doc_id", "text")
    val rows = DedupOps.segmentDedupStrided(df, "text", "doc_id",
      segTokens = 3, stride = 1, minDocs = 2).collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getLong(1) == 3L, "starts stop once a window reaches the end")
      assert(r.getLong(3) == 0L)
      assert(r.getString(4) == md5Hex(""))
    }
    // below minDocs nothing is stripped
    val solo = DedupOps.segmentDedupStrided(
      Seq((1L, "u1 u2 u3 u4")).toDF("doc_id", "text"),
      "text", "doc_id", segTokens = 3, stride = 1, minDocs = 2).collect()
    assert(solo.head.getLong(2) == 0L && solo.head.getLong(3) == 4L)
  }

  test("exact dup spans: overlapping window hits merge into one maximal span") {
    import spark.implicits._
    // a 5-token verbatim clone at different offsets: L=3 marks starts
    // 2,3,4 in doc 1 and 0,1,2 in doc 2 — each doc must report ONE span
    // of the clone's true extent, not three window hits
    val df = Seq(
      (1L, "p1 p2 X1 X2 X3 X4 X5 q1 q2"),
      (2L, "X1 X2 X3 X4 X5 r1 r2 r3"))
      .toDF("doc_id", "text")
    val out = DedupOps.exactDupSpans(df, "text", "doc_id", l = 3, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out(1L) == ((9L, 1L, 5L, 5L, 555555L)))
    assert(out(2L) == ((8L, 1L, 5L, 5L, 625000L)))
  }

  test("exact dup spans: disjoint clones stay two spans, touching clones coalesce") {
    import spark.implicits._
    // doc 1 vs doc 2: X-run and Y-run separated by DIFFERENT middles —
    // the bridging windows are unique, so two disjoint spans survive
    val disjoint = Seq(
      (1L, "X1 X2 X3 a Y1 Y2 Y3"),
      (2L, "X1 X2 X3 b Y1 Y2 Y3"))
      .toDF("doc_id", "text")
    val d = DedupOps.exactDupSpans(disjoint, "text", "doc_id", l = 3, minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(d(1L) == ((2L, 6L, 3L)) && d(2L) == ((2L, 6L, 3L)))
    // doc 1's X-span [0,3) and Y-span [3,6) touch (the bridging windows
    // are unique to doc 1) — covered tokens are contiguous, ONE span
    val touching = Seq(
      (1L, "X1 X2 X3 Y1 Y2 Y3 a"),
      (2L, "X1 X2 X3 c1 c2"),
      (3L, "d1 Y1 Y2 Y3 d2"))
      .toDF("doc_id", "text")
    val t = DedupOps.exactDupSpans(touching, "text", "doc_id", l = 3, minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(t(1L) == ((1L, 6L, 6L)), "touching intervals must coalesce")
  }

  test("exact dup spans: short docs and singletons follow the window rule") {
    import spark.implicits._
    // docs shorter than L emit their one whole-doc window: identical
    // short docs are fully duplicated; a doc with no >= minDocs window
    // yields no row at all
    val df = Seq((1L, "s1 s2"), (2L, "s1 s2"), (3L, "only here once"))
      .toDF("doc_id", "text")
    val out = DedupOps.exactDupSpans(df, "text", "doc_id", l = 3, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(3), r.getLong(5)))).toMap
    assert(out == Map(1L -> ((2L, 2L, 1000000L)), 2L -> ((2L, 2L, 1000000L))))
  }

  test("span screen delta: shard reports corpus boilerplate only, index survives write/reload") {
    import spark.implicits._
    // corpus docs 10/11 share the B-run (frequent at minDocs=2); shard
    // docs 1/2 ALSO share an S-run absent from the corpus — the delta
    // form must flag doc 1's B-run and stay silent on the shard-shard
    // duplicate (that is q179's job, not the ingest screen's)
    val corpus = Seq(
      (10L, "B1 B2 B3 c1 c2"), (11L, "c3 B1 B2 B3 c4"))
      .toDF("doc_id", "text")
    val shard = Seq(
      (1L, "s1 B1 B2 B3 S1 S2 S3"), (2L, "S1 S2 S3 s2 s3 s4 s5"))
      .toDF("doc_id", "text")
    val index = DedupOps.frequentWindowIndex(corpus, "text", "doc_id",
      l = 3, minDocs = 2)
    val out = DedupOps.exactDupSpansAgainstIndex(shard, index,
      "text", "doc_id", l = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out == Map(1L -> ((7L, 1L, 3L, 3L))),
      s"only doc 1's corpus-shared B-run is an indexed span: $out")
    // the persisted-artifact contract: write -> fresh reload -> the
    // screen reproduces its verdicts bit-identically
    val dir = java.nio.file.Files.createTempDirectory("graft_spanidx").toString
    index.write.parquet(s"$dir/windows")
    val reloaded = DedupOps.exactDupSpansAgainstIndex(shard,
      spark.read.parquet(s"$dir/windows"), "text", "doc_id", l = 3)
      .collect().map(_.toSeq).toSeq
    assert(reloaded == DedupOps.exactDupSpansAgainstIndex(shard, index,
      "text", "doc_id", l = 3).collect().map(_.toSeq).toSeq)
  }

  test("lexical cosine pairs: weighted occurrences, integer-exact squared cosine") {
    import spark.implicits._
    // doc 1 repeats its grams: "x y" and "y x" carry tf = 2 (an
    // occurrence-counting vector, NOT the binary shingle set), so
    // dot(1,2) = 2, |1|^2 = 8, |2|^2 = 2 and cos^2 = 4/16 exactly
    val df = Seq((1L, "x y x y x"), (2L, "x y z"), (3L, "p q"))
      .toDF("doc_id", "text")
    val out = DedupOps.lexicalCosinePairs(df, "text", "doc_id",
      w = 2, dfCap = 10, minCos2Ppm = 100000L, limit = 10).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5)) == ((1L, 2L, 2L, 8L, 2L, 250000L)))
  }

  test("lexical cosine pairs: the df cap excludes stopword-mass grams from the vectors") {
    import spark.implicits._
    val df = Seq((1L, "s t a"), (2L, "s t b"), (3L, "s t c"), (4L, "u v a"))
      .toDF("doc_id", "text")
    // "s t" sits in 3 docs: over the cap at 2 (vectors share nothing,
    // no pair survives), inside it at 3 (three pairs at cos^2 = 1/4)
    val capped = DedupOps.lexicalCosinePairs(df, "text", "doc_id",
      w = 2, dfCap = 2, minCos2Ppm = 1L, limit = 10).collect()
    assert(capped.isEmpty)
    val kept = DedupOps.lexicalCosinePairs(df, "text", "doc_id",
      w = 2, dfCap = 3, minCos2Ppm = 1L, limit = 10).collect()
    assert(kept.length == 3)
    assert(kept.forall(_.getLong(5) == 250000L))
  }

  test("containment pairs: an embedded excerpt scores containment 1.0 with jaccard < 1") {
    import spark.implicits._
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    val df = Seq(
      (1L, a),
      (2L, a + " omega"), // superset: every shingle of doc 1 plus one more
      (3L, "entirely unrelated content about spark physical planning today"))
      .toDF("doc_id", "text")
    val out = DedupOps.containmentPairs(df, "text", "doc_id",
      minContainment = 0.9, limit = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.toSeq.map(p => (p._1, p._2, p._3)) == Seq((1L, 2L, 1.0)),
      s"the excerpt pair must surface with containment 1.0: ${out.toSeq}")
    assert(out.head._4 < 1.0, s"jaccard must stay below 1: ${out.head}")
  }

  test("pair token-F1: exact copy scores 10^6 ppm; partial overlap matches the hand computation") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),            // exact copy
      (3L, "alpha beta gamma delta epsilon eta theta"),       // 5 of 6/7 tokens
      (4L, "entirely unrelated content about spark planning")) // no pair
      .toDF("doc_id", "text")
    val out = DedupOps.pairTokenF1(df, "text", "doc_id", minJaccard = 0.0, limit = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))
    // the exact copy: |T|=6 both sides, overlap 6 -> F1 = 1.0 = 10^6 ppm
    assert(out.contains((1L, 2L, 6L, 6L, 6L, 1000000L)), s"got ${out.toSeq}")
    // any surfaced (1,3)/(2,3) pair: overlap {alpha..epsilon}=5 of 6 and 7
    // tokens -> F1 = 10/13 -> 769230 ppm (integer div)
    out.filter(p => p._2 == 3L).foreach { p =>
      assert((p._3, p._4, p._5, p._6) == ((6L, 7L, 5L, 769230L)), s"got $p")
    }
    // doc 4 shares no shingle bucket with anything: never surfaced
    assert(!out.exists(p => p._1 == 4L || p._2 == 4L), s"got ${out.toSeq}")
    // repartition-invariant (integer ppm ordering, no float near the sort)
    val re = DedupOps.pairTokenF1(df.repartition(5), "text", "doc_id",
      minJaccard = 0.0, limit = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))
    assert(re.toSeq == out.toSeq)
  }

  test("containment >= jaccard on every surfaced pair; deterministic on the corpus") {
    val docs = graft.io.Tables.documents(spark, sf)
    val a = DedupOps.containmentPairs(docs, "text", "doc_id",
      minContainment = 0.3, limit = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(a.nonEmpty)
    a.foreach { case (da, db, c, j) =>
      assert(c >= j, s"containment < jaccard on ($da,$db): $c < $j")
    }
    val b = DedupOps.containmentPairs(docs.repartition(13), "text", "doc_id",
      minContainment = 0.3, limit = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(a == b)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Brute-force exact Jaccard pairs over DISTINCT token sets (w=1
    * shingles = tokens) — the ground truth the prefix filter must equal. */
  private def bruteJaccard(
      rows: Seq[(Long, String)], tNum: Long, tDen: Long): Set[(Long, Long, Long, Long)] = {
    val sets = rows.map { case (id, t) => id -> t.trim.split(" +").filter(_.nonEmpty).toSet }
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size.toLong; uni = (sa | sb).size.toLong
      if inter * tDen >= uni * tNum
    } yield (a, b, inter, uni)).toSet
  }

  test("exact jaccard join equals brute force, including pairs exactly on the threshold") {
    import spark.implicits._
    val rows: Seq[(Long, String)] = Seq(
      (1L, "aa bb cc"),          // vs 2: inter {bb,cc}=2, union 4 -> J = 1/2 exactly
      (2L, "bb cc dd"),
      (3L, "aa bb cc dd ee"),    // vs 1: 3/5; vs 2: 3/5; vs 4: 5/6
      (4L, "aa bb cc dd ee ff"),
      (5L, "zz yy xx ww"),       // disjoint from everything
      (6L, "pp qq"), (7L, "pp rr"))  // J = 1/3 < 1/2: must be excluded
    val df = rows.toDF("doc_id", "text")
    val got = DedupOps.jaccardJoinExact(df, "text", "doc_id",
      w = 1, tNum = 1L, tDen = 2L, maxBucket = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val want = bruteJaccard(rows, 1L, 2L)
    assert(got === want, s"got $got\nwant $want")
    assert(got.contains((1L, 2L, 2L, 4L)), "the exactly-at-threshold pair must be kept")
    assert(!got.exists(p => p._1 == 6L || p._2 == 7L))
    // tighter threshold drops the boundary pair, keeps the high ones
    val tight = DedupOps.jaccardJoinExact(df, "text", "doc_id",
      w = 1, tNum = 3L, tDen = 5L, maxBucket = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight === bruteJaccard(rows, 3L, 5L).map(p => (p._1, p._2)))
  }

  test("exact jaccard join: completeness under heavy shared-vocabulary pressure") {
    import spark.implicits._
    // every doc shares a large common block (frequent tokens -> ordered
    // LAST, so prefixes are forced onto the rare per-doc tokens): the
    // filter must still find every qualifying pair via the rare-token
    // buckets, and brute force is the judge
    val common = (1 to 12).map(i => s"c$i").mkString(" ")
    val rows: Seq[(Long, String)] = (1L to 10L).map { g =>
      (g, s"$common r${g / 2}a r${g / 2}b")  // consecutive ids share rare pair
    }
    val df = rows.toDF("doc_id", "text")
    val got = DedupOps.jaccardJoinExact(df, "text", "doc_id",
      w = 1, tNum = 4L, tDen = 5L, maxBucket = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === bruteJaccard(rows, 4L, 5L))
    assert(got.nonEmpty)
  }

  test("exact jaccard join: suffix filter keeps brute-force equality on randomized corpora") {
    import spark.implicits._
    // 120 docs over a small vocabulary at three thresholds: lots of
    // borderline pairs whose suffix-median hamming bound sits right at
    // the prune boundary — a too-tight bound (the only way the PPJoin+
    // filter can be wrong) loses a pair brute force keeps
    val rnd = new scala.util.Random(20260816L)
    val vocab = (1 to 30).map(i => s"w$i")
    val rows: Seq[(Long, String)] = (1L to 120L).map { id =>
      val k = 2 + rnd.nextInt(9)
      (id, rnd.shuffle(vocab).take(k).mkString(" "))
    }
    val df = rows.toDF("doc_id", "text").localCheckpoint()
    for ((tn, td) <- Seq((1L, 2L), (2L, 3L), (1L, 3L))) {
      val got = DedupOps.jaccardJoinExact(df, "text", "doc_id",
        w = 1, tNum = tn, tDen = td, maxBucket = 10000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got === bruteJaccard(rows, tn, td), s"threshold $tn/$td diverged")
    }
  }

  /** Simulate the prefix/bucket structure [[DedupOps.jaccardJoinExact]]
    * builds for w = 1 — distinct 28-bit md5 keys, freq-asc packed
    * (f·2²⁸ + h) order, prefix length n − ⌈t·n⌉ + 1 — and return each
    * doc's prefix-key list plus every bucket's member set. The capped
    * tests use this to ATTRIBUTE losses: a pair the capped run drops must
    * have at least one common prefix key whose bucket exceeds the cap
    * (either all its meetings were dropped outright, or the surviving
    * later meeting's positional/suffix bound — computed at that meeting,
    * the documented modulo-cap corner — legitimately pruned it). */
  private def prefixStructure(rows: Seq[(Long, String)], tNum: Long, tDen: Long)
      : (Map[Long, Seq[Long]], Map[Long, Set[Long]]) = {
    def h28(s: String): Long = java.lang.Long.parseLong(md5Hex(s).take(7), 16)
    val toks = rows.map { case (id, t) =>
      id -> t.trim.split(" +").filter(_.nonEmpty).toSet }
    val occ = toks.flatMap { case (id, ts) => ts.map(t => id -> h28(t)) }.distinct
    val freq = occ.groupBy(_._2).map { case (h, xs) => h -> xs.size.toLong }
    val prefixes = occ.groupBy(_._1).map { case (id, xs) =>
      val ks = xs.map(_._2).map(h => freq(h) * (1L << 28) + h).sorted
      val n = ks.size
      val pl = (n - ((tNum * n + tDen - 1) / tDen) + 1).toInt
      id -> ks.take(pl)
    }
    val buckets = prefixes.toSeq
      .flatMap { case (id, ks) => ks.map(k => k -> id) }
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).toSet }
    (prefixes, buckets)
  }

  /** Capped-run contract check against brute force (the r12 ADVICE ask):
    * the engine's result must be a SUBSET of brute force with bit-exact
    * values on every kept pair, and every LOST pair must be explained by
    * the cap — at least one common prefix key sat in an over-cap
    * bucket. Returns the lost pairs for case-specific assertions. */
  private def assertCappedContract(
      rows: Seq[(Long, String)], tNum: Long, tDen: Long, maxBucket: Int)
      : Set[(Long, Long)] = {
    import spark.implicits._
    val got = DedupOps.jaccardJoinExact(rows.toDF("doc_id", "text"), "text",
      "doc_id", w = 1, tNum = tNum, tDen = tDen, maxBucket = maxBucket)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val brute = bruteJaccard(rows, tNum, tDen)
    assert(got.subsetOf(brute),
      s"capping must only LOSE pairs, never add or corrupt: ${got -- brute}")
    val (prefixes, buckets) = prefixStructure(rows, tNum, tDen)
    val lost = brute.map(p => (p._1, p._2)) -- got.map(p => (p._1, p._2))
    lost.foreach { case (a, b) =>
      val common = prefixes(a).toSet & prefixes(b).toSet
      assert(common.exists(k => buckets(k).size > maxBucket),
        s"pair ($a,$b) lost without any over-cap common prefix bucket — " +
          "a completeness bug, not the documented cap trade")
    }
    lost
  }

  test("capped corner: losses attributed to dropped buckets, kept pairs exact") {
    // a 6-doc identical cluster (every prefix bucket holds all 6 docs —
    // the all-duplicate cluster exactDedup removes first) + small
    // disjoint-vocabulary near-dup pairs in size-2 buckets
    val cluster = (1L to 6L).map(id => (id, "k1 k2 k3 k4 k5 k6"))
    val pairs = Seq(
      (11L, "p1 p2 p3"), (12L, "p1 p2 p4"),   // J = 2/4 = 1/2, kept
      (13L, "r1 r2 r3 r4"), (14L, "r1 r2 r3 r5"))  // J = 3/5, kept
    val rows = cluster ++ pairs
    val lost = assertCappedContract(rows, 1L, 2L, maxBucket = 4)
    // exactly the cluster's 15 pairs are lost; both small-bucket pairs
    // survive with exact values (checked inside the contract helper)
    assert(lost == (for (a <- 1L to 6L; b <- (a + 1) to 6L) yield (a, b)).toSet)
  }

  test("capped corner: a first meeting dropped by the cap degrades the later-meeting bound") {
    // the specific corner the r12 ADVICE called untested: a qualifying
    // pair whose FIRST common prefix key sits in an over-cap bucket but
    // whose later common key survives — the positional bound is then
    // computed at the later meeting, underestimates the overlap, and
    // prunes a pair the uncapped run keeps. Frequency TIES ordered by
    // hash make this constructible: the pair's three common tokens all
    // have corpus freq 6; the hash-lowest (gLow) rides 4 SHORT carrier
    // docs whose 2-token prefixes include it (bucket 6 > cap), while
    // gMid/gHi ride LONG carrier docs whose rare-first prefixes never
    // reach an f = 6 key (buckets of 2, surviving)
    def h(s: String) = java.lang.Long.parseLong(md5Hex(s).take(7), 16)
    val sortedPool = (1 to 12).map(i => s"g$i").sortBy(h)
    val (gLow, gMid, gHi) = (sortedPool(0), sortedPool(1), sortedPool(2))
    val rows: Seq[(Long, String)] =
      Seq((1L, s"ua $gLow $gMid $gHi"), (2L, s"ub $gLow $gMid $gHi")) ++
        // 4 short carriers: n = 2, prefix = both tokens -> gLow's bucket
        // holds all 6 member docs, over the cap of 4
        (3L to 6L).map(id => (id, s"$gLow s$id")) ++
        // 8 long carriers (4 gMid + 4 gHi): n = 12 with 11 per-doc-unique
        // f = 1 fillers, prefix 7 -> the f = 6 key sorts last, out of
        // prefix; gMid/gHi buckets stay {1, 2}
        (7L to 10L).map(id => (id,
          ((1 to 11).map(j => s"zm${id}_$j") :+ gMid).mkString(" "))) ++
        (11L to 14L).map(id => (id,
          ((1 to 11).map(j => s"zh${id}_$j") :+ gHi).mkString(" ")))
    // the pair (1,2): J = 3/5 >= 1/2 (brute keeps it). Prefix (len 3) =
    // [u, gLow, gMid]; gLow's bucket is dropped, so the pair meets only
    // at gMid — position 2 on both sides, la = lb = 1, positional bound
    // (1 + 1)·3 = 6 < 1·8: pruned at the later meeting. Both engines
    // prune it identically (q192 pins that cross-engine); here: subset +
    // attribution hold, and THIS pair is among the lost
    val lost = assertCappedContract(rows, 1L, 2L, maxBucket = 4)
    assert(lost.contains((1L, 2L)),
      "expected the degraded later-meeting bound to prune the (1,2) pair " +
        "(if kept, the fixture no longer exercises the capped corner)")
    // the same corpus UNCAPPED equals brute force — the loss above is
    // the cap's doing, not the filters'
    import spark.implicits._
    val uncapped = DedupOps.jaccardJoinExact(rows.toDF("doc_id", "text"),
      "text", "doc_id", w = 1, tNum = 1L, tDen = 2L, maxBucket = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(uncapped == bruteJaccard(rows, 1L, 2L))
    assert(uncapped.exists(p => p._1 == 1L && p._2 == 2L))
  }

  test("capped corner: randomized corpora keep the subset + attribution contract") {
    val rnd = new scala.util.Random(20260816L)
    val vocab = (1 to 14).map(i => s"w$i")  // small vocabulary -> fat buckets
    val rows: Seq[(Long, String)] = (1L to 80L).map { id =>
      val k = 2 + rnd.nextInt(7)
      (id, rnd.shuffle(vocab).take(k).mkString(" "))
    }
    for ((tn, td, cap) <- Seq((1L, 2L, 3), (1L, 2L, 6), (2L, 3L, 4))) {
      val lost = assertCappedContract(rows, tn, td, maxBucket = cap)
      // the caps are chosen to actually bite on this corpus: a vacuous
      // run (nothing lost) would not exercise the corner
      assert(lost.nonEmpty, s"cap $cap never dropped a pair at $tn/$td — " +
        "fixture too sparse to test the capped corner")
    }
  }

  test("suffixKeep kernel equals the mirrored SQL bound text on randomized inputs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{expr, udf}
    // the SQL text is the filter's SPEC (DuckDB splices it verbatim);
    // the engine runs the long kernel — pin them equal over the real
    // input domain (la, lb >= 1 with medians; la = 0 rows carry null)
    val rnd = new scala.util.Random(20260816L)
    val rows = (1 to 3000).map { _ =>
      val na = 2L + rnd.nextInt(40)
      val nb = 2L + rnd.nextInt(40)
      val ia = rnd.nextInt(na.toInt - 1).toLong
      val ib = rnd.nextInt(nb.toInt - 1).toLong
      val ma: Option[Long] =
        if (na - 1 - ia < 1) None else Some(rnd.nextInt(60).toLong)
      val mb: Option[Long] =
        if (nb - 1 - ib < 1) None else Some(rnd.nextInt(60).toLong)
      (na, nb, ia, ib, ma, mb)
    }
    val (tn, td) = (1L, 2L)
    val h1 = DedupOps.suffixHammingBound(
      v = "mb", m = "ma", ll = "lal", l = "la", a = "lbl", c = "la - lb + lbl")
    val h2 = DedupOps.suffixHammingBound(
      v = "ma", m = "mb", ll = "lbl", l = "lb", a = "lal", c = "lb - la + lal")
    val diff = rows.toDF("na", "nb", "ia", "ib", "ma", "mb")
      .selectExpr("*", "na - 1 - ia AS la", "nb - 1 - ib AS lb")
      .selectExpr("*", "(la - 1) div 2 AS lal", "(lb - 1) div 2 AS lbl")
      .withColumn("sql_keep", expr("la < 1 OR lb < 1 OR " +
        s"(1 + (la + lb - greatest($h1, $h2)) div 2) * ${tn + td} " +
        s">= $tn * (na + nb)"))
      .withColumn("kernel_keep", udf(DedupOps.suffixKeep(tn, td) _).apply(
        expr("na"), expr("nb"), expr("ia"), expr("ib"), expr("ma"), expr("mb")))
      .filter(expr("coalesce(sql_keep, true) <> kernel_keep"))
      .count()
    assert(diff == 0L, s"$diff rows diverge between kernel and SQL spec")
  }

  test("exact jaccard join is repartition-invariant on the real corpus") {
    val a = DedupOps.jaccardJoinExact(docs, "text", "doc_id",
      w = 3, tNum = 1L, tDen = 2L).collect().toSeq
    val b = DedupOps.jaccardJoinExact(docs.repartition(7), "text", "doc_id",
      w = 3, tNum = 1L, tDen = 2L).collect().toSeq
    assert(a == b)
    assert(a.nonEmpty, "the synthetic corpus carries near-dup pairs")
    // jaccard_ppm is exactly the integer form of n_common/n_union
    a.foreach { r =>
      assert(r.getLong(4) == r.getLong(2) * 1000000L / r.getLong(3))
    }
  }

  test("minhash calibration: exact copies agree on every component") {
    import spark.implicits._
    val copy = "alpha beta gamma delta epsilon zeta eta theta"
    val df = Seq(
      (1L, copy), (2L, copy), // exact copy: est = exact = 1e6, err 0
      (3L, "alpha beta gamma delta epsilon zeta other words here"),
      (4L, "totally different text with no overlap at all"))
      .toDF("doc_id", "text")
    val r = DedupOps.minhashCalibration(df, "text", "doc_id",
        w = 3, nBands = 8, r = 2, minJaccard = 0.0, limit = 50)
      .collect()
    val byPair = r.map(x => (x.getLong(0), x.getLong(1)) -> x).toMap
    val exact = byPair((1L, 2L))
    assert(exact.getAs[Long]("exact_ppm") == 1000000L)
    assert(exact.getAs[Long]("est_matches") == 16L) // every component equal
    assert(exact.getAs[Long]("est_ppm") == 1000000L)
    assert(exact.getAs[Long]("abs_err_ppm") == 0L)
    // every pair: estimate in [0, 1e6], err consistent with the columns
    r.foreach { x =>
      val est = x.getAs[Long]("est_ppm")
      assert(est >= 0L && est <= 1000000L)
      assert(x.getAs[Long]("abs_err_ppm") ==
        math.abs(est - x.getAs[Long]("exact_ppm")))
    }
    // worst-calibrated-first ordering
    val errs = r.map(_.getAs[Long]("abs_err_ppm")).toSeq
    assert(errs == errs.sorted.reverse)
  }

  test("lshBandSCurve: exact copies collide in every band at bucket 9; theory is the closed form") {
    import spark.implicits._
    val copy = "alpha beta gamma delta epsilon zeta eta"
    val df = Seq(
      (2L, copy), (4L, copy), // identical: jaccard 1e6 -> top bucket, must collide
      (6L, "totally different words with zero shingle overlap here"))
      .toDF("doc_id", "text")
    val r = DedupOps.lshBandSCurve(df, "text", "doc_id",
      w = 3, nBands = 8, r = 2, sampleN = 10)
      .collect().map(x => x.getLong(0) -> x).toMap
    val top = r(9L)
    assert(top.getAs[Long]("n_pairs") == 1L && top.getAs[Long]("n_collide") == 1L)
    assert(top.getAs[Long]("collide_ppm") == 1000000L)
    assert(top.getAs[Long]("lo_ppm") == 900000L)
    assert(r(0L).getAs[Long]("n_pairs") == 2L) // the two disjoint pairs
    // theory literals are the closed form, monotone along the curve
    val theory = DedupOps.sCurveTheoryPpm(8, 2, 10)
    assert(top.getAs[Long]("theory_ppm") == theory(9))
    assert(theory == theory.sorted)
    assert(theory.head >= 0 && theory.last <= 1000000L)
    // partitioning-invariant
    val b = DedupOps.lshBandSCurve(df.repartition(5), "text", "doc_id",
      w = 3, nBands = 8, r = 2, sampleN = 10)
      .collect().map(x => x.getLong(0) -> x.toString).toMap
    assert(r.view.mapValues(_.toString).toMap == b)
  }

  test("levenshteinPairs: equals brute force within the threshold; length blocking loses nothing") {
    import spark.implicits._
    val df = Seq(
      (1L, "kitten"), (2L, "sitten"), (3L, "sitting"),
      (4L, "completely different string here"), (5L, "kitten"))
      .toDF("doc_id", "text")
    val got = DedupOps.levenshteinPairs(df, "text", "doc_id",
      maxDist = 3, sampleMod = 1, limit = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // hand-enumerated: exact copy 0, single edits 1, sitten->sitting 2,
    // kitten->sitting 3; doc 4 is out of every band
    assert(got == Seq((1L, 5L, 0L), (1L, 2L, 1L), (2L, 5L, 1L),
      (2L, 3L, 2L), (1L, 3L, 3L), (3L, 5L, 3L)))
    // brute-force cross-check: full-matrix levenshtein over all pairs
    val t = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def lev(a: String, b: String): Int = {
      val m = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
          m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      m(a.length)(b.length)
    }
    val brute = (for {
      a <- t.keys; b <- t.keys if a < b
      d = lev(t(a), t(b)) if d <= 3
    } yield (a, b, d.toLong)).toSet
    assert(got.toSet == brute)
    // partitioning-invariant
    val p7 = DedupOps.levenshteinPairs(df.repartition(7), "text", "doc_id",
      maxDist = 3, sampleMod = 1, limit = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == p7)
  }

  test("dupAttribution: per-group dup and cross-group split match the hand computation") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", "s1"), (2L, "a", "s2"), (3L, "a", "s1"), // keeper 1@s1; 2 cross, 3 same
      (4L, "b", "s2"), (5L, "b", "s2"),                  // keeper 4@s2; 5 same
      (6L, "c", "s1"),                                   // unique
      (7L, null, "s1"))                                  // null text drops
      .toDF("doc_id", "text", "source")
    val r = DedupOps.dupAttribution(df, "text", "doc_id", "source")
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4))).toMap
    assert(r("s1") == ((3L, 1L, 0L, 333333L)))
    assert(r("s2") == ((3L, 2L, 1L, 666666L)))
    // invariants: cross <= dup <= n_docs; partitioning-invariant
    val b = DedupOps.dupAttribution(df.repartition(5), "text", "doc_id", "source")
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4))).toMap
    assert(r == b)
  }

  test("crossSourceOverlap: hand-computed shingle sets, disjoint pair absent, re-crawl signature") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d", "A"),          // A shingles(w=2): {a b, b c, c d}
      (2L, "b c d e", "B"),          // B: {b c, c d, d e}
      (3L, "a b c d e", "S"),        // S: {a b, b c, c d, d e} — superset of both
      (4L, "p q r", "C"),            // C: disjoint
      (5L, null, "A"))               // null text drops
      .toDF("doc_id", "text", "source")
    val r = DedupOps.crossSourceOverlap(df, "text", "source", w = 2)
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5), x.getLong(6), x.getLong(7)))
      .toMap
    // A(3) vs B(3): common {b c, c d} = 2 -> containment 2/3 both ways,
    // jaccard 2/4
    assert(r(("A", "B")) == ((3L, 3L, 2L, 666666L, 666666L, 500000L)))
    // A vs S: A fully contained (re-crawl signature: containment_a 10^6,
    // jaccard below it)
    assert(r(("A", "S")) == ((3L, 4L, 3L, 1000000L, 750000L, 750000L)))
    assert(r(("B", "S")) == ((3L, 4L, 3L, 1000000L, 750000L, 750000L)))
    // the disjoint source appears in NO pair
    assert(!r.keySet.exists { case (a, b2) => a == "C" || b2 == "C" })
    assert(r.size == 3)
    // partitioning-invariant
    val b = DedupOps.crossSourceOverlap(df.repartition(5), "text", "source", w = 2)
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.toString).toMap
    assert(r.keySet == b.keySet)
  }
}
