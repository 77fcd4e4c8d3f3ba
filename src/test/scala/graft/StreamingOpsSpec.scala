package graft

import graft.model.Defaults
import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

class StreamingOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: Long): java.sql.Timestamp = new java.sql.Timestamp(s * 1000)

  test("streaming span screen agrees with the batch index screen, incl. split micro-batches") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // corpus shares the 4-token B-run: index (l=3, minDocs=2) holds
    // "B1 B2 B3" and "B2 B3 B4" — shard doc 1's overlapping hits must
    // MERGE to one 4-token span, doc 3's disjoint hits must stay two
    val corpus = Seq((10L, "B1 B2 B3 B4 c1"), (11L, "c2 B1 B2 B3 B4"))
      .toDF("doc_id", "text")
    val index = graft.ops.DedupOps.frequentWindowIndex(
      corpus, "text", "doc_id", l = 3, minDocs = 2)
    val shardRows = Seq(
      (1L, "s1 B1 B2 B3 B4 S1"),
      (2L, "S1 S2 S3 s2"),
      (3L, "B1 B2 B3 z B2 B3 B4"))
    val batch = graft.ops.DedupOps.exactDupSpansAgainstIndex(
      shardRows.toDF("doc_id", "text"), index, "text", "doc_id", l = 3)
      .collect().map(_.toSeq).toSeq
    assert(batch == Seq(
      Seq(1L, 6L, 1L, 4L, 4L, 666666L),
      Seq(3L, 7L, 2L, 6L, 3L, 857142L)), s"batch fixture drifted: $batch")

    def run(name: String)(feed: (MemoryStream[(Long, String, java.sql.Timestamp)],
        org.apache.spark.sql.streaming.StreamingQuery) => Unit): Seq[Seq[Any]] = {
      val in = MemoryStream[(Long, String, java.sql.Timestamp)]
      val out = StreamingOps.streamingSpanScreen(
        in.toDF().toDF("doc_id", "text", "ts"), index,
        "text", "doc_id", "ts", "0 seconds", l = 3)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        feed(in, q)
        in.addData((98L, "w a t e r m a r k advance one", ts(5000)))
        q.processAllAvailable()
        in.addData((99L, "w a t e r m a r k advance two", ts(10000)))
        q.processAllAvailable()
        spark.sql(s"SELECT * FROM $name WHERE doc_id < 90 ORDER BY doc_id")
          .collect().map(_.toSeq).toSeq
      } finally q.stop()
    }
    val oneBatch = run("spanscreen") { (in, q) =>
      in.addData(shardRows.map { case (id, t) => (id, t, ts(100)) }: _*)
      q.processAllAvailable()
    }
    assert(oneBatch == batch, s"stream/batch divergence: $oneBatch vs $batch")
    // the screen is per-doc stateless up to the watermarked aggregation:
    // docs split across micro-batches produce the same verdicts
    val split = run("spanscreen2") { (in, q) =>
      in.addData((shardRows(0)._1, shardRows(0)._2, ts(100)))
      q.processAllAvailable()
      in.addData((shardRows(1)._1, shardRows(1)._2, ts(200)),
        (shardRows(2)._1, shardRows(2)._2, ts(200)))
      q.processAllAvailable()
    }
    assert(split == batch, s"split-batch divergence: $split vs $batch")
  }

  test("span ingest loop grows the window index: later batches see earlier spans") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_spaningest").toString
    // seed epoch (batch=-1): one corpus doc's windows
    graft.ops.DedupOps.frequentWindowIndex(
      Seq((10L, "B1 B2 B3 c1 c2")).toDF("doc_id", "text"),
      "text", "doc_id", l = 3, minDocs = 1)
      .write.parquet(s"$dir/index/batch=-1")
    val reports = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Seq[Any]])]
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.spanIngest(
      in.toDF().toDF("doc_id", "text"), s"$dir/index", "text", "doc_id", l = 3,
      onBatch = (report, id) => reports.synchronized {
        reports += ((id, report.collect().map(_.toSeq).toSeq))
      }).start()
    try {
      // batch 0: doc 20 carries the SEED boilerplate, doc 21 is novel
      in.addData((20L, "x B1 B2 B3 y"), (21L, "N1 N2 N3 N4 N5"))
      q.processAllAvailable()
      // batch 1: doc 30 repeats batch 0's NOVEL doc — only catchable if
      // doc 21's windows were appended to the index
      in.addData((30L, "N1 N2 N3 N4 z1 z2"))
      q.processAllAvailable()
      val byId = reports.sortBy(_._1).toSeq
      assert(byId.map(_._1) == Seq(0L, 1L))
      assert(byId(0)._2 == Seq(Seq(20L, 5L, 1L, 3L, 3L, 600000L)),
        s"batch 0 must flag only the seed boilerplate: ${byId(0)._2}")
      assert(byId(1)._2 == Seq(Seq(30L, 6L, 1L, 4L, 4L, 666666L)),
        s"batch 1 must span-match the batch-0 survivor: ${byId(1)._2}")
    } finally q.stop()
  }

  test("span ingest index stays key-distinct under every-batch boilerplate") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_spandistinct").toString
    graft.ops.DedupOps.frequentWindowIndex(
      Seq((10L, "B1 B2 B3 c1 c2")).toDF("doc_id", "text"),
      "text", "doc_id", l = 3, minDocs = 1)
      .write.parquet(s"$dir/index/batch=-1")
    val reports = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Seq[Any]])]
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.spanIngest(
      in.toDF().toDF("doc_id", "text"), s"$dir/index", "text", "doc_id", l = 3,
      onBatch = (report, id) => reports.synchronized {
        reports += ((id, report.collect().map(_.toSeq).toSeq))
      }).start()
    try {
      // the same boilerplate-bearing text arrives in EVERY batch — the
      // accumulation regime: without the anti-joined append each epoch
      // would add one more copy of the already-indexed windows
      in.addData((20L, "x B1 B2 B3 y")); q.processAllAvailable()
      in.addData((30L, "x B1 B2 B3 y")); q.processAllAvailable()
      in.addData((40L, "x B1 B2 B3 y")); q.processAllAvailable()
      val byId = reports.sortBy(_._1).toSeq
      assert(byId.map(_._1) == Seq(0L, 1L, 2L))
      // per-batch reports: batch 0 sees only the seed span; batches 1-2
      // see the WHOLE text indexed (batch 0 appended its novel windows)
      // and their reports are identical — stream age changes nothing
      assert(byId(0)._2 == Seq(Seq(20L, 5L, 1L, 3L, 3L, 600000L)), s"${byId(0)._2}")
      val full = Seq(Seq(30L, 5L, 1L, 5L, 5L, 1000000L))
      assert(byId(1)._2 == full, s"${byId(1)._2}")
      assert(byId(2)._2 == full.map(r => 40L +: r.tail), s"${byId(2)._2}")
      // the index's key multiset is globally DISTINCT: 3 seed windows +
      // batch 0's 2 novel ones ("x B1 B2", "B2 B3 y"); batches 1-2
      // appended nothing (all their windows were already indexed)
      val wks = spark.read.parquet(s"$dir/index").select("wk")
        .collect().map(_.getString(0)).toSeq
      assert(wks.size == 5 && wks.distinct.size == 5,
        s"index must stay key-distinct across epochs: ${wks.size} keys, " +
          s"${wks.distinct.size} distinct")
    } finally q.stop()
  }

  test("span ingest replay screens against the pre-write index state") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_spanreplay").toString
    graft.ops.DedupOps.frequentWindowIndex(
      Seq((10L, "B1 B2 B3 c1 c2")).toDF("doc_id", "text"),
      "text", "doc_id", l = 3, minDocs = 1)
      .write.parquet(s"$dir/index/batch=-1")
    val b = Seq((20L, "N1 N2 N3 N4 N5")).toDF("doc_id", "text")
    def runBatch(): Seq[Seq[Any]] =
      StreamingOps.spanIngestBatch(b, 0L, s"$dir/index", "text", "doc_id", l = 3)
        .collect().map(_.toSeq).toSeq
    // first attempt: the doc is novel — empty report, windows appended
    assert(runBatch().isEmpty, "novel doc must produce an empty span report")
    val afterFirst = spark.read.parquet(s"$dir/index").select("wk")
      .collect().map(_.getString(0)).sorted.toSeq
    // REPLAY of the same batchId (crash between the parquet write and the
    // streaming commit): must screen against the same index state as the
    // original attempt — not against its own previously-appended windows,
    // which would report the novel doc as fully self-duplicated
    assert(runBatch().isEmpty, "replayed batch must not self-match its own windows")
    val afterReplay = spark.read.parquet(s"$dir/index").select("wk")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(afterReplay == afterFirst, "replay must rewrite identical index content")
  }

  test("near-dup ingest replay keeps verdicts and index content identical") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ndreplay").toString
    val corpus = Seq((10L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    graft.ops.DedupOps.bandKeyIndex(corpus, "text", "doc_id")
      .write.parquet(s"$dir/index/batch=-1")
    graft.ops.DedupOps.shingleHashSets(corpus, "text", "doc_id")
      .write.parquet(s"$dir/hashsets/batch=-1")
    val b = Seq(
      (20L, "the quick brown fox jumps over the lazy dog tonight"),
      (21L, "completely novel sentence about catalyst physical planning"))
      .toDF("doc_id", "text")
    def run(): (Seq[Long], Seq[(Long, Long)]) = {
      val (a, bl) = StreamingOps.nearDupIngestBatch(b, 0L,
        s"$dir/index", s"$dir/hashsets", "text", "doc_id", 3, 8, 2, 0.5)
      (a.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted,
        bl.select("doc_id", "near_dup_of").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted)
    }
    def indexIds(): Set[Long] = spark.read.parquet(s"$dir/index")
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    val first = run()
    assert(first == ((Seq(21L), Seq((20L, 10L)))), s"first attempt: $first")
    assert(indexIds() == Set(10L, 21L))
    // REPLAY of the same batchId: without the own-partition exclusion the
    // first attempt's survivor (21) would self-match at jaccard 1.0, flip
    // to blocked, and the rewrite would ERASE it from the index
    assert(run() == first, "replay must reproduce the original verdicts")
    assert(indexIds() == Set(10L, 21L),
      "replay must rewrite identical index content — never erase survivors")
  }

  test("artifact compaction: epoch fold preserves the key multiset and is crash-idempotent") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/idx"
    Seq("s1", "s2").toDF("wk").write.parquet(s"$dir/batch=-1")
    Seq("a1").toDF("wk").write.parquet(s"$dir/batch=0")
    Seq("b1", "b2").toDF("wk").write.parquet(s"$dir/batch=1")
    def keys(): Seq[String] = spark.read.parquet(dir).select("wk")
      .collect().map(_.getString(0)).sorted.toSeq
    def parts(): Set[String] = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).toSet
    val before = keys()
    val art = graft.io.BatchArtifact(dir, sortCols = Seq("wk"))
    art.fold(spark, batchId = 2L, every = 2)
    assert(parts() == Set("batch=-4"), s"fold must retire the source partitions: ${parts()}")
    assert(keys() == before, "the fold only reorganizes rows")
    // crash mid-retire: an un-deleted source partition reappears next to
    // the committed epoch — the replay resumes the retire step
    Seq("a1").toDF("wk").write.parquet(s"$dir/batch=0")
    art.fold(spark, batchId = 2L, every = 2)
    assert(parts() == Set("batch=-4") && keys() == before,
      "replay must finish retiring without re-folding")
    // crash mid-stage: a partial dot-dir is invisible to discovery and
    // cleared by the next attempt (here: a later compaction at batch 4)
    Seq("c1").toDF("wk").write.parquet(s"$dir/batch=3")
    val tmp = new java.io.File(s"$dir/.compact_tmp_4"); tmp.mkdirs()
    java.nio.file.Files.writeString(tmp.toPath.resolve("garbage"), "not parquet")
    art.fold(spark, batchId = 4L, every = 2)
    assert(parts() == Set("batch=-6"), s"second epoch folds the first + batch 3: ${parts()}")
    assert(keys() == (before :+ "c1").sorted && !tmp.exists())
    // r13 (r12 ADVICE): a crash AFTER the rename-commit leaves the
    // staging dir behind and the replay takes the epoch-exists skip
    // branch — the tmp must still be deleted there, not accumulate as
    // permanent invisible garbage
    val tmpAfterCommit = new java.io.File(s"$dir/.compact_tmp_4")
    tmpAfterCommit.mkdirs()
    art.fold(spark, batchId = 4L, every = 2)
    assert(!tmpAfterCommit.exists(),
      "skip branch must clear the post-commit staging leftover")
    // r13 (r12 ADVICE): a partition dir whose name is not a batch id
    // (hive null partition, stray dir) is not ours to retire — the
    // retire loop must skip it instead of failing the stream on a
    // NumberFormatException
    val stray = new java.io.File(s"$dir/batch=__HIVE_DEFAULT_PARTITION__")
    stray.mkdirs()
    art.fold(spark, batchId = 4L, every = 2)
    assert(stray.exists(), "unparseable partition names survive untouched")
    assert(parts() == Set("batch=-6", "batch=__HIVE_DEFAULT_PARTITION__"))
    assert(keys() == (before :+ "c1").sorted)
  }

  test("ingest compaction mid-stream: next batch's verdicts and appends bit-identical") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // twin runs over identical data — one compacting every 2 batches, one
    // never — must produce identical per-batch span reports and identical
    // final index key multisets; only the partition layout may differ
    val batches = Seq(
      Seq((20L, "x B1 B2 B3 y"), (21L, "N1 N2 N3 N4 N5")),
      Seq((30L, "N1 N2 N3 N4 z1 z2")),
      Seq((40L, "N1 N2 N3 q1 q2"), (41L, "B1 B2 B3 N4 N5 w")),
      Seq((50L, "q1 q2 N1 N2 N3 N4")))
    def drive(every: Int): (Seq[(Long, Seq[Seq[Any]])], Seq[String], Set[String]) = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_cmpstream$every").toString
      graft.ops.DedupOps.frequentWindowIndex(
        Seq((10L, "B1 B2 B3 c1 c2")).toDF("doc_id", "text"),
        "text", "doc_id", l = 3, minDocs = 1)
        .write.parquet(s"$dir/index/batch=-1")
      val reports = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Seq[Any]])]
      val in = MemoryStream[(Long, String)]
      val q = StreamingOps.spanIngest(
        in.toDF().toDF("doc_id", "text"), s"$dir/index", "text", "doc_id", l = 3,
        compactEvery = every,
        onBatch = (report, id) => reports.synchronized {
          reports += ((id, report.collect().map(_.toSeq).toSeq))
        }).start()
      try batches.foreach { rows => in.addData(rows: _*); q.processAllAvailable() }
      finally q.stop()
      val wks = spark.read.parquet(s"$dir/index").select("wk")
        .collect().map(_.getString(0)).sorted.toSeq
      val parts = new java.io.File(s"$dir/index").listFiles()
        .map(_.getName).filter(_.startsWith("batch=")).toSet
      (reports.sortBy(_._1).toSeq, wks, parts)
    }
    val (repC, wksC, partsC) = drive(every = 2)
    val (repN, wksN, partsN) = drive(every = 0)
    assert(repC == repN, s"compaction changed a screen verdict:\n$repC\nvs\n$repN")
    assert(wksC == wksN, "compaction changed the index key multiset")
    // compaction actually compacted: batch 2 folded {-1, 0, 1}; batch 3
    // appended nothing novel after it (no new partition for an empty
    // append is not guaranteed — assert only on what must hold)
    assert(partsN.size >= 5, s"uncompacted twin grows per batch: $partsN")
    assert(partsC.contains("batch=-4") && !partsC.contains("batch=0") &&
      !partsC.contains("batch=1") && !partsC.contains("batch=-1"),
      s"compacted run must carry the epoch instead of the folded partitions: $partsC")
  }

  test("compacting batch replay keeps verdicts and content identical") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cmpreplay").toString
    val corpus = Seq((10L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    graft.ops.DedupOps.bandKeyIndex(corpus, "text", "doc_id")
      .write.parquet(s"$dir/index/batch=-1")
    graft.ops.DedupOps.shingleHashSets(corpus, "text", "doc_id")
      .write.parquet(s"$dir/hashsets/batch=-1")
    // batch 1 appends a survivor; batch 2 compacts THEN screens; its
    // replay (crash between the appends and the streaming commit) must
    // reproduce both the verdicts and the artifact content
    val b1 = Seq((21L, "completely novel sentence about catalyst physical planning"))
      .toDF("doc_id", "text")
    StreamingOps.nearDupIngestBatch(b1, 1L, s"$dir/index", s"$dir/hashsets",
      "text", "doc_id", 3, 8, 2, 0.5, compactEvery = 2)
    val b2 = Seq(
      (30L, "completely novel sentence about catalyst physical planning"),
      (31L, "another entirely fresh document about shuffle partitions"))
      .toDF("doc_id", "text")
    def run(): (Seq[Long], Seq[(Long, Long)]) = {
      val (a, bl) = StreamingOps.nearDupIngestBatch(b2, 2L,
        s"$dir/index", s"$dir/hashsets", "text", "doc_id", 3, 8, 2, 0.5,
        compactEvery = 2)
      (a.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted,
        bl.select("doc_id", "near_dup_of").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted)
    }
    def indexIds(): Set[Long] = spark.read.parquet(s"$dir/index")
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    val first = run()
    assert(first == ((Seq(31L), Seq((30L, 21L)))),
      s"batch 2 must block the dup of the batch-1 survivor post-compaction: $first")
    assert(indexIds() == Set(10L, 21L, 31L))
    assert(run() == first, "replayed compacting batch must reproduce the verdicts")
    assert(indexIds() == Set(10L, 21L, 31L),
      "replayed compacting batch must keep the artifact content")
  }

  test("curation ingest replay keeps the stage report and key artifact identical") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_curreplay").toString
    val corpus = Seq((10L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    Seq.empty[String].toDF("__key").write.parquet(s"$dir/keys/batch=-1")
    graft.ops.DedupOps.bandKeyIndex(corpus, "text", "doc_id")
      .write.parquet(s"$dir/index/batch=-1")
    graft.ops.DedupOps.shingleHashSets(corpus, "text", "doc_id")
      .write.parquet(s"$dir/hashsets/batch=-1")
    val benchShingles = Seq((100L, "benchmark evaluation suite question answers exactly here"))
      .toDF("doc_id", "text")
      .select(graft.functions.Generators.shingleExplode(col("text"), 3).as("s"))
      .distinct().localCheckpoint()
    val b = Seq(
      (2L, "completely novel sentence about catalyst physical planning"),
      (6L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    def run(): (Seq[(Long, String, Long)], Seq[Long]) = {
      val (report, accepted) = StreamingOps.curationIngestBatch(b, 0L,
        s"$dir/keys", s"$dir/index", s"$dir/hashsets", benchShingles,
        "text", "doc_id", stopwords = Seq("the", "about", "over"),
        minTokens = 3, maxTokens = 100, minStops = 0,
        prefixLen = 3, w = 3, maxOverlapNum = 1, maxOverlapDen = 2,
        budgetNum = 1, budgetDen = 1, nBands = 8, r = 2, minJaccard = 0.5)
      (report.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq,
        accepted.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted)
    }
    def keys(): Seq[String] = spark.read.parquet(s"$dir/keys")
      .select("__key").collect().map(_.getString(0)).sorted.toSeq
    val first = run()
    assert(first._2 == Seq(2L), s"first attempt accepts the novel doc: $first")
    val keys1 = keys()
    // REPLAY: without the exclusion, doc 2's own key (written by the first
    // attempt) would reject it at the exact-dedup stage and the key
    // partition would be rewritten empty
    assert(run() == first, "replay must reproduce the original report and verdicts")
    assert(keys() == keys1, "replay must rewrite identical key content")
  }

  test("ivf ingest replay reports the same matches as the original attempt") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfreplay").toString
    val corpus = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0.9f, 0.1f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val cents = graft.ops.SimilarityOps.ivfCentroids(corpus, "vec_id", "embedding", centroidMod = 2)
    cents.write.parquet(s"$dir/centroids")
    graft.ops.SimilarityOps.ivfAssignments(corpus, "vec_id", "embedding", cents)
      .write.partitionBy("cid").parquet(s"$dir/lists/batch=-1")
    val b = Seq((10L, Seq(0.95f, 0.05f, 0f, 0f))).toDF("vec_id", "embedding")
    def run(): Seq[(Long, Long, Long)] =
      StreamingOps.ivfIngestBatch(b, 0L, s"$dir/centroids", s"$dir/lists",
        "vec_id", "embedding", k = 3, nprobe = 2)
        .select("query_id", "neighbor_id", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val first = run()
    assert(first.map(_._2).toSet == Set(0L, 1L, 2L), s"first attempt: $first")
    // REPLAY: the lists now contain batch=0 (vec 10); without the
    // exclusion the replayed report would include it
    assert(run() == first, "replayed batch must not match its own appended vectors")
    // the epoch fold over the inner cid partitioning: batch 2 compacts
    // {-1, 0, 1} into batch=-4 and must report what an uncompacted twin
    // reports, on the first attempt and on its replay
    val twin = java.nio.file.Files.createTempDirectory("graft_ivftwin").toString
    cents.write.parquet(s"$twin/centroids")
    graft.ops.SimilarityOps.ivfAssignments(corpus, "vec_id", "embedding", cents)
      .write.partitionBy("cid").parquet(s"$twin/lists/batch=-1")
    def ingest(d: String, id: Long, row: (Long, Seq[Float]), every: Int): Seq[(Long, Long, Long)] =
      StreamingOps.ivfIngestBatch(Seq(row).toDF("vec_id", "embedding"), id,
        s"$d/centroids", s"$d/lists", "vec_id", "embedding", k = 5, nprobe = 2,
        compactEvery = every)
        .select("query_id", "neighbor_id", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    ingest(twin, 0L, (10L, Seq(0.95f, 0.05f, 0f, 0f)), every = 0)
    val b1 = (11L, Seq(0.1f, 0.9f, 0f, 0f))
    val b2 = (12L, Seq(0.5f, 0.5f, 0f, 0f))
    ingest(dir, 1L, b1, every = 2)
    ingest(twin, 1L, b1, every = 0)
    val compacted = ingest(dir, 2L, b2, every = 2)
    val plain = ingest(twin, 2L, b2, every = 0)
    def names(p: String): Set[String] =
      new java.io.File(p).listFiles().map(_.getName)
        .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet
    assert(names(s"$dir/lists") == Set("batch=-4", "batch=2"),
      s"the fold must retire every folded partition: ${names(s"$dir/lists")}")
    val cids = names(s"$dir/lists/batch=-4")
    assert(cids.nonEmpty && cids.forall(_.startsWith("cid=")),
      s"the epoch must keep the cid partitioning: $cids")
    assert(plain.map(_._2).toSet == Set(0L, 1L, 2L, 10L, 11L), s"twin report: $plain")
    assert(compacted == plain, s"the fold changed the match report: $compacted vs $plain")
    assert(ingest(dir, 2L, b2, every = 2) == plain,
      "a compacting batch's replay must report what the uncompacted twin reports")
  }

  test("keyword pipeline runs unchanged on a stream (windowed counts)") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, String, String, Long, java.sql.Timestamp)]
    val posts = in.toDF().toDF("doc_id", "text", "source", "n_chars", "ts")
    val out = StreamingOps.keywordWindowCounts(posts, Defaults.config, "ts", "1 minute", "10 seconds")
    val q = out.writeStream.format("memory").queryName("kw_counts").outputMode("complete").start()
    try {
      in.addData(
        (1L, "a big join and a hash", "src1", 10L, ts(0)),    // Joins
        (2L, "stream and window talk", "src2", 20L, ts(10)),  // Streaming
        (3L, "nothing relevant here", "src3", 30L, ts(20)),   // filtered out
        (4L, "join the stream", "src4", 40L, ts(70)))         // both, next window
      q.processAllAvailable()
      val rows = spark.sql("SELECT industry, sum(n_posts) FROM kw_counts GROUP BY 1 ORDER BY 1")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      assert(rows.toSeq == Seq(("Joins", 2L), ("Streaming", 2L)))
    } finally q.stop()
  }

  test("windowed word frequency on a stream agrees with the batch analyzer") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // the Unicode analyzer's Generator hot path, on a stream
    val analyzer = graft.text.UnicodeAnalyzer(
      stopwords = Seq("the"), lemmas = Map("کتاب‌ها" -> "کتاب"))
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val posts = in.toDF().toDF("text", "ts")
    val out = StreamingOps.windowedWordFrequency(
      posts, analyzer, "text", "ts", "1 minute", "10 seconds")
    val q = out.writeStream.format("memory").queryName("wf_counts")
      .outputMode("complete").start()
    try {
      val data = Seq(
        ("the quick fox کتاب‌ها", ts(0)),
        ("quick quick کتاب", ts(10)),
        ("fox across windows", ts(70))) // next window
      in.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT word, sum(n) FROM wf_counts GROUP BY 1 ORDER BY 1")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val batch = data.map(_._1).toDF("text")
        .select(analyzer.tokenRows($"text").as("word"))
        .groupBy("word").count().orderBy("word")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(streamed == batch)
      assert(streamed.toMap.apply("کتاب") == 2L) // ZWNJ lemma applied in-stream
      // window boundary respected: 'fox' split across two windows
      val foxWindows = spark.sql("SELECT count(*) FROM wf_counts WHERE word = 'fox'")
        .collect().head.getLong(0)
      assert(foxWindows == 2L)
    } finally q.stop()
  }

  test("streaming chunks agree with the batch chunker, per micro-batch, stateless") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, String)]
    val docs = in.toDF().toDF("doc_id", "text")
    val out = StreamingOps.streamingChunks(docs, "text", "doc_id", chunk = 3, stride = 2)
    val q = out.writeStream.format("memory").queryName("chunks")
      .outputMode("append").start()
    try {
      in.addData((1L, "a b c d e"), (2L, "x y"))
      q.processAllAvailable()
      // docs split across micro-batches chunk independently — no state
      in.addData((3L, "p q r s"))
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT doc_id, chunk_idx, n_chunk_tokens, chunk_md5 FROM chunks ORDER BY doc_id, chunk_idx")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
      val batch = graft.ops.TextAnalysisOps.chunkDocuments(
        Seq((1L, "a b c d e"), (2L, "x y"), (3L, "p q r s")).toDF("doc_id", "text"),
        "text", "doc_id", chunk = 3, stride = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
      assert(streamed == batch)
      assert(streamed.count(_._1 == 1L) == 2,
        "5 tokens at stride 2 -> starts 0,2; start 4 is a duplicate suffix")
    } finally q.stop()
  }

  test("streaming near-dup screen agrees with the batch minhash delta") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // corpus: three docs; shard: an exact dup of c1 (every band collides,
    // jaccard 1.0 guaranteed), a near-dup of c2 (one token changed), and
    // a unique doc that must screen nothing
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"),
      (11L, "pack my box with five dozen liquor jugs right now"),
      (12L, "sphinx of black quartz judge my vow completely"))
      .toDF("doc_id", "text")
    val shardRows = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "pack my box with five dozen liquor jugs right here"),
      (3L, "entirely unrelated content about spark physical plans"))
    val index = graft.ops.DedupOps.bandKeyIndex(corpus, "text", "doc_id")
    val hashSets = graft.ops.DedupOps.shingleHashSets(corpus, "text", "doc_id")
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = in.toDF().toDF("doc_id", "text", "ts")
    val out = StreamingOps.streamingNearDupScreen(
      docs, index, hashSets, "text", "doc_id", "ts", "0 seconds")
    val q = out.writeStream.format("memory").queryName("neardup")
      .outputMode("append").start()
    try {
      // in-order: the whole shard in one micro-batch, then two
      // watermark-advancing sentinels (match nothing) to close the groups
      in.addData(shardRows.map { case (id, t) => (id, t, ts(100)) }: _*)
      q.processAllAvailable()
      in.addData((98L, "w a t e r m a r k advance one", ts(5000)))
      q.processAllAvailable()
      in.addData((99L, "w a t e r m a r k advance two", ts(10000)))
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT doc_id, near_dup_of, jaccard FROM neardup ORDER BY doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val batch = graft.ops.DedupOps.minhashDedupDelta(
        shardRows.toDF("doc_id", "text"), corpus, "text", "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(batch.nonEmpty && batch.exists { case (d, c, j) =>
        d == 1L && c == 10L && j == 1.0 }, s"exact dup must be screened: $batch")
      assert(streamed == batch,
        s"stream/batch divergence: streamed=$streamed batch=$batch")
      assert(!streamed.exists(_._1 == 3L), "unique doc screens nothing")
    } finally q.stop()

    // cross-micro-batch: the screen is per-doc stateless up to the final
    // watermarked aggregation, so docs split across batches must produce
    // the SAME verdicts as the single-batch run above
    val in2 = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out2 = StreamingOps.streamingNearDupScreen(
      in2.toDF().toDF("doc_id", "text", "ts"),
      index, hashSets, "text", "doc_id", "ts", "0 seconds")
    val q2 = out2.writeStream.format("memory").queryName("neardup2")
      .outputMode("append").start()
    try {
      in2.addData((shardRows(0)._1, shardRows(0)._2, ts(100)))
      q2.processAllAvailable()
      in2.addData((shardRows(1)._1, shardRows(1)._2, ts(200)),
        (shardRows(2)._1, shardRows(2)._2, ts(200)))
      q2.processAllAvailable()
      in2.addData((98L, "w a t e r m a r k advance one", ts(5000)))
      q2.processAllAvailable()
      in2.addData((99L, "w a t e r m a r k advance two", ts(10000)))
      q2.processAllAvailable()
      val split = spark.sql(
        "SELECT doc_id, near_dup_of, jaccard FROM neardup2 ORDER BY doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val single = spark.sql(
        "SELECT doc_id, near_dup_of, jaccard FROM neardup ORDER BY doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(split == single,
        s"batch-boundary divergence: split=$split single=$single")
    } finally q2.stop()
  }

  test("near-dup screen drops docs older than the watermark instead of half-screening them") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val index = graft.ops.DedupOps.bandKeyIndex(corpus, "text", "doc_id")
    val hashSets = graft.ops.DedupOps.shingleHashSets(corpus, "text", "doc_id")
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = StreamingOps.streamingNearDupScreen(
      in.toDF().toDF("doc_id", "text", "ts"),
      index, hashSets, "text", "doc_id", "ts", "0 seconds")
    val q = out.writeStream.format("memory").queryName("neardup_late")
      .outputMode("append").start()
    try {
      // batch 1 advances the watermark to 5000
      in.addData((1L, "the quick brown fox jumps over the lazy dog tonight", ts(5000)))
      q.processAllAvailable()
      // batch 2: an exact corpus dup, but event-time 100 — older than the
      // watermark. The Append-mode contract says late rows are DROPPED
      // before the aggregation, not emitted half-screened.
      in.addData((2L, "the quick brown fox jumps over the lazy dog tonight", ts(100)))
      q.processAllAvailable()
      // close the remaining open group
      in.addData((99L, "w a t e r m a r k advance sentinel", ts(20000)))
      q.processAllAvailable()
      val got = spark.sql(
        "SELECT doc_id, near_dup_of, jaccard FROM neardup_late ORDER BY doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got == Seq((1L, 10L, 1.0)),
        s"in-time doc screens, late doc is dropped entirely: $got")
    } finally q.stop()
  }

  test("near-dup ingest appends accepted survivors so the next micro-batch screens against them") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ndingest").toString
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    // seed epoch follows the layout contract: hive batch=<id> partitions
    graft.ops.DedupOps.bandKeyIndex(corpus, "text", "doc_id")
      .write.parquet(s"$dir/index/batch=-1")
    graft.ops.DedupOps.shingleHashSets(corpus, "text", "doc_id")
      .write.parquet(s"$dir/hashsets/batch=-1")
    val results = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[Long], Seq[(Long, Long)])]
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.nearDupIngest(
      in.toDF().toDF("doc_id", "text"),
      s"$dir/index", s"$dir/hashsets", "text", "doc_id",
      onBatch = (accepted, blocked, id) => results.synchronized {
        results += ((id,
          accepted.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted,
          blocked.select("doc_id", "near_dup_of").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted))
      }).start()
    try {
      // batch 1: one corpus dup (blocked), one novel doc (accepted+appended)
      in.addData(
        (20L, "the quick brown fox jumps over the lazy dog tonight"),
        (21L, "completely novel sentence about catalyst physical planning"))
      q.processAllAvailable()
      // batch 2: duplicates the batch-1 SURVIVOR — only catchable if the
      // survivor's keys were appended to the persisted index
      in.addData(
        (30L, "completely novel sentence about catalyst physical planning"),
        (31L, "another entirely fresh document about shuffle partitions"))
      q.processAllAvailable()
      val byId = results.sortBy(_._1).toSeq
      assert(byId.map(_._1) == Seq(0L, 1L))
      assert(byId(0)._2 == Seq(21L) && byId(0)._3 == Seq((20L, 10L)),
        s"batch 0 verdicts: ${byId(0)}")
      assert(byId(1)._2 == Seq(31L) && byId(1)._3 == Seq((30L, 21L)),
        s"batch 1 must block the dup of the batch-0 survivor: ${byId(1)}")
      // and the index now carries every accepted epoch
      val indexed = spark.read.parquet(s"$dir/index")
        .select("id").distinct().collect().map(_.getLong(0)).toSet
      assert(indexed == Set(10L, 21L, 31L))
    } finally q.stop()
  }

  test("curation ingest mirrors the batch funnel per micro-batch and dedupes against accepted history") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_curingest").toString
    // seed epochs (batch=-1): one corpus doc in the near-dup artifacts,
    // EMPTY accepted-key set (a fresh corpus build)
    val corpus = Seq((10L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    Seq.empty[String].toDF("__key").write.parquet(s"$dir/keys/batch=-1")
    graft.ops.DedupOps.bandKeyIndex(corpus, "text", "doc_id")
      .write.parquet(s"$dir/index/batch=-1")
    graft.ops.DedupOps.shingleHashSets(corpus, "text", "doc_id")
      .write.parquet(s"$dir/hashsets/batch=-1")
    val bench = Seq((100L, "benchmark evaluation suite question answers exactly here"))
      .toDF("doc_id", "text")
    val benchShingles = bench
      .select(graft.functions.Generators.shingleExplode(col("text"), 3).as("s"))
      .distinct().localCheckpoint()
    val reports = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Seq[(Long, String, Long)], Seq[Long])]
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.curationIngest(
      in.toDF().toDF("doc_id", "text"),
      s"$dir/keys", s"$dir/index", s"$dir/hashsets", benchShingles,
      "text", "doc_id", stopwords = Seq("the", "about", "over"),
      minTokens = 3, maxTokens = 100, minStops = 0,
      prefixLen = 3, w = 3, maxOverlapNum = 1, maxOverlapDen = 2,
      budgetNum = 1, budgetDen = 1,
      onBatch = (report, accepted, id) => reports.synchronized {
        reports += ((id,
          report.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq,
          accepted.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted))
      }).start()
    try {
      // batch 0: one survivor (2); 4 fails quality (2 tokens), 8 shares
      // 2's 3-token prefix key (in-batch keeper keeps the min id), 6 is a
      // near-dup of seed-corpus doc 10, 12 is bench-contaminated
      in.addData(
        (2L, "completely novel sentence about catalyst physical planning"),
        (4L, "too short"),
        (6L, "the quick brown fox jumps over the lazy dog tonight"),
        (8L, "completely novel sentence about different downstream topics"),
        (12L, "benchmark evaluation suite question answers exactly here"))
      q.processAllAvailable()
      // batch 1: 20 repeats ACCEPTED doc 2's prefix key (caught only if
      // the key artifact grew), 22 is a near-dup of accepted doc 2 with a
      // different prefix (caught only if the near-dup index grew), 24 is
      // novel
      in.addData(
        (20L, "completely novel sentence about spark execution engines"),
        (22L, "a completely novel sentence about catalyst physical planning"),
        (24L, "another entirely fresh document about shuffle partitions"))
      q.processAllAvailable()
      val byId = reports.sortBy(_._1).toSeq
      assert(byId.map(_._1) == Seq(0L, 1L))
      assert(byId(0)._3 == Seq(2L), s"batch-0 accepted: ${byId(0)}")
      assert(byId(0)._2.map(r => (r._1, r._3)) ==
        Seq((0L, 5L), (1L, 4L), (2L, 3L), (3L, 2L), (4L, 1L), (5L, 1L)),
        s"batch-0 stage counts: ${byId(0)._2}")
      assert(byId(1)._3 == Seq(24L), s"batch-1 accepted: ${byId(1)}")
      assert(byId(1)._2.map(r => (r._1, r._3)) ==
        Seq((0L, 3L), (1L, 3L), (2L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)),
        s"batch-1 stage counts: ${byId(1)._2}")
      // the accepted-key artifact carries every accepted epoch
      val keys = spark.read.parquet(s"$dir/keys")
        .select("__key").collect().map(_.getString(0)).toSet
      assert(keys == Set("completely novel sentence", "another entirely fresh"))
    } finally q.stop()
  }

  test("curation ingest budget stage agrees with the batch hashSample predicate") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_curbudget").toString
    Seq.empty[String].toDF("__key").write.parquet(s"$dir/keys/batch=-1")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    graft.ops.DedupOps.bandKeyIndex(empty, "text", "doc_id")
      .write.parquet(s"$dir/index/batch=-1")
    graft.ops.DedupOps.shingleHashSets(empty, "text", "doc_id")
      .write.parquet(s"$dir/hashsets/batch=-1")
    // 8 distinct tokens per doc: enough bigrams that Gopher's fixed
    // top-bigram-share rule (> 20% fails) passes on repeat-free text
    val docs = (1L to 12L).map(i =>
      (i, s"unique document number ${"abcdefghijkl"(i.toInt - 1)} content extended across partitions"))
    val accepted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.curationIngest(
      in.toDF().toDF("doc_id", "text"),
      s"$dir/keys", s"$dir/index", s"$dir/hashsets",
      empty.select(col("text").as("s")).limit(0),
      "text", "doc_id", stopwords = Seq("the"),
      minTokens = 3, maxTokens = 100, minStops = 0,
      prefixLen = 5, w = 3, maxOverlapNum = 1, maxOverlapDen = 1,
      budgetNum = 1, budgetDen = 2,
      onBatch = (_, acc, _) => accepted.synchronized {
        accepted ++= acc.select("doc_id").collect().map(_.getLong(0))
      }).start()
    try {
      in.addData(docs: _*)
      q.processAllAvailable()
      // no stage before the budget drops anything (unique prefixes, no
      // bench, empty corpus), so accepted == the deterministic batch
      // hashSample verdict over the same frame — a retried batch would
      // re-derive exactly this set
      val expect = graft.ops.SampleOps.hashSample(
        docs.toDF("doc_id", "text"), "doc_id", 1, 2)
        .select("doc_id").collect().map(_.getLong(0)).sorted
      assert(accepted.sorted.toSeq == expect.toSeq && expect.nonEmpty && expect.size < 12,
        s"accepted ${accepted.sorted} vs hashSample $expect")
    } finally q.stop()
  }

  test("bm25 ingest grows the index per batch; queries see the whole ingested corpus") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25ingest").toString
    val seed = Seq((10L, "spark catalyst optimizer rules"))
      .toDF("doc_id", "text")
    graft.ops.RetrievalOps.bm25Postings(seed, "text", "doc_id")
      .write.parquet(s"$dir/postings/batch=-1")
    graft.ops.RetrievalOps.docLengths(seed, "text", "doc_id")
      .write.parquet(s"$dir/dl/batch=-1")
    val qs = Seq("q1" -> Seq("catalyst", "shuffle"))
    def search() = graft.ops.RetrievalOps.bm25FromIndex(
      spark.read.parquet(s"$dir/postings"), spark.read.parquet(s"$dir/dl"), qs, k = 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.bm25Ingest(
      in.toDF().toDF("doc_id", "text"), s"$dir/postings", s"$dir/dl",
      "text", "doc_id").start()
    try {
      in.addData((20L, "shuffle partitions and catalyst planning"))
      q.processAllAvailable()
      assert(search() == Set(10L, 20L), "batch-0 doc must be searchable")
      in.addData((30L, "catalyst expression codegen"))
      q.processAllAvailable()
      assert(search() == Set(10L, 20L, 30L), "the index grows per batch")
      // incremental build == from-scratch build over the same docs
      val all = Seq(
        (10L, "spark catalyst optimizer rules"),
        (20L, "shuffle partitions and catalyst planning"),
        (30L, "catalyst expression codegen")).toDF("doc_id", "text")
      val scratch = graft.ops.RetrievalOps.bm25TopK(all, "text", "doc_id", qs, k = 10)
        .collect().toSeq
      val incremental = graft.ops.RetrievalOps.bm25FromIndex(
        spark.read.parquet(s"$dir/postings"), spark.read.parquet(s"$dir/dl"), qs, k = 10)
        .collect().toSeq
      assert(incremental == scratch,
        "incremental index must score bit-identically to a from-scratch build")
    } finally q.stop()
  }

  test("ivf ingest appends each batch's vectors so later batches find them") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfingest").toString
    // tiny 4-d corpus: ids 0 and 2 are the id-residue centroids
    val corpus = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0.9f, 0.1f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val cents = graft.ops.SimilarityOps.ivfCentroids(corpus, "vec_id", "embedding", centroidMod = 2)
    cents.write.parquet(s"$dir/centroids")
    graft.ops.SimilarityOps.ivfAssignments(corpus, "vec_id", "embedding", cents)
      .write.partitionBy("cid").parquet(s"$dir/lists/batch=-1")
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[(Long, Long, Long)])]
    val in = MemoryStream[(Long, Seq[Float])]
    val q = StreamingOps.ivfIngest(
      in.toDF().toDF("vec_id", "embedding"),
      s"$dir/centroids", s"$dir/lists", "vec_id", "embedding", k = 3, nprobe = 2,
      onBatch = (matches, id) => results.synchronized {
        results += ((id, matches.select("query_id", "neighbor_id", "rk").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted))
      }).start()
    try {
      in.addData((10L, Seq(0.95f, 0.05f, 0f, 0f)))
      q.processAllAvailable()
      // batch 2 repeats batch 1's vector exactly — its nearest neighbor
      // MUST be vec 10, only findable through the appended lists
      in.addData((20L, Seq(0.95f, 0.05f, 0f, 0f)))
      q.processAllAvailable()
      val byId = results.sortBy(_._1).toSeq
      assert(byId.map(_._1) == Seq(0L, 1L))
      assert(byId(0)._2.map(_._2).toSet == Set(0L, 1L, 2L),
        s"batch 0 sees the seeded corpus: ${byId(0)}")
      val top20 = byId(1)._2.find(m => m._1 == 20L && m._3 == 1L).map(_._2)
      assert(top20.contains(10L),
        s"batch 1's top match must be the batch-0 vector from the appended index: ${byId(1)}")
    } finally q.stop()
  }

  test("ivf-pq ingest encodes each batch against the frozen codebooks and finds prior batches") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpqingest").toString
    // tiny 4-d corpus, ids 0 and 2 the id-residue coarse centroids
    val corpus = Seq(
      (0L, Seq(1f, 0f, 0f, 0f)),
      (1L, Seq(0.9f, 0.1f, 0f, 0f)),
      (2L, Seq(0f, 1f, 0f, 0f)),
      (3L, Seq(0.1f, 0.9f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val (cents, books, codes) = graft.ops.SimilarityOps.ivfPqIndex(
      corpus, "vec_id", "embedding", dim = 4, coarseMod = 2, m = 2, ksub = 2, iters = 1)
    cents.write.parquet(s"$dir/centroids")
    books.write.parquet(s"$dir/codebooks")
    codes.write.partitionBy("ccell").parquet(s"$dir/codes/batch=-1")
    // the ingest-time encoder is byte-identical to the index build's own
    val reEnc = graft.ops.SimilarityOps.ivfPqCodesFor(
      corpus, "vec_id", "embedding",
      spark.read.parquet(s"$dir/centroids"), spark.read.parquet(s"$dir/codebooks"),
      dim = 4, m = 2)
    assert(reEnc.collect().toSet == codes.collect().toSet,
      "ivfPqCodesFor must reproduce the index build's codes exactly")
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[(Long, Long, Long)])]
    val in = MemoryStream[(Long, Seq[Float])]
    val q = StreamingOps.ivfPqIngest(
      in.toDF().toDF("vec_id", "embedding"),
      s"$dir/centroids", s"$dir/codebooks", s"$dir/codes",
      "vec_id", "embedding", dim = 4, m = 2, k = 3, nprobe = 2,
      onBatch = (matches, id) => results.synchronized {
        results += ((id, matches.select("query_id", "neighbor_id", "rk").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted))
      }).start()
    try {
      in.addData((10L, Seq(0.95f, 0.05f, 0f, 0f)))
      q.processAllAvailable()
      // batch 1 repeats batch 0's vector exactly: it must find vec 10
      // through the APPENDED code partitions (ADC distance 0 to the same
      // codes), which only exist because batch 0 was encoded and written
      in.addData((20L, Seq(0.95f, 0.05f, 0f, 0f)))
      q.processAllAvailable()
      val byId = results.sortBy(_._1).toSeq
      assert(byId.map(_._1) == Seq(0L, 1L))
      assert(byId(0)._2.map(_._2).toSet.subsetOf(Set(0L, 1L, 2L, 3L)) &&
        byId(0)._2.nonEmpty, s"batch 0 sees the seeded corpus: ${byId(0)}")
      val m20 = byId(1)._2.filter(_._1 == 20L)
      assert(m20.map(_._2).contains(10L),
        s"batch 1 must see batch 0's vector via the appended codes: ${byId(1)}")
    } finally q.stop()
  }

  test("gap sessionization closes sessions when the watermark passes the gap") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val events = in.toDF().toDF("user_id", "ts", "value")
    val sessions = StreamingOps.sessionizeStream(events, "ts", gapMs = 60000, watermarkDelay = "0 seconds")
    val q = sessions.toDF().writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // user 1: two events 10s apart (one session); user 2: one event
      in.addData((1L, ts(100), 1.0), (1L, ts(110), 2.0), (2L, ts(105), 5.0))
      q.processAllAvailable()
      // watermark far past both sessions' gap -> both close
      in.addData((9L, ts(3600), 0.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT userId, startMs, endMs, nEvents, totalValue FROM sessions ORDER BY userId")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4)))
      assert(rows.toSeq == Seq(
        (1L, 100000L, 110000L, 2, 3.0),
        (2L, 105000L, 105000L, 1, 5.0)))
    } finally q.stop()
  }

  test("streaming exact dedup keeps the first arrival of each key") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    val events = in.toDF().toDF("key", "ts", "payload")
    val out = StreamingOps.streamingExactDedup(events, "ts", "1 minute", Seq("key"))
    val q = out.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      in.addData((1L, ts(100), "first"), (2L, ts(101), "only"))
      q.processAllAvailable()
      in.addData((1L, ts(102), "replay")) // duplicate key within watermark
      q.processAllAvailable()
      val rows = spark.sql("SELECT key, payload FROM dedup_stream ORDER BY key")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      assert(rows.toSeq == Seq((1L, "first"), (2L, "only")))
    } finally q.stop()
  }

  test("streaming delta dedup: static corpus blocks keys, in-stream state dedups the rest") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val corpus = Seq((10L, "seen before"), (11L, "also seen")).toDF("id", "k")
    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = in.toDF().toDF("id", "ts", "k")
    val out = StreamingOps.streamingDedupDelta(docs, corpus, "k", "ts", "1 hour")
    val q = out.writeStream.format("memory").queryName("delta_stream")
      .outputMode("append").start()
    try {
      // mirrors the batch exactDedupDelta fixture, arrival order = id order
      in.addData(
        (1L, ts(100), "seen before"), // blocked by the static corpus
        (2L, ts(101), "brand new"),   // survives (first arrival)
        (3L, ts(102), "brand new"),   // in-stream duplicate -> dropped
        (4L, ts(103), "also fresh"))  // survives
      q.processAllAvailable()
      // a later micro-batch: state within the watermark still blocks
      in.addData((5L, ts(200), "brand new"), (6L, ts(201), "truly new"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT id FROM delta_stream ORDER BY id")
        .collect().map(_.getLong(0)).toSeq
      assert(rows == Seq(2L, 4L, 6L),
        "survivors = batch delta keepers under arrival-order-first semantics")
    } finally q.stop()
  }

  test("stream-stream interval join attributes clicks to in-window views, both streams live") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val views = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val out = StreamingOps.streamStreamIntervalJoin(
      views.toDF().toDF("user_id", "ts", "event_id"),
      clicks.toDF().toDF("user_id", "ts", "event_id"),
      "user_id", "ts", "ts", "event_id",
      watermarkDelay = "1 hour", maxDelaySeconds = 60)
    val q = out.writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      views.addData((1L, ts(100), 10L), (1L, ts(300), 11L), (2L, ts(100), 12L))
      clicks.addData(
        (1L, ts(130), 20L), // 30s after view 10 -> attributed
        (1L, ts(90), 21L),  // BEFORE any view -> no match
        (2L, ts(200), 22L)) // 100s after view 12 -> outside the window
      q.processAllAvailable()
      // a click arriving in a later micro-batch still joins buffered views
      clicks.addData((1L, ts(360), 23L)) // 60s after view 11, inclusive bound
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT key, left_id, right_id, delay_sec FROM attrib ORDER BY right_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.toSeq == Seq((1L, 10L, 20L, 30L), (1L, 11L, 23L, 60L)))
      // batch agreement: the same op on static frames yields the same pairs
      val bViews = Seq((1L, ts(100), 10L), (1L, ts(300), 11L), (2L, ts(100), 12L))
        .toDF("user_id", "ts", "event_id")
      val bClicks = Seq((1L, ts(130), 20L), (1L, ts(90), 21L),
        (2L, ts(200), 22L), (1L, ts(360), 23L)).toDF("user_id", "ts", "event_id")
      val batch = StreamingOps.streamStreamIntervalJoin(
        bViews, bClicks, "user_id", "ts", "ts", "event_id", "1 hour", 60)
        .orderBy("right_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(batch.toSeq == rows.toSeq)
    } finally q.stop()
  }

  test("left-outer interval join emits unmatched views null-padded after the watermark closes them") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val views = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val out = StreamingOps.streamStreamIntervalJoinLeftOuter(
      views.toDF().toDF("user_id", "ts", "event_id"),
      clicks.toDF().toDF("user_id", "ts", "event_id"),
      "user_id", "ts", "ts", "event_id",
      watermarkDelay = "10 seconds", maxDelaySeconds = 60)
    val q = out.writeStream.format("memory").queryName("attrib_outer")
      .outputMode("append").start()
    try {
      views.addData((1L, ts(100), 10L), (2L, ts(100), 12L))
      clicks.addData((1L, ts(130), 20L)) // attributes to view 10; user 2 never clicks
      q.processAllAvailable()
      // advance BOTH watermarks far past view 12's join window (100+60+10):
      // only then may the engine prove no partner can arrive and emit null
      views.addData((9L, ts(10000), 90L))
      clicks.addData((9L, ts(10000), 91L))
      q.processAllAvailable()
      views.addData((9L, ts(20000), 92L))
      clicks.addData((9L, ts(20000), 93L))
      q.processAllAvailable()
      val rows = spark.sql(
        """SELECT key, left_id, right_id, delay_sec FROM attrib_outer
           WHERE left_id IN (10, 12) ORDER BY left_id""")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))
      assert(rows.toSeq == Seq((1L, 10L, 20L, 30L), (2L, 12L, -1L, -1L)),
        s"matched view joins, unconverted view emits null-padded: ${rows.toSeq}")
    } finally q.stop()
  }

  test("file-source stream over events.parquet matches the batch aggregate") {
    val sf = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val stream = graft.io.Tables.eventsStream(spark, dir)
    val out = StreamingOps.eventWindowStats(stream, "ts", "1 day", "1 hour")
    val q = out.writeStream.format("memory").queryName("ev_stats").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT sum(n_events) FROM ev_stats").collect().head.getLong(0)
      val batch = graft.io.Tables.events(spark, sf).count()
      assert(streamed == batch)
    } finally q.stop()
  }

  test("deterministic hash sampling selects the identical row set on a stream") {
    // SampleOps.hashSample is a stateless md5-threshold predicate, so it
    // applies to streams UNCHANGED (df.sample's per-partition RNG cannot
    // even be reasoned about under micro-batching) — curation decisions
    // replay identically in batch backfill and live streaming.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = (1L to 500L).toList
    val input = MemoryStream[Long]
    input.addData(rows.take(200))
    val sampled = graft.ops.SampleOps.hashSample(
      input.toDF().withColumnRenamed("value", "id"), "id", 3, 10)
    val q = sampled.writeStream.format("memory").queryName("stream_sample")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      input.addData(rows.drop(200)) // second micro-batch: same predicate
      q.processAllAvailable()
      val streamed = spark.sql("SELECT id FROM stream_sample")
        .collect().map(_.getLong(0)).toSet
      val batch = graft.ops.SampleOps.hashSample(
        rows.toDF("id"), "id", 3, 10).collect().map(_.getLong(0)).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("train/val/test split assigns streamed rows identically to batch") {
    // splitAssign is the same stateless md5-interval predicate family as
    // hashSample, so held-out membership is stable across micro-batches,
    // replays, and batch backfill — the property that keeps a test set
    // honest when the corpus arrives incrementally.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = (1L to 400L).toList
    val splits = Seq(("train", 8L), ("val", 1L), ("test", 1L))
    val input = MemoryStream[Long]
    input.addData(rows.take(150))
    val assigned = graft.ops.SampleOps.splitAssign(
      input.toDF().withColumnRenamed("value", "id"), "id", splits, den = 10L)
    val q = assigned.writeStream.format("memory").queryName("stream_split")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      input.addData(rows.drop(150))
      q.processAllAvailable()
      val streamed = spark.sql("SELECT id, split FROM stream_split")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val batch = graft.ops.SampleOps.splitAssign(rows.toDF("id"), "id", splits, den = 10L)
        .collect().map(r => r.getLong(0) -> r.getAs[String]("split")).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("batch and streaming sessionization agree on the same events") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val data = Seq( // (user, second, value) — whole seconds, gap = 60s
      (1L, 100L, 1.0), (1L, 130L, 2.0), (1L, 300L, 3.0),
      (2L, 50L, 4.0), (2L, 400L, 5.0), (2L, 430L, 6.0))
    // batch
    val batchDf = data.zipWithIndex
      .map { case ((u, s, v), i) => (u, ts(s), i.toLong, v) }
      .toDF("user_id", "ts", "event_id", "value")
    val batch = graft.ops.SessionOps
      .sessionizeBatch(batchDf, "user_id", "ts", "event_id", "value", gapSeconds = 60)
      .collect()
      // session bounds are epoch-µs BIGINTs; the streaming side reports ms
      .map(r => (r.getLong(0), r.getLong(2) / 1000, r.getLong(3) / 1000,
        r.getLong(4), r.getLong(5) / 1e6))
      .toSet
    // streaming (sentinel event closes all sessions via watermark)
    val in = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val sessions = StreamingOps.sessionizeStream(
      in.toDF().toDF("user_id", "ts", "value"), "ts", gapMs = 60000, watermarkDelay = "0 seconds")
    val q = sessions.toDF().writeStream.format("memory").queryName("xcheck")
      .outputMode("append").start()
    try {
      in.addData(data.map { case (u, s, v) => (u, ts(s), v) }: _*)
      q.processAllAvailable()
      in.addData((99L, ts(100000), 0.0))
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT userId, startMs, endMs, nEvents, totalValue FROM xcheck WHERE userId < 99")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3).toLong, r.getDouble(4)))
        .toSet
      assert(streamed == batch,
        s"streaming $streamed != batch $batch")
    } finally q.stop()
  }

  test("same-batch events beyond the gap split into multiple sessions") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val sessions = StreamingOps.sessionizeStream(
      in.toDF().toDF("user_id", "ts", "value"), "ts", gapMs = 60000, watermarkDelay = "0 seconds")
    val q = sessions.toDF().writeStream.format("memory").queryName("sessions2")
      .outputMode("append").start()
    try {
      in.addData((1L, ts(100), 1.0), (1L, ts(110), 1.0), (1L, ts(600), 1.0))
      q.processAllAvailable()
      in.addData((9L, ts(7200), 0.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT startMs, endMs, nEvents FROM sessions2 WHERE userId = 1 ORDER BY startMs")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      assert(rows.toSeq == Seq((100000L, 110000L, 2), (600000L, 600000L, 1)))
    } finally q.stop()
  }

  test("streaming transitions agree with the batch matrix across a micro-batch boundary") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val typed = in.toDF().toDF("userId", "ts", "eventId", "eventType")
      .as[StreamingOps.TransitionEvent]
    val q = StreamingOps.transitionStream(typed).toDF()
      .writeStream.format("memory").queryName("transition_stream")
      .outputMode("append").start()
    try {
      // batch 1 ends mid-path for user 1; batch 2 continues it — the
      // boundary-spanning b->a transition must come from carried state
      in.addData((1L, ts(1), 1L, "a"), (1L, ts(2), 2L, "b"),
        (2L, ts(9), 5L, "a"))
      q.processAllAvailable()
      in.addData((1L, ts(3), 3L, "a"), (1L, ts(4), 4L, "c"),
        (2L, ts(10), 6L, "b"))
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT fromType, toType, COUNT(*) AS n FROM transition_stream GROUP BY 1, 2")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = graft.ops.SessionOps.eventTransitions(
        Seq((1L, ts(1), 1L, "a"), (1L, ts(2), 2L, "b"), (1L, ts(3), 3L, "a"),
          (1L, ts(4), 4L, "c"), (2L, ts(9), 5L, "a"), (2L, ts(10), 6L, "b"))
          .toDF("user_id", "ts", "event_id", "event_type"),
        "user_id", "ts", "event_id", "event_type", k = 10)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed == batch,
        s"stream $streamed must equal batch $batch including the boundary pair")
    } finally q.stop()
  }

  test("streaming funnel progress agrees with the batch funnel on an in-order stream") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    val typed = in.toDF().toDF("userId", "ts", "eventType")
      .as[StreamingOps.FunnelEvent]
    val stages = Seq("view", "click", "purchase")
    val q = StreamingOps.funnelStream(typed, stages).toDF()
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode("update").start()
    try {
      val events = Seq(
        (1L, ts(10), "view"), (1L, ts(20), "click"), (1L, ts(30), "purchase"),
        (2L, ts(10), "click"), (2L, ts(20), "view"), (2L, ts(30), "purchase"),
        (3L, ts(10), "view"))
      in.addData(events: _*)
      q.processAllAvailable()
      // latest per-user progress (single batch -> one row per user)
      val streamed = spark.sql(
        "SELECT userId, stagesReached FROM funnel_stream")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(streamed == Map(1L -> 3, 2L -> 1, 3L -> 1))
      // stage counts derived from progress equal the batch operator's
      val batch = graft.ops.SessionOps.conversionFunnel(
        events.zipWithIndex
          .map { case ((u, t, e), i) => (u, t, i.toLong, e) }
          .toDF("user_id", "ts", "event_id", "event_type"),
        "user_id", "ts", "event_id", "event_type", stages)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      val fromStream = stages.indices
        .map(k => k.toLong -> streamed.values.count(_ > k).toLong).toMap
      assert(fromStream == batch)
      // a late cross-batch purchase deepens user 3 only after a click
      in.addData((3L, ts(40), "click"), (3L, ts(50), "purchase"))
      q.processAllAvailable()
      val u3 = spark.sql(
        "SELECT max(stagesReached) FROM funnel_stream WHERE userId = 3")
        .collect().head.getInt(0)
      assert(u3 == 3)
    } finally q.stop()
  }

  test("windowed CMS on a stream sums cell-wise to the batch sketch") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val out = StreamingOps.windowedCountMinSketch(
      in.toDF().toDF("text", "ts"), "text", "ts", "1 minute", "10 seconds",
      depth = 2, hexChars = 1)
    val q = out.writeStream.format("memory").queryName("cms_win")
      .outputMode("complete").start()
    try {
      val data = Seq(
        ("alpha beta beta", ts(0)),
        ("alpha gamma", ts(10)),
        ("beta delta", ts(70))) // second window
      in.addData(data: _*)
      q.processAllAvailable()
      // collapsing the windows by cell-wise addition = the batch sketch
      val streamed = spark.sql(
        "SELECT row, bucket, sum(cnt) FROM cms_win GROUP BY 1, 2 ORDER BY 1, 2")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
      val batch = graft.ops.SketchOps.countMinSketch(
        data.map(_._1).toDF("text"), "text", depth = 2, hexChars = 1)
        .orderBy("row", "bucket")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
      assert(streamed == batch)
      assert(spark.sql("SELECT count(DISTINCT window_start) FROM cms_win")
        .head().getLong(0) == 2L, "terms split across two tumbling windows")
    } finally q.stop()
  }

  test("windowed log2 sketch on a stream adds cell-wise to the batch histogram") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val out = StreamingOps.windowedLog2Histogram(
      in.toDF().toDF("m", "ts"), "m", "ts", "1 minute", "10 seconds")
    val q = out.writeStream.format("memory").queryName("l2h_win")
      .outputMode("complete").start()
    try {
      val data = Seq(
        (0L, ts(0)), (1L, ts(5)), (3L, ts(10)),
        (7L, ts(70)), (1000L, ts(75))) // second window
      in.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT bucket, sum(cnt) FROM l2h_win GROUP BY 1 ORDER BY 1")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val batch = graft.ops.SketchOps.log2Histogram(data.map(_._1).toDF("m"), "m")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(streamed == batch)
      assert(spark.sql("SELECT count(DISTINCT window_start) FROM l2h_win")
        .head().getLong(0) == 2L, "values split across two tumbling windows")
    } finally q.stop()
  }

  test("windowed HLL on a stream maxes cell-wise to the batch register file") {
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(String, java.sql.Timestamp)]
    val out = StreamingOps.windowedHllRegisters(
      in.toDF().toDF("text", "ts"), "text", "ts", "1 minute", "10 seconds",
      bucketHex = 2)
    val q = out.writeStream.format("memory").queryName("hll_win")
      .outputMode("complete").start()
    try {
      val data = Seq(
        ("alpha beta beta", ts(0)),
        ("alpha gamma", ts(10)),
        ("beta delta epsilon", ts(70))) // replay-heavy: repeats across windows
      in.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT bucket, max(register) FROM hll_win GROUP BY 1 ORDER BY 1")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val batch = graft.ops.SketchOps.hllRegisters(
        data.map(_._1).toDF("text"), "text", bucketHex = 2)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(streamed == batch)
    } finally q.stop()
  }
}
