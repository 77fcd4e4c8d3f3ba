package graft

import graft.io.Tables
import graft.ops.{RelationalOps, SimilarityOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression tests: the scale properties the engine relies
  * on (scan-level filter pushdown, column pruning, broadcast dim joins,
  * whole-stage codegen) must stay visible in `.explain("formatted")` — a
  * silent regression here is invisible at test scale and a disaster at
  * 100 TB. */
class PlanSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("pricing summary: date filter reaches the parquet scan, columns pruned") {
    val plan = formatted(
      RelationalOps.pricingSummary(Tables.lineitem(spark, sf), "1998-09-01 00:00:00"))
    val pushed = plan.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("LessThanOrEqual(l_shipdate"), s"shipdate not pushed down:\n$pushed")
    val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    // the scan must NOT read the join keys / unused columns
    Seq("l_orderkey", "l_partkey", "l_suppkey", "l_tax").foreach(c =>
      assert(!read.contains(c), s"scan reads unused column $c:\n$read"))
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_shipdate").foreach(c =>
      assert(read.contains(c), s"scan missing needed column $c:\n$read"))
  }

  test("event json stats: scan prunes to the three consumed columns") {
    val read = formatted(RelationalOps.eventJsonStats(Tables.events(spark, sf)))
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    Seq("event_type", "props", "value").foreach(c =>
      assert(read.contains(c), s"scan missing $c:\n$read"))
    Seq("user_id", "event_id").foreach(c =>
      assert(!read.contains(c), s"scan reads unused column $c:\n$read"))
  }

  test("aggregation pipelines run inside whole-stage codegen") {
    // AQE materializes the final plan only at execution — run the query,
    // then inspect the adaptive plan's final string for codegen spans
    val df = RelationalOps.pricingSummary(Tables.lineitem(spark, sf), "1998-09-01 00:00:00")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // codegen spans render as `*(n)` stage markers in the compact plan
    assert("\\*\\(\\d+\\)".r.findFirstIn(plan).isDefined,
      s"no codegen span markers:\n${plan.take(800)}")
  }

  test("kmeans assignment broadcasts the centroid side every iteration") {
    val plan = SimilarityOps
      .kmeansCentroids(Tables.embeddings(spark, sf), "vec_id", "embedding",
        k = 5, iters = 2)
      .queryExecution.executedPlan.toString
    val broadcasts = "BroadcastNestedLoopJoin|BroadcastExchange".r
      .findAllIn(plan).length
    assert(broadcasts >= 2, s"expected per-iteration centroid broadcasts:\n${plan.take(800)}")
    assert(!plan.contains("CartesianProduct"), "assignment must broadcast, not cartesian")
  }

  test("simhash near-dup reads the corpus exactly once (fingerprints ride the bucket)") {
    val plan = graft.ops.DedupOps
      .simhashNearDupPairs(Tables.documents(spark, sf), "text", "doc_id",
        maxHamming = 5, nChunks = 6, nBits = 60, sampleMod = 2, limit = 50)
      .queryExecution.optimizedPlan
    val scans = plan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }.size
    assert(scans == 1, s"expected a single corpus scan, got $scans")
  }

  test("fact-dim shuffle joins are eligible for runtime bloom-filter injection") {
    // At 100 TB a selective dim filter should reach the fact scan as a
    // runtime bloom filter (Spark's InjectRuntimeFilter). The default
    // thresholds (10 GB application-side scan) are right for production
    // and unreachable at test scale, so this test lowers them to prove
    // the ENGINE'S join shape qualifies: equi-join keys, a selective
    // non-join predicate on the creation side, shuffle join. If a future
    // refactor breaks eligibility (e.g. wraps the join key in an
    // expression), this fails.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
    conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      val ord = Tables.orders(spark, sf)
        .filter(org.apache.spark.sql.functions.col("o_totalprice") > 200000.0)
        .select("o_orderkey")
      val q = li.join(ord,
        li("l_orderkey") === ord("o_orderkey")).groupBy("l_orderkey").count()
      val optimized = q.queryExecution.optimizedPlan.toString.toLowerCase
      assert(optimized.contains("bloom"),
        s"runtime bloom filter not injected:\n${optimized.take(1200)}")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("hash sampling is map-only: no exchange, no sort, filter at the scan") {
    // orders, not documents: Tables.load deliberately round-robin-spreads
    // the compute-heavy tables, and that exchange belongs to the loader,
    // not the sampler under test
    val plan = graft.ops.SampleOps
      .hashSample(Tables.orders(spark, sf), "o_orderkey", 3, 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Sort"),
      s"hashSample must stay a pure scan+filter:\n${plan.take(600)}")
  }

  test("sequence packing windows partition by bucket, never a single global sort") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, i % 10 + 1)).toDF("id", "toks")
    val plan = graft.ops.SampleOps
      .packSequences(df, "id", "toks", budget = 50L, nBuckets = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"packing window must shard by bucket:\n${plan.take(600)}")
    assert(plan.contains("hashpartitioning(bucket"),
      s"expected a bucket-keyed exchange:\n${plan.take(600)}")
  }

  test("resample fact side joins the calendar without shuffling the counts") {
    val plan = graft.ops.ResampleOps
      .resampleCount(Tables.events(spark, sf), "ts", graft.ops.ResampleOps.Daily)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"calendar join should broadcast:\n${plan.take(800)}")
  }

  test("minhash delta: no cartesian product, candidates come from the bucket shuffle") {
    val docs = Tables.documents(spark, sf)
    val plan = graft.ops.DedupOps.minhashDedupDelta(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 3 === 0),
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 3 =!= 0),
      "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"shard x corpus screening must never be all-pairs:\n${plan.take(600)}")
    assert(plan.contains("hashpartitioning(band"),
      s"candidates must come from the (band, bh) bucket shuffle:\n${plan.take(600)}")
  }

  test("exact dup spans and lexical cosine stay key-joined, never all-pairs") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    // q179: candidates come from the md5-window-key shuffle; the island
    // merge is a per-doc window — an all-pairs plan would be the suffix
    // array trap this op exists to avoid
    val spans = graft.ops.DedupOps.exactDupSpans(docs, "text", "doc_id",
      l = 8, minDocs = 2)
      .queryExecution.executedPlan.toString
    assert(!spans.contains("CartesianProduct"),
      s"dup spans must come from the window-hash shuffle:\n${spans.take(600)}")
    assert(spans.contains("hashpartitioning(wk"),
      s"window frequency must shuffle on the md5 key:\n${spans.take(600)}")
    // q180: the pair stage is the inverted TERM-keyed equi-join (df-cap
    // bounded), never a doc x doc cartesian
    val cos = graft.ops.DedupOps.lexicalCosinePairs(docs, "text", "doc_id",
      w = 3, dfCap = 40, minCos2Ppm = 250000L, limit = 100)
      .queryExecution.executedPlan.toString
    assert(!cos.contains("CartesianProduct"),
      s"lexical cosine must join on the gram key:\n${cos.take(600)}")
  }

  test("indexed near-dup screen: no cartesian product, no interpreted row boundary") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val plan = graft.ops.DedupOps.minhashDeltaIndexed(
      docs.filter(col("doc_id") % 3 === 0),
      graft.ops.DedupOps.bandKeyIndex(corpus, "text", "doc_id"),
      graft.ops.DedupOps.shingleHashSets(corpus, "text", "doc_id"),
      "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"index screening must never be all-pairs:\n${plan.take(600)}")
    assert(!plan.contains("UDF"),
      s"the whole screen must stay codegen:\n${plan.take(600)}")
  }

  test("bloom incremental dedup: the probe is codegen, no ScalaUDF row boundary") {
    val docs = Tables.documents(spark, sf)
    import org.apache.spark.sql.functions.{col, concat_ws, slice}
    val keyed = docs.filter(col("text").isNotNull)
      .withColumn("k", concat_ws(" ",
        slice(graft.functions.TextHash.tokens(col("text")), 1, 8)))
    val plan = graft.ops.DedupOps.exactDedupDeltaBloom(
      keyed.filter(col("doc_id") % 3 === 0),
      keyed.filter(col("doc_id") % 3 =!= 0),
      "k", "doc_id", expectedKeys = 1000L, fpp = 0.03)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"),
      s"the bloom probe must not plan a ScalaUDF:\n${plan.take(800)}")
    assert(plan.contains("bloomprobe") || plan.contains("BloomProbe"),
      s"the codegen probe expression must appear in the plan:\n${plan.take(800)}")
  }

  test("strided segment dedup: window frequency shuffles on window text, no cartesian") {
    val plan = graft.ops.DedupOps.segmentDedupStrided(
      Tables.documents(spark, sf), "text", "doc_id",
      segTokens = 5, stride = 2, minDocs = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"token strip must stay key-joined, never all-pairs:\n${plan.take(600)}")
    assert(plan.contains("hashpartitioning(win"),
      s"window frequency must shuffle on window text:\n${plan.take(600)}")
  }

  test("knn graph refinement: candidate generation never plans a cartesian product") {
    val plan = SimilarityOps.knnGraphRefined(
      Tables.embeddings(spark, sf), "vec_id", "embedding",
      centroidMod = 50, kNbrs = 3)
      .queryExecution.executedPlan.toString
    // the only nested-loop join allowed is the k-row centroid broadcast
    assert(!plan.contains("CartesianProduct"),
      s"NN-descent local join must stay bucket/key-shuffled:\n${plan.take(600)}")
  }

  test("cluster topics: final cell assignment broadcasts the trained centroids") {
    val plan = SimilarityOps.clusterTopics(
      Tables.embeddings(spark, sf), Tables.documents(spark, sf),
      "vec_id", "embedding", "doc_id", "text", k = 4, iters = 1, topN = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"assignment must broadcast the k-row centroid side:\n${plan.take(600)}")
    assert(!plan.contains("CartesianProduct"),
      "assignment must broadcast, not cartesian")
  }

  test("bucket pair expansion and segmentation run through generators, not array explodes") {
    // explode(<computed array>) re-evaluates the array per emitted element
    // (InferFiltersFromGenerate + projection collapse — see Generators);
    // these pins keep the hot paths on the one-pass generator form
    val pairPlans = Seq(
      graft.ops.DedupOps.minhashPairs(Tables.documents(spark, sf), "text", "doc_id"),
      graft.ops.DedupOps.simhashNearDupPairs(Tables.documents(spark, sf), "text", "doc_id"),
      graft.ops.SimilarityOps.embeddingNearDupPairs(
        Tables.embeddings(spark, sf), "vec_id", "embedding",
        nPlanes = 4, dim = 64, minCos = 0.0, limit = 10),
      graft.ops.SimilarityOps.semanticDedup(
        Tables.embeddings(spark, sf), "vec_id", "embedding", centroidMod = 10, minCos = 0.5),
      graft.ops.SimilarityOps.knnGraph(
        Tables.embeddings(spark, sf), "vec_id", "embedding", centroidMod = 10, kNbrs = 3))
    pairPlans.foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("pairsexplode"),
        s"pair expansion must be the PairsExplode generator:\n${plan.take(500)}")
    }
    val segPlan = graft.ops.DedupOps
      .segmentDedupReport(Tables.documents(spark, sf), "text", "doc_id", 5, 2)
      .queryExecution.executedPlan.toString
    assert(segPlan.contains("segmentexplode"),
      s"segmentation must be the SegmentExplode generator:\n${segPlan.take(500)}")
  }

  test("scalar-quantized ANN broadcasts only the query codes; corpus streams once") {
    val plan = graft.ops.SimilarityOps.annScalarQuant(
        Tables.embeddings(spark, sf), "vec_id", "embedding", queryMod = 20, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"query side must broadcast:\n${plan.take(500)}")
    assert(!plan.contains("CartesianProduct"),
      "the corpus must never plan a cartesian against itself")
  }

  test("temperature mix: the weight join broadcasts; the corpus side never shuffles") {
    val df = graft.ops.SampleOps.temperatureMix(
      Tables.documents(spark, sf), "source", "doc_id")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the metadata-sized weights must broadcast:\n${plan.take(600)}")
    // the only exchanges belong to the tiny weight aggregate (its groupBy
    // and single-row min), never to the corpus data path: the corpus scan
    // must feed the broadcast join directly
    assert(!plan.contains("SortMergeJoin"),
      s"corpus must not shuffle for the weight join:\n${plan.take(600)}")
  }

  test("containment pairs share the verified-pair pipeline: generator expansion, no cartesian") {
    val plan = graft.ops.DedupOps.containmentPairs(
        Tables.documents(spark, sf), "text", "doc_id", minContainment = 0.5, limit = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("pairsexplode"), s"lazy pair generator:\n${plan.take(500)}")
    assert(!plan.contains("CartesianProduct"))
  }

  test("ivf-pq: codes join the LUT by broadcast, never a cartesian; corpus streams once") {
    val plan = SimilarityOps.ivfPqAnn(Tables.embeddings(spark, sf),
        "vec_id", "embedding", dim = 64, coarseMod = 50, m = 4, ksub = 8,
        iters = 1, queryMod = 40, k = 5, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "ADC search must never plan a cartesian against the codes")
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastHashJoin"),
      s"the per-query LUT must broadcast:\n${plan.take(500)}")
  }

  test("dsir: the bucket-ratio relation broadcasts; the token stream never sort-merges") {
    val plan = graft.ops.TextAnalysisOps.dsirWeights(Tables.documents(spark, sf),
        "text", "doc_id",
        targetExpr = org.apache.spark.sql.functions.col("lang") === "en",
        dim = 1024, topN = 50)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"dim-sized ratio relation must broadcast:\n${plan.take(600)}")
    assert(!plan.contains("SortMergeJoin"),
      s"token occurrences must not shuffle for the ratio join:\n${plan.take(600)}")
  }

  test("nearest-rank bounds: every window is partitioned (no single-task cumulative sum)") {
    // the r7 verdict's latent hazard: the cumulative count over the
    // distinct-value histogram must never plan an UNPARTITIONED window
    // (WindowExec with empty partitionSpec serializes the whole histogram
    // onto one task on high-cardinality metrics). Checked on the logical
    // plan — AQE-independent, and subsumes the physical SinglePartition
    // exchange the old shape required.
    def partitionedWindowsOnly(df: DataFrame, what: String): Unit = {
      val wins = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(wins.nonEmpty, s"$what: expected the per-bucket cumulative window")
      wins.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"$what plans an unpartitioned window: ${w.windowExpressions}"))
    }
    partitionedWindowsOnly(
      RelationalOps.percentileClip(Tables.documents(spark, sf), "n_chars", 10, 90),
      "percentileClip")
    partitionedWindowsOnly(
      RelationalOps.madOutliers(Tables.documents(spark, sf), "doc_id", "n_chars",
        num = 2, den = 1, limit = 10),
      "madOutliers")
    partitionedWindowsOnly(
      RelationalOps.equiDepthHistogram(Tables.documents(spark, sf), "n_chars", nBuckets = 4),
      "equiDepthHistogram")
    partitionedWindowsOnly(
      RelationalOps.ksPairwise(Tables.documents(spark, sf), "source", "n_chars"),
      "ksPairwise")
  }

  test("r9 ops: no cartesian products; broadcast where the small side is bounded") {
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    // skip-gram pair generation is map-only: no join of any kind before the agg
    val sg = graft.ops.TextAnalysisOps.skipgramPairs(docs, "text", 2, 50)
      .queryExecution.executedPlan.toString
    assert(!sg.contains("Join"), s"skipgramPairs must not join:\n${sg.take(600)}")
    assert(sg.contains("TakeOrderedAndProject"), "top-k must not global-sort")
    // levenshtein pairs: candidates come from the length equi-join, never a cartesian
    val lev = graft.ops.DedupOps.levenshteinPairs(docs, "text", "doc_id", 20, 1, 100)
      .queryExecution.executedPlan.toString
    assert(!lev.contains("CartesianProduct"), s"levenshteinPairs cartesian:\n${lev.take(600)}")
    // triplet mining: the anchor side broadcasts; the corpus never sort-merge-joins
    val tm = graft.ops.SimilarityOps.tripletMining(emb, "vec_id", "embedding",
      "label", queryMod = 20).queryExecution.executedPlan.toString
    assert(tm.contains("BroadcastNestedLoopJoin") || tm.contains("BroadcastHashJoin"),
      s"anchors must broadcast:\n${tm.take(600)}")
    assert(!tm.contains("CartesianProduct") && !tm.contains("SortMergeJoin"),
      s"tripletMining corpus side must stream once:\n${tm.take(600)}")
    // calibrated clip: the per-group cut table broadcasts into the recount
    val cc = RelationalOps.calibratedClip(docs, "source", "n_chars", 10, 90)
      .queryExecution.executedPlan.toString
    assert(cc.contains("BroadcastHashJoin"), s"cut table must broadcast:\n${cc.take(600)}")
    // dup attribution: one key shuffle family, no cartesian
    val da = graft.ops.DedupOps.dupAttribution(docs, "text", "doc_id", "source")
      .queryExecution.executedPlan.toString
    assert(!da.contains("CartesianProduct"), s"dupAttribution cartesian:\n${da.take(600)}")
  }

  test("dup span profile: ONE multi-span generator per corpus pass, no per-rung explode fan-out") {
    val docs = Tables.documents(spark, sf)
    val plan = graft.ops.TextAnalysisOps.dupSpanProfile(docs, "text", "doc_id",
      ladder = Seq(1, 2, 4, 8, 16, 32, 64)).queryExecution.executedPlan.toString
    // the whole 7-rung ladder must ride the one-pass generator: three
    // lazy passes (window stats; dup-hash set; dup-doc attribution —
    // deliberately NOT materialized: the (span, hash) relation is
    // corpus-scale), never 3 x |ladder|
    val nGen = "multingramhashexplode".r.findAllIn(plan).size
    assert(nGen >= 1 && nGen <= 3,
      s"expected 1-3 MultiNgramHashExplode generates, got $nGen:\n${plan.take(800)}")
    // bare ngramexplode (the per-rung form) must be gone — match the word
    // boundary so the multi-span generator's own name can't false-hit
    assert(!plan.contains(" ngramexplode") && !plan.contains("[ngramexplode"),
      s"per-rung NgramExplode crept back into the span profile:\n${plan.take(800)}")
    assert(!plan.contains("CartesianProduct"), s"cartesian:\n${plan.take(600)}")
  }

  test("token entropy: the only corpus shuffle is the (group, term) partial agg") {
    val docs = Tables.documents(spark, sf)
    val plan = graft.ops.TextAnalysisOps.tokenEntropyByGroup(docs, "text", "source")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"tokenEntropy must not join:\n${plan.take(600)}")
    // partial aggregation must be present before the exchange (map-side
    // combine bounds the shuffle by group x vocabulary, not corpus tokens)
    assert(plan.contains("HashAggregate"), s"no hash aggregate:\n${plan.take(600)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("No Partition Defined"),
      s"bad plan:\n${plan.take(600)}")
  }

  test("source KL: one corpus scan, vocabulary-keyed join, broadcast totals, no cartesian") {
    val docs = Tables.documents(spark, sf)
    val df = graft.ops.TextAnalysisOps.sourceKlDivergence(docs, "text", "source")
    val plan = df.queryExecution.executedPlan.toString
    // the checkpointed (group, term) relation feeds both the corpus
    // totals and the join — the corpus text must be scanned exactly once
    val nScans = "ngramexplode".r.findAllIn(plan).size
    assert(nScans <= 1, s"expected <= 1 corpus token scan, got $nScans:\n${plan.take(800)}")
    // the one-row lN relation broadcasts; nothing plans a cartesian
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"totals must broadcast:\n${plan.take(600)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("No Partition Defined"),
      s"bad plan:\n${plan.take(600)}")
  }

  test("the four global windows run over post-aggregation bounded-domain relations") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, countDistinct, datediff, max, min, to_date}
    // These four ops deliberately use an UNPARTITIONED window (GraftSession
    // silences WindowExec's "No Partition Defined" warning, so this test,
    // not the log, is the bound on them) — safe ONLY because each
    // window's input is a post-aggregation calendar/bucket relation whose
    // row count is bounded by the DOMAIN (days in span, <=64 log2
    // buckets), never the fact table. Pin both halves so a future edit
    // cannot silently feed one a corpus-sized relation.
    def windowIsPostAgg(df: DataFrame, opName: String): Unit = {
      df.collect() // force the AQE final plan
      val plan = df.queryExecution.executedPlan.toString
      val winIdx = plan.indexOf("Window")
      assert(winIdx >= 0, s"$opName: expected a Window node:\n${plan.take(600)}")
      // an aggregate must sit BELOW the window (children print after the
      // parent): the window reads reduced data, not the raw scan
      assert(plan.indexOf("HashAggregate", winIdx) > winIdx,
        s"$opName: global window must consume a post-aggregation relation:\n${plan.take(1200)}")
    }
    val events = Tables.events(spark, sf)
    val spanDays = events
      .agg((datediff(max(to_date(col("ts"))), min(to_date(col("ts")))) + 1).cast("long"))
      .head().getLong(0)
    val nEvents = events.count()
    // 1. trailing moving average: input = the gap-filled daily calendar
    val ma = graft.ops.ResampleOps.movingAverageDaily(events, "ts", k = 7)
    windowIsPostAgg(ma, "movingAverageDaily")
    assert(ma.count() == spanDays && spanDays < nEvents,
      s"calendar rows ${ma.count()} != span $spanDays (events $nEvents)")
    // 2. anomaly baseline: same zero-filled calendar domain
    val an = graft.ops.AnomalyOps.anomalyDaily(events, "ts", "value",
      windowDays = 7, z2 = 9)
    windowIsPostAgg(an, "anomalyDaily")
    assert(an.count() == spanDays)
    // 3. quantile probe: the cumulative window reads the <=64-row sketch
    val docs = Tables.documents(spark, sf)
    val probe = graft.ops.SketchOps.log2QuantileProbe(docs, "n_chars", Seq(50, 90, 99))
    windowIsPostAgg(probe, "log2QuantileProbe")
    assert(graft.ops.SketchOps.log2Histogram(docs, "n_chars").count() <= 64L)
    // 4. sweep-line running sum: the merged day axis collapses row
    // multiplicity to distinct days BEFORE the window (500 interval rows
    // over 5 days + 300 point rows over 3 days -> <= 13 axis rows)
    val iv = (1 to 500).map(i =>
      (java.sql.Date.valueOf(s"2024-01-0${i % 5 + 1}"),
        java.sql.Date.valueOf(s"2024-01-0${i % 5 + 2}"))).toDF("lo", "hi")
    val pts = (1 to 300).map(i =>
      Tuple1(java.sql.Date.valueOf(s"2024-01-0${i % 3 + 2}"))).toDF("day")
    val pic = graft.ops.RangeOps.pointInIntervalCounts(pts, "day", iv, "lo", "hi")
    windowIsPostAgg(pic, "pointInIntervalCounts")
    val nAxisDays = iv.select(col("lo").as("d")).union(iv.select(col("hi")))
      .union(pts.select(col("day"))).agg(countDistinct(col("d"))).head().getLong(0) + 1
    assert(pic.count() <= nAxisDays && nAxisDays <= 13,
      s"sweep-line output ${pic.count()} must stay within the day domain $nAxisDays")
  }
  test("unigram-lm: training collapses the corpus once; fertility is one scan, no explode") {
    // the r12 verdict's #8 ask — the insurance that caught the q123
    // aggregate fallback, applied to the q187/q188 hot path: the trainer
    // must collapse the corpus ONCE into the bounded (word, count)
    // checkpoint (every EM round re-reads that checkpoint, never the
    // corpus parquet), and the fertility pass must stay one scalar-UDF
    // corpus scan feeding a codegen hash aggregate — never a per-token
    // Generate fan-out, never an object/sort aggregate
    val docs = Tables.documents(spark, sf)
    val trained = graft.ops.UnigramLmOps.unigramTrain(docs, "text",
      rounds = 1, maxLen = 3, seedPieces = 12, keepPieces = 8)
    val trainScans = trained.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }.size
    assert(trainScans == 0,
      s"trainer's returned relation re-reads the corpus parquet ($trainScans scans) — " +
        "the word-count collapse regressed")
    val fert = graft.ops.UnigramLmOps.unigramFertility(docs, "text", "lang",
      rounds = 1, maxLen = 3, seedPieces = 12, keepPieces = 8)
    val fertScans = fert.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }.size
    assert(fertScans == 1, s"fertility must scan the corpus exactly once, got $fertScans")
    val plan = fert.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"),
      s"fertility regressed to a per-token explode:\n${plan.take(800)}")
    assert(!plan.contains("ObjectHashAggregate") && !plan.contains("SortAggregate"),
      s"fertility aggregate left the codegen hash path:\n${plan.take(800)}")
  }

  test("exact jaccard join: pair argmin stays on the codegen hash-aggregate path") {
    // the r12 regression class: a struct-typed (or wide-decimal) MIN in
    // the pair aggregate silently falls back to ObjectHashAggregate /
    // SortAggregate and tripled q123's wall time — pin that the ONLY
    // object aggregate in the plan is the unavoidable collect_list
    // bucket build, and that the suffix predicate runs as the tight
    // kernel, never an inlined join condition
    val plan = graft.ops.DedupOps.jaccardJoinExact(
      Tables.documents(spark, sf), "text", "doc_id")
      .queryExecution.executedPlan.toString
    val objAggs = plan.linesIterator.filter(_.contains("ObjectHashAggregate")).toSeq
    assert(objAggs.forall(_.contains("collect_list")),
      s"pair argmin left the codegen hash-aggregate path:\n${objAggs.mkString("\n")}")
    assert(!plan.contains("SortAggregate"),
      "pair aggregation must not degrade to SortAggregate")
    assert(!plan.contains("CartesianProduct"),
      "candidate generation must never be all-pairs")
  }
}
