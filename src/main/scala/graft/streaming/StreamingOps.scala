package graft.streaming

import graft.io.BatchArtifact
import graft.model.AnalysisConfig
import graft.ops.KeywordOps
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY.md §2.8: absent in the reference,
  * required by the north star). Every batch stage in `ops/` is a pure
  * `DataFrame => DataFrame`, so the SAME code runs on `readStream` inputs —
  * these helpers only add the stream-specific pieces: watermarks, windows,
  * and custom state.
  *
  * Scale notes: windowed counts shuffle on (window, key) with partial
  * aggregation; state (sessionization) is partitioned by user key across
  * executors with RocksDB-compatible state store semantics; watermarks bound
  * state size — without them the state store grows without limit at 100 TB
  * stream volume.
  */
object StreamingOps {

  /** Streaming keyword pipeline: clean -> tag -> explode (unchanged batch
    * stages) -> watermark -> tumbling-window count per industry. */
  def keywordWindowCounts(
      posts: DataFrame, cfg: AnalysisConfig, tsCol: String,
      windowDur: String, watermarkDelay: String): DataFrame =
    KeywordOps.cleanExploded(posts, cfg)
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur), col("industry"))
      .agg(count(lit(1)).as("n_posts"))
      .select(col("window.start").as("window_start"), col("industry"), col("n_posts"))

  /** Stream-side A5 WORD-COUNT: the SAME analyzer (its Generator hot path
    * included) tokenizes the stream, then a watermarked tumbling window
    * counts per (window, word). Map-side partial aggregation reduces each
    * micro-batch's token stream to its local vocabulary before the
    * shuffle, and the watermark bounds the window state — the two things
    * that make per-token streaming viable at firehose volume. */
  def windowedWordFrequency(
      posts: DataFrame, analyzer: graft.text.Analyzer,
      textCol: String, tsCol: String,
      windowDur: String, watermarkDelay: String): DataFrame =
    posts
      .filter(col(textCol).isNotNull)
      .withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol), analyzer.tokenRows(col(textCol)).as("word"))
      .groupBy(window(col(tsCol), windowDur), col("word"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("word"), col("n"))

  /** Stream-side document CHUNKING: the
    * [[graft.ops.TextAnalysisOps.chunkRows]] stage applied to a live
    * document stream — chunking is stateless and map-only, so it needs no
    * watermark and holds no state: each arriving doc emits its chunk rows
    * in the micro-batch it lands in, identical to the batch operator's
    * output for the same doc (agreement spec-pinned). The front half of a
    * streaming RAG-ingest pipeline (chunk → embed → index). */
  def streamingChunks(
      docs: DataFrame, textCol: String, idCol: String,
      chunk: Int, stride: Int): DataFrame =
    graft.ops.TextAnalysisOps.chunkRows(docs, textCol, idCol, chunk, stride)

  /** Tumbling-window event counts + value sums per event type over the
    * events stream shape (event_id, ts, user_id, event_type, value). */
  def eventWindowStats(
      events: DataFrame, tsCol: String,
      windowDur: String, watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Streaming exact dedup: drop repeats of `keyCols` within the watermark
    * horizon — the stream-side of [[graft.ops.DedupOps.exactDedup]] for
    * ingest pipelines (an at-least-once source replays records; unbounded
    * keep-all-keys state would OOM, so the watermark bounds the dedup
    * state exactly like it bounds windows). The batch operator's
    * deterministic-keeper guarantee becomes arrival-order keep-first here —
    * the only definable semantics on an unbounded stream. */
  def streamingExactDedup(
      events: DataFrame, tsCol: String, watermarkDelay: String,
      keyCols: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming INCREMENTAL dedup: the live counterpart of
    * [[graft.ops.DedupOps.exactDedupDelta]] — each arriving record survives
    * iff its key is absent from a STATIC existing corpus (stream-static
    * left ANTI join: the static side joins per micro-batch with no
    * streaming state) and it is the first holder of its key within the
    * watermark horizon (the in-stream half of the delta contract;
    * arrival-order keep-first, as [[streamingExactDedup]]). Survivors are
    * exactly what an ingest sink appends; compacting appended keys into
    * the corpus snapshot is the batch [[graft.ops.DedupOps.exactDedupDelta]]
    * composition run at epoch boundaries. */
  def streamingDedupDelta(
      newDocs: DataFrame, corpus: DataFrame,
      keyCol: String, tsCol: String, watermarkDelay: String): DataFrame =
    newDocs
      .filter(col(keyCol).isNotNull)
      .withWatermark(tsCol, watermarkDelay)
      .join(corpus.filter(col(keyCol).isNotNull).select(col(keyCol)).distinct(),
        Seq(keyCol), "left_anti")
      .dropDuplicatesWithinWatermark(Seq(keyCol))

  /** Streaming NEAR-dup screen: the fuzzy counterpart of
    * [[streamingDedupDelta]] — each arriving doc is checked against the
    * STATIC corpus band-key index
    * ([[graft.ops.DedupOps.bandKeyIndex]], the persisted artifact of the
    * incremental MinHash design) and reports its best corpus near-dup,
    * matching [[graft.ops.DedupOps.minhashDedupDelta]]'s verdict for the
    * same inputs (agreement spec-pinned on an in-order fixture).
    *
    * Stream-side signature work is MAP-ONLY: the minhash family minima
    * and the doc's distinct shingle-hash set are per-row array
    * expressions over the doc's own shingles (the batch pipeline's
    * groupBy aggregate is equivalent but would be a stateful streaming
    * aggregate), so the only streaming state is the final
    * watermark-bounded best-match aggregation. The two static joins —
    * band keys against the index, then candidate ids against the
    * persisted hash-set relation
    * ([[graft.ops.DedupOps.shingleHashSets]]) — hold no stream state and
    * re-plan per micro-batch; candidates are verified with the same
    * exact hash-set Jaccard as the batch screen. Emits
    * (doc_id, near_dup_of, jaccard) in Append mode once the watermark
    * closes the doc's event time.
    *
    * 100 TB shape: screening cost per micro-batch is one map-only pass
    * over the batch plus index-bucket joins bounded by band collisions —
    * corpus TEXT is never touched (the index is nBands small ints plus
    * one compact hash array per corpus doc). */
  def streamingNearDupScreen(
      newDocs: DataFrame, corpusIndex: DataFrame, corpusHashSets: DataFrame,
      textCol: String, idCol: String, tsCol: String, watermarkDelay: String,
      w: Int = 3, nBands: Int = 8, r: Int = 2,
      minJaccard: Double = 0.5): DataFrame = {
    // watermark first, then the SHARED indexed-screen core
    // ([[graft.ops.DedupOps.indexedScreenVerified]] — the same map-only
    // signature + index joins + hash-set verify the batch
    // [[graft.ops.DedupOps.minhashDeltaIndexed]] runs); the event time
    // rides through as a carry column into the final watermark-bounded
    // aggregation, the screen's only streaming state
    val marked = newDocs
      .filter(col(textCol).isNotNull)
      .withWatermark(tsCol, watermarkDelay)
      .select(col(idCol).as("doc_id"), col(tsCol).as("__ts"), col(textCol))
    graft.ops.DedupOps.indexedScreenVerified(
      marked, corpusIndex, corpusHashSets, textCol, "doc_id", Seq("__ts"),
      w, nBands, r, minJaccard)
      // best match per doc: multi-band duplicates collapse into the max;
      // the struct max orders by (jaccard, -cid) = highest similarity,
      // lowest corpus id on ties — the batch screen's row_number order
      .groupBy(col("__ts"), col("doc_id"))
      .agg(max(struct(col("jaccard"), (-col("__cid")).as("__ncid"))).as("best"))
      .select(col("doc_id"), (-col("best.__ncid")).as("near_dup_of"),
        col("best.jaccard").as("jaccard"))
  }

  /** Streaming EXACT-SPAN screen: the live sibling of
    * [[graft.ops.DedupOps.exactDupSpansAgainstIndex]] — each arriving doc
    * reports the maximal token spans it shares with the STATIC corpus
    * window index ([[graft.ops.DedupOps.frequentWindowIndex]], the span
    * family's persisted artifact), the boilerplate-at-ingest check next
    * to [[streamingNearDupScreen]]'s whole-doc verdicts.
    *
    * Stream-side window keys are MAP-ONLY (the one-pass ChunkExplode
    * generator, stride 1); the index join holds no stream state and
    * re-plans per micro-batch; the only streaming state is the final
    * watermark-bounded per-doc aggregation. Structured Streaming forbids
    * the batch form's per-doc window functions, so the maximal-span
    * merge runs as a PURE EXPRESSION instead: collect the doc's hit
    * intervals, sort, and fold gaps-and-islands in one `aggregate` HOF —
    * bit-identical to the batch island merge (agreement spec-pinned,
    * incl. across micro-batch splits). Emits the batch op's row shape
    * (doc_id, n_tokens, n_spans, dup_tokens, max_span, dup_ppm) in
    * Append mode once the watermark closes the doc's event time.
    *
    * 100 TB shape: per micro-batch cost is the batch's own l× window
    * stream plus one index join — corpus text is never touched (the
    * index is one 16-byte key per frequent window). */
  def streamingSpanScreen(
      newDocs: DataFrame, windowIndex: DataFrame,
      textCol: String, idCol: String, tsCol: String, watermarkDelay: String,
      l: Int): DataFrame = {
    require(l >= 1, s"window width must be >= 1: $l")
    val marked = newDocs
      .filter(col(textCol).isNotNull)
      .withWatermark(tsCol, watermarkDelay)
      .select(col(idCol).as("doc_id"), col(tsCol).as("__ts"),
        size(filter(split(col(textCol), " +"), t => t =!= ""))
          .cast("long").as("n_tokens"),
        graft.functions.Generators.chunkExplode(col(textCol), l, 1)
          .as(Seq("st", "ntok", "win")))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("__ts"), col("n_tokens"), col("st"),
        col("ntok"), md5(col("win")).as("wk"))
      .join(windowIndex.select("wk"), "wk")
      .select(col("doc_id"), col("__ts"), col("n_tokens"),
        struct(col("st").as("lo"), (col("st") + col("ntok")).as("hi")).as("iv"))
    val init = struct(lit(0L).as("n"), lit(0L).as("dup"), lit(0L).as("mx"),
      lit(-1L).as("clo"), lit(-1L).as("chi"))
    def closed(a: org.apache.spark.sql.Column)
        : (org.apache.spark.sql.Column, org.apache.spark.sql.Column,
           org.apache.spark.sql.Column) = {
      val len = a.getField("chi") - a.getField("clo")
      (a.getField("n") + lit(1L), a.getField("dup") + len,
        greatest(a.getField("mx"), len))
    }
    // gaps-and-islands as a fold over the sorted intervals: extend the
    // open span while lo <= current hi, close it (count + mass + max)
    // when the next start clears every prior end — the batch window
    // form's exact arithmetic, expression-only
    val merged = aggregate(
      array_sort(collect_list(col("iv"))),
      init,
      (a, iv) => {
        val lo = iv.getField("lo")
        val hi = iv.getField("hi")
        val (cn, cdup, cmx) = closed(a)
        when(a.getField("chi") < 0L,
          struct(lit(0L).as("n"), lit(0L).as("dup"), lit(0L).as("mx"),
            lo.as("clo"), hi.as("chi")))
          .when(lo > a.getField("chi"),
            struct(cn.as("n"), cdup.as("dup"), cmx.as("mx"),
              lo.as("clo"), hi.as("chi")))
          .otherwise(struct(a.getField("n").as("n"), a.getField("dup").as("dup"),
            a.getField("mx").as("mx"), a.getField("clo").as("clo"),
            greatest(a.getField("chi"), hi).as("chi")))
      },
      a => {
        val (cn, cdup, cmx) = closed(a)
        struct(cn.as("n"), cdup.as("dup"), cmx.as("mx"))
      })
    marked
      .groupBy(col("__ts"), col("doc_id"), col("n_tokens"))
      .agg(merged.as("sp"))
      .select(col("doc_id"), col("n_tokens"),
        col("sp.n").as("n_spans"), col("sp.dup").as("dup_tokens"),
        col("sp.mx").as("max_span"),
        expr("sp.dup * 1000000 div n_tokens").as("dup_ppm"))
  }

  // The near-dup artifacts, shared by the near-dup and curation loops.
  // Each ingest artifact is declared once as a [[graft.io.BatchArtifact]]
  // (dir, fold sort keys, inner partitioning), which owns the layout, the
  // replay-safe read, the overwrite and the epoch fold.
  private def bandKeys(dir: String) = BatchArtifact(dir, Seq("band", "bh"))
  private def hashSets(dir: String) = BatchArtifact(dir, Seq("id"))

  /** PRODUCTION ingest loop for the persisted WINDOW index — the span
    * family's growing-index half ([[nearDupIngest]]'s contract at window
    * granularity): each micro-batch screens against the on-disk
    * [[graft.ops.DedupOps.frequentWindowIndex]] artifact
    * ([[streamingSpanScreen]]'s static side), then APPENDS its own docs'
    * distinct window keys, so later batches report spans shared with
    * EVERYTHING seen before — arriving boilerplate is flagged the moment
    * its first copy is anywhere in the ingested past, which the
    * stream-static join alone cannot express (its static side is re-read
    * per batch but never grows mid-query from the stream itself).
    *
    * Unlike the near-dup loop this screen does not BLOCK docs — it
    * REPORTS span mass and appends every doc's windows (minDocs = 1, the
    * ingest question being "has this span been seen AT ALL"; curation
    * downstream decides what to do with high-dup_ppm docs). The append
    * is DEDUPLICATED against the index the batch just screened against
    * (one left-anti join on the already-read wk relation): without it,
    * boilerplate present in every batch would gain one index copy per
    * epoch, so after B batches the screen join would emit B matched rows
    * per hit window — join work growing linearly with stream age for
    * exactly the windows the screen exists to catch. (The REPORT would
    * stay correct either way — repeated hit intervals merge into one
    * island — but the COST would not; the anti-join keeps the index's
    * key multiset globally distinct.)
    * The index is a [[graft.io.BatchArtifact]] (layout, replay safety,
    * every-`compactEvery`-epochs fold). Without the own-partition
    * exclusion, a replay would read its OWN previously-appended windows
    * (minDocs = 1) and report every doc, novel ones included, as
    * near-fully self-duplicated.
    * `onBatch(report, batchId)` gets the per-batch
    * [[graft.ops.DedupOps.exactDupSpansAgainstIndex]]-shaped report. */
  def spanIngest(
      docs: DataFrame, indexDir: String,
      textCol: String, idCol: String, l: Int,
      compactEvery: Int = 0,
      onBatch: (DataFrame, Long) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      onBatch(spanIngestBatch(batch, batchId, indexDir, textCol, idCol, l,
        compactEvery), batchId)
    }

  /** One [[spanIngest]] micro-batch — screen, anti-joined append, report.
    * Package-visible so the spec can drive a REPLAYED batch (same
    * batchId, partition already on disk) directly, which MemoryStream
    * cannot simulate. */
  private[graft] def spanIngestBatch(
      batch: DataFrame, batchId: Long, indexDir: String,
      textCol: String, idCol: String, l: Int,
      compactEvery: Int = 0): DataFrame = {
    val index = BatchArtifact(indexDir, Seq("wk"))
    BatchArtifact.step(batch, batchId, compactEvery, index) { b =>
      // NOT checkpointed: it feeds two actions, but two pruned scans of a
      // 16-byte-key parquet column beat pinning the whole index — at
      // corpus scale this relation is the thing too big to cache per batch.
      val idx = index.readExcept(b.sparkSession, batchId).select("wk")
      val report = graft.ops.DedupOps.exactDupSpansAgainstIndex(
        b, idx, textCol, idCol, l).localCheckpoint()
      index.write(graft.ops.DedupOps.frequentWindowIndex(b, textCol, idCol, l, minDocs = 1)
        .join(idx, Seq("wk"), "left_anti"), batchId)
      report
    }
  }

  /** PRODUCTION ingest loop for the persisted near-dup index: a
    * `foreachBatch` writer that screens each micro-batch against the
    * on-disk [[graft.ops.DedupOps.bandKeyIndex]] +
    * [[graft.ops.DedupOps.shingleHashSets]] artifacts and APPENDS the
    * accepted (non-duplicate) docs' keys and hash sets, so every later
    * micro-batch screens against everything accepted before it — the
    * growing-corpus semantics the stream-static join of
    * [[streamingNearDupScreen]] cannot express (its static side is
    * re-read per batch but never grows mid-query from the stream itself).
    *
    * Both dirs are [[graft.io.BatchArtifact]]s (layout, replay safety,
    * every-`compactEvery`-epochs fold). Without the own-partition
    * exclusion, a micro-batch replayed after its partitions were written
    * would screen its own docs against their OWN appended keys, every
    * first-attempt survivor would self-match at jaccard 1.0 and flip to
    * blocked, and the partitions would be rewritten EMPTY — the accepted
    * docs silently vanishing from the index. With the exclusion the
    * replay rewrites identical content (spec-pinned).
    * Within-batch near-dups are NOT screened against each other (same
    * corpus-vs-shard contract as [[graft.ops.DedupOps.minhashDedupDelta]];
    * run the pair path inside the batch if intra-shard dups matter).
    * `onBatch(accepted, blocked, batchId)` exposes both verdict frames
    * per batch for downstream sinks. */
  def nearDupIngest(
      docs: DataFrame, indexDir: String, hashSetsDir: String,
      textCol: String, idCol: String,
      w: Int = 3, nBands: Int = 8, r: Int = 2, minJaccard: Double = 0.5,
      compactEvery: Int = 0,
      onBatch: (DataFrame, DataFrame, Long) => Unit = (_, _, _) => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val (accepted, blocked) = nearDupIngestBatch(
        batch, batchId, indexDir, hashSetsDir, textCol, idCol,
        w, nBands, r, minJaccard, compactEvery)
      onBatch(accepted, blocked, batchId)
    }

  /** One [[nearDupIngest]] micro-batch — screen, accepted-key append,
    * (accepted, blocked) verdicts. Package-visible so the spec can drive
    * a REPLAYED batch directly. */
  private[graft] def nearDupIngestBatch(
      batch: DataFrame, batchId: Long, indexDir: String, hashSetsDir: String,
      textCol: String, idCol: String,
      w: Int, nBands: Int, r: Int, minJaccard: Double,
      compactEvery: Int = 0): (DataFrame, DataFrame) = {
    val (index, sets) = (bandKeys(indexDir), hashSets(hashSetsDir))
    BatchArtifact.step(batch, batchId, compactEvery, index, sets) { b =>
      val spark = b.sparkSession
      val blocked = graft.ops.DedupOps.minhashDeltaIndexed(
        b, index.readExcept(spark, batchId), sets.readExcept(spark, batchId),
        textCol, idCol, w, nBands, r, minJaccard).localCheckpoint()
      val accepted = b.join(blocked.select(col("doc_id").as("__bid")),
        col(idCol) === col("__bid"), "left_anti")
      index.write(graft.ops.DedupOps.bandKeyIndex(accepted, textCol, idCol, w, nBands, r),
        batchId)
      sets.write(graft.ops.DedupOps.shingleHashSets(accepted, textCol, idCol, w), batchId)
      (accepted, blocked)
    }
  }

  /** STREAMING CURATION FUNNEL — the live half of the q71/q96 batch
    * funnels (the r8 verdict's ask): a `foreachBatch` loop that pushes
    * every micro-batch through the SAME five stage semantics —
    * quality (Gopher rule mask, map-only per doc) → exact prefix-key
    * dedup → fuzzy near-dup screen → benchmark decontamination →
    * budget — and GROWS the dedup artifacts with each batch's accepted
    * docs, so later arrivals dedupe against everything accepted before
    * them (the growing-corpus semantics stream-static joins cannot
    * express; [[nearDupIngest]]'s contract, funnel-wide).
    *
    * Stage notes:
    *  - exact dedup: q71's content-prefix key — anti join against the
    *    persisted accepted-key set, then the in-batch min-id keeper;
    *  - near-dup: [[graft.ops.DedupOps.minhashDeltaIndexed]] against the
    *    persisted band-key/hash-set artifacts (corpus-vs-batch contract:
    *    intra-batch near-dups are not screened against each other, same
    *    as [[nearDupIngest]]);
    *  - decontamination: distinct-shingle overlap vs the CALLER-BUILT
    *    broadcast bench shingle union (`benchShingles`, one `s` column —
    *    static config, like the batch funnel's bench split);
    *  - budget: [[graft.ops.SampleOps.hashSample]] at `budgetNum/Den` —
    *    the STATELESS hash-threshold form (deterministic per key, so a
    *    retried batch re-derives identical verdicts; the batch funnel's
    *    exact token budget needs corpus-wide prefix sums, which no
    *    single micro-batch can see — rate-based is the streaming-native
    *    budget).
    *
    * All three artifact dirs are [[graft.io.BatchArtifact]]s (seed
    * epochs at `batch=-1`, empty frames for a fresh corpus). Without the
    * own-partition exclusion, a replayed batch's first-attempt survivors
    * would hit their OWN keys at the exact-dedup and near-dup stages,
    * flip to rejected, and the partitions would be rewritten empty.
    * `onBatch(report, accepted, id)` gets the q71-shaped per-stage
    * report (stage, stage_name, n_docs, n_tokens) plus the accepted
    * frame. */
  def curationIngest(
      docs: DataFrame, keysDir: String, indexDir: String, hashSetsDir: String,
      benchShingles: DataFrame, textCol: String, idCol: String,
      stopwords: Seq[String], minTokens: Long, maxTokens: Long, minStops: Long,
      prefixLen: Int, w: Int, maxOverlapNum: Long, maxOverlapDen: Long,
      budgetNum: Long, budgetDen: Long,
      nBands: Int = 8, r: Int = 2, minJaccard: Double = 0.5,
      compactEvery: Int = 0,
      onBatch: (DataFrame, DataFrame, Long) => Unit = (_, _, _) => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val (report, accepted) = curationIngestBatch(
        batch, batchId, keysDir, indexDir, hashSetsDir, benchShingles,
        textCol, idCol, stopwords, minTokens, maxTokens, minStops,
        prefixLen, w, maxOverlapNum, maxOverlapDen, budgetNum, budgetDen,
        nBands, r, minJaccard, compactEvery)
      onBatch(report, accepted, batchId)
    }

  /** One [[curationIngest]] micro-batch — five stages, artifact appends,
    * (report, accepted). Package-visible so the spec can drive a
    * REPLAYED batch directly. */
  private[graft] def curationIngestBatch(
      batch: DataFrame, batchId: Long,
      keysDir: String, indexDir: String, hashSetsDir: String,
      benchShingles: DataFrame, textCol: String, idCol: String,
      stopwords: Seq[String], minTokens: Long, maxTokens: Long, minStops: Long,
      prefixLen: Int, w: Int, maxOverlapNum: Long, maxOverlapDen: Long,
      budgetNum: Long, budgetDen: Long,
      nBands: Int, r: Int, minJaccard: Double,
      compactEvery: Int = 0): (DataFrame, DataFrame) = {
    val (keys, index, sets) =
      (BatchArtifact(keysDir, Seq("__key")), bandKeys(indexDir), hashSets(hashSetsDir))
    BatchArtifact.step(batch, batchId, compactEvery, keys, index, sets) { b =>
      val spark = b.sparkSession
      // stage 0+1: per-doc token counts and rule mask in one pass
      val masked = graft.ops.TextAnalysisOps.gopherRuleMask(
        b, textCol, idCol, stopwords, minTokens, maxTokens, minStops)
        .localCheckpoint()
      val s1 = b.join(
        masked.filter(col("rule_mask") === 0L)
          .select(col("doc_id").as("__qid"), col("n_tokens")),
        col(idCol) === col("__qid")).drop("__qid")
      // stage 2: accepted-key anti join + in-batch min-id keeper
      val keyed = s1.withColumn("__key",
        concat_ws(" ", slice(graft.functions.TextHash.tokens(col(textCol)), 1, prefixLen)))
      val wKey = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__key")).orderBy(col(idCol).asc)
      val s2 = keyed
        .join(keys.readExcept(spark, batchId).select("__key").distinct(),
          Seq("__key"), "left_anti")
        .withColumn("__rn", row_number().over(wKey))
        .filter(col("__rn") === 1).drop("__rn")
        .localCheckpoint()
      // stage 3: near-dup screen against the persisted artifacts
      val blocked = graft.ops.DedupOps.minhashDeltaIndexed(
        s2, index.readExcept(spark, batchId), sets.readExcept(spark, batchId),
        textCol, idCol, w, nBands, r, minJaccard)
      val s3 = s2.join(blocked.select(col("doc_id").as("__bid")),
        col(idCol) === col("__bid"), "left_anti")
        .localCheckpoint()
      // stage 4: decontamination — docs too short to shingle cannot overlap
      val ov = s3
        .select(col(idCol).as("__did"),
          graft.functions.Generators.shingleExplode(col(textCol), w).as("s"))
        .join(broadcast(benchShingles.select(col("s")).withColumn("__hit", lit(1))),
          Seq("s"), "left")
        .groupBy("__did")
        .agg(count(lit(1)).as("n_sh"), count(col("__hit")).as("n_ov"))
      val contaminated = ov
        .filter(col("n_ov") * maxOverlapDen >= col("n_sh") * maxOverlapNum)
        .select(col("__did"))
      val s4 = s3.join(contaminated, col(idCol) === col("__did"), "left_anti")
        .localCheckpoint()
      // stage 5: stateless hash-threshold budget
      val s5 = graft.ops.SampleOps.hashSample(s4, idCol, budgetNum, budgetDen)
        .localCheckpoint()
      // grow the artifacts with the ACCEPTED docs (the corpus being built)
      keys.write(s5.select("__key").distinct(), batchId)
      index.write(graft.ops.DedupOps.bandKeyIndex(s5, textCol, idCol, w, nBands, r), batchId)
      sets.write(graft.ops.DedupOps.shingleHashSets(s5, textCol, idCol, w), batchId)
      def stage(df: DataFrame, i: Int, name: String): DataFrame =
        df.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"))
          .select(lit(i.toLong).as("stage"), lit(name).as("stage_name"),
            col("n_docs"), col("n_tokens"))
      val report = stage(masked, 0, "arrived")
        .unionByName(stage(s1, 1, "quality"))
        .unionByName(stage(s2, 2, "exact_dedup"))
        .unionByName(stage(s3, 3, "near_dup"))
        .unionByName(stage(s4, 4, "decontaminated"))
        .unionByName(stage(s5, 5, "budget"))
        .orderBy("stage")
      (report, s5.drop("__key"))
    }
  }

  /** PRODUCTION ingest loop for the persisted IVF index —
    * [[nearDupIngest]]'s similarity sibling: a `foreachBatch` writer that
    * matches each micro-batch of vectors against the on-disk
    * [[graft.ops.SimilarityOps.ivfAssignments]] inverted lists (via
    * [[graft.ops.SimilarityOps.annIvfDelta]]) and then APPENDS the
    * batch's own vectors to the lists, so every later micro-batch can
    * find everything indexed before it — the growing-index semantics a
    * stream-static join cannot express. Unlike the near-dup screen there
    * is no accept/reject verdict: ANN indexes every arrival; the match
    * report is the per-batch product (`onBatch(matches, batchId)`).
    *
    * `listsDir` is a [[graft.io.BatchArtifact]] whose partitions are
    * further partitioned by `cid`, keeping probe scans prunable to the
    * probed lists. The index content is idempotent under replay either
    * way — the assignments are a pure function of the batch — but
    * without the own-partition exclusion the replay's match report would
    * include the batch's own vectors. The centroid relation is fixed at
    * seed time (re-train + re-index offline to re-center — standard IVF
    * practice; the lists stay valid for the centroids they were assigned
    * under). */
  def ivfIngest(
      vecs: DataFrame, centroidsDir: String, listsDir: String,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      compactEvery: Int = 0,
      onBatch: (DataFrame, Long) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      onBatch(ivfIngestBatch(batch, batchId, centroidsDir, listsDir,
        idCol, vecCol, k, nprobe, compactEvery), batchId)
    }

  /** One [[ivfIngest]] micro-batch — match, list append, match report.
    * Package-visible so the spec can drive a REPLAYED batch directly. */
  private[graft] def ivfIngestBatch(
      batch: DataFrame, batchId: Long, centroidsDir: String, listsDir: String,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      compactEvery: Int = 0): DataFrame = {
    // cid partitions keep probe scans prunable to the probed lists
    val lists = BatchArtifact(listsDir, Seq("id"), Seq("cid"))
    BatchArtifact.step(batch, batchId, compactEvery, lists) { b =>
      val spark = b.sparkSession
      val cents = spark.read.parquet(centroidsDir)
      val matches = graft.ops.SimilarityOps.annIvfDelta(
        b, cents, lists.readExcept(spark, batchId), idCol, vecCol, k, nprobe)
        .localCheckpoint()
      lists.write(graft.ops.SimilarityOps.ivfAssignments(b, idCol, vecCol, cents), batchId)
      matches
    }
  }

  /** PRODUCTION ingest loop for the persisted IVF-PQ index —
    * [[ivfIngest]]'s COMPRESSED sibling: each micro-batch of vectors is
    * matched against the on-disk code table via
    * [[graft.ops.SimilarityOps.ivfPqFromIndex]] (per-cell ADC over the
    * broadcast centroids + codebooks; raw corpus vectors are never
    * read), then ENCODED against the same frozen codebooks
    * ([[graft.ops.SimilarityOps.ivfPqCodesFor]]) and appended, so every
    * later micro-batch searches everything indexed before it while the
    * index stays m small ints + a cell id per vector — the layout that
    * makes a billion-vector growing index storable.
    *
    * `codesDir` is a [[graft.io.BatchArtifact]] whose partitions are
    * further partitioned by `ccell`; the own-partition exclusion keeps a
    * replayed batch's ADC report equal to the original attempt's.
    * Centroids AND codebooks are frozen at seed time (residual codes are
    * only valid under the codebooks they were quantized with — re-train +
    * re-encode offline to re-center, the same IVF practice as the
    * raw-vector loop). */
  def ivfPqIngest(
      vecs: DataFrame, centroidsDir: String, codebooksDir: String, codesDir: String,
      idCol: String, vecCol: String, dim: Int, m: Int, k: Int, nprobe: Int,
      compactEvery: Int = 0,
      onBatch: (DataFrame, Long) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      onBatch(ivfPqIngestBatch(batch, batchId, centroidsDir, codebooksDir,
        codesDir, idCol, vecCol, dim, m, k, nprobe, compactEvery), batchId)
    }

  /** One [[ivfPqIngest]] micro-batch — ADC match, code append, match
    * report. Package-visible so the spec can drive a REPLAYED batch
    * directly. */
  private[graft] def ivfPqIngestBatch(
      batch: DataFrame, batchId: Long,
      centroidsDir: String, codebooksDir: String, codesDir: String,
      idCol: String, vecCol: String, dim: Int, m: Int, k: Int, nprobe: Int,
      compactEvery: Int = 0): DataFrame = {
    // ccell partitions keep ADC scans prunable to the probed cells
    val codes = BatchArtifact(codesDir, Seq("id", "sub"), Seq("ccell"))
    BatchArtifact.step(batch, batchId, compactEvery, codes) { b =>
      val spark = b.sparkSession
      val cents = spark.read.parquet(centroidsDir)
      val books = spark.read.parquet(codebooksDir)
      val matches = graft.ops.SimilarityOps.ivfPqFromIndex(
        b, cents, books,
        // partition discovery infers the hive columns (ccell, batch) as
        // INT; the inline index carries BIGINT ccell — cast explicitly so
        // the ADC join never rides on implicit casts (and survives
        // partition values past Int range)
        codes.readExcept(spark, batchId)
          .select(col("id").cast("long").as("id"),
            col("ccell").cast("long").as("ccell"),
            col("sub").cast("int").as("sub"),
            col("code").cast("long").as("code")),
        idCol, vecCol, dim, m, k, nprobe)
        .localCheckpoint()
      codes.write(graft.ops.SimilarityOps.ivfPqCodesFor(
        b, idCol, vecCol, cents, books, dim, m), batchId)
      matches
    }
  }

  /** PRODUCTION ingest loop for the persisted BM25 index —
    * [[nearDupIngest]]'s retrieval sibling: a `foreachBatch` writer that
    * APPENDS each micro-batch's postings
    * ([[graft.ops.RetrievalOps.bm25Postings]]) and doc lengths
    * ([[graft.ops.RetrievalOps.docLengths]]) as idempotent
    * [[graft.io.BatchArtifact]] partitions, so
    * [[graft.ops.RetrievalOps.bm25FromIndex]] over the two directories
    * answers queries against everything ingested so far — the
    * build-incrementally/query-many search story. There is no
    * accept/reject verdict (an index wants every document);
    * `onBatch(batchId)` signals downstream that the index grew.
    *
    * The batch body reads neither artifact. Scoring reads the UNION of
    * partitions, so df/avgdl always reflect the whole ingested corpus —
    * bit-identical to a from-scratch build over the same docs
    * (spec-pinned). */
  def bm25Ingest(
      docs: DataFrame, postingsDir: String, dlDir: String,
      textCol: String, idCol: String,
      compactEvery: Int = 0,
      onBatch: Long => Unit = _ => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      bm25IngestBatch(batch, batchId, postingsDir, dlDir, textCol, idCol,
        compactEvery)
      onBatch(batchId)
    }

  /** One [[bm25Ingest]] micro-batch — postings + doc-length appends.
    * Package-visible so the spec can drive a REPLAYED batch directly. */
  private[graft] def bm25IngestBatch(
      batch: DataFrame, batchId: Long, postingsDir: String, dlDir: String,
      textCol: String, idCol: String, compactEvery: Int = 0): Unit = {
    // postings fold sorted on term so row-group stats prune query-term scans
    val post = BatchArtifact(postingsDir, Seq("term"))
    val dl = BatchArtifact(dlDir, Seq("doc_id"))
    BatchArtifact.step(batch, batchId, compactEvery, post, dl) { b =>
      post.write(graft.ops.RetrievalOps.bm25Postings(b, textCol, idCol), batchId)
      dl.write(graft.ops.RetrievalOps.docLengths(b, textCol, idCol), batchId)
    }
  }

  /** Stream-stream INTERVAL join: pair each `right`-stream event with the
    * same-key `left`-stream events that happened at most `maxDelaySeconds`
    * BEFORE it (inclusive on both ends) — the attribution join (view →
    * click, impression → purchase) that needs BOTH sides live.
    *
    * The two watermarks plus the event-time range condition are what make
    * unbounded two-stream state safe: each side buffers only rows whose
    * event time can still find a partner (left rows age out
    * `maxDelaySeconds` after their watermark, right rows at theirs), so
    * state is bounded by rate × (delay + watermark) per key — never the
    * stream's history. Both sides shuffle on the key; the range predicate
    * is evaluated inside the joined state store, not as a post-filter.
    * Output columns: key, left_id, right_id, delay_sec (exact integer
    * seconds, right minus left). */
  def streamStreamIntervalJoin(
      left: DataFrame, right: DataFrame, keyCol: String,
      leftTsCol: String, rightTsCol: String, idCol: String,
      watermarkDelay: String, maxDelaySeconds: Long): DataFrame = {
    val l = left.withWatermark(leftTsCol, watermarkDelay)
      .select(col(keyCol).as("key"), col(idCol).as("left_id"),
        col(leftTsCol).as("__lts"))
    val r = right.withWatermark(rightTsCol, watermarkDelay)
      .select(col(keyCol).as("__rkey"), col(idCol).as("right_id"),
        col(rightTsCol).as("__rts"))
    l.join(r,
        col("key") === col("__rkey") &&
          col("__rts") >= col("__lts") &&
          col("__rts") <= col("__lts") + expr(s"INTERVAL $maxDelaySeconds SECONDS"))
      .select(col("key"), col("left_id"), col("right_id"),
        (unix_timestamp(col("__rts")) - unix_timestamp(col("__lts")))
          .as("delay_sec"))
  }

  /** LEFT OUTER stream-stream interval join — the attribution join's
    * "and which views never converted?" half: every left event is
    * emitted, matched rows as in [[streamStreamIntervalJoin]], UNMATCHED
    * rows with a null right_id/delay_sec once the watermark proves no
    * partner can still arrive (Spark holds an unmatched left row in
    * state until right-side event time passes its join window, then
    * emits the null-padded row — so "unconverted" rows are late by
    * exactly the watermark + interval, never wrong). Same bounded-state
    * contract as the inner form: both sides age out at rate ×
    * (delay + watermark) per key. */
  def streamStreamIntervalJoinLeftOuter(
      left: DataFrame, right: DataFrame, keyCol: String,
      leftTsCol: String, rightTsCol: String, idCol: String,
      watermarkDelay: String, maxDelaySeconds: Long): DataFrame = {
    val l = left.withWatermark(leftTsCol, watermarkDelay)
      .select(col(keyCol).as("key"), col(idCol).as("left_id"),
        col(leftTsCol).as("__lts"))
    val r = right.withWatermark(rightTsCol, watermarkDelay)
      .select(col(keyCol).as("__rkey"), col(idCol).as("right_id"),
        col(rightTsCol).as("__rts"))
    l.join(r,
        col("key") === col("__rkey") &&
          col("__rts") >= col("__lts") &&
          col("__rts") <= col("__lts") + expr(s"INTERVAL $maxDelaySeconds SECONDS"),
        "leftOuter")
      .select(col("key"), col("left_id"), col("right_id"),
        (unix_timestamp(col("__rts")) - unix_timestamp(col("__lts")))
          .as("delay_sec"))
  }

  /** Windowed COUNT-MIN sketch on a stream: per tumbling window, the same
    * depth × 16^hexChars cell grid as [[graft.ops.SketchOps.countMinSketch]]
    * (the cell expression is SHARED, so batch and stream place every term
    * identically). Each micro-batch partially aggregates to at most
    * depth·16^hexChars rows per window before the shuffle, and the
    * watermark bounds window state — a constant-size sketch per window
    * however large the firehose. Window sketches merge into coarser
    * granularities (or a global sketch) by cell-wise ADDITION. */
  def windowedCountMinSketch(
      docs: DataFrame, textCol: String, tsCol: String,
      windowDur: String, watermarkDelay: String,
      depth: Int, hexChars: Int): DataFrame =
    docs
      .filter(col(textCol).isNotNull)
      .withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol), graft.functions.Generators.ngramExplode(col(textCol), 1).as("term"))
      .select(col(tsCol), graft.ops.SketchOps.cells(col("term"), depth, hexChars).as("c"))
      .groupBy(window(col(tsCol), windowDur),
        col("c.row").as("row"), col("c.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"),
        col("row"), col("bucket"), col("cnt"))

  /** Windowed HYPERLOGLOG register file on a stream: per tumbling window,
    * the same md5 bucket/rank cells as [[graft.ops.SketchOps.hllRegisters]]
    * (shared expression — identical placement batch vs stream). max() is
    * idempotent, so replayed records never inflate a register; window
    * sketches merge into coarser granularities by cell-wise MAX. */
  def windowedHllRegisters(
      docs: DataFrame, textCol: String, tsCol: String,
      windowDur: String, watermarkDelay: String, bucketHex: Int): DataFrame =
    docs
      .filter(col(textCol).isNotNull)
      .withWatermark(tsCol, watermarkDelay)
      .select(col(tsCol), graft.functions.Generators.ngramExplode(col(textCol), 1).as("term"))
      .select(col(tsCol), graft.ops.SketchOps.hllCell(col("term"), bucketHex).as("c"))
      .groupBy(window(col(tsCol), windowDur), col("c.bucket").as("bucket"))
      .agg(max(col("c.rho")).cast("long").as("register"))
      .select(col("window.start").as("window_start"), col("bucket"), col("register"))

  /** Windowed POWER-OF-2 QUANTILE sketch on a stream: per tumbling
    * window, the same integer bit-length buckets as
    * [[graft.ops.SketchOps.log2Histogram]] (shared bucket expression —
    * identical placement batch vs stream), ≤64 cells per window however
    * large the firehose. Counts are associative, so window sketches merge
    * into coarser granularities — or the corpus sketch — by cell-wise
    * ADDITION (the CMS merge law), and
    * [[graft.ops.SketchOps.log2QuantileProbe]]'s rank test applies per
    * window for live latency/size percentiles. */
  def windowedLog2Histogram(
      events: DataFrame, metricCol: String, tsCol: String,
      windowDur: String, watermarkDelay: String): DataFrame =
    events
      .filter(col(metricCol).isNotNull && col(metricCol) >= 0)
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur),
        graft.ops.SketchOps.log2Bucket(col(metricCol)).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("bucket"), col("cnt"))

  // --- Stateful funnel progress ------------------------------------------

  /** Input event for the streaming funnel. */
  final case class FunnelEvent(userId: Long, ts: java.sql.Timestamp, eventType: String)

  /** Per-user funnel state: first-reach epoch-ms per stage (-1 unset). */
  final case class FunnelState(reachedMs: Seq[Long])

  /** Per-user funnel progress emitted every update: how many stages the
    * user has completed IN ORDER, and when the deepest was first reached. */
  final case class FunnelProgress(userId: Long, stagesReached: Int, deepestMs: Long)

  /** Streaming CONVERSION FUNNEL — the real-time counterpart of
    * [[graft.ops.SessionOps.conversionFunnel]]: per user, track the first
    * time each stage was reached strictly after the previous stages
    * (equal-ts inclusive), emitting updated progress as events arrive
    * (Update mode; the sink aggregates stage counts per micro-batch).
    *
    * Ordering contract: events are sorted by ts WITHIN each micro-batch,
    * so in-order streams agree exactly with the batch operator
    * (spec-pinned); a cross-batch late event can only deepen progress
    * with its own (later-arriving) timestamp — the same arrival-order
    * semantics as [[streamingExactDedup]]'s keep-first contract. State is
    * one Seq[Long] per user per the state-store partitioning; no
    * unbounded growth. */
  def funnelStream(
      events: Dataset[FunnelEvent], stages: Seq[String]): Dataset[FunnelProgress] = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    import events.sparkSession.implicits._
    val stageIdx = stages.zipWithIndex.toMap
    events
      .groupByKey(_.userId)
      .mapGroupsWithState[FunnelState, FunnelProgress](GroupStateTimeout.NoTimeout) {
        (userId: Long, evs: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          val reached = state.getOption
            .map(_.reachedMs.toArray)
            .getOrElse(Array.fill(stages.size)(-1L))
          evs.toSeq.sortBy(_.ts.getTime).foreach { e =>
            stageIdx.get(e.eventType).foreach { k =>
              val t = e.ts.getTime
              val prevOk = k == 0 || (reached(k - 1) >= 0 && t >= reached(k - 1))
              if (prevOk && reached(k) < 0) reached(k) = t
            }
          }
          state.update(FunnelState(reached.toSeq))
          val n = reached.takeWhile(_ >= 0).length
          FunnelProgress(userId, n, if (n > 0) reached(n - 1) else -1L)
      }
  }

  /** Input event for the streaming transition counter. */
  final case class TransitionEvent(
      userId: Long, ts: java.sql.Timestamp, eventId: Long, eventType: String)

  /** Per-user carry: the LAST event seen, so a transition spanning a
    * micro-batch boundary is not lost. */
  final case class LastEvent(tsMs: Long, eventId: Long, eventType: String)

  /** One observed (from → to) step of a user's event path. */
  final case class Transition(userId: Long, fromType: String, toType: String)

  /** Streaming EVENT-TRANSITION extraction — the live half of
    * [[graft.ops.SessionOps.eventTransitions]]: per user, emit one
    * (from, to) row per consecutive event pair in (ts, id) order,
    * carrying the last event across micro-batches in per-user state so a
    * boundary-spanning transition is never dropped (spec-pinned: any
    * batch split of an in-order stream emits exactly the batch
    * operator's pairs). The sink aggregates counts/shares — counting is
    * stateless downstream of this extraction.
    *
    * Ordering contract: events sort by (ts, id) WITHIN each micro-batch
    * (the [[funnelStream]] convention); an out-of-order arrival chains in
    * arrival order — the keep-arrival-order semantics every screen in
    * this file documents. State is ONE LastEvent per user (bounded). */
  def transitionStream(events: Dataset[TransitionEvent]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[LastEvent, Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, evs: Iterator[TransitionEvent], state: GroupState[LastEvent]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.eventId))
          val out = scala.collection.mutable.Buffer.empty[Transition]
          var prev = state.getOption
          sorted.foreach { e =>
            prev.foreach(p => out += Transition(userId, p.eventType, e.eventType))
            prev = Some(LastEvent(e.ts.getTime, e.eventId, e.eventType))
          }
          prev.foreach(state.update)
          out.iterator
      }
  }

  // --- Stateful sessionization -------------------------------------------

  /** Input event for sessionization. Carries the event-time column itself:
    * the watermark is attached to a specific timestamp ATTRIBUTE, so
    * projecting it away before the stateful operator would lose it (Spark
    * then rejects EventTimeTimeout). */
  final case class SessionEvent(userId: Long, ts: java.sql.Timestamp, value: Double) {
    def tsMs: Long = ts.getTime
  }

  /** Accumulating per-user state. */
  final case class SessionState(startMs: Long, lastMs: Long, nEvents: Int, totalValue: Double)

  /** A closed session, emitted when the gap timeout fires. */
  final case class Session(userId: Long, startMs: Long, endMs: Long, nEvents: Int, totalValue: Double)

  /** Gap-based sessionization with `flatMapGroupsWithState`: events for a
    * user extend the open session; when the event-time watermark passes
    * last-event + gap, the session closes and is emitted (Append mode).
    *
    * Input must already carry a watermark (see [[sessionizeStream]]). */
  def sessionize(events: Dataset[SessionEvent], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, evs: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, s.startMs, s.lastMs, s.nEvents, s.totalValue))
          } else {
            val sorted = evs.toSeq.sortBy(_.tsMs)
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.tsMs - s.lastMs <= gapMs =>
                  cur = Some(SessionState(s.startMs, math.max(s.lastMs, e.tsMs),
                    s.nEvents + 1, s.totalValue + e.value))
                case Some(s) =>
                  closed ::= Session(userId, s.startMs, s.lastMs, s.nEvents, s.totalValue)
                  cur = Some(SessionState(e.tsMs, e.tsMs, 1, e.value))
                case None =>
                  cur = Some(SessionState(e.tsMs, e.tsMs, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastMs + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Stream entry: raw (user_id, ts, value) rows -> watermark -> sessionize. */
  def sessionizeStream(events: DataFrame, tsCol: String, gapMs: Long,
      watermarkDelay: String): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .select(
        col("user_id").cast("long").as("userId"),
        col(tsCol).cast("timestamp").as("ts"),
        col("value").cast("double").as("value"))
      .withWatermark("ts", watermarkDelay)
      .as[SessionEvent]
    sessionize(typed, gapMs)
  }
}
