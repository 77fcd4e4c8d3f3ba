package graft

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.io.Tables
import graft.model.Defaults
import graft.pipeline.{AnalysisReport, Pipeline}
import graft.text.SimpleAnalyzer
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{CachedData, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions.{col, lit, raise_error, udf, when}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end reference-equivalent run (SURVEY §3.3) off one cached stage. */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.001")

  private def runReport(): AnalysisReport =
    Pipeline.run(docs, Defaults.config, SimpleAnalyzer(Defaults.config.stopwords))

  private def tmpDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** The bytes of each file in `dir` whose name ends in `ext`, by name. */
  private def files(dir: File, ext: String): Map[String, Seq[Byte]] =
    dir.listFiles().filter(_.getName.endsWith(ext))
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap

  /** Each CSV report dir under `dir` -> its one part file's bytes (the
    * part file's name differs from write to write). */
  private def csvReports(dir: String): Map[String, Seq[Byte]] =
    new File(dir).listFiles().filter(_.isDirectory)
      .map(d => d.getName -> files(d, ".csv").values.toSeq.flatten).toMap

  private def sinkThreadsAlive: Seq[String] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith("graft-report-")).map(_.getName)

  test("full pipeline: all reports non-empty, one shared cached stage") {
    val report = runReport()
    try {
      assert(report.sharedStage.storageLevel != StorageLevel.NONE, "clean+tag stage must be cached")
      assert(report.industryCounts.storageLevel != StorageLevel.NONE)
      assert(report.wordFrequency.storageLevel != StorageLevel.NONE)
      val counts = report.industryCounts.collect()
      assert(counts.length == 5)
      // consistency: per-industry counts sum to the exploded row count
      assert(counts.map(_.getLong(1)).sum == report.sharedStage
        .selectExpr("explode(industries)").count())
      assert(report.topPosts.count() > 0)
      assert(report.topChannelsByViews.count() > 0)
      assert(report.mostActiveChannels.count() > 0)
      assert(report.keywordBreakdown.count() == 15) // 5 industries x 3 keywords
      assert(report.wordFrequency.count() > 0)
      assert(report.wordFrequencyByIndustry.count() > 0)
      assert(report.channelAudit.count() > 0)
      assert(report.timeSeries.isEmpty) // documents has no timestamp column
      val out = tmpDir("graft_reports")
      Pipeline.writeReports(report, out)
      assert(new File(s"$out/industry_counts").exists())
    } finally Pipeline.unpersist(report)
  }

  test("a second run/writeReports/writeCharts/unpersist cycle compiles no class") {
    // the session's codegen cache holds every class the first cycle
    // generated; at Spark's default size each cycle recompiled about 100
    def cycle(): Unit = {
      val report = runReport()
      try {
        Pipeline.writeReports(report, tmpDir("graft_reports_codegen"))
        Pipeline.writeCharts(report, tmpDir("graft_charts_codegen"))
      } finally Pipeline.unpersist(report)
    }
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    cycle()
    val before = compiles
    cycle()
    assert(compiles - before == 0, s"${compiles - before} classes recompiled by the second cycle")
  }

  test("failing sinks: writeReports waits for every sink, then throws the first failure " +
    "with the others suppressed") {
    val report = runReport()
    try {
      // a relation that fails only once its write job runs
      def failing(msg: String) = spark.range(3).select(
        when(col("id") === 2, raise_error(lit(msg))).otherwise(col("id").cast("string")).as("word"))
      val broken = report.copy(
        wordFrequency = failing("word_frequency sink failed"),
        channelAudit = failing("channel_audit sink failed"))
      val out = tmpDir("graft_reports_fail")
      val e = intercept[Exception](Pipeline.writeReports(broken, out))
      def messages(t: Throwable): String =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(messages(e).contains("word_frequency sink failed"))
      assert(e.getSuppressed.exists(t => messages(t).contains("channel_audit sink failed")))
      assert(sinkThreadsAlive.isEmpty)
      for (name <- Seq("industry_counts", "keyword_breakdown"))
        assert(new File(s"$out/$name/_SUCCESS").isFile, s"$name was not completed")
      assert(!new File(s"$out/word_frequency/_SUCCESS").exists())
    } finally Pipeline.unpersist(report)
  }

  test("every job of the sink calls carries the caller's job group and its sink's tag; " +
    "the corpus is read once; no sink thread outlives the call") {
    val sc = spark.sparkContext
    val group = "pipeline-spec-contract"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Set[String])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.add(e.properties.getProperty("spark.jobGroup.id") ->
          Option(e.properties.getProperty("spark.job.tags")).toSet
            .flatMap((s: String) => s.split(",")).filter(_.nonEmpty))
      }
    }
    // every corpus row that any job reads passes this counter once
    val corpusReads = sc.longAccumulator("corpus rows read")
    val countRead = udf { (_: Long) => corpusReads.add(1); true }.asNondeterministic()
    val report = Pipeline.run(docs.where(countRead(col("doc_id"))), Defaults.config,
      SimpleAnalyzer(Defaults.config.stopwords))
    GraftSqlBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "pipeline sink contract", interruptOnCancel = false)
    try {
      Pipeline.writeReports(report, tmpDir("graft_reports_group"))
      Pipeline.writeCharts(report, tmpDir("graft_charts_group"))
      assert(sinkThreadsAlive.isEmpty)
    } finally {
      sc.clearJobGroup()
      GraftSqlBridge.drainListenerBus(sc)
      sc.removeSparkListener(listener)
      Pipeline.unpersist(report)
    }
    val seen = jobs.asScala.toSeq
    assert(seen.nonEmpty)
    assert(seen.forall(_._1 == group), seen.filter(_._1 != group))
    assert(seen.forall(_._2.count(_.startsWith(Pipeline.ReportTag)) == 1), seen)
    val csvs = Seq("industry_counts", "keyword_breakdown", "word_frequency", "channel_audit")
    val charts = Seq("1_industry_counts", "2_top_channels", "3_word_frequency", "4_wordcloud",
      "4_word_frequency_by_industry") // documents has no timestamp: no trend chart
    assert(seen.flatMap(_._2).filter(_.startsWith(Pipeline.ReportTag)).toSet ==
      (csvs ++ charts).map(Pipeline.ReportTag + _).toSet)
    // the shared clean+tag stage is filled once, however the sinks race
    assert(corpusReads.value == docs.count())
  }

  test("three run/write/unpersist cycles leave no RDD persisted and nothing cached") {
    val sc = spark.sparkContext
    val rddsBefore = sc.getPersistentRDDs.keySet
    val cachedBefore = CachedData.entries(spark)
    for (_ <- 1 to 3) {
      val report = runReport()
      try {
        Pipeline.writeReports(report, tmpDir("graft_reports_cycle"))
        Pipeline.writeCharts(report, tmpDir("graft_charts_cycle"))
      } finally Pipeline.unpersist(report)
      // a frame left cached by an earlier run with the same plan would hide
      // from the counts below, but not from its own storage level
      val frames = report.productIterator.flatMap {
        case df: DataFrame => Seq(df)
        case Some(df: DataFrame) => Seq(df)
        case _ => Nil
      }
      assert(frames.forall(_.storageLevel == StorageLevel.NONE))
    }
    assert(sc.getPersistentRDDs.keySet == rddsBefore)
    assert(CachedData.entries(spark) == cachedBefore)
  }

  test("concurrent sinks are deterministic: repeated calls write identical CSVs and SVGs") {
    val report = runReport()
    try {
      val (r1, r2, c1, c2) = (tmpDir("graft_r1"), tmpDir("graft_r2"), tmpDir("graft_c1"), tmpDir("graft_c2"))
      Pipeline.writeReports(report, r1)
      Pipeline.writeReports(report, r2)
      Pipeline.writeCharts(report, c1)
      Pipeline.writeCharts(report, c2)
      val (csv1, csv2) = (csvReports(r1), csvReports(r2))
      assert(csv1.keySet == Set("industry_counts", "keyword_breakdown", "word_frequency", "channel_audit"))
      assert(csv1 == csv2)
      val svgs = Seq(c1, c2).map(d => files(new File(d), ".svg"))
      assert(svgs.head.size >= 5)
      assert(svgs.head == svgs(1))
    } finally Pipeline.unpersist(report)
  }
}
