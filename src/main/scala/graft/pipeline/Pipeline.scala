package graft.pipeline

import graft.io.Sinks
import graft.model.AnalysisConfig
import graft.ops.{BreakdownOps, KeywordOps, ResampleOps, StatsOps}
import graft.text.{Analyzer, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's full analysis run (`__main__` steps 1–6,
  * `/root/reference/main.py:1099-1123`) as ONE composed engine pass.
  *
  * The reference re-executes the identical clean-filter chain in three
  * separate methods (`main.py:347-364`, `410-421`, `520-538` — SURVEY §4
  * "missing optimization"). Here the chain is computed once, `.cache()`d,
  * and every report consumes the same stage; on a cluster that turns three
  * full scans of the corpus into one scan plus two in-memory reads.
  *
  * The sinks of one [[Pipeline.writeReports]] or [[Pipeline.writeCharts]]
  * call run concurrently, one thread per sink, and share the report's
  * caches: the clean+tag stage, and the two relations more than one sink
  * reads (`industryCounts`, `wordFrequency`), so each report relation
  * executes once per pass. [[Pipeline.unpersist]] releases all of them.
  */
final case class AnalysisReport(
    /** cached: read by the CSV and the bar chart */
    industryCounts: DataFrame,
    topPosts: DataFrame,
    topChannelsByViews: DataFrame,
    mostActiveChannels: DataFrame,
    keywordBreakdown: DataFrame,
    /** cached: read by the CSV, the bar chart and the word cloud */
    wordFrequency: DataFrame,
    wordFrequencyByIndustry: DataFrame,
    channelAudit: DataFrame,
    timeSeries: Option[DataFrame],
    /** the one cached clean+tag stage every frame above reads */
    sharedStage: DataFrame)

object Pipeline {

  /** Job tag prefix of a sink's jobs; the tag is `graft-report:<sink>`. */
  val ReportTag = "graft-report:"

  /** Run every report off one cached clean+tag stage.
    * Caller owns the returned frames; call [[unpersist]] when done. */
  def run(
      posts: DataFrame,
      cfg: AnalysisConfig,
      analyzer: Analyzer,
      topPostsK: Int = 20,
      topChannelsK: Int = 15,
      auditChannels: Int = 5,
      auditPosts: Int = 3,
      wordTopN: Int = 50): AnalysisReport = {
    val spark = posts.sparkSession
    // one pass: clean (P3/P5/P6) + tag array (P4), shared by ALL reports
    val cleanTagged = KeywordOps
      .tagArray(KeywordOps.clean(posts, cfg), cfg.taxonomy, cfg.posts.textCol)
      .cache()
    val exploded = cleanTagged
      .withColumn("industry", explode(col("industries"))).drop("industries")
    val clean = cleanTagged.drop("industries")

    AnalysisReport(
      industryCounts = StatsOps.industryCounts(exploded).cache(),
      topPosts = StatsOps.topPostsPerIndustry(exploded, cfg, topPostsK),
      topChannelsByViews = StatsOps.topChannelsByViews(exploded, cfg, topChannelsK),
      mostActiveChannels = StatsOps.mostActiveChannels(clean, cfg, topChannelsK),
      keywordBreakdown = BreakdownOps.keywordBreakdown(spark, clean, cfg),
      wordFrequency =
        TextOps.wordFrequency(clean, cfg.posts.textCol, analyzer, wordTopN).cache(),
      wordFrequencyByIndustry =
        TextOps.wordFrequencyByCategory(exploded, "industry", cfg.posts.textCol, analyzer, wordTopN),
      channelAudit = StatsOps.channelAudit(exploded, cfg, auditChannels, auditPosts),
      timeSeries = cfg.posts.tsCol.map(ts =>
        ResampleOps.resampleCount(clean, ts, ResampleOps.Weekly)),
      sharedStage = cleanTagged)
  }

  /** Release every cached frame of a report: the shared report relations
    * first, the clean+tag stage last (a non-cascading unpersist of a parent
    * re-plans every cached frame still built on it). */
  def unpersist(report: AnalysisReport): Unit = {
    report.industryCounts.unpersist()
    report.wordFrequency.unpersist()
    report.sharedStage.unpersist()
    ()
  }

  /** S4 report sinks: the reference's CSV exports
    * (`main.py:922,950,987` — audit, frequency report, keyword debug), the
    * four written concurrently. */
  def writeReports(report: AnalysisReport, outDir: String): Unit =
    runSinks(report, Seq(
      "industry_counts" -> report.industryCounts,
      "keyword_breakdown" -> report.keywordBreakdown,
      "word_frequency" -> report.wordFrequency,
      "channel_audit" -> report.channelAudit
    ).map { case (name, df) => name -> (() => Sinks.writeReportCsv(df, s"$outDir/$name")) })

  /** S5 chart sinks: the reference's visualization set
    * (`main.py:570-787` — industry/channel/word-frequency bar charts, the
    * resampled trend plot) as dependency-free SVG
    * ([[graft.io.ChartSink]]), the charts rendered concurrently. */
  def writeCharts(report: AnalysisReport, outDir: String): Unit = {
    import graft.io.ChartSink
    runSinks(report, Seq(
      "1_industry_counts" -> (() => ChartSink.writeBarChart(report.industryCounts, "industry",
        "n_posts", "Posts per industry", s"$outDir/1_industry_counts.svg")),
      "2_top_channels" -> (() => ChartSink.writeBarChart(report.topChannelsByViews, "channel",
        "total_views", "Top channels by views", s"$outDir/2_top_channels.svg")),
      "3_word_frequency" -> (() => ChartSink.writeBarChart(report.wordFrequency, "word", "n",
        "Word frequency", s"$outDir/3_word_frequency.svg")),
      // the reference pairs every frequency bar chart with a wordcloud
      // (`main.py:766-787`) — same report relation, layout-only sink
      "4_wordcloud" -> (() => ChartSink.writeWordCloud(report.wordFrequency, "word", "n",
        "Word cloud", s"$outDir/4_wordcloud.svg")),
      // the reference's per-industry chart loop (`main.py:516-543,787`): one
      // word-frequency chart per industry off the SAME single-pass report —
      // one bounded collect pulls the industries × top-K report rows
      "4_word_frequency_by_industry" -> (() => ChartSink.writeBarChartPerGroup(
        report.wordFrequencyByIndustry, "category", "word", "n", ind => s"Word frequency — $ind",
        ind => s"$outDir/4_word_frequency_${ind.replaceAll("[^A-Za-z0-9_-]", "_")}.svg"))
    ) ++ report.timeSeries.map(ts => "5_trend" -> (() =>
      ChartSink.writeLineChart(ts, "bucket", "n", "Posts per week", s"$outDir/5_trend.svg"))))
  }

  /** Runs each named sink on a thread of its own and returns once every
    * sink has finished. A thread started here inherits the caller's
    * SparkContext local properties (job group, job tags, scheduler pool)
    * and active session, and tags its jobs `graft-report:<name>`. If any
    * sink failed, the first failure in sink order is thrown with the
    * others suppressed onto it. */
  private def runSinks(report: AnalysisReport, sinks: Seq[(String, () => Unit)]): Unit = {
    val sc = report.sharedStage.sparkSession.sparkContext
    val failures = new Array[Throwable](sinks.size)
    val threads = sinks.zipWithIndex.map { case ((name, sink), i) =>
      new Thread(() =>
        try {
          sc.addJobTag(ReportTag + name)
          sink()
        } catch { case t: Throwable => failures(i) = t },
        s"graft-report-$name")
    }
    threads.foreach(_.start())
    // an interrupt must not let the call return while a sink still runs
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive) try t.join() catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    failures.filter(_ != null) match {
      case Array() => ()
      case Array(first, rest @ _*) =>
        rest.foreach(first.addSuppressed)
        throw first
    }
  }
}
