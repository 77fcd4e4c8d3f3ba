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
  */
final case class AnalysisReport(
    industryCounts: DataFrame,
    topPosts: DataFrame,
    topChannelsByViews: DataFrame,
    mostActiveChannels: DataFrame,
    keywordBreakdown: DataFrame,
    wordFrequency: DataFrame,
    wordFrequencyByIndustry: DataFrame,
    channelAudit: DataFrame,
    timeSeries: Option[DataFrame],
    /** the one cached clean+tag stage every frame above reads */
    sharedStage: DataFrame)

object Pipeline {

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
      industryCounts = StatsOps.industryCounts(exploded),
      topPosts = StatsOps.topPostsPerIndustry(exploded, cfg, topPostsK),
      topChannelsByViews = StatsOps.topChannelsByViews(exploded, cfg, topChannelsK),
      mostActiveChannels = StatsOps.mostActiveChannels(clean, cfg, topChannelsK),
      keywordBreakdown = BreakdownOps.keywordBreakdown(spark, clean, cfg),
      wordFrequency = TextOps.wordFrequency(clean, cfg.posts.textCol, analyzer, wordTopN),
      wordFrequencyByIndustry =
        TextOps.wordFrequencyByCategory(exploded, "industry", cfg.posts.textCol, analyzer, wordTopN),
      channelAudit = StatsOps.channelAudit(exploded, cfg, auditChannels, auditPosts),
      timeSeries = cfg.posts.tsCol.map(ts =>
        ResampleOps.resampleCount(clean, ts, ResampleOps.Weekly)),
      sharedStage = cleanTagged)
  }

  /** Release the shared cached stage backing a report's frames. */
  def unpersist(report: AnalysisReport): Unit = {
    report.sharedStage.unpersist()
    ()
  }

  /** S4 report sinks: the reference's CSV exports
    * (`main.py:922,950,987` — audit, frequency report, keyword debug). */
  def writeReports(report: AnalysisReport, outDir: String): Unit = {
    Sinks.writeReportCsv(report.industryCounts, s"$outDir/industry_counts")
    Sinks.writeReportCsv(report.keywordBreakdown, s"$outDir/keyword_breakdown")
    Sinks.writeReportCsv(report.wordFrequency, s"$outDir/word_frequency")
    Sinks.writeReportCsv(report.channelAudit, s"$outDir/channel_audit")
  }

  /** S5 chart sinks: the reference's visualization set
    * (`main.py:570-787` — industry/channel/word-frequency bar charts, the
    * resampled trend plot) as dependency-free SVG
    * ([[graft.io.ChartSink]]). */
  def writeCharts(report: AnalysisReport, outDir: String): Unit = {
    import graft.io.ChartSink
    ChartSink.writeBarChart(report.industryCounts, "industry", "n_posts",
      "Posts per industry", s"$outDir/1_industry_counts.svg")
    ChartSink.writeBarChart(report.topChannelsByViews, "channel", "total_views",
      "Top channels by views", s"$outDir/2_top_channels.svg")
    ChartSink.writeBarChart(report.wordFrequency, "word", "n",
      "Word frequency", s"$outDir/3_word_frequency.svg")
    // the reference pairs every frequency bar chart with a wordcloud
    // (`main.py:766-787`) — same report relation, layout-only sink
    ChartSink.writeWordCloud(report.wordFrequency, "word", "n",
      "Word cloud", s"$outDir/4_wordcloud.svg")
    report.timeSeries.foreach(ts =>
      ChartSink.writeLineChart(ts, "bucket", "n",
        "Posts per week", s"$outDir/5_trend.svg"))
    // the reference's per-industry chart loop (`main.py:516-543,787`): one
    // word-frequency chart per industry off the SAME single-pass report —
    // one bounded collect pulls the industries × top-K report rows
    ChartSink.writeBarChartPerGroup(report.wordFrequencyByIndustry,
      "category", "word", "n", ind => s"Word frequency — $ind",
      ind => s"$outDir/4_word_frequency_${ind.replaceAll("[^A-Za-z0-9_-]", "_")}.svg")
  }
}
