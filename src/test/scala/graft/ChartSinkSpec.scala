package graft

import graft.io.ChartSink
import graft.io.Tables
import graft.model.Defaults
import graft.pipeline.Pipeline
import graft.text.SimpleAnalyzer
import org.scalatest.funsuite.AnyFunSuite

/** S5 chart sink: SVG structure + pipeline integration. */
class ChartSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("bar chart: one bar per row, escaped labels, thousands-separated values") {
    val svg = ChartSink.barChartSvg(
      Seq(("alpha & <co>", 12345.0), ("بازار", 700.0), ("tiny", 3.0)), "T&C")
    assert("<rect ".r.findAllIn(svg).length == 3)
    assert(svg.contains("alpha &amp; &lt;co&gt;"))
    assert(svg.contains("بازار")) // unicode labels render natively in SVG
    assert(svg.contains(">12,345<"))
    assert(svg.contains("T&amp;C"))
    // widths proportional to values: the max bar is widest
    val widths = "<rect [^/]*width=\"(\\d+)\"".r.findAllMatchIn(svg).map(_.group(1).toInt).toSeq
    assert(widths.max == widths.head)
  }

  test("line chart: polyline with one point per row") {
    val rows = (1 to 9).map(i => (s"d$i", i.toDouble))
    val svg = ChartSink.lineChartSvg(rows, "trend")
    val pts = "points=\"([^\"]+)\"".r.findFirstMatchIn(svg).get.group(1)
    assert(pts.split(" ").length == 9)
    assert(svg.contains("trend"))
  }

  test("wordcloud layout: deterministic, collision-free, size ordered by frequency") {
    val words = (1 to 40).map(i => (s"word$i", (41 - i) * 10.0))
    val a = ChartSink.wordCloudLayout(words, 960, 540)
    val b = ChartSink.wordCloudLayout(words, 960, 540)
    assert(a == b, "layout must be deterministic")
    assert(a.nonEmpty && a.size <= 40)
    // no two estimated boxes overlap (the layout's own collision metric)
    for (Seq(p, q) <- a.combinations(2)) {
      val overlap = math.abs(p.x - q.x) * 2 < p.boxW + q.boxW &&
        math.abs(p.y - q.y) * 2 < p.boxH + q.boxH
      assert(!overlap, s"${p.word} overlaps ${q.word}")
    }
    // font size is monotone in frequency
    val byFreq = a.sortBy(-_.freq).map(_.fontSize)
    byFreq.zip(byFreq.tail).foreach { case (hi, lo) => assert(hi >= lo) }
    // the most frequent word sits closest to the canvas center
    val center = a.minBy(p => math.hypot(p.x - 480, p.y - (56 + 484 / 2.0)))
    assert(center.word == "word1")
  }

  test("wordcloud svg: one text node per placed word, unicode intact, capped at maxWords") {
    val words = Seq(("کلمه", 50.0), ("alpha", 30.0), ("b<b>", 20.0), ("c", 10.0))
    val svg = ChartSink.wordCloudSvg(words, "cloud", maxWords = 3)
    // title + at most maxWords word nodes
    val texts = "<text ".r.findAllIn(svg).length
    assert(texts >= 2 && texts <= 4, s"unexpected text node count $texts")
    assert(svg.contains("کلمه"))
    assert(svg.contains("b&lt;b&gt;") || !svg.contains("<b>"))
    assert(!svg.contains(">c<"), "maxWords cap must drop the smallest word")
  }

  test("pipeline chart sinks write the reference's visualization set as SVG") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val report = Pipeline.run(docs, Defaults.config, SimpleAnalyzer(Defaults.config.stopwords))
    try {
      val out = java.nio.file.Files.createTempDirectory("graft_charts").toString
      Pipeline.writeCharts(report, out)
      Seq("1_industry_counts.svg", "2_top_channels.svg", "3_word_frequency.svg").foreach { f =>
        val p = java.nio.file.Paths.get(s"$out/$f")
        assert(java.nio.file.Files.exists(p), s"missing $f")
        val svg = java.nio.file.Files.readString(p)
        assert(svg.startsWith("<svg ") && svg.contains("<rect "), s"$f is not a bar chart")
      }
      val cloud = java.nio.file.Paths.get(s"$out/4_wordcloud.svg")
      assert(java.nio.file.Files.exists(cloud), "missing wordcloud")
      assert(java.nio.file.Files.readString(cloud).contains("<text "))
      // documents has no ts column -> no trend chart
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$out/5_trend.svg")))
      // one per-industry word-frequency chart per taxonomy label
      Defaults.config.taxonomy.industryNames.foreach { ind =>
        assert(java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$out/4_word_frequency_$ind.svg")), s"missing chart for $ind")
      }
      // ... whose bars are exactly that industry's report rows, in rank order
      val byIndustry = report.wordFrequencyByIndustry.collect()
        .groupBy(_.getAs[String]("category"))
      def unesc(s: String) = s.replace("&lt;", "<").replace("&gt;", ">")
        .replace("&quot;", "\"").replace("&amp;", "&")
      Defaults.config.taxonomy.industryNames.foreach { ind =>
        val svg = java.nio.file.Files.readString(
          java.nio.file.Paths.get(s"$out/4_word_frequency_$ind.svg"))
        val labels = """text-anchor="end" font-size="14">([^<]*)<""".r
          .findAllMatchIn(svg).map(m => unesc(m.group(1))).toSeq
        val values = """fill="#333">([^<]*)<""".r.findAllMatchIn(svg).map(_.group(1)).toSeq
        val want = byIndustry.getOrElse(ind, Array.empty).toSeq
        assert(want.nonEmpty, s"no report rows for $ind")
        assert(labels == want.map(_.getAs[String]("word")), s"$ind chart labels")
        assert(values == want.map(r => ChartSink.fmt(r.getAs[Long]("n").toDouble)),
          s"$ind chart values")
        assert(svg.contains(s">Word frequency — $ind<"))
      }
    } finally Pipeline.unpersist(report)
  }
}
