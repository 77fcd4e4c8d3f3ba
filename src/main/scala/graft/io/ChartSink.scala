package graft.io

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** S5 chart sink — the reference's matplotlib PNG reports
  * (`/root/reference/main.py:570-787`: horizontal bar charts for industry
  * counts / top channels / word frequency, with value labels and
  * thousands-separator axes; time-series plots) re-expressed as
  * dependency-free SVG: vector output, no imaging libraries, and Unicode
  * text (incl. RTL Persian) renders natively — no font-file juggling or
  * glyph reshaping (`main.py:580-593`).
  *
  * Scale contract: a chart input is by definition a top-K REPORT (tens of
  * rows), never a fact table — the sink takes the first `maxRows` of the
  * already-ordered report and the collect is bounded by that constant. All
  * heavy aggregation happened upstream in the distributed plan.
  */
object ChartSink {

  private def esc(s: String): String = s
    .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    .replace("\"", "&quot;")

  /** Thousands separator, reference `thousands_fmt` (`main.py:596-597`). */
  def fmt(v: Double): String = {
    val asLong = v.toLong
    if (v == asLong) "%,d".formatLocal(java.util.Locale.US, asLong)
    else "%,.2f".formatLocal(java.util.Locale.US, v)
  }

  /** Horizontal bar chart (the reference's dominant chart form). */
  def barChartSvg(
      rows: Seq[(String, Double)], title: String,
      width: Int = 900, barHeight: Int = 28): String = {
    val n = rows.size
    val top = 60
    val labelW = 220
    val gap = 8
    val height = top + n * (barHeight + gap) + 30
    val maxV = math.max(rows.map(_._2).foldLeft(0.0)(math.max), 1e-9)
    val plotW = width - labelW - 120
    val bars = rows.zipWithIndex.map { case ((label, v), i) =>
      val y = top + i * (barHeight + gap)
      val w = math.max((v / maxV * plotW).round.toInt, 0)
      s"""  <text x="${labelW - 8}" y="${y + barHeight * 0.7}" text-anchor="end" font-size="14">${esc(label)}</text>
  <rect x="$labelW" y="$y" width="$w" height="$barHeight" fill="#4878a8"/>
  <text x="${labelW + w + 6}" y="${y + barHeight * 0.7}" font-size="13" fill="#333">${fmt(v)}</text>"""
    }.mkString("\n")
    s"""<svg xmlns="http://www.w3.org/2000/svg" width="$width" height="$height" font-family="sans-serif">
  <text x="${width / 2}" y="32" text-anchor="middle" font-size="22" font-weight="bold">${esc(title)}</text>
$bars
</svg>
"""
  }

  /** Time-series line chart (the reference's resampled trend plots). */
  def lineChartSvg(
      rows: Seq[(String, Double)], title: String,
      width: Int = 900, height: Int = 360): String = {
    val top = 60
    val left = 80
    val plotW = width - left - 40
    val plotH = height - top - 60
    val n = rows.size
    val maxV = math.max(rows.map(_._2).foldLeft(0.0)(math.max), 1e-9)
    def x(i: Int) = left + (if (n <= 1) 0.0 else i.toDouble / (n - 1) * plotW)
    def y(v: Double) = top + plotH - v / maxV * plotH
    val pts = rows.zipWithIndex
      .map { case ((_, v), i) => f"${x(i)}%.1f,${y(v)}%.1f" }.mkString(" ")
    val xLabels = rows.zipWithIndex
      .filter { case (_, i) => n <= 12 || i % math.max(n / 12, 1) == 0 }
      .map { case ((label, _), i) =>
        s"""  <text x="${x(i)}" y="${height - 18}" text-anchor="middle" font-size="11">${esc(label)}</text>"""
      }.mkString("\n")
    s"""<svg xmlns="http://www.w3.org/2000/svg" width="$width" height="$height" font-family="sans-serif">
  <text x="${width / 2}" y="32" text-anchor="middle" font-size="22" font-weight="bold">${esc(title)}</text>
  <line x1="$left" y1="${top + plotH}" x2="${left + plotW}" y2="${top + plotH}" stroke="#333"/>
  <text x="${left - 10}" y="${top + 5}" text-anchor="end" font-size="12">${fmt(maxV)}</text>
  <text x="${left - 10}" y="${top + plotH}" text-anchor="end" font-size="12">0</text>
  <polyline points="$pts" fill="none" stroke="#4878a8" stroke-width="2"/>
$xLabels
</svg>
"""
  }

  /** A word placed by the cloud layout: center coordinates, the estimated
    * bounding box used for collision, and the chosen font size. */
  final case class PlacedWord(word: String, freq: Double,
      x: Double, y: Double, boxW: Double, boxH: Double, fontSize: Int)

  /** Deterministic wordcloud layout — the reference's fourth chart family
    * (`/root/reference/main.py:766-787`: WordCloud 1920×1080, max_words=100,
    * viridis colormap over the word-frequency report). The PNG renderer is
    * presentation-scope (SURVEY §2.1 S5); what the engine reproduces is the
    * layout semantics: font size grows with sqrt(frequency) between a min
    * and max, words placed largest-first on an Archimedean spiral from the
    * canvas center, first non-colliding, in-bounds spot wins. No randomness
    * anywhere, so the same report renders the same cloud on every run and
    * every executor — a seeded-RNG layout would break golden-file tests.
    *
    * Collision uses an estimated glyph box (0.62 em advance per code point)
    * — the same estimate the renderer and the spec share, so "no overlaps"
    * is checkable without font metrics. Words that find no free spot within
    * the step budget are dropped, mirroring WordCloud's own best-effort
    * packing. Input is a top-K report (bounded, tens of rows). */
  def wordCloudLayout(
      words: Seq[(String, Double)], width: Int, height: Int,
      maxWords: Int = 100, minFont: Int = 12, maxFont: Int = 64,
      topMargin: Int = 56): Seq[PlacedWord] = {
    val take = words.filter(_._2 > 0).sortBy { case (w, v) => (-v, w) }.take(maxWords)
    if (take.isEmpty) return Nil
    val sMin = math.sqrt(take.map(_._2).min)
    val sMax = math.sqrt(take.map(_._2).max)
    def fontOf(v: Double): Int =
      if (sMax == sMin) maxFont
      else (minFont + (math.sqrt(v) - sMin) / (sMax - sMin) * (maxFont - minFont)).round.toInt
    val cx = width / 2.0
    val cy = topMargin + (height - topMargin) / 2.0
    val pad = 3.0
    val placed = scala.collection.mutable.ArrayBuffer.empty[PlacedWord]
    def collides(x: Double, y: Double, w: Double, h: Double): Boolean =
      placed.exists(p =>
        math.abs(x - p.x) * 2 < w + p.boxW + pad &&
        math.abs(y - p.y) * 2 < h + p.boxH + pad)
    take.foreach { case (word, v) =>
      val fs = fontOf(v)
      val w = 0.62 * fs * word.codePointCount(0, word.length)
      val h = fs * 1.1
      var theta = 0.0
      var done = false
      var steps = 0
      while (!done && steps < 6000) {
        val r = 2.0 * theta
        val x = cx + r * math.cos(theta)
        val y = cy + r * math.sin(theta)
        val inside = x - w / 2 >= 2 && x + w / 2 <= width - 2 &&
          y - h / 2 >= topMargin && y + h / 2 <= height - 2
        if (inside && !collides(x, y, w, h)) {
          placed += PlacedWord(word, v, x, y, w, h, fs)
          done = true
        }
        theta += 0.31
        steps += 1
      }
    }
    placed.toSeq
  }

  /** Viridis-like fixed palette (reference colormap, `main.py:775`),
    * cycled deterministically by placement order. */
  private val cloudPalette = Vector(
    "#440154", "#46327e", "#365c8d", "#277f8e",
    "#1fa187", "#4ac16d", "#a0da39", "#fde725")

  /** Wordcloud SVG over a (word, frequency) report. */
  def wordCloudSvg(
      words: Seq[(String, Double)], title: String,
      width: Int = 960, height: Int = 540, maxWords: Int = 100): String = {
    val texts = wordCloudLayout(words, width, height, maxWords).zipWithIndex
      .map { case (p, i) =>
        val color = cloudPalette(i % cloudPalette.size)
        s"""  <text x="${p.x.round}" y="${(p.y + p.fontSize * 0.35).round}" text-anchor="middle" font-size="${p.fontSize}" fill="$color">${esc(p.word)}</text>"""
      }.mkString("\n")
    s"""<svg xmlns="http://www.w3.org/2000/svg" width="$width" height="$height" font-family="sans-serif">
  <rect x="0" y="0" width="$width" height="$height" fill="white"/>
  <text x="${width / 2}" y="32" text-anchor="middle" font-size="22" font-weight="bold">${esc(title)}</text>
$texts
</svg>
"""
  }

  /** First `maxRows` of an already-ordered 2-column report as (label, value)
    * pairs; the bounded collect is the sink's contract (see class doc). */
  private def reportRows(df: DataFrame, labelCol: String, valueCol: String,
      maxRows: Int): Seq[(String, Double)] =
    bars(df.select(col(labelCol).cast("string"), col(valueCol).cast("double"))
      .limit(maxRows)
      .collect())

  /** (label, value) from rows whose first two columns are the label as a
    * string and the value as a double. */
  private def bars(rows: Array[Row]): Seq[(String, Double)] =
    rows.map(r => (Option(r.getString(0)).getOrElse(""), r.getDouble(1))).toSeq

  /** Bars per bar chart unless the caller asks for another count. */
  private val BarRows = 50

  def writeBarChart(df: DataFrame, labelCol: String, valueCol: String,
      title: String, path: String, maxRows: Int = BarRows): Unit =
    writeSvg(path, barChartSvg(reportRows(df, labelCol, valueCol, maxRows), title))

  /** One bar chart per distinct `groupCol` value, in sorted group order,
    * each of its group's first `BarRows` rows — all from ONE collect of
    * `df`, a per-group top-K report (groups × K rows) already ordered
    * within each group. */
  def writeBarChartPerGroup(df: DataFrame, groupCol: String, labelCol: String,
      valueCol: String, title: String => String, path: String => String): Unit =
    df.select(col(labelCol).cast("string"), col(valueCol).cast("double"), col(groupCol))
      .collect()
      .groupBy(_.getString(2)).toSeq.sortBy(_._1)
      .foreach { case (g, rows) =>
        writeSvg(path(g), barChartSvg(bars(rows.take(BarRows)), title(g)))
      }

  def writeLineChart(df: DataFrame, labelCol: String, valueCol: String,
      title: String, path: String, maxRows: Int = 500): Unit =
    writeSvg(path, lineChartSvg(reportRows(df, labelCol, valueCol, maxRows), title))

  def writeWordCloud(df: DataFrame, wordCol: String, freqCol: String,
      title: String, path: String, maxWords: Int = 100): Unit =
    writeSvg(path, wordCloudSvg(reportRows(df, wordCol, freqCol, maxWords), title,
      maxWords = maxWords))

  private def writeSvg(path: String, svg: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, svg)
    ()
  }
}
