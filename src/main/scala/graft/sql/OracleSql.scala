package graft.sql

import graft.model.AnalysisConfig

/** DuckDB oracle-SQL builders for the keyword-analytics query family.
  *
  * CRITICAL INVARIANT: every pattern / blacklist / stopword literal in these
  * SQL strings is derived from the SAME [[AnalysisConfig]] the Spark queries
  * use — config can never drift between engine and oracle.
  *
  * SQL stays ANSI-ish and DuckDB-runnable; table names are bare
  * (`documents`, `events`, ...) — the driver registers the parquet files
  * under those names.
  */
object OracleSql {

  /** The clean-stage WHERE clause (P3 + P5 + P6) for the posts table. */
  def cleanWhere(cfg: AnalysisConfig): String = {
    val m = cfg.posts
    val parts = Seq(
      s"${m.textCol} IS NOT NULL",
      s"regexp_matches(${m.textCol}, ${sq(cfg.taxonomy.unionPattern)})"
    ) ++
      (if (cfg.channelBlacklist.isEmpty) Nil
       else Seq(s"lower(${m.channelCol}) NOT IN (${cfg.blacklistLower.map(sq).mkString(", ")})")) ++
      (if (cfg.noisePatterns.isEmpty) Nil
       else Seq(s"NOT regexp_matches(${m.textCol}, ${sq(cfg.noiseUnionPattern)})"))
    parts.mkString(" AND ")
  }

  /** VALUES list for the (industry, pattern) dimension. */
  def industryPatternValues(cfg: AnalysisConfig): String =
    cfg.taxonomy.industryNames
      .map(ind => s"(${sq(ind)}, ${sq(cfg.taxonomy.patternFor(ind))})")
      .mkString(", ")

  /** VALUES list for the (industry, keyword) dimension. */
  def keywordValues(cfg: AnalysisConfig): String =
    cfg.taxonomy.keywordDim.map { case (i, k) => s"(${sq(i)}, ${sq(k)})" }.mkString(", ")

  private def cleanCte(cfg: AnalysisConfig, table: String): String =
    s"clean AS (SELECT * FROM $table WHERE ${cleanWhere(cfg)})"

  private def taggedCte(cfg: AnalysisConfig): String = {
    val m = cfg.posts
    s"""tagged AS (SELECT i.industry AS industry, c.${m.idCol} AS post_id, c.${m.channelCol} AS channel, c.${m.textCol} AS text, CAST(c.${m.viewsCol} AS BIGINT) AS views FROM clean c JOIN (VALUES ${industryPatternValues(cfg)}) AS i(industry, pat) ON regexp_matches(c.${m.textCol}, i.pat))"""
  }

  def industryCounts(cfg: AnalysisConfig, table: String): String =
    s"""WITH ${cleanCte(cfg, table)}, ${taggedCte(cfg)}
SELECT industry, COUNT(*) AS n_posts FROM tagged GROUP BY industry ORDER BY industry"""

  def topPostsPerIndustry(cfg: AnalysisConfig, table: String, k: Int): String =
    s"""WITH ${cleanCte(cfg, table)}, ${taggedCte(cfg)},
ranked AS (SELECT industry, post_id, channel, views, ROW_NUMBER() OVER (PARTITION BY industry ORDER BY views DESC, post_id ASC) AS rk FROM tagged)
SELECT industry, post_id, channel, views, CAST(rk AS BIGINT) AS rk FROM ranked WHERE rk <= $k ORDER BY industry, rk"""

  /** Mirror of [[graft.ops.StatsOps.topKPerGroupBounded]] over the tagged
    * posts: the bounded aggregate's contract IS the window form, so the
    * oracle states it as the window form (independent formulation). */
  def topPostsBoundedAgg(cfg: AnalysisConfig, table: String, k: Int): String =
    s"""WITH ${cleanCte(cfg, table)}, ${taggedCte(cfg)},
ranked AS (SELECT industry, post_id, views, ROW_NUMBER() OVER (PARTITION BY industry ORDER BY views DESC, post_id ASC) AS rk FROM tagged)
SELECT industry, CAST(rk AS BIGINT) AS rk, post_id, CAST(views AS BIGINT) AS views
FROM ranked WHERE rk <= $k ORDER BY industry, rk"""

  def topChannelsByViews(cfg: AnalysisConfig, table: String, k: Int): String =
    s"""WITH ${cleanCte(cfg, table)}, ${taggedCte(cfg)},
agg AS (SELECT industry, channel, CAST(SUM(views) AS BIGINT) AS total_views FROM tagged GROUP BY industry, channel),
ranked AS (SELECT industry, channel, total_views, ROW_NUMBER() OVER (PARTITION BY industry ORDER BY total_views DESC, channel ASC) AS rk FROM agg)
SELECT industry, channel, total_views, CAST(rk AS BIGINT) AS rk FROM ranked WHERE rk <= $k ORDER BY industry, rk"""

  def mostActiveChannels(cfg: AnalysisConfig, table: String, k: Int): String = {
    val m = cfg.posts
    s"""WITH ${cleanCte(cfg, table)}
SELECT ${m.channelCol} AS channel, COUNT(*) AS n_posts FROM clean GROUP BY ${m.channelCol} ORDER BY n_posts DESC, channel ASC LIMIT $k"""
  }

  def keywordBreakdown(cfg: AnalysisConfig, table: String): String = {
    val m = cfg.posts
    s"""WITH ${cleanCte(cfg, table)}
SELECT k.industry AS industry, k.keyword AS keyword, COUNT(c.${m.textCol}) AS n_posts
FROM (VALUES ${keywordValues(cfg)}) AS k(industry, keyword)
LEFT JOIN clean c ON c.${m.textCol} LIKE '%' || k.keyword || '%'
GROUP BY k.industry, k.keyword ORDER BY industry, keyword"""
  }

  def wordFrequency(cfg: AnalysisConfig, table: String, minLen: Int, topN: Int): String = {
    val m = cfg.posts
    val stops = cfg.stopwords.map(sq).mkString(", ")
    s"""WITH ${cleanCte(cfg, table)},
toks AS (SELECT unnest(string_split_regex(lower(${m.textCol}), '[^a-z0-9]+')) AS word FROM clean)
SELECT word, COUNT(*) AS n FROM toks
WHERE length(word) >= $minLen AND NOT regexp_matches(word, '^[0-9]+$$') AND word NOT IN ($stops)
GROUP BY word ORDER BY n DESC, word ASC LIMIT $topN"""
  }

  def wordFrequencyByCategory(cfg: AnalysisConfig, table: String, minLen: Int, topN: Int): String = {
    val stops = cfg.stopwords.map(sq).mkString(", ")
    s"""WITH ${cleanCte(cfg, table)}, ${taggedCte(cfg)},
toks AS (SELECT industry AS category, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word FROM tagged),
cnt AS (SELECT category, word, COUNT(*) AS n FROM toks WHERE length(word) >= $minLen AND NOT regexp_matches(word, '^[0-9]+$$') AND word NOT IN ($stops) GROUP BY category, word),
ranked AS (SELECT category, word, n, ROW_NUMBER() OVER (PARTITION BY category ORDER BY n DESC, word ASC) AS rk FROM cnt)
SELECT category, word, n, CAST(rk AS BIGINT) AS rk FROM ranked WHERE rk <= $topN ORDER BY category, rk"""
  }

  /** Resample with calendar zero-fill. stepSql e.g. "INTERVAL 1 DAY". */
  def resampleCount(table: String, tsCol: String, truncUnit: String, stepSql: String): String =
    s"""WITH b AS (SELECT CAST(date_trunc('$truncUnit', MIN($tsCol)) AS DATE) AS lo, CAST(date_trunc('$truncUnit', MAX($tsCol)) AS DATE) AS hi FROM $table WHERE $tsCol IS NOT NULL),
cal AS (SELECT CAST(unnest(generate_series(lo, hi, $stepSql)) AS DATE) AS bucket FROM b),
cnt AS (SELECT CAST(date_trunc('$truncUnit', $tsCol) AS DATE) AS bucket, COUNT(*) AS n FROM $table WHERE $tsCol IS NOT NULL GROUP BY 1)
SELECT cal.bucket AS bucket, CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n FROM cal LEFT JOIN cnt ON cal.bucket = cnt.bucket ORDER BY bucket"""

  /** Generic resample-aggregate oracle — mirrors
    * [[graft.ops.ResampleOps.resampleAgg]] with count + ×10^6 scaled-int
    * value sum per bucket, zero-filled. Per-row DECIMAL(18,6) rounding then
    * an exact int64 sum, matching the engine side (no decimal reaches the
    * output — see [[RelationalSql]] doc). */
  def resampleValueAgg(table: String, tsCol: String, valueCol: String,
      truncUnit: String, stepSql: String): String =
    s"""WITH b AS (SELECT CAST(date_trunc('$truncUnit', MIN($tsCol)) AS DATE) AS lo, CAST(date_trunc('$truncUnit', MAX($tsCol)) AS DATE) AS hi FROM $table WHERE $tsCol IS NOT NULL),
cal AS (SELECT CAST(unnest(generate_series(lo, hi, $stepSql)) AS DATE) AS bucket FROM b),
agg AS (SELECT CAST(date_trunc('$truncUnit', $tsCol) AS DATE) AS bucket, COUNT(*) AS n,
  SUM(CAST(CAST($valueCol AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS total_value_e6
  FROM $table WHERE $tsCol IS NOT NULL GROUP BY 1)
SELECT cal.bucket AS bucket, CAST(COALESCE(agg.n, 0) AS BIGINT) AS n,
CAST(COALESCE(agg.total_value_e6, 0) AS BIGINT) AS total_value_e6
FROM cal LEFT JOIN agg ON cal.bucket = agg.bucket ORDER BY bucket"""

  /** Mirror of [[graft.ops.ResampleOps.decayedCounts]]: same whole-day
    * ages back from the data's newest day, same exact BIGINT half-life
    * shift weights (10^6 >> bucket, capped at 30) — no pow/exp double
    * anywhere. */
  def decayedCounts(table: String, tsCol: String, typeCol: String, halfLifeDays: Int): String =
    s"""WITH e AS (SELECT $typeCol AS event_type, CAST($tsCol AS DATE) AS day
  FROM $table WHERE $tsCol IS NOT NULL AND $typeCol IS NOT NULL),
m AS (SELECT MAX(day) AS as_of FROM e),
w AS (SELECT event_type, day,
  1000000 >> least(date_diff('day', day, m.as_of) // $halfLifeDays, 30) AS wt FROM e, m)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
  MIN(day) AS oldest_day, MAX(day) AS newest_day,
  CAST(SUM(wt) AS BIGINT) AS decayed_e6
FROM w GROUP BY 1 ORDER BY 1"""

  /** Mirror of [[graft.ops.AnomalyOps.anomalyDaily]]: same daily
    * scaled-int aggregate and gap-filled calendar, same trailing frame,
    * same cross-multiplied integer z-score verdict — HUGEINT here,
    * DECIMAL(38,0) on the Spark side, both exact. */
  def anomalyDaily(table: String, tsCol: String, valueCol: String,
      windowDays: Int, z2: Int): String =
    s"""WITH b AS (SELECT CAST(date_trunc('day', MIN($tsCol)) AS DATE) AS lo, CAST(date_trunc('day', MAX($tsCol)) AS DATE) AS hi FROM $table WHERE $tsCol IS NOT NULL),
cal AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS bucket FROM b),
agg AS (SELECT CAST(date_trunc('day', $tsCol) AS DATE) AS bucket,
  SUM(CAST(CAST($valueCol AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS total_e6
  FROM $table WHERE $tsCol IS NOT NULL GROUP BY 1),
d AS (SELECT cal.bucket AS bucket,
  CAST(COALESCE(agg.total_e6, 0) AS BIGINT) AS total_e6,
  CAST(COALESCE(agg.total_e6, 0) AS HUGEINT) AS x
  FROM cal LEFT JOIN agg ON cal.bucket = agg.bucket),
w AS (SELECT bucket, total_e6, x,
  COUNT(*) OVER win AS win_n,
  SUM(x) OVER win AS s,
  SUM(x * x) OVER win AS s2
  FROM d WINDOW win AS (ORDER BY bucket ROWS BETWEEN $windowDays PRECEDING AND 1 PRECEDING))
SELECT bucket, total_e6, CAST(win_n AS BIGINT) AS win_n,
  CAST(COALESCE(s, 0) AS BIGINT) AS baseline_sum_e6,
  CAST(CASE WHEN win_n = $windowDays
    AND (win_n * x - s) * (win_n * x - s) > $z2 * (win_n * s2 - s * s)
    THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
FROM w ORDER BY bucket"""

  /** As-of join oracle: DuckDB's NATIVE `ASOF JOIN` — an INDEPENDENT
    * implementation of the semantics of [[graft.ops.AsofOps.asofJoin]]
    * (at-or-before inclusive; equal-ts build rows deduplicated to the max
    * event_id, the same tiebreak the engine's running window applies).
    * Timestamps become epoch-µs BIGINTs on both sides (`CAST(ts AS
    * TIMESTAMP)` truncates ns→µs exactly like Spark's `ts div 1000`);
    * the matched value is ×10^6 scaled-int. */
  def asofEventJoin(probeType: String, buildType: String): String =
    s"""WITH b AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_id, value
  FROM events WHERE event_type = '$buildType' AND ts IS NOT NULL),
b1 AS (SELECT user_id, t, event_id, value FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, t ORDER BY event_id DESC) AS rn FROM b) WHERE rn = 1),
p AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t
  FROM events WHERE event_type = '$probeType' AND ts IS NOT NULL)
SELECT p.user_id AS user_id, p.event_id AS event_id, p.t AS ts_us,
  b1.event_id AS matched_event_id, b1.t AS matched_ts_us,
  CAST(CAST(b1.value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS matched_value_e6
FROM p ASOF LEFT JOIN b1 ON p.user_id = b1.user_id AND p.t >= b1.t
ORDER BY user_id, event_id"""

  /** FORWARD as-of with tolerance — mirrors
    * [[graft.ops.AsofOps.asofJoinDirected]] via DuckDB's native ASOF with
    * the inequality flipped (`p.t <= b1.t` → earliest at-or-after) and a
    * post-CASE nulling matches farther than `tolUs` µs. */
  def asofEventJoinForward(probeType: String, buildType: String, tolUs: Long): String =
    s"""WITH b AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_id, value
  FROM events WHERE event_type = '$buildType' AND ts IS NOT NULL),
b1 AS (SELECT user_id, t, event_id, value FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, t ORDER BY event_id DESC) AS rn FROM b) WHERE rn = 1),
p AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t
  FROM events WHERE event_type = '$probeType' AND ts IS NOT NULL),
j AS (SELECT p.user_id, p.event_id, p.t, b1.event_id AS m_id, b1.t AS m_t, b1.value AS m_v
  FROM p ASOF LEFT JOIN b1 ON p.user_id = b1.user_id AND p.t <= b1.t)
SELECT user_id, event_id, t AS ts_us,
  CASE WHEN m_t IS NOT NULL AND m_t - t <= $tolUs THEN m_id END AS matched_event_id,
  CASE WHEN m_t IS NOT NULL AND m_t - t <= $tolUs THEN m_t END AS matched_ts_us,
  CASE WHEN m_t IS NOT NULL AND m_t - t <= $tolUs
    THEN CAST(CAST(m_v AS DECIMAL(18,6)) * 1000000 AS BIGINT) END AS matched_value_e6
FROM j ORDER BY user_id, event_id"""

  /** Conversion-funnel oracle — mirrors
    * [[graft.ops.SessionOps.conversionFunnel]]: one chained running-min
    * window CTE per stage over the same (user, ts, id) order, per-user
    * reached flags, stage counts unioned. */
  def conversionFunnel(stages: Seq[String]): String = {
    require(stages.nonEmpty)
    val ord = "PARTITION BY user_id ORDER BY t ASC, event_id ASC ROWS UNBOUNDED PRECEDING"
    val sb = new StringBuilder
    sb.append("""WITH w0base AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_type
  FROM events WHERE ts IS NOT NULL)""")
    stages.zipWithIndex.foreach { case (stage, k) =>
      val src = if (k == 0) "w0base" else s"w${k - 1}"
      val qual =
        if (k == 0) s"event_type = '$stage'"
        else s"event_type = '$stage' AND s${k - 1} IS NOT NULL"
      sb.append(s""",
w$k AS (SELECT *, MIN(CASE WHEN $qual THEN t END) OVER ($ord) AS s$k FROM $src)""")
    }
    val flags = stages.indices.map(k =>
      s"MAX(CASE WHEN s$k IS NOT NULL THEN 1 ELSE 0 END) AS r$k").mkString(", ")
    sb.append(s""",
u AS (SELECT user_id, $flags FROM w${stages.size - 1} GROUP BY user_id)""")
    val rows = stages.zipWithIndex.map { case (stage, k) =>
      s"SELECT CAST($k AS BIGINT) AS stage, '$stage' AS event_type, CAST(COALESCE(SUM(r$k), 0) AS BIGINT) AS n_users FROM u"
    }.mkString("\nUNION ALL ")
    sb.append(s"\n$rows\nORDER BY stage")
    sb.toString
  }

  /** Mirror of [[graft.ops.SessionOps.funnelDwell]]: the first fromStage
    * row by (t, id), qualifying toStage rows strictly after it in that
    * order, µs-truncated dwell seconds, and the engine-wide ⌈p·n/100⌉
    * nearest-rank percentile convention over the dwell histogram. */
  def funnelDwell(
      fromStage: String, toStage: String, percents: Seq[Int]): String = {
    val pSel = percents.map(p =>
      s"(SELECT CAST(MIN(v) AS BIGINT) FROM cm, t WHERE cum >= (($p * n + 99) // 100)) AS p$p")
      .mkString(",\n  ")
    s"""WITH b0 AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_type
  FROM events WHERE ts IS NOT NULL),
fa AS (SELECT user_id, t AS at, event_id AS aid FROM (
    SELECT user_id, t, event_id,
      ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t ASC, event_id ASC) AS rn
    FROM b0 WHERE event_type = '$fromStage') WHERE rn = 1),
d AS (SELECT e.user_id, (MIN(e.t) - MIN(fa.at)) // 1000000 AS dwell
  FROM b0 e JOIN fa ON fa.user_id = e.user_id
  WHERE e.event_type = '$toStage'
    AND (e.t > fa.at OR (e.t = fa.at AND e.event_id > fa.aid))
  GROUP BY e.user_id),
h AS (SELECT dwell AS v, COUNT(*) AS c FROM d GROUP BY 1),
cm AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM h),
t AS (SELECT SUM(c) AS n FROM h)
SELECT (SELECT CAST(n AS BIGINT) FROM t) AS n_users,
  $pSel"""
  }

  /** Mirror of [[graft.ops.SessionOps.eventTransitions]]: LEAD over the
    * same (user, t, id) order, exact counts, truncating per-from ppm. */
  def eventTransitions(k: Int): String =
    s"""WITH b0 AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, event_type
  FROM events WHERE ts IS NOT NULL),
p AS (SELECT event_type AS from_type,
    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY t ASC, event_id ASC) AS to_type
  FROM b0),
c AS (SELECT from_type, to_type, COUNT(*) AS n FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT from_type, SUM(n) AS tt FROM c GROUP BY 1)
SELECT c.from_type, c.to_type, CAST(c.n AS BIGINT) AS n_transitions,
  CAST((c.n * 1000000) // t.tt AS BIGINT) AS share_ppm
FROM c JOIN tot t ON c.from_type = t.from_type
ORDER BY n_transitions DESC, c.from_type ASC, c.to_type ASC LIMIT $k"""

  /** Cohort-retention oracle — mirrors
    * [[graft.ops.SessionOps.cohortRetention]]: Monday-based
    * date_trunc('week') on both engines, exact day-difference // 7
    * offsets, distinct (cohort, offset, user) before the count. */
  def cohortRetention: String =
    s"""WITH w AS (SELECT user_id, CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
  FROM events WHERE ts IS NOT NULL),
f AS (SELECT user_id, MIN(wk) AS cw FROM w GROUP BY user_id),
a AS (SELECT DISTINCT w.user_id, f.cw, (w.wk - f.cw) // 7 AS week_offset
  FROM w JOIN f ON w.user_id = f.user_id)
SELECT strftime(cw, '%Y-%m-%d') AS cohort_week, CAST(week_offset AS BIGINT) AS week_offset,
  CAST(COUNT(*) AS BIGINT) AS n_users
FROM a GROUP BY cw, week_offset ORDER BY cohort_week, week_offset"""

  /** Range-join oracle: daily count of open order lines (ordered, not yet
    * shipped) — a plain BETWEEN join over the data-derived calendar,
    * zero-filled. DuckDB plans this as an IEJoin; the engine side
    * ([[graft.ops.RangeOps.pointInIntervalCounts]]) uses the sweep-line
    * delta sum — independent algorithms, identical semantics. */
  def openOrderLinesDaily: String =
    s"""WITH iv AS (SELECT CAST(o.o_orderdate AS DATE) AS lo, CAST(l.l_shipdate AS DATE) AS hi
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate IS NOT NULL AND l.l_shipdate IS NOT NULL
    AND CAST(o.o_orderdate AS DATE) <= CAST(l.l_shipdate AS DATE)),
b AS (SELECT MIN(lo) AS lo, MAX(hi) AS hi FROM iv),
cal AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day FROM b),
cnt AS (SELECT cal.day AS day, COUNT(*) AS n FROM cal JOIN iv ON cal.day BETWEEN iv.lo AND iv.hi GROUP BY 1)
SELECT cal.day AS day, CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_open
FROM cal LEFT JOIN cnt ON cal.day = cnt.day ORDER BY day"""

  /** Moving average over the gap-filled daily series (ROWS frame). */
  def movingAverageDaily(table: String, tsCol: String, k: Int): String =
    s"""WITH series AS (${resampleCount(table, tsCol, "day", "INTERVAL 1 DAY")})
SELECT bucket, n, round(AVG(n::DOUBLE) OVER (ORDER BY bucket
  ROWS BETWEEN ${k - 1} PRECEDING AND CURRENT ROW), 6) AS ma
FROM series ORDER BY bucket"""

  def channelAudit(cfg: AnalysisConfig, table: String, topChannels: Int, postsPerChannel: Int): String =
    s"""WITH ${cleanCte(cfg, table)}, ${taggedCte(cfg)},
agg AS (SELECT industry, channel, SUM(views) AS total_views FROM tagged GROUP BY industry, channel),
topch AS (SELECT industry, channel, ROW_NUMBER() OVER (PARTITION BY industry ORDER BY total_views DESC, channel ASC) AS channel_rank FROM agg),
posts AS (SELECT t.industry, t.channel, tc.channel_rank, t.post_id, t.views, t.text, ROW_NUMBER() OVER (PARTITION BY t.industry, t.channel ORDER BY t.views DESC, t.post_id ASC) AS post_rank
  FROM tagged t JOIN topch tc ON t.industry = tc.industry AND t.channel = tc.channel AND tc.channel_rank <= $topChannels)
SELECT industry, channel, CAST(channel_rank AS BIGINT) AS channel_rank, CAST(post_rank AS BIGINT) AS post_rank, post_id, views, replace(substr(text, 1, 100), chr(10), ' ') || '...' AS snippet
FROM posts WHERE post_rank <= $postsPerChannel ORDER BY industry, channel_rank, post_rank"""

  def debugKeyword(cfg: AnalysisConfig, table: String, industry: String, keyword: String, k: Int): String = {
    val m = cfg.posts
    val pat = sq(cfg.taxonomy.patternFor(industry))
    s"""WITH ${cleanCte(cfg, table)}
SELECT ${m.idCol} AS post_id, ${m.channelCol} AS channel, CAST(${m.viewsCol} AS BIGINT) AS views
FROM clean WHERE regexp_matches(${m.textCol}, $pat) AND ${m.textCol} LIKE ${sq(s"%$keyword%")}
ORDER BY views DESC, post_id ASC LIMIT $k"""
  }
}
