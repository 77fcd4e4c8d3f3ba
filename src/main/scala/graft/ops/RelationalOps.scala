package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** General SQL-analytics operator family over the TPC-H-ish star schema
  * (J1/U1 in SURVEY.md §2.5: the reference is single-table, but the engine
  * must provide the full join/agg surface per BASELINE.json "SQL analytics").
  *
  * Determinism-for-oracle notes (and good large-scale hygiene generally):
  *  - Money aggregates are never summed as DOUBLE: double addition is
  *    order-dependent, and at 1000 executors partial-agg order is
  *    nondeterministic run to run. Per-row values are rounded in DECIMAL
  *    (deterministic, engine-agreed), then scaled to exact int64 and summed
  *    as BIGINT — exact, associative, and single-representation (see [[e2]]).
  *  - Every output ends in a total ORDER BY with tiebreakers.
  *
  * Scale notes:
  *  - nation/region/part-dim joins are marked `broadcast` explicitly — at
  *    100 TB the fact side never shuffles for a dim join; lineitem⋈orders
  *    stays a shuffle (sort-merge) join on the natural key, which AQE can
  *    convert/skew-split at runtime.
  *  - Aggregates rely on Catalyst partial (map-side) aggregation; rollup is
  *    a single pass with `Expand`, not per-level re-scans.
  */
object RelationalOps {

  /** Money arithmetic runs in DECIMAL, never double. The raw columns are
    * doubles with occasional sub-cent noise, so the DECIMAL(18,2) cast DOES
    * round — but rounding doubles to 2 decimals is deterministic and agreed
    * between Spark and DuckDB (verified value-exactly at sf0.01/sf0.1), and
    * everything AFTER the cast is exact and associative — safe under any
    * partial-agg order at 1000 executors.
    */
  private def cents(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  /** price * (1 - discount), computed entirely in decimal: scale-4 exact. */
  private def discounted(price: org.apache.spark.sql.Column, disc: org.apache.spark.sql.Column) =
    cents(price) * (lit(1).cast("decimal(18,2)") - cents(disc))

  /** Oracle-facing money outputs are SCALED-INTEGER BIGINTs (`*_e2` = cents,
    * `*_e4` = 10^-4 units, `*_e6` = 10^-6 units), NOT decimals: an int64 has
    * exactly one representation in every engine and every client layer.
    * Decimal outputs do NOT survive the comparison path even when the
    * decimal types are forced identical on both sides — DuckDB's client
    * conversion exports DECIMAL as float64 while a parquet decimal becomes
    * an exact scaled value, so `101951.000000` vs `101951.0` hash-differ.
    * The per-row value is rounded to the target scale in decimal first
    * (deterministic, engine-agreed), scaled by an exact power of ten, and
    * summed as int64 — associative and partition-order-independent.
    * (Int64 headroom: a per-row e4 money value is < 10^9, so overflow needs
    * > 10^9 rows IN ONE GROUP; for full-corpus ungrouped sums at extreme
    * scale, aggregate in decimal internally and scale only for export.) */
  private def e2(c: org.apache.spark.sql.Column) =
    (cents(c) * 100).cast("long")

  /** Per-row `price*(1-disc)` as an exact ×10^4 scaled integer. */
  private def discountedE4(price: org.apache.spark.sql.Column, disc: org.apache.spark.sql.Column) =
    (discounted(price, disc) * 10000).cast("long")

  /** Per-row scale-6 value as an exact ×10^6 scaled integer. */
  private def e6(c: org.apache.spark.sql.Column) =
    (c.cast("decimal(18,6)") * 1000000).cast("long")

  /** TPC-H Q1-style pricing summary over lineitem up to a ship-date cutoff.
    * One shuffle (4-group hash agg with map-side partials). */
  def pricingSummary(lineitem: DataFrame, cutoff: String): DataFrame =
    lineitem
      .filter(col("l_shipdate") <= lit(cutoff).cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        sum(e2(col("l_extendedprice"))).as("sum_base_price_e2"),
        sum(discountedE4(col("l_extendedprice"), col("l_discount"))).as("sum_disc_price_e4"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Revenue per (region, nation): customer⋈orders⋈lineitem fact chain with
    * broadcast nation/region dims (TPC-H Q5 shape).
    *
    * Revenue is emitted as a SCALED-INTEGER BIGINT (`revenue_e4` = revenue ×
    * 10^4): per-row `price_e2 × (100 − disc_e2)` is pure int64 arithmetic
    * (≤ 1e9 per row), and an int64 sum has exactly one representation in
    * every engine — immune to decimal-width and decimal-export variance
    * across oracle versions. */
  def revenueByNation(
      lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
      nation: DataFrame, region: DataFrame): DataFrame = {
    val priceE2 = (cents(col("l_extendedprice")) * 100).cast("long")
    val discE2 = (cents(col("l_discount")) * 100).cast("long")
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region_name"), col("n_name").as("nation_name"))
      .agg(
        sum(priceE2 * (lit(100L) - discE2)).as("revenue_e4"),
        count(lit(1)).as("n_lineitems"))
      .orderBy("region_name", "nation_name")
  }

  /** ROLLUP over (status, priority): count + exact decimal totalprice.
    * Single-pass `Expand`+hash-agg; grouping() disambiguates subtotal rows
    * (coalesce alone could collide with genuine NULL keys). */
  def orderRollup(orders: DataFrame): DataFrame =
    orders
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(
        // grouping() is only resolvable inside the Aggregate itself
        when(grouping(col("o_orderstatus")) === 1, lit("ALL"))
          .otherwise(col("o_orderstatus")).as("status"),
        when(grouping(col("o_orderpriority")) === 1, lit("ALL"))
          .otherwise(col("o_orderpriority")).as("priority"),
        count(lit(1)).as("n_orders"),
        sum(e2(col("o_totalprice"))).as("total_price_e2"))
      .select("status", "priority", "n_orders", "total_price_e2")
      .orderBy("status", "priority")

  /** CUBE companion to [[orderRollup]]: all four grouping sets over
    * (status, priority) — the cross-dimensional OLAP summary. Same
    * single-pass `Expand` execution: Spark widens each input row to one
    * row per grouping set before ONE hash aggregate, so the cube costs one
    * shuffle regardless of how many sets it covers. */
  def orderCube(orders: DataFrame): DataFrame =
    orders
      .cube("o_orderstatus", "o_orderpriority")
      .agg(
        when(grouping(col("o_orderstatus")) === 1, lit("ALL"))
          .otherwise(col("o_orderstatus")).as("status"),
        when(grouping(col("o_orderpriority")) === 1, lit("ALL"))
          .otherwise(col("o_orderpriority")).as("priority"),
        count(lit(1)).as("n_orders"),
        sum(e2(col("o_totalprice"))).as("total_price_e2"))
      .select("status", "priority", "n_orders", "total_price_e2")
      .orderBy("status", "priority")

  /** GROUPING SETS companion to [[orderRollup]]/[[orderCube]]: the
    * MARGINALS-ONLY report — per-status totals, per-priority totals, and
    * the grand total, WITHOUT the (status, priority) cross — the set
    * combination neither rollup (which would add the cross's prefix) nor
    * cube (which includes every cross) can express. Same single-pass
    * `Expand` + one hash aggregate execution: arbitrary set lists cost
    * one shuffle, the same as the fixed hierarchies. */
  def orderMarginals(orders: DataFrame): DataFrame =
    orders
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        when(grouping(col("o_orderstatus")) === 1, lit("ALL"))
          .otherwise(col("o_orderstatus")).as("status"),
        when(grouping(col("o_orderpriority")) === 1, lit("ALL"))
          .otherwise(col("o_orderpriority")).as("priority"),
        count(lit(1)).as("n_orders"),
        sum(e2(col("o_totalprice"))).as("total_price_e2"))
      .select("status", "priority", "n_orders", "total_price_e2")
      .orderBy("status", "priority")

  /** PIVOT report: daily event counts with one column per event type —
    * the wide-format report surface (`RelationalGroupedDataset.pivot`).
    * `types` is the EXPLICIT pivot-value list: passing it keeps the plan
    * a single pass (Spark otherwise runs a distinct-values job first to
    * discover columns) and keeps the output schema deterministic — the
    * same reason the oracle mirror writes one conditional aggregate per
    * type. Absent (day, type) cells are zero-filled. */
  def pivotDailyEventCounts(
      events: DataFrame, tsCol: String, typeCol: String,
      types: Seq[String]): DataFrame = {
    require(types.nonEmpty && types.distinct == types, s"bad pivot values: $types")
    val day = to_date(col(tsCol))
    val pivoted = events
      .filter(col(tsCol).isNotNull && col(typeCol).isNotNull)
      .groupBy(day.as("day"))
      .pivot(typeCol, types)
      .agg(count(lit(1)))
    types.foldLeft(pivoted)((df, t) =>
        df.withColumn(t, coalesce(col(s"`$t`"), lit(0L))))
      .orderBy("day")
  }

  /** Top-K customers by total spend per market segment: shuffle agg to the
    * (custkey) domain, then a window over the small aggregated relation. */
  def topCustomersPerSegment(orders: DataFrame, customer: DataFrame, k: Int): DataFrame = {
    val spend = orders
      .groupBy("o_custkey")
      .agg(sum(e2(col("o_totalprice"))).as("total_spend_e2"),
        count(lit(1)).as("n_orders"))
    val w = Window.partitionBy(col("segment"))
      .orderBy(col("total_spend_e2").desc, col("custkey").asc)
    customer
      .join(spend, col("c_custkey") === col("o_custkey"))
      .select(col("c_mktsegment").as("segment"), col("c_custkey").as("custkey"),
        col("c_name").as("name"), col("total_spend_e2"),
        col("n_orders"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .orderBy(col("segment"), col("rk"))
  }

  /** Per-event-type stats with a JSON-extracted field from `props`
    * (events table; SURVEY.md §1.3 props as JSON string). get_json_object is
    * codegen'd; the sum of the extracted int stays exact in long. */
  def eventJsonStats(events: DataFrame): DataFrame =
    events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        sum(e6(col("value"))).as("sum_value_e6"))
      .orderBy("event_type")

  /** Brand-level lineitem stats: fact⋈dim join on partkey, broadcast part
    * (a dim at test scale; at 100 TB part no longer broadcasts — leave the
    * hint off and let AQE decide: here it's explicit for the bench win). */
  def brandStats(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(
        count(lit(1)).as("n_lineitems"),
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        sum(e2(col("l_extendedprice"))).as("sum_price_e2"))
      .orderBy("brand")

  /** Customers with no orders after a cutoff date: LEFT ANTI join (the
    * reference's blacklist semantics generalized to a real two-table op),
    * aggregated per nation. */
  def inactiveCustomersByNation(
      customer: DataFrame, orders: DataFrame, nation: DataFrame,
      cutoff: String): DataFrame =
    customer
      .join(
        orders.filter(col("o_orderdate") >= lit(cutoff).cast("timestamp"))
          .select("o_custkey").distinct(),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation_name"))
      .agg(count(lit(1)).as("n_inactive"))
      .orderBy("nation_name")

  /** Value histogram: fixed-width bins per group — floor() on double is
    * IEEE-exact, so bin assignment is engine-independent. One shuffle. */
  def valueHistogram(events: DataFrame, typeCol: String, valueCol: String, width: Int): DataFrame =
    events
      .filter(col(valueCol).isNotNull)
      .groupBy(
        col(typeCol).as("event_type"),
        (floor(col(valueCol) / width) * width).cast("long").as("bin_lo"))
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type", "bin_lo")

  /** Column label for percentile `p` ∈ [0,1]: `p25`, `p99`, `p99_5` (the
    * full decimal survives — `p0.995` and `p1.0` must not collide, and
    * fractional percents must not silently round). Single source of truth
    * for BOTH the Spark side and the DuckDB oracle mirror, so the two
    * labelings cannot drift. */
  def percentileLabel(p: Double): String = {
    require(p >= 0 && p <= 1, s"percentile out of [0,1]: $p")
    val pct = (BigDecimal(p.toString) * 100).underlying.stripTrailingZeros
    "p" + pct.toPlainString.replace(".", "_")
  }

  /** EXACT percentile profile per group: linear-interpolated quantiles via
    * Spark's exact `percentile` aggregate (NOT `percentile_approx` — the
    * approximate sketch is engine-specific and not oracle-matchable; the
    * exact form is deterministic and agrees with `quantile_cont`
    * cross-engine at 6 dp). Exact percentiles buffer each group's values —
    * the documented trade: use this on bounded-cardinality metric columns,
    * reach for `percentile_approx` when a sketch is acceptable and groups
    * are unbounded. */
  def valuePercentiles(events: DataFrame, typeCol: String, valueCol: String,
      ps: Seq[Double]): DataFrame = {
    val labels = ps.map(percentileLabel)
    require(labels.distinct.size == labels.size, s"duplicate percentile labels: $labels")
    val pctArr = percentile(
      col(valueCol), array(ps.map(lit): _*)).as("__ps")
    events
      .filter(col(valueCol).isNotNull)
      .groupBy(col(typeCol).as("event_type"))
      .agg(pctArr)
      .select(
        col("event_type") +:
          labels.zipWithIndex.map { case (label, i) =>
            round(element_at(col("__ps"), i + 1), 6).as(label)
          }: _*)
      .orderBy("event_type")
  }

  /** Nearest-rank percentile clip: keep rows whose INTEGER metric lies
    * within the [pLo%, pHi%] nearest-rank percentiles (value at rank
    * ⌈p·n/100⌉) — the "drop the freak tails before training" quality
    * filter. Interpolated percentiles (`quantile_cont`) are doubles whose
    * last-ulp placement differs between engines, which is fatal inside a
    * FILTER predicate (membership flips); nearest-rank is pure integer
    * selection, exact everywhere.
    *
    * Scale shape: NO global sort and NO global row_number over rows —
    * bounds come from a cumulative count over the DISTINCT metric values
    * (a groupBy histogram, then one ordered window over the value axis,
    * which is bounded by metric cardinality — document lengths, token
    * counts — not corpus size), then ride back in via a broadcast 1-row
    * cross join. The ranks use integer ceiling division only. */
  def percentileClip(
      df: DataFrame, metricCol: String, pLo: Int, pHi: Int): DataFrame = {
    require(0 <= pLo && pLo <= pHi && pHi <= 100, s"bad percent range [$pLo, $pHi]")
    val bounds = nearestRankBounds(df, metricCol, Seq(pLo, pHi))
      .select(col("bound_0").as("__lo"), col("bound_1").as("__hi"))
    df.crossJoin(broadcast(bounds))
      .filter(col(metricCol).between(col("__lo"), col("__hi")))
      .drop("__lo", "__hi")
  }

  /** ONE-ROW frame of nearest-rank percentile bounds over an integer
    * metric: `bound_i` = the value at rank ⌈pᵢ·n/100⌉ (ascending). The
    * shared bound machinery of [[percentileClip]] and
    * [[graft.ops.SampleOps.tieredMix]] — one definition, so the clip
    * filter and the tier assignment cannot drift.
    *
    * Scale shape (see [[percentileClip]]'s scaladoc): the cumulative
    * count runs over the DISTINCT-value histogram (bounded by metric
    * cardinality, not corpus size) — and since r8, NEVER as a
    * single-partition global window. The
    * [[graft.ops.SampleOps.budgetSample]] two-level prefix sum, adapted
    * to the value axis: distinct values bucket by VALUE RANGE
    * (`v div width`, monotone in v, so global (bucket, value) order IS
    * value order; each bucket covers at most `2·width − 1` consecutive
    * integers however the distinct values skew — `div` truncates toward
    * zero, so when the value range straddles zero, bucket 0 alone spans
    * both `(−width, 0)` and `[0, width)`; every other bucket covers at
    * most `width`); bucket
    * totals reduce to ≤ nBuckets+1 rows whose exclusive offsets come
    * from a tiny triangle join (no unpartitioned window ANYWHERE — the
    * `WindowExec: No Partition Defined` single-task hazard is gone,
    * plan-asserted in `PlanSpec`); every bucket then runs its own
    * bounded cumulative window in parallel. Ranks are integer ceiling
    * division only — a double `p*n/100` would silently lose exactness
    * past 2^53. */
  def nearestRankBounds(
      df: DataFrame, metricCol: String, percents: Seq[Int],
      nBuckets: Int = 256): DataFrame = {
    // metric-cardinality-sized; feeds two branches (the one-row stats agg
    // and the bucketed cumulative path) as a LAZY plan on purpose — AQE's
    // ReusedExchange dedups the shared histogram aggregate at execution,
    // and a localCheckpoint here measured SLOWER (materialization cost
    // without a saved scan)
    nearestRankBoundsFromHist(
      df.filter(col(metricCol).isNotNull)
        .groupBy(col(metricCol).as("__v"))
        .agg(count(lit(1)).as("__c")),
      percents, nBuckets)
  }

  /** [[nearestRankBounds]] from a PRE-BUILT distinct-value histogram
    * (`__v` integer value, `__c` row count) — the shared core that lets a
    * caller DERIVE one histogram from another instead of re-scanning the
    * corpus: [[madOutliers]] aggregates its deviation histogram straight
    * off the median's value histogram (dev = |v − med| is a value-axis
    * transform, so the counts just re-group), which is how its second
    * order statistic costs a cardinality-sized aggregate, not a second
    * corpus pass. */
  private[ops] def nearestRankBoundsFromHist(
      hist: DataFrame, percents: Seq[Int], nBuckets: Int = 256): DataFrame = {
    require(percents.nonEmpty, "need at least one percent")
    percents.foreach(p => require(0 <= p && p <= 100, s"bad percent $p"))
    val cum = cumulativeHist(hist, nBuckets)
    val aggs = percents.zipWithIndex.map { case (p, i) =>
      min(when(col("__cum") >= expr(s"(__n * $p + 99) DIV 100"), col("__v")))
        .as(s"bound_$i")
    }
    cum.agg(aggs.head, aggs.tail: _*)
  }

  /** The CUMULATIVE form of a distinct-value histogram (`__v`, `__c`) —
    * the shared two-level prefix-sum core of [[nearestRankBoundsFromHist]]
    * and [[rankBlend]]: returns the histogram with `__cum` (count of rows
    * with value ≤ `__v`) and `__n` (total count) attached, never planning
    * an unpartitioned window. */
  private[ops] def cumulativeHist(
      hist: DataFrame, nBuckets: Int = 256): DataFrame = {
    require(nBuckets >= 1, s"bad nBuckets: $nBuckets")
    // one-row global stats (value range + total count), broadcast back;
    // __n was previously an unbounded global window — now it rides here
    val stats = hist.agg(
      min(col("__v").cast("long")).as("__vmin"),
      max(col("__v").cast("long")).as("__vmax"),
      sum(col("__c")).as("__n"))
    // overflow-safe monotone bucketing: `v div width` (no vmin shift —
    // `v - vmin` and `vmax - vmin` can overflow Long for extreme ranges,
    // e.g. a negative sentinel next to large positives); the width
    // `vmax div nB - vmin div nB + 1` is computed from two in-range
    // divisions, is always >= 1, and bounds the bucket count by
    // nBuckets + 2. Truncating division by a positive width is monotone
    // in v, so global (bucket, value) order is still value order.
    val bucketed = hist.crossJoin(broadcast(stats))
      .withColumn("__bkt",
        expr(s"cast(__v AS bigint) div ((__vmax div $nBuckets) - (__vmin div $nBuckets) + 1)"))
    val offsets = exclusivePrefixOffsets(
      bucketed.groupBy("__bkt").agg(sum(col("__c")).as("__tot")), "__bkt")
    val wb = Window.partitionBy(col("__bkt")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed
      .join(broadcast(offsets), "__bkt")
      .withColumn("__cum", col("__off") + sum(col("__c")).over(wb))
  }

  /** RANK-BLEND ensemble score: percentile-rank-normalize several
    * integer metrics and average the ranks — the standard way to COMBINE
    * quality signals that live on incomparable scales (a length count, a
    * ppm ratio, a centi-length) into one ordering (FineWeb-style
    * classifier ensembles blend exactly this way). Per metric the rank
    * is `rank_ppm = ⌊count(values ≤ v)·10⁶ / n⌋` (ties share the rank of
    * their last member — the ECDF), the blend is the truncating mean of
    * the k rank columns, and the output is the top `limit` rows by
    * (blend desc, id asc) with every metric and rank column attached.
    * All integer: the ×10⁶ products run in DECIMAL(38,0) (the mixPlan
    * overflow rationale — BIGINT dies at 10¹³ rows × 10⁶).
    *
    * Scale shape: one distinct-value histogram aggregate PER METRIC
    * (metric-cardinality-sized, never corpus-sized), each made
    * cumulative by the shared [[cumulativeHist]] two-level prefix sum
    * (no unpartitioned window), then broadcast back as a value → rank
    * map joined map-side — the corpus relation is scanned once and never
    * shuffled. The broadcast assumes bounded metric cardinality (true
    * for the count/ratio metrics this is for: a token count has ~10⁵
    * distinct values at any corpus size); a genuinely high-cardinality
    * metric should be bucketed first. Rows null in ANY metric drop. */
  def rankBlend(
      df: DataFrame, idCol: String, metricCols: Seq[String], limit: Int): DataFrame = {
    require(metricCols.nonEmpty, "need at least one metric")
    require(limit >= 1, s"bad limit: $limit")
    // materialize the metric relation ONCE: it feeds k histogram builds
    // plus the final rank join, and lazily each consumer re-runs df's
    // upstream derivation (for the quality ensemble that is a full
    // corpus tokenization per consumer — measured 2.7 s → 1.1 s at
    // sf0.1). Unlike the dropped token-level checkpoints this relation
    // is PER-DOC integers (id + k longs, ~3 orders smaller than the
    // corpus text it summarizes), so the storage trade goes the other
    // way: ~40 B/doc of block storage against k extra corpus scans.
    val base = metricCols.foldLeft(df)((d, c) => d.filter(col(c).isNotNull))
      .localCheckpoint()
    val ranked = metricCols.foldLeft(base) { (d, c) =>
      val rankMap = cumulativeHist(
        base.groupBy(col(c).cast("long").as("__v")).agg(count(lit(1)).as("__c")))
        .select(col("__v").as(s"__v_$c"),
          expr("CAST(CAST(__cum AS DECIMAL(38,0)) * 1000000 div __n AS BIGINT)")
            .as(s"rank_${c}_ppm"))
      d.join(broadcast(rankMap), col(c).cast("long") === col(s"__v_$c"))
        .drop(s"__v_$c")
    }
    // sum of k ppm ranks is <= k*10^6 — plain BIGINT arithmetic is safe here
    val blend = expr(
      s"(${metricCols.map(c => s"rank_${c}_ppm").mkString(" + ")}) div ${metricCols.size}")
    ranked
      .select(col(idCol) +: metricCols.map(col) ++:
        metricCols.map(c => col(s"rank_${c}_ppm")) :+ blend.as("blend_ppm"): _*)
      .orderBy(col("blend_ppm").desc, col(idCol).asc)
      .limit(limit)
  }

  /** EXCLUSIVE prefix offsets over a metadata-sized totals relation
    * (`keyCol`, `__tot`): for each key, the sum of `__tot` over all
    * STRICTLY SMALLER keys — via a triangle join (O(n²) pairs over ≤ a
    * few hundred rows), so no unpartitioned window ever plans. The
    * shared kernel of the two-level prefix sums in [[nearestRankBounds]]
    * and [[graft.ops.SampleOps.budgetSample]]: one definition, so an
    * edge-case fix cannot drift between them. Returns (keyCol, __off). */
  private[ops] def exclusivePrefixOffsets(
      totals: DataFrame, keyCol: String): DataFrame =
    totals.as("x")
      .join(totals.as("y"), col(s"y.$keyCol") < col(s"x.$keyCol"), "left")
      .groupBy(col(s"x.$keyCol").as(keyCol))
      .agg(coalesce(sum(col("y.__tot")), lit(0L)).as("__off"))

  /** MAD OUTLIERS: rows whose integer metric sits more than `num/den`
    * median-absolute-deviations from the median — the robust outlier
    * detector (median/MAD shrug off the very outliers that wreck a
    * mean/stddev z-score; Hampel's rule). Median and MAD are NEAREST-RANK
    * order statistics off the shared [[nearestRankBounds]] machinery, so
    * everything is integer-exact: the flag predicate is the
    * cross-multiplication dev·den > mad·num — no ratio double within a
    * ulp of the boundary. Returns (id, metric, median, dev, mad) for
    * flagged rows, most-deviant first, capped at `limit`.
    *
    * A degenerate metric (over half the rows at one value) gives mad = 0
    * and flags every row off the median — the documented Hampel edge;
    * use the percentile clip for such distributions.
    *
    * Scale shape: ONE distinct-value histogram pass over the corpus
    * (metric-cardinality-sized). The deviation histogram is DERIVED from
    * it — dev = |v − med| only moves values along the axis, so the dev
    * counts are a re-group of the value counts; r8 ran a second
    * corpus-wide histogram pass here. Both order statistics broadcast
    * back as one row each; the corpus path is one map-only filter.
    * Measured (sf0.1 catalog entry, r9): 2.8 s → 2.0 s; the residual is
    * ~30 metadata-sized AQE stages of scheduler latency (two full
    * rank-machinery evaluations), invisible at real scale where the two
    * corpus passes this rewrite removed were the cost. */
  def madOutliers(
      df: DataFrame, idCol: String, metricCol: String,
      num: Long, den: Long, limit: Int): DataFrame = {
    require(num >= 0 && den > 0 && limit >= 1, s"bad num=$num/den=$den/limit=$limit")
    // CHECKPOINTED, unlike the single-consumer nearestRankBounds lazy
    // convention: the histogram feeds the median machinery, the derived
    // deviation histogram, and (via their broadcasts) the final filter —
    // materializing the cardinality-sized relation pins the one corpus
    // scan and keeps every downstream subtree metadata-sized
    val hist = df
      .filter(col(metricCol).isNotNull)
      .groupBy(col(metricCol).cast("long").as("__v"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    // the two scalar bounds are ONE-ROW relations each consumed by two
    // broadcasts — checkpointing them makes each rank computation run
    // exactly once instead of re-planning per broadcast (measured: the
    // duplicate subtree evaluations, not the data, were q113's cost)
    val med = nearestRankBoundsFromHist(hist, Seq(50))
      .select(col("bound_0").cast("long").as("median"))
      .localCheckpoint()
    val devHist = hist
      .crossJoin(broadcast(med))
      .groupBy(abs(col("__v") - col("median")).as("__v"))
      .agg(sum(col("__c")).as("__c"))
    val madRel = nearestRankBoundsFromHist(devHist, Seq(50))
      .select(col("bound_0").cast("long").as("mad"))
    df
      .filter(col(metricCol).isNotNull)
      .crossJoin(broadcast(med))
      .withColumn("dev", abs(col(metricCol).cast("long") - col("median")))
      .crossJoin(broadcast(madRel))
      .filter(col("dev") * den > col("mad") * num)
      .select(col(idCol).as("id"), col(metricCol).cast("long").as("metric"),
        col("median"), col("dev"), col("mad"))
      .orderBy(col("dev").desc, col("id").asc)
      .limit(limit)
  }

  /** EQUI-DEPTH histogram of an integer metric: `nBuckets` buckets of
    * near-equal row count, cut at the nearest-rank percentile bounds —
    * the distribution summary ("what does the token-length distribution
    * look like") that an equi-WIDTH histogram gets wrong on skewed
    * corpus metrics, where one bin holds 99% of rows. Bucket t of row r
    * = how many cut bounds lie strictly below r's metric (the same
    * integer-exact rule [[graft.ops.SampleOps.tieredMix]] uses, via the
    * shared [[nearestRankBounds]] — a ulp-flipped boundary would move
    * rows between buckets, so no interpolated doubles anywhere).
    * Returns (bucket, n_rows, min_metric, max_metric), all BIGINT.
    *
    * Scale shape: one bounded distinct-value histogram pass for the
    * bounds (broadcast back as one row), one map-side-combined group-by
    * over the corpus — the same two-pass shape as the percentile clip. */
  def equiDepthHistogram(df: DataFrame, metricCol: String, nBuckets: Int): DataFrame = {
    require(nBuckets >= 2 && 100 % nBuckets == 0,
      s"nBuckets must be >= 2 and divide 100 (integer-percent cuts): $nBuckets")
    val cuts = (1 until nBuckets).map(i => i * 100 / nBuckets)
    val bounds = nearestRankBounds(df, metricCol, cuts)
    val bucket = cuts.indices
      .map(i => when(col(metricCol) > col(s"bound_$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    df.filter(col(metricCol).isNotNull)
      .crossJoin(broadcast(bounds))
      .withColumn("bucket", bucket)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min(col(metricCol)).cast("long").as("min_metric"),
        max(col(metricCol)).cast("long").as("max_metric"))
      .orderBy("bucket")
  }

  /** PER-GROUP nearest-rank percentile CALIBRATION table: for every
    * group (source shard, language, crawl dump) the metric values at the
    * requested percentile cuts — the table that makes one quality
    * threshold comparable ACROSS shards (FineWeb-style per-dump
    * calibration: "p90 length" means a different absolute value in every
    * dump, and filtering all dumps at one absolute number over- or
    * under-prunes). Same nearest-rank rank-⌈p·n/100⌉ convention as
    * [[nearestRankBounds]], so a per-group cut and the global clip rule
    * cannot drift.
    *
    * Shape: one corpus scan → (group, value) histogram (map-side
    * combined; bounded by group × metric cardinality, not corpus size) →
    * per-GROUP cumulative window — partitioned by group, so the r8
    * single-task hazard does not apply; the documented assumption is
    * METRIC-CARDINALITY-BOUNDED metrics (lengths, scores — thousands of
    * distinct values per group, the same assumption the global
    * histogram path makes about its value axis). Cut ranks join the
    * group-total relation (one row per group) and the answer is a
    * min-over-qualifying-values aggregate — no per-row work after the
    * histogram. */
  def groupedPercentiles(
      df: DataFrame, groupCol: String, metricCol: String,
      percents: Seq[Int]): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      s"percents must be in [1, 100]: $percents")
    require(percents == percents.sorted && percents.distinct == percents,
      s"percents must be strictly increasing: $percents")
    val hist = df.filter(col(metricCol).isNotNull)
      .groupBy(col(groupCol).as("g"), col(metricCol).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("g")).orderBy(col("v"))
    val cum = hist.select(col("g"), col("v"), sum(col("c")).over(w).as("cum"))
    val cuts = hist.groupBy("g").agg(sum(col("c")).as("n"))
      .select(col("g"), col("n"), explode(array(percents.map(lit(_)): _*)).as("pct"))
      .withColumn("rk", expr("(pct * n + 99) div 100"))
    cuts.join(cum, Seq("g"))
      .filter(col("cum") >= col("rk"))
      .groupBy(col("g"), col("pct").cast("long").as("pct"), col("n"))
      .agg(min(col("v")).as("cut_value"))
      .select(col("g").as(groupCol), col("pct"), col("cut_value"),
        col("n").as("n_group"))
      .orderBy(col(groupCol), col("pct"))
  }

  /** Distributed moment statistics (count/mean/variance/stddev) per group,
    * DETERMINISTIC under any partitioning: the naive `stddev` aggregate
    * folds doubles in partition order (nondeterministic at 1000 executors);
    * here the two moments accumulate as EXACT decimals (associative), and
    * doubles enter only in the final per-group scalar formula — identical
    * IEEE expression on both engine and oracle sides. */
  def momentStats(events: DataFrame, typeCol: String, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("decimal(18,6)")
    events
      .filter(col(valueCol).isNotNull)
      .groupBy(col(typeCol).as("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(v).as("__s"),
        sum((v * v).cast("decimal(38,12)")).as("__s2"))
      .select(
        col("event_type"), col("n"),
        round(col("__s").cast("double") / col("n"), 6).as("mean"),
        // Clamp at 0: for a near-constant group the double expression can go
        // slightly negative, and sqrt would yield NaN — which breaks any
        // equality-based comparison (NaN != NaN). Same clamp oracle-side.
        round(greatest(lit(0d), (col("__s2").cast("double")
          - col("__s").cast("double") * col("__s").cast("double") / col("n")) / col("n")), 6)
          .as("variance"),
        round(sqrt(greatest(lit(0d), (col("__s2").cast("double")
          - col("__s").cast("double") * col("__s").cast("double") / col("n")) / col("n"))), 6)
          .as("stddev"))
      .orderBy("event_type")
  }

  /** U2 set-ops surface: customers who placed BOTH a finished ('F') and an
    * open ('O') order (INTERSECT), excluding anyone with an urgent order
    * (EXCEPT). Spark plans INTERSECT/EXCEPT as left-semi/left-anti
    * aggregate joins — the distributed shape is the same one the join
    * family uses. */
  def statusSetCustomers(orders: DataFrame): DataFrame = {
    def custs(p: Column) = orders.filter(p).select(col("o_custkey"))
    custs(col("o_orderstatus") === "F")
      .intersect(custs(col("o_orderstatus") === "O"))
      .except(custs(col("o_orderpriority") === "1-URGENT"))
      .select(col("o_custkey").as("custkey"))
      .orderBy("custkey")
  }

  /** LEFT SEMI counterpart of [[inactiveCustomersByNation]]: customers WITH
    * at least one order after the cutoff, counted per nation. Semi join =
    * existence check without duplication — no distinct needed on the
    * orders side. */
  def activeCustomersByNation(
      customer: DataFrame, orders: DataFrame, nation: DataFrame,
      cutoff: String): DataFrame =
    customer
      .join(
        orders.filter(col("o_orderdate") >= lit(cutoff).cast("timestamp"))
          .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation_name"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy("nation_name")

  /** PEARSON CORRELATION of two integer columns, cross-engine exact up to
    * the one final double expression: the five moment sums accumulate as
    * exact DECIMAL(38,0) (associative — aggregation order cannot move
    * them), doubles appear only in the single final Pearson formula in a
    * pinned operation order (the [[momentStats]] contract), and zero
    * variance on either side yields NULL via an INTEGER-exact guard
    * (`count distinct < 2` — never a `den == 0.0` float test that could
    * differ by a ulp). Output: one row
    * (n_pairs, corr — 6 dp, null when undefined).
    *
    * 100 TB shape: one map-side-combinable five-sum aggregate; the
    * decimal(19)² products bound |x|, |y| < 10¹⁹ᐟ² per row and the
    * decimal(38,0) sums bound the corpus at ~10³⁸⁻²ˣ magnitudes —
    * recheck if a metric ever exceeds ~10¹² per row. */
  def integerCorrelation(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    def d19(c: Column): Column = c.cast("decimal(19,0)")
    val x = col(xCol).cast("long")
    val y = col(yCol).cast("long")
    val moments = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(x.cast("decimal(38,0)")).as("sx"),
        sum(y.cast("decimal(38,0)")).as("sy"),
        sum((d19(x) * d19(y)).cast("decimal(38,0)")).as("sxy"),
        sum((d19(x) * d19(x)).cast("decimal(38,0)")).as("sxx"),
        sum((d19(y) * d19(y)).cast("decimal(38,0)")).as("syy"),
        countDistinct(x).as("ndx"),
        countDistinct(y).as("ndy"))
    def dd(name: String): Column = col(name).cast("double")
    val n = col("n_pairs").cast("double")
    moments.select(col("n_pairs"),
      when(col("n_pairs") < 2 || col("ndx") < 2 || col("ndy") < 2,
        lit(null).cast("double"))
        .otherwise(round(
          (n * dd("sxy") - dd("sx") * dd("sy")) /
            (sqrt(n * dd("sxx") - dd("sx") * dd("sx")) *
              sqrt(n * dd("syy") - dd("sy") * dd("sy"))),
          6)).as("corr"))
  }

  /** CALIBRATED per-group clip report — the FineWeb per-dump move in one
    * operator: each group (source / dump / language) is clipped at its
    * OWN nearest-rank [pLo, pHi] metric percentiles
    * ([[groupedPercentiles]] — the same rank convention as the global
    * q58 clip, so the two paths cannot drift), and the report shows per
    * group what a shared-absolute-threshold filter would hide: the cuts
    * themselves plus the kept share. A group whose kept_ppm deviates
    * from (pHi − pLo + 1)% signals heavy metric ties at its cut values —
    * exactly the histogram-shape information a threshold tuner needs.
    *
    * Output per group: (lo_cut, hi_cut, n_docs, n_kept, kept_ppm),
    * ordered by group.
    *
    * 100 TB shape: cuts come from the per-group value histogram
    * (cardinality-sized, per-GROUP cumulative window); the recount is
    * ONE corpus scan against the broadcast (#groups × 2) cut table;
    * output is ≤ #groups rows. */
  def calibratedClip(
      df: DataFrame, groupCol: String, metricCol: String,
      pLo: Int, pHi: Int): DataFrame = {
    require(1 <= pLo && pLo < pHi && pHi <= 100, s"bad percent range [$pLo, $pHi]")
    val cuts = groupedPercentiles(df, groupCol, metricCol, Seq(pLo, pHi))
      .groupBy(col(groupCol).as("__g"))
      .agg(
        max(when(col("pct") === pLo, col("cut_value"))).as("lo_cut"),
        max(when(col("pct") === pHi, col("cut_value"))).as("hi_cut"))
    df.filter(col(metricCol).isNotNull)
      .select(col(groupCol).as("__g"), col(metricCol).cast("long").as("__v"))
      .join(broadcast(cuts), Seq("__g"))
      .groupBy(col("__g").as(groupCol))
      .agg(
        min(col("lo_cut")).as("lo_cut"), min(col("hi_cut")).as("hi_cut"),
        count(lit(1)).as("n_docs"),
        sum(when(col("__v").between(col("lo_cut"), col("hi_cut")), 1L)
          .otherwise(0L)).as("n_kept"))
      .withColumn("kept_ppm", expr("n_kept * 1000000 div n_docs"))
      .orderBy(groupCol)
  }

  /** Pairwise two-sample KOLMOGOROV–SMIRNOV distance between the per-group
    * distributions of an integer metric — the distribution-drift check a
    * curation pipeline runs between corpus shards/dumps before pooling them
    * under one quality threshold (the global sibling of the per-group
    * calibration table, q141: that op READS each group's quantiles, this op
    * SCORES how far each pair of groups is apart). For groups a < b,
    * `ks_ppm = max over v of |ECDF_a(v) − ECDF_b(v)|` in integer
    * parts-per-million — exact (truncating ×10⁶ rank division, no doubles),
    * so the statistic is engine-agreed bit for bit.
    *
    * Output: (group_a, group_b, n_a, n_b, ks_ppm), one row per unordered
    * group pair, ordered by (group_a, group_b).
    *
    * 100 TB shape: the corpus collapses to a per-(group, value) histogram
    * first (metric-cardinality × #groups rows, never corpus-sized). The
    * ECDF needs every group evaluated on the UNION value axis, so the
    * distinct value axis cross-joins the (tiny, broadcast) group totals and
    * left-joins the histogram; the cumulative window partitions BY GROUP
    * (bounded by metric cardinality — no unpartitioned window). The pair
    * stage self-joins on the value axis: |V| × G² rows where G = #groups
    * (sources/dumps — tens, not millions); the max-gap aggregate is
    * map-side combinable. */
  def ksPairwise(df: DataFrame, groupCol: String, metricCol: String): DataFrame = {
    val hist = df.filter(col(metricCol).isNotNull)
      .groupBy(col(groupCol).as("g"), col(metricCol).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
    val vals = hist.select("v").distinct()
    val totals = hist.groupBy("g").agg(sum(col("c")).as("n"))
    val ecdf = vals.crossJoin(broadcast(totals))
      .join(hist, Seq("g", "v"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("e_ppm", expr("(sum(c) OVER (PARTITION BY g ORDER BY v) * 1000000) div n"))
      .select(col("g"), col("v"), col("n"), col("e_ppm"))
    val a = ecdf.select(col("g").as("group_a"), col("v"),
      col("n").as("n_a"), col("e_ppm").as("ea"))
    val b = ecdf.select(col("g").as("group_b"), col("v"),
      col("n").as("n_b"), col("e_ppm").as("eb"))
    a.join(b, Seq("v"))
      .filter(col("group_a") < col("group_b"))
      .groupBy("group_a", "group_b", "n_a", "n_b")
      .agg(max(abs(col("ea") - col("eb"))).as("ks_ppm"))
      .orderBy("group_a", "group_b")
  }

  /** Top suppliers by revenue: supplier⋈lineitem with broadcast supplier dim
    * + nation name; global top-K → TakeOrderedAndProject. */
  def topSuppliers(lineitem: DataFrame, supplier: DataFrame, nation: DataFrame, k: Int): DataFrame =
    lineitem
      .groupBy("l_suppkey")
      .agg(sum(discountedE4(col("l_extendedprice"), col("l_discount"))).as("revenue_e4"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey").as("suppkey"), col("s_name").as("supplier_name"),
        col("n_name").as("nation_name"), col("revenue_e4"))
      .orderBy(col("revenue_e4").desc, col("suppkey").asc)
      .limit(k)
}
