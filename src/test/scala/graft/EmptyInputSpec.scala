package graft

import org.scalatest.funsuite.AnyFunSuite

/** Empty-input robustness over the WHOLE declared catalog.
  *
  * A 100 TB pipeline hits empty inputs constantly — a filter that matches
  * nothing, a date window with no data, a tenant with no rows. Every
  * declared query must return an EMPTY, schema-stable result on empty
  * tables, never throw. The classic traps this guards: aggregate-derived
  * bounds going null (resample's min/max calendar), seed selection from an
  * empty corpus (k-means), convergence checks on null aggregates
  * (connected components), and windows/percentiles over zero groups.
  */
class EmptyInputSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark

  private lazy val emptyDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty").toString
    graft.io.Tables.names.foreach { n =>
      spark.read.parquet(s"$sf/$n.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
    dir
  }

  // Queries whose SQL semantics yield rows even from empty inputs, with
  // the row count their DuckDB oracle produces on empty tables (verified
  // directly): global aggregates return one zero-row; the keyword
  // breakdown is driven by the 15-entry taxonomy dim, not the fact side.
  private val nonEmptyOnEmpty = Map(
    "q05_keyword_breakdown" -> 15L,
    "q20_dedup_stats" -> 1L,
    "q29_token_stats" -> 1L,
    // the funnels are ungrouped aggregates unioned: one zero-row per stage
    "q71_curation_funnel" -> 5L,
    "q96_curation_funnel_neardup" -> 6L,
    "q75_conversion_funnel" -> 3L,
    // vocab coverage is a cross join of two ungrouped aggregates: one
    // all-zeros row (coverage_ratio 0.0 by the CASE) on both sides
    "q81_vocab_coverage" -> 1L,
    // the table profile is one ungrouped aggregate exploded to a row per
    // profiled column: empty input still describes all 5 columns
    "q87_table_profile" -> 5L,
    // perceptron weights start as a dim-row zero relation; an empty
    // corpus trains nothing and returns all 64 zeros
    "q99_perceptron_train" -> 64L,
    // zipf slope is one ungrouped stats row (n_terms 0, null slope) on
    // both engines
    "q137_zipf_slope" -> 1L,
    // the mix plan is driven by the 5-entry literal weight relation:
    // an empty corpus reports zero availability + full deficit per
    // weight — the op's loud-missing-source contract working as designed
    "q148_mix_plan" -> 5L,
    // dwell is a cross join of two ungrouped aggregates: one row with
    // n_users 0 and null bounds (the oracle's FROM-less scalar
    // subqueries also yield exactly one row)
    "q158_funnel_dwell" -> 1L,
    // the eval is driven by the 3-entry literal query relation: an empty
    // corpus reports all-zero metrics per query
    "q164_retrieval_eval" -> 3L,
    // same literal query relation: all-zero nDCG rows per query
    "q176_ndcg" -> 3L,
    // join integrity is one row of ungrouped counts: zeros with null
    // orphan ppms (0-key division) on both engines
    "q166_join_integrity" -> 1L,
    // correlation is one ungrouped moments row: n_pairs 0 with the null
    // corr the variance guard produces on both engines
    "q170_signal_correlation" -> 1L,
    // the span ladder reports every rung (all-zero rows) on both engines
    "q171_dup_span_profile" -> 7L,
    // correlation-shaped one-row aggregates (the q170 convention):
    // n_pairs 0 with the null the zero-variance guard produces
    "q181_lexical_embedding_agreement" -> 1L,
    "q182_degree_assortativity" -> 1L,
    // anisotropy is ungrouped aggregates cross-joined: one row with
    // n_vecs 0 (Scala coerces, the mirror COALESCEs its MAX(n) — without
    // that the engines would disagree 0 vs NULL here) and null
    // scatter/share on both engines
    "q183_embedding_anisotropy" -> 1L)

  test("every declared query matches its oracle's empty-input semantics, never throws") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      try {
        val n = q(spark, emptyDir).count()
        val want = nonEmptyOnEmpty.getOrElse(name, 0L)
        if (n == want) None
        else Some(s"$name: produced $n rows from empty inputs, oracle produces $want")
      } catch {
        case e: Throwable => Some(s"$name: threw ${e.getClass.getSimpleName}: ${
          Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
      }
    }
    assert(failures.isEmpty, s"empty-input failures:\n  ${failures.mkString("\n  ")}")
  }
}
