package graft

import graft.sql.GraftFunctions
import org.scalatest.funsuite.AnyFunSuite

/** The spark.sql(...) surface: registered tables + custom functions. */
class SqlSurfaceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("custom functions are callable from SQL") {
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq((1L, "alpha beta gamma alpha beta the 42"))
      .toDF("id", "text").createOrReplaceTempView("sql_surface_docs")

    val sh = spark.sql(
      "SELECT shingle_explode(text, 2) AS s FROM sql_surface_docs")
      .collect().map(_.getString(0)).toSet
    assert(sh == Set("alpha beta", "beta gamma", "gamma alpha", "beta the", "the 42"))

    val toks = spark.sql(
      "SELECT token_explode(text, 2, 'the,a') AS t FROM sql_surface_docs")
      .collect().map(_.getString(0)).toList
    assert(toks == List("alpha", "beta", "gamma", "alpha", "beta")) // stopword + digits dropped

    val tags = spark.sql(
      "SELECT multi_keyword_tags(text, 'Greek:beta,delta;Latin:qq') AS g FROM sql_surface_docs")
      .collect().map(_.getSeq[String](0).toList)
    assert(tags.head == List("Greek"))

    val utoks = spark.sql(
      "SELECT unicode_token_explode(text, 3, 'the') AS t FROM sql_surface_docs")
      .collect().map(_.getString(0)).toList
    assert(utoks == List("alpha", "beta", "gamma", "alpha", "beta"))

    Seq((Array(1f, 0f), Array(1f, 0f), Array("a", "b"), Array("b", "c")))
      .toDF("v1", "v2", "s1", "s2").createOrReplaceTempView("sql_surface_vecs")
    val cos = spark.sql(
      "SELECT round(cosine_similarity(v1, v2), 6) AS c, jaccard_similarity(s1, s2) AS j " +
        "FROM sql_surface_vecs").collect().head
    assert(cos.getDouble(0) == 1.0)
    assert(math.abs(cos.getDouble(1) - 1.0 / 3.0) < 1e-12)

    val l2 = spark.sql(
      "SELECT l2_squared(v1, array(0.0D, 2.0D)) AS d FROM sql_surface_vecs")
      .collect().head.getDouble(0)
    assert(l2 == 5.0) // (1-0)^2 + (0-2)^2

    val ngrams = spark.sql(
      "SELECT ngram_explode(text, 2) AS g FROM sql_surface_docs")
      .collect().map(_.getString(0))
    assert(ngrams.length > 0 && ngrams.forall(_.split(" ").length == 2))

    val segs = spark.sql(
      "SELECT segment_explode(text, 3) AS (i, s, n) FROM sql_surface_docs")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toList
    assert(segs == List((0, "alpha beta gamma", 3), (1, "alpha beta the", 3), (2, "42", 1)))

    val pairs = spark.sql(
      "SELECT pairs_explode(array(3L, 1L, 2L)) AS (a, b)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)), "sorted ordered pairs")

    val chunks = spark.sql(
      "SELECT chunk_explode('t0 t1 t2 t3 t4', 3, 2) AS (i, n, c)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toList
    // start 4 would be the duplicate suffix [4,5) inside [2,5) — skipped
    assert(chunks == List((0L, 3L, "t0 t1 t2"), (1L, 3L, "t2 t3 t4")))
  }

  test("a non-string argument to a text generator fails analysis") {
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq((1L, "alpha beta")).toDF("id", "text").createOrReplaceTempView("sql_surface_typed")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT shingle_explode(id, 2) AS s FROM sql_surface_typed").collect()
    }
    assert(e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
  }

  test("literal-alternation rlike rewrites to one Aho-Corasick pass") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // parquet-backed input: a local relation would be constant-folded away
    // by ConvertToLocalRelation before the plan could be inspected
    val df = graft.io.Tables.documents(spark, "/root/testdata/sf0.001")
    val q = df.filter($"text".rlike("(join|merge)"))
    val optimized = q.queryExecution.optimizedPlan.toString.toLowerCase
    assert(optimized.contains("multikeywordtags"), s"rule did not fire:\n$optimized")
    val viaRegexCount = df.filter(
      $"text".isNotNull && ($"text".contains("join") || $"text".contains("merge"))).count()
    assert(q.count() == viaRegexCount)
    // general regex (quantifier) -> untouched
    val general = df.filter($"text".rlike("(jo+in|mer.e)"))
    assert(general.queryExecution.optimizedPlan.toString.contains("RLIKE"))

    // parser helpers: escaped specials unescape, general regex rejected
    assert(graft.sql.LiteralRlikeRule.literalAlternation("(a\\.b|c)") == Some(Seq("a.b", "c")))
    assert(graft.sql.LiteralRlikeRule.literalAlternation("(a|b*)").isEmpty)
    assert(graft.sql.LiteralRlikeRule.literalAlternation("(a|)").isEmpty)
    assert(graft.sql.LiteralRlikeRule.literalAlternation("a|b").isEmpty)
    assert(graft.sql.LiteralRlikeRule.literalAlternation("(\\d|x)").isEmpty)
  }

  test("registerAll makes every engine table reachable from SQL") {
    graft.io.Tables.registerAll(spark, "/root/testdata/sf0.001")
    assert(spark.sql("SELECT COUNT(*) FROM documents").collect().head.getLong(0) > 0)
    assert(spark.sql(
      "SELECT l_returnflag, SUM(l_quantity) FROM lineitem GROUP BY 1").collect().nonEmpty)
  }
}
