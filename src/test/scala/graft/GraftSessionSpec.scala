package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[GraftSession]]'s settings: the ones `local` applies, and their order. */
class GraftSessionSpec extends AnyFunSuite {
  private val cacheKey = "spark.sql.codegen.cache.maxEntries"

  test("a caller's extraConfigs win over the engine's value for the same key") {
    val overrides = Map(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "7",
      cacheKey -> "500",
      "spark.sql.warehouse.dir" -> "/tmp/elsewhere")
    val applied = GraftSession.settings(4, overrides)
    // the builder keeps the last value it is given for a key
    assert(applied.toMap.filter { case (k, _) => overrides.contains(k) } == overrides)
  }

  test("the engine's own settings, without extraConfigs") {
    val applied = GraftSession.settings(4, Map.empty).toMap
    assert(applied("spark.sql.shuffle.partitions") == "4")
    assert(applied("spark.sql.adaptive.enabled") == "true")
    assert(applied(cacheKey) == GraftSession.CodegenCacheEntries.toString)
  }

  test("the shared test session runs with the engine's codegen cache size") {
    assert(TestSpark.spark.sparkContext.getConf.get(cacheKey) ==
      GraftSession.CodegenCacheEntries.toString)
  }
}
