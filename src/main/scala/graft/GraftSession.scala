package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended local-mode settings.
  *
  * Design notes for cluster scale (the library itself is deployment-agnostic;
  * only this helper pins local-mode values):
  *   - shuffle partitions sized to cores locally; on a real cluster AQE
  *     coalesces post-shuffle partitions so an over-provisioned static value
  *     is safe.
  *   - AQE on: runtime re-planning (skew-join splitting, dynamic coalesce,
  *     broadcast-join demotion/promotion) is the main lever at 100 TB.
  */
object GraftSession {
  /** Generated classes Spark's codegen cache keeps. The default, 100, is
    * far below the engine's working set, so every pass recompiled what the
    * pass before had compiled: distinct generated sources measured 74 for
    * one posts pipeline pass (about 100 compiles per pass at the default,
    * 0 from the second pass on at this size), 208 for three catalog
    * queries, ~3,100 for the full catalog at sf0.01. Holding them costs
    * metaspace: after two full-catalog passes a session measured 194 MB
    * at the default and 215 MB at this size (sf0.01, 4 cores).
    * `spark.sql.codegen.cache.maxEntries` is a static
    * conf, and the cache is one per JVM: the session that first generates
    * code fixes its size, and later sessions cannot change it. */
  val CodegenCacheEntries = 4096

  /** The settings [[local]] applies, in order: the engine's, then the
    * caller's `extraConfigs`, so a caller's value for a key the engine also
    * sets takes effect. */
  def settings(cores: Int, extraConfigs: Map[String, String]): Seq[(String, String)] =
    Seq(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      // ADVISORY POST-SHUFFLE PARTITION SIZE (r13, measured): with
      // parallelism-first off (deliberate: r13 measured `true` fanning
      // sub-MB stages into extra tasks whose scheduling overhead cost the
      // sub-second catalog queries ~15% — median ratio 1.15, total 203.9 s
      // → 224.0 s) the advisory size is the ONE knob that decides how much
      // of the machine a post-shuffle stage uses. The Spark default 64 MB
      // coalesced every 1-12 MB intermediate to ONE task, serializing the
      // engine's compute-heavy post-shuffle stages (pair generation,
      // cosine kernels, verify joins) onto a single core while 31 idled —
      // JobProfile showed q123's two verify stages at 1.6 s/task each.
      // This is a SCALE-DEPENDENT setting, so it is parameterised
      // (SPARK_GRAFT_ADVISORY_MB): the local default matches the sandbox's
      // compute-per-byte shape (catalog stages are pair-explosion kernels
      // over small shuffled bytes, so partitions must be small enough that
      // a stage's CPU work spreads across cores); production inputs are
      // GB-TB per stage where the guide's 100-256 MB advisory keeps
      // shuffle blocks large — set the env accordingly on a cluster.
      // The env value is a plain integer MB count — validated here so a
      // natural-but-wrong "64m" fails with a clear message at session
      // build instead of Spark's opaque "64mm" config parse error
      // (r13 ADVICE).
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> {
        val v = sys.env.getOrElse("SPARK_GRAFT_ADVISORY_MB", "2").trim
        require(v.nonEmpty && v.forall(_.isDigit),
          s"SPARK_GRAFT_ADVISORY_MB must be a plain integer MB count " +
            s"(e.g. 2, not 2m): got '$v'")
        v + "m"
      },
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      // events.ts may be INT64 TIMESTAMP(NANOS); read it as raw longs
      // (graft.io.Tables.events converts them), set once per session
      // rather than from inside a query
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
      "spark.ui.enabled" -> "false"
    ) ++ extraConfigs

  def local(
      cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      appName: String = "graft",
      extraConfigs: Map[String, String] = Map.empty): SparkSession = {
    val base = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
    val spark = settings(cores, extraConfigs)
      .foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // WindowExec warns "No Partition Defined" on every global window; the
    // engine's four are over bounded-domain relations (PlanSpec pins that
    // bound), so the warning carries no signal. It is off for ALL windows,
    // so a new global window logs nothing: give it its own bound in PlanSpec
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // graft SQL functions + the literal-rlike optimizer rule are part of
    // the engine's standard surface (idempotent registration)
    graft.sql.GraftFunctions.register(spark)
    spark
  }
}
