package graft.io

import org.apache.spark.sql.DataFrame

/** Sinks (reference S3/S4): cache + report exports.
  *
  * The engine's cache format is Parquet (columnar, splittable, typed) —
  * the reference's CSV cache (`main.py:1080`) is kept only as a
  * human-readable report option. Single-file CSV uses coalesce(1), which
  * serializes the final write through one task: acceptable for top-K
  * report outputs (tiny), never for data exports — partitioned variants
  * exist for those.
  */
object Sinks {

  /** Parquet cache/export, optionally hive-partitioned by columns (e.g.
    * month of the timestamp) so later scans partition-prune. */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Bucketed + sorted managed table: co-locates join keys at WRITE time so
    * later equi-joins/aggregations on `key` between tables with the same
    * bucket count need NO shuffle (the 100 TB answer to repeated joins on
    * the same key — pay the exchange once, reuse it every query). */
  def writeBucketed(df: DataFrame, table: String, key: String, nBuckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Small report as ONE headered CSV file (reference `main.py:922,950`). */
  def writeReportCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  /** Distributed headered CSV export (one file per partition). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** COMPACT a hive `batch=<id>`-partitioned artifact directory (the
    * [[BatchArtifact]] layout the streaming ingest loops grow one small
    * partition per micro-batch) into a single `batch=<epochId>` epoch
    * under a NEW directory: the maintenance job that keeps an
    * always-appending index readable. Thousands of per-batch files
    * become `numFiles` range-partitioned files sorted on `sortCols`
    * within each file, so every row group carries tight min/max stats on
    * the probe keys and the per-screen scan does metadata-sized file
    * listing again.
    *
    * Contract: `dstDir` is fresh (never compact in place — readers of
    * `srcDir` stay consistent while the epoch is written; cut readers
    * over to `dstDir` after this returns, then retire `srcDir`; the
    * in-place fold with that cut-over built in is [[BatchArtifact.fold]]).
    * The rewrite only reorganizes rows — same schema minus the consumed
    * `batch` column re-emitted as the single epoch partition — so any
    * consumer joining the artifact gets bit-identical results before and
    * after (spec-pinned for the near-dup screen). `partitionBy` preserves
    * an inner layout (e.g. the IVF lists' `cid` partitioning) inside the
    * epoch. */
  def compactBatches(
      spark: org.apache.spark.sql.SparkSession,
      srcDir: String, dstDir: String, epochId: Long,
      numFiles: Int, sortCols: Seq[String],
      partitionBy: Seq[String] = Nil): Unit =
    BatchArtifact.compact(spark.read.parquet(srcDir), dstDir, epochId,
      numFiles, sortCols, partitionBy)

  /** JDBC write-back — the sink half of the S1 source (the engine could
    * read a database but not publish results back to one). Each write
    * partition opens its own connection and inserts in `batchSize`-row
    * batches; `numPartitions` caps concurrent connections (the writer
    * coalesces to it), which is the knob that keeps a 1000-executor job
    * from opening 1000 sessions against one database. `overwrite`
    * recreates the table (report-publishing); `append` adds rows
    * (incremental fact loads). */
  def writeJdbc(
      df: DataFrame, url: String, table: String,
      mode: String = "append", user: String = "", password: String = "",
      numPartitions: Int = 8, batchSize: Int = 1000): Unit = {
    val w = df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("numPartitions", numPartitions.toString)
      .option("batchsize", batchSize.toString)
    val authed =
      if (user.nonEmpty) w.option("user", user).option("password", password) else w
    authed.mode(mode).save()
  }
}
