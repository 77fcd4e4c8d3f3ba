package graft.io

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}

import graft.ops.ArtifactCache

/** Parquet table loader over a scale-factor directory
  * (`/root/testdata/sf{N}/<name>.parquet` — see /root/repo/TESTDATA.md).
  *
  * Table registry: a session resolves each parquet table ONCE — the file
  * listing and the schema-inference job of `spark.read.parquet` — and
  * every later load hands out a fresh instance of that relation (new
  * attribute ids, so self-joins resolve), which runs no job. An entry is
  * keyed on the session, the table path, the session's explicitly set
  * parquet and file-split confs (`spark.sql.legacy.parquet.nanosAsLong`
  * among them), and the sorted listing of the table's data files (path,
  * length, mtime; `_`/`.` names skipped, as Spark skips them). Any append,
  * overwrite or compaction changes the listing, so the table re-resolves,
  * and the path's entries under older listings are dropped. The registry
  * holds plans and file indexes, never data blocks.
  *
  * Scale note: a fresh relation instance is the same plan node a plain
  * `spark.read.parquet` yields, so Catalyst's column pruning and predicate
  * pushdown stay intact — downstream `select`/`filter` reach the scan as
  * `ReadSchema`/`PushedFilters`. Never pre-`.cache()` here; callers decide
  * what is worth persisting.
  *
  * Scan parallelism: parquet splits at ROW-GROUP granularity, so a
  * single-row-group file scans as ONE partition no matter what
  * `maxPartitionBytes` says — and every per-row expression downstream runs
  * on one core. [[load]] therefore rebalances a scan whose split count is
  * below the session's core count (the local single-file case). On a real
  * multi-file/multi-row-group dataset the condition is false and no shuffle
  * is added; filters and pruning push through the `Repartition` node either
  * way. The split count is planned once per registry entry.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Tables whose consumers do heavy per-row compute (md5/shingling,
    * regex tagging, vector math). Only these are worth an extra exchange
    * when the scan has fewer splits than cores; relational tables are
    * cheaper to decode single-threaded than to re-shuffle (measured at
    * sf0.1: q12 0.23s raw vs 0.59s rebalanced). */
  private val computeHeavy = Set("documents", "embeddings")

  /** Test-only chaos hook: when `graft.test.repartition` is set to n > 0,
    * every table is hash-repartitioned on all of its columns into n
    * partitions right after the scan. Downstream results must be IDENTICAL
    * with or without it — that is the engine's distributed-determinism
    * contract (partial aggregation order, window ties, LSH bucket fills
    * and iteration schedules must not leak partitioning into values).
    * `CatalogDeterminismSpec` runs the whole catalog both ways. Never set
    * outside tests. */
  private val testRepartitionKey = "graft.test.repartition"

  /** One resolved parquet relation of the registry. */
  private[graft] final class Registered(resolved: DataFrame) {
    def rows: DataFrame = GraftSqlBridge.freshInstance(resolved)
    /** The scan's split count, planned on first use (no job). */
    lazy val splits: Int = rows.rdd.getNumPartitions
  }

  /** The session table registry; see the object doc. */
  private[graft] val registry = new ArtifactCache[Registered]

  /** Confs that change what resolving a relation yields: its inferred
    * schema (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`) or its
    * split count (`spark.sql.files.*`). */
  private val relationConfPrefixes =
    Seq("spark.sql.parquet.", "spark.sql.legacy.parquet.", "spark.sql.files.")

  /** The registry entry of the parquet table at `path` in `spark`,
    * resolved on a miss. A path that cannot be listed (missing, a glob)
    * is read plainly, so Spark reports it as it always has. */
  private[graft] def resolve(
      reg: ArtifactCache[Registered], spark: SparkSession, path: String): Registered = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val table = fs.makeQualified(root)
    val listing =
      try Some(dataFiles(fs, table))
      catch { case _: java.io.FileNotFoundException => None }
    listing.fold(new Registered(spark.read.parquet(path))) { files =>
      val confs = spark.conf.getAll.toSeq
        .filter { case (k, _) => relationConfPrefixes.exists(k.startsWith) }.sorted
      val name = table.toString
      reg.evict(spark) {
        case (`name`, _, older) => older != files
        case _ => false
      }
      reg.cached(spark, (name, confs, files))(new Registered(spark.read.parquet(path)))
    }
  }

  /** Sorted (path, length, mtime) of the data files under `table`,
    * skipping every `_`/`.` file or directory below it. Plain
    * `FileStatus` listings, not `listFiles`: a `LocatedFileStatus` loads
    * each local file's permissions, a shell call per file without the
    * native Hadoop library. */
  private def dataFiles(fs: FileSystem, table: Path): Seq[(String, Long, Long)] = {
    def walk(f: FileStatus): Seq[(String, Long, Long)] =
      if (f.isDirectory) fs.listStatus(f.getPath).toSeq
        .filterNot(c => c.getPath.getName.startsWith("_") || c.getPath.getName.startsWith("."))
        .flatMap(walk)
      else Seq((f.getPath.toString, f.getLen, f.getModificationTime))
    walk(fs.getFileStatus(table)).sorted
  }

  /** The parquet table at `path`, through the session table registry. */
  def parquet(spark: SparkSession, path: String): DataFrame = resolve(registry, spark, path).rows

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val table = resolve(registry, spark, s"$sfDir/$name.parquet")
    val df = table.rows
    val testParts = spark.conf.get(testRepartitionKey, "0").toInt
    if (testParts > 0)
      return df.repartition(testParts, df.columns.map(org.apache.spark.sql.functions.col): _*)
    val cores = spark.sparkContext.defaultParallelism
    if (computeHeavy.contains(name) && table.splits < cores)
      df.repartition(cores)
    else df
  }

  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")

  /** The events table's `ts` physical layout has varied across testdata
    * generations: INT64 TIMESTAMP(NANOS) (which Spark's µs TimestampType
    * cannot represent directly — read as raw long via the legacy conf and
    * integer-`div` truncated, never via double, which loses precision above
    * 2^53 ns) and plain parquet timestamp[us] without timezone (which Spark 4
    * infers as TIMESTAMP_NTZ). Adapt on the scanned type so both layouts
    * surface the same TimestampType `ts`; the session timezone is pinned to
    * UTC, so the NTZ→timestamp cast preserves wall-clock values — identical
    * to what the DuckDB oracle reads off the same file. */
  private def adaptTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case t => throw new IllegalStateException(s"unexpected events.ts type: $t")
    }
  }

  /** Reads INT64 TIMESTAMP(NANOS) as raw longs. [[graft.GraftSession]]
    * sets it; a session built elsewhere gets it on its first events read. */
  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private def readNanosAsLong(spark: SparkSession): Unit =
    if (!spark.conf.get(nanosAsLong, "false").equalsIgnoreCase("true"))
      spark.conf.set(nanosAsLong, "true")

  def events(spark: SparkSession, sfDir: String): DataFrame = {
    readNanosAsLong(spark)
    adaptTs(load(spark, sfDir, "events"))
  }
  /** Streaming view of an events-shaped parquet DIRECTORY: same
    * timestamp-layout handling as [[events]], via `readStream` (new files
    * appearing in the directory become new micro-batches). The directory
    * changes every batch, so its schema is a plain read, not a registry
    * entry. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    readNanosAsLong(spark)
    val schema = spark.read.parquet(dir).schema
    adaptTs(spark.readStream.schema(schema).parquet(dir))
  }

  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")

  /** Register every table as a temp view so the whole engine surface is
    * reachable from `spark.sql(...)`. `events` needs its nanos-timestamp
    * conversion, so it goes through its dedicated loader. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n =>
      val df = if (n == "events") events(spark, sfDir) else load(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }
}
