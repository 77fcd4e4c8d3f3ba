package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** One on-disk artifact a streaming ingest loop grows one micro-batch at a
  * time (the near-dup band keys and hash sets, the curation key set, the
  * span window index, the IVF lists, the IVF-PQ codes, the BM25 postings
  * and doc lengths), declared once as its directory, the sort columns a
  * fold orders rows by, and the inner partition columns every write keeps.
  *
  * Layout contract, shared by every artifact:
  *  - `dir` is hive-partitioned by micro-batch (`batch=<id>` subdirs). A
  *    seed corpus is written the same way at a negative id (e.g.
  *    `batch=-1`) so partition discovery stays consistent.
  *  - Each batch OVERWRITES its own partition ([[write]]): a retried
  *    micro-batch rewrites the same files instead of double-appending.
  *  - Each batch reads every partition EXCEPT its own ([[readExcept]]).
  *    That is what makes a replay idempotent: a micro-batch replayed
  *    after its partition was written (a crash between the parquet write
  *    and the streaming commit) sees the same artifact state as the
  *    original attempt, instead of screening its docs against their own
  *    appended keys.
  *  - Every `compactEvery` epochs the partitions fold into one
  *    ([[fold]]), always before the batch's first artifact read.
  *    [[BatchArtifact.step]] runs the folds, then pins the micro-batch,
  *    then the batch body.
  */
private[graft] final case class BatchArtifact(
    dir: String, sortCols: Seq[String], partitionBy: Seq[String] = Nil) {
  import BatchArtifact._

  /** The replay-safe read: every partition except `batchId`'s own. */
  def readExcept(spark: SparkSession, batchId: Long): DataFrame =
    spark.read.parquet(dir).filter(col("batch") =!= batchId)

  /** Overwrite `batchId`'s own partition, keeping the inner partitioning. */
  def write(df: DataFrame, batchId: Long): Unit =
    Sinks.writeParquet(df, partitionPath(dir, batchId), partitionBy)

  /** EVERY-N-EPOCHS FOLD: partition discovery and file listing grow
    * linearly with stream age even though the key multiset stays
    * distinct, so at every `every`-th batch (a no-op when `every <= 0`)
    * every partition EXCEPT the current batch's own is folded into one
    * fresh epoch partition of [[FoldFiles]] files sorted on `sortCols`,
    * and the folded ones are retired. Run at the TOP of a batch body,
    * before its artifact reads: `foreachBatch` bodies are serial, so
    * there is no concurrent reader to cut over. The fold only
    * reorganizes rows, so the batch's verdicts and appended content are
    * bit-identical before and after (spec-pinned).
    *
    * Crash safety, step by step (a replayed batch B re-runs ALL of
    * this):
    *  1. the epoch is STAGED under a dot-prefixed temp dir — invisible
    *     to partition discovery — and atomically renamed to
    *     `batch=<epochId>`; a crash mid-stage leaves only the invisible
    *     temp, which the replay deletes and rebuilds;
    *  2. a replay that finds `batch=<epochId>` already present skips
    *     the rewrite (the fold is a pure function of the pre-B
    *     partitions, which the exclusion read pins) and resumes at the
    *     retire step — a crash mid-retire just finishes the deletes;
    *  3. `batch=<B>` itself is never folded and never retired, so the
    *     replay-safety contract above is preserved verbatim.
    * Rename-as-commit assumes an atomic-rename filesystem (local/HDFS);
    * object stores need a manifest-pointer commit instead — documented
    * boundary, same class as the sinks' direct-write contract. */
  def fold(spark: SparkSession, batchId: Long, every: Int): Unit = {
    if (every <= 0 || batchId <= 0 || batchId % every != 0) return
    val base = new Path(dir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return
    val epoch = epochId(batchId)
    val epochPath = new Path(partitionPath(dir, epoch))
    val tmp = new Path(base, s".compact_tmp_$batchId")
    if (!fs.exists(epochPath)) {
      if (fs.exists(tmp)) fs.delete(tmp, true) // crashed mid-stage: rebuild
      compact(readExcept(spark, batchId), tmp.toString, epoch, FoldFiles,
        sortCols, partitionBy)
      val staged = new Path(partitionPath(tmp.toString, epoch))
      require(fs.rename(staged, epochPath),
        s"compaction commit rename failed: $staged -> $epochPath")
    }
    // Delete the staging dir UNCONDITIONALLY: a crash after the
    // rename-commit — or a replay taking the epoch-exists skip branch
    // above — would otherwise leave the dot-prefixed temp on disk forever
    // (invisible to partition discovery, but garbage per crashed
    // compaction).
    if (fs.exists(tmp)) fs.delete(tmp, true)
    // retire the folded partitions; idempotent on replay (see above)
    fs.listStatus(base).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("batch=")) {
        // a non-numeric partition name (a hive null partition, a stray
        // dir) is not ours to retire: skip it rather than failing the
        // whole stream on a bare NumberFormatException
        scala.util.Try(name.substring("batch=".length).toLong).toOption
          .foreach { id =>
            if (id != epoch && id != batchId) fs.delete(st.getPath, true)
          }
      }
    }
  }
}

private[graft] object BatchArtifact {

  /** Files per folded epoch. */
  private val FoldFiles = 4

  /** The reserved epoch partition id a fold at `batchId` writes:
    * negative (like the `batch=-1` seed, so it can never collide with a
    * real micro-batch id) and unique per folding batch (so a replay of
    * batch B can tell ITS epoch from an older one). */
  private def epochId(batchId: Long): Long = -batchId - 2

  private def partitionPath(dir: String, id: Long): String = s"$dir/batch=$id"

  /** One ingest micro-batch over its artifacts: fold each of them (before
    * any artifact read), pin the micro-batch once — it feeds the screen
    * and the batch's own appends, so it is not recomputed per consumer —
    * then run `body` on the pinned batch. */
  def step[A](batch: DataFrame, batchId: Long, compactEvery: Int,
      artifacts: BatchArtifact*)(body: DataFrame => A): A = {
    artifacts.foreach(_.fold(batch.sparkSession, batchId, compactEvery))
    body(batch.localCheckpoint())
  }

  /** Rewrite `src` (`batch`-partitioned rows) as the single epoch
    * partition `dstDir/batch=<epochId>`: `numFiles` range-partitioned
    * files sorted on `sortCols` within each file, keeping the inner
    * `partitionBy` layout. `dstDir/batch=<epochId>` must not exist. */
  private[io] def compact(
      src: DataFrame, dstDir: String, epochId: Long,
      numFiles: Int, sortCols: Seq[String],
      partitionBy: Seq[String]): Unit = {
    require(numFiles >= 1, s"numFiles must be >= 1: $numFiles")
    require(sortCols.nonEmpty, "compaction needs at least one sort column")
    val cols = sortCols.map(col)
    val df = src.drop("batch")
      .repartitionByRange(numFiles, cols: _*)
      .sortWithinPartitions(cols: _*)
    val w = df.write.mode("errorifexists")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(partitionPath(dstDir, epochId))
  }
}
