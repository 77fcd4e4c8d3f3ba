package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // fail fast on bad usage BEFORE paying session startup
    if (args.length < 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [query]...")
      sys.exit(2)
    }
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing args: run only the named queries (local iteration;
    // the driver always runs the full catalog)
    val only = args.drop(2).toSet
    val spark = GraftSession.local(appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    // a failing query is recorded and the rest still run (every query
    // that does run is dumped); fatal errors propagate
    val failed = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
