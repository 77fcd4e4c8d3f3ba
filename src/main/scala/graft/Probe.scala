package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.io.Tables
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Dev profiling harness: `runMain graft.Probe <sfDir> <passes> <q1,q2,...>
  * [--plan <outDir>]` — runs the named catalog queries in ONE session
  * through [[Bench]]'s noop sink. Per query: an untimed warm-up, each timed
  * pass, the MIN (load noise is additive), and the last pass's job table;
  * then a `TOTAL` of the minima. Spark SQL is lazy, so the eager
  * `localCheckpoint`/`collect` jobs run while the DataFrame is built,
  * before its final plan exists: the table splits the **build** phase (the
  * query-function call) from the **action** phase (the noop write), each
  * with its driver time outside jobs. `--plan` writes the warm-up build's
  * formatted explain, before it executes, to `<outDir>/<query>.txt`, and
  * the initial physical plan of every SQL execution that build runs (its
  * eager `localCheckpoint`/`collect`s) to `<outDir>/<query>.build.txt`;
  * `passes = 0` writes plans only. Each job table carries the pass's
  * table-registry hits and misses and its codegen compiles and compile
  * seconds; the run ends with the registry's session totals (a miss is one
  * table resolution, i.e. one schema job), the session's codegen totals and
  * the JVM's metaspace in use. */
object Probe {

  /** Tags each job with its phase; jobs Spark submits from its own threads
    * (AQE query stages, broadcasts) capture the caller's properties. */
  private val PhaseKey = "graft.probe.phase"

  /** One Spark job of a profiled pass; `phase` is null for a job
    * submitted outside both phases. */
  final class Job(val id: Int, val phase: String, val startMs: Long, val desc: String) {
    var endMs: Long = startMs
    var tasks = 0
    var shuffleRead = 0L
    var shuffleWrite = 0L
    def seconds: Double = (endMs - startMs) / 1e3
  }

  final case class Phase(name: String, startMs: Long, endMs: Long, jobs: Seq[Job]) {
    def seconds: Double = (endMs - startMs) / 1e3

    /** Phase time, in ms ticks, during which none of its jobs ran. */
    def driverSeconds: Double =
      (startMs until endMs).count(t => !jobs.exists(j => j.startMs <= t && t < j.endMs)) / 1e3
  }

  /** One profiled pass; `jobs` is every job the listener saw during it,
    * `tableHits`/`tableMisses` its table-registry lookups
    * ([[Tables.registry]]), `compiles`/`compileSeconds` the classes Spark's
    * code generator compiled and the time it spent compiling them. The
    * codegen counters are JVM-wide, so the deltas are this pass's only
    * while nothing else runs queries. */
  final case class Pass(build: Phase, action: Phase, jobs: Seq[Job],
      tableHits: Long, tableMisses: Long, compiles: Long, compileSeconds: Double) {
    def seconds: Double = (action.endMs - build.startMs) / 1e3
  }

  private final class JobListener extends SparkListener {
    private val byId = mutable.LinkedHashMap.empty[Int, Job]
    private val stageToJob = mutable.Map.empty[Int, Int]

    def jobs: Seq[Job] = synchronized(byId.values.toSeq)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      // no description set: the final stage's call site, as Spark's UI shows
      val desc = prop("spark.job.description")
        .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name)).getOrElse("")
      byId(e.jobId) = new Job(e.jobId, prop(PhaseKey).orNull, e.time, desc)
      e.stageIds.foreach(stageToJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      byId.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (id <- stageToJob.get(e.stageId); j <- byId.get(id)) {
        j.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  /** Collects the SQL executions started while it is attached. */
  private final class SqlListener extends SparkListener {
    private val started = mutable.ArrayBuffer.empty[SparkListenerSQLExecutionStart]

    def executions: Seq[SparkListenerSQLExecutionStart] = synchronized(started.toSeq)

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized(started += s)
      case _ =>
    }
  }

  /** Builds catalog query `name` and writes its plans to `dir`: the final
    * formatted explain to `<name>.txt`, and the initial physical plan of
    * each SQL execution the build runs, in start order, to
    * `<name>.build.txt` (empty for a build that runs none). Returns the
    * built DataFrame. */
  def writePlans(spark: SparkSession, name: String, sfDir: String, dir: String): DataFrame = {
    val sc = spark.sparkContext
    val listener = new SqlListener
    GraftSqlBridge.drainListenerBus(sc) // no earlier event reaches the listener
    sc.addSparkListener(listener)
    val df =
      try {
        val built = SparkEntry.queries(name)(spark, sfDir)
        GraftSqlBridge.drainListenerBus(sc)
        built
      } finally sc.removeSparkListener(listener)
    val execs = listener.executions
    Files.writeString(Paths.get(dir, s"$name.txt"), df.queryExecution.explainString(FormattedMode))
    Files.writeString(Paths.get(dir, s"$name.build.txt"), execs.zipWithIndex.map { case (e, i) =>
      s"== build execution ${i + 1} of ${execs.size}: ${e.description} ==\n${e.physicalPlanDescription}\n"
    }.mkString("\n"))
    println(s"[probe] wrote $dir/$name.txt and $dir/$name.build.txt (${execs.size} build executions)")
    df
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Classes the JVM's code generator has compiled, and seconds spent. */
  private def codegen: (Long, Double) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e9)

  /** One pass of catalog query `name` (build, then the noop write) with a
    * job listener attached, split into its two phases. */
  def profile(spark: SparkSession, name: String, sfDir: String): Pass = {
    val sc = spark.sparkContext
    val listener = new JobListener
    sc.addSparkListener(listener)
    val reg = Tables.registry
    val (hits0, misses0) = (reg.hits, reg.misses)
    val (compiles0, compileSeconds0) = codegen
    try {
      sc.setLocalProperty(PhaseKey, "build")
      val t0 = System.currentTimeMillis()
      val df = SparkEntry.queries(name)(spark, sfDir)
      sc.setLocalProperty(PhaseKey, "action")
      val t1 = System.currentTimeMillis()
      noop(df)
      val t2 = System.currentTimeMillis()
      GraftSqlBridge.drainListenerBus(sc)
      val jobs = listener.jobs
      val (compiles, compileSeconds) = codegen
      Pass(Phase("build", t0, t1, jobs.filter(_.phase == "build")),
        Phase("action", t1, t2, jobs.filter(_.phase == "action")), jobs,
        reg.hits - hits0, reg.misses - misses0,
        compiles - compiles0, compileSeconds - compileSeconds0)
    } finally {
      sc.setLocalProperty(PhaseKey, null)
      sc.removeSparkListener(listener)
    }
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"$msg\nusage: graft.Probe <sfDir> <passes> <q1,...> [--plan <outDir>]")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    // fail fast on bad usage BEFORE paying session startup
    val (sfDir, passArg, list, planDir) = args.toSeq match {
      case Seq(sf, p, qs) => (sf, p, qs, None)
      case Seq(sf, p, qs, "--plan", out) => (sf, p, qs, Some(out))
      case _ => usage("wrong arguments")
    }
    val passes = passArg.toIntOption.filter(_ >= 0)
      .getOrElse(usage(s"passes must be a non-negative integer: '$passArg'"))
    val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (names.isEmpty) usage("no queries named")
    if (unknown.nonEmpty) usage(s"unknown queries: ${unknown.mkString(", ")}")

    val spark = GraftSession.local(appName = "graft-probe")
    val (compiles0, compileSeconds0) = codegen
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    val minima = names.map { name =>
      val df = planDir.fold(SparkEntry.queries(name)(spark, sfDir))(writePlans(spark, name, sfDir, _))
      if (passes == 0) 0.0
      else {
        noop(df) // warm-up
        val runs = (1 to passes).map { i =>
          val p = profile(spark, name, sfDir)
          println(f"[probe] $name pass $i: ${p.seconds}%.3f s  " +
            f"(build ${p.build.seconds}%.3f s, action ${p.action.seconds}%.3f s)  compiles=${p.compiles}")
          p
        }
        val (last, min) = (runs.last, runs.map(_.seconds).min)
        println(f"[probe] $name min: $min%.3f s")
        println(s"[probe] $name last pass: jobs=${last.jobs.size} (build ${last.build.jobs.size}, " +
          s"action ${last.action.jobs.size}, untagged ${last.jobs.count(_.phase == null)})  " +
          s"table registry: hits=${last.tableHits} misses=${last.tableMisses}  " +
          f"codegen compiles=${last.compiles} compile_s=${last.compileSeconds}%.3f")
        Seq(last.build, last.action).foreach { ph =>
          println(f"[probe]   ${ph.name}%-6s ${ph.seconds}%7.3f s  jobs=${ph.jobs.size}%3d  " +
            f"jobSum=${ph.jobs.map(_.seconds).sum}%.3f s  driver outside jobs=${ph.driverSeconds}%.3f s")
          ph.jobs.foreach { j =>
            println(f"[probe]     job ${j.id}%4d ${j.seconds}%7.3f s  tasks=${j.tasks}%4d  " +
              f"shufR=${j.shuffleRead / 1024}%8dK shufW=${j.shuffleWrite / 1024}%8dK  ${j.desc.take(80)}")
          }
        }
        min
      }
    }
    if (passes > 0) println(f"[probe] TOTAL ${minima.sum}%8.3f s over ${names.length} queries")
    val reg = Tables.registry
    println(s"[probe] table registry: entries=${reg.size} hits=${reg.hits} misses=${reg.misses}")
    val (compiles, compileSeconds) = codegen
    val metaspace = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(_.getName == "Metaspace").fold(0L)(_.getUsage.getUsed)
    println(f"[probe] codegen: compiles=${compiles - compiles0} " +
      f"compile_s=${compileSeconds - compileSeconds0}%.3f  metaspace=${metaspace / 1048576.0}%.1f MB")
    spark.stop()
  }
}
