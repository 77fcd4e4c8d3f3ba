package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** [[Probe.profile]]'s build/action split on real catalog queries. */
class ProbeSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark

  /** Jobs Spark submits from its own threads (AQE query stages,
    * broadcasts) carry the submitting thread's captured properties. */
  private def fromOtherThread(j: Probe.Job) = j.desc.contains("withThreadLocalCaptured")

  test("q121_kcore: eager checkpoints are build-phase jobs; every job is in one phase") {
    val p = Probe.profile(spark, "q121_kcore", sf)
    assert(p.build.jobs.nonEmpty)
    assert(p.build.jobs.exists(_.desc.startsWith("localCheckpoint")))
    assert(p.action.jobs.nonEmpty)
    // both phases include jobs submitted from other threads, and none is lost
    assert(p.build.jobs.exists(fromOtherThread) && p.action.jobs.exists(fromOtherThread))
    assert(p.build.jobs.size + p.action.jobs.size == p.jobs.size)
  }

  test("q01_industry_counts (lazy: parquet read, tag, explode, group) builds with no job once warm") {
    // the session table registry resolves documents (its schema job) at
    // most once; a warm build hands out a fresh relation instance, and a
    // lazy query function runs nothing until its action
    Probe.profile(spark, "q01_industry_counts", sf)
    val p = Probe.profile(spark, "q01_industry_counts", sf)
    assert(p.build.jobs.isEmpty, p.build.jobs.map(_.desc))
    assert(p.tableMisses == 0 && p.tableHits > 0)
    // the session's codegen cache still holds the first pass's classes
    assert(p.compiles == 0, s"${p.compiles} classes recompiled on a warm pass")
    assert(p.action.jobs.nonEmpty)
    assert(p.build.jobs.size + p.action.jobs.size == p.jobs.size)
  }

  test("q21_minhash_pairs --plan: the build file holds the checkpointed signature aggregate") {
    val dir = Files.createTempDirectory("probe-plans")
    Probe.writePlans(spark, "q21_minhash_pairs", sf, dir.toString)
    val plan = dir.resolve("q21_minhash_pairs.txt")
    val buildFile = dir.resolve("q21_minhash_pairs.build.txt")
    assert(Files.exists(plan))
    val build = Files.readString(buildFile)
    Seq(plan, buildFile, dir).foreach(Files.delete)
    // the one-scan MinHash signature: k family minima and the distinct
    // shingle-hash set in one aggregate, run by the build's checkpoint
    assert(build.contains("localCheckpoint at"), build)
    assert(build.linesIterator.exists(l => l.startsWith("Functions") &&
      l.contains("min(") && l.contains("collect_set(")), build)
  }

  test("driver time outside jobs: overlapping jobs count once, clipped to the phase") {
    def job(start: Long, end: Long) = {
      val j = new Probe.Job(0, "build", start, "")
      j.endMs = end
      j
    }
    val ph = Probe.Phase("build", 0L, 100L,
      Seq(job(20, 40), job(10, 30), job(60, 70), job(90, 120)))
    assert(math.abs(ph.driverSeconds - 0.050) < 1e-9)
    assert(Probe.Phase("action", 0L, 100L, Nil).driverSeconds == 0.1)
  }
}
