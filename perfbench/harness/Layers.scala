package perfbench

import scala.collection.mutable

/** Per-layer numbers of a traced run, each the median over its traced
  * passes, plus the span dump. */
object Layers {

  /** Self-time layers: they partition a pass's wall time exactly. */
  val SelfKeys: Seq[String] =
    Seq("self.pass_s", "self.op_s", "self.build_s", "self.action_s", "self.jobs_s")

  /** Total length of the union of intervals clipped to [lo, hi]. */
  def unionNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s0, e0) <- intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s0 > curE) { total += curE - curS; curS = s0; curE = e0 }
      else curE = math.max(curE, e0)
    }
    total + (curE - curS)
  }

  def passesUnder(t: Trace, root: Span): Seq[Span] =
    t.all.filter(s => s.kind == "pass" && s.parent == root.id)

  def perPass(t: Trace, root: Span, cores: Int): Map[String, Double] = {
    val jobs = t.jobs.filter(_.endMs >= 0)
    val phaseOfJob = jobs.flatMap(j => t.phaseOf(j).map(j -> _))
    val samples = passesUnder(t, root).map { pass =>
      val sub = t.subtree(pass)
      val ids = sub.map(_.id).toSet
      val mine = phaseOfJob.filter { case (_, ph) => ids(ph.id) }
      def jobsIn(kind: String) = mine.filter(_._2.kind == kind).map(_._1)
      def spanSecs(kind: String) = sub.filter(_.kind == kind).map(_.seconds).sum
      val js = mine.map(_._1)
      val wall = pass.seconds
      val jobIv = js.map(j => (t.jobStartNs(j), t.jobEndNs(j)))
      val execs = t.sqlExecs.filter(e => ids(e.span) && sub.exists(s => s.id == e.span && s.kind == "action"))

      // self time: a span's wall minus the union of its children (child
      // spans, and for a phase span the jobs attributed to it)
      val children = sub.groupBy(_.parent)
      val jobsByPhase = mine.groupBy(_._2.id)
      val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      for (s <- sub) {
        val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
        val jobKids = jobsByPhase.getOrElse(s.id, Nil).map { case (j, _) => (t.jobStartNs(j), t.jobEndNs(j)) }
        val covered = unionNs(kids, s.startNs, s.endNs)
        val jobCovered = unionNs(jobKids, s.startNs, s.endNs)
        self(s"self.${s.kind}_s") += (s.endNs - s.startNs - covered - jobCovered) / 1e9
        self("self.jobs_s") += jobCovered / 1e9
      }
      val busy = js.map(_.busyMs).sum / 1e3
      Map(
        "build.s" -> spanSecs("build"),
        "build.jobs" -> jobsIn("build").size.toDouble,
        "action.s" -> spanSecs("action"),
        "action.jobs" -> jobsIn("action").size.toDouble,
        "plan.optimize_ms" -> execs.map(_.optimizeMs).sum.toDouble,
        "plan.planning_ms" -> execs.map(_.planningMs).sum.toDouble,
        "jobs" -> js.size.toDouble,
        "tasks" -> js.map(_.tasks).sum.toDouble,
        "tasks_per_job" -> (if (js.isEmpty) 0.0 else js.map(_.tasks).sum.toDouble / js.size),
        "sched.delay_s" -> js.map(_.schedDelayMs).sum / 1e3,
        "driver.gap_s" -> (wall - unionNs(jobIv, pass.startNs, pass.endNs) / 1e9),
        "exec.busy_s" -> busy,
        "exec.cpu_s" -> js.map(_.cpuNs).sum / 1e9,
        "exec.gc_s" -> js.map(_.gcMs).sum / 1e3,
        "exec.utilization" -> busy / (wall * cores),
        "shuffle.read_mb" -> js.map(_.shuffleReadBytes).sum / 1e6,
        "shuffle.write_mb" -> js.map(_.shuffleWriteBytes).sum / 1e6,
        "spill.mb" -> js.map(_.spillBytes).sum / 1e6,
        "trace.pass_s" -> wall
      ) ++ SelfKeys.map(k => k -> self(k))
    }
    samples.head.keys.map(k => k -> Harness.median(samples.map(_(k)))).toMap
  }

  /** SQL executions whose callback arrived inside an op of these names. */
  def sqlExecsUnder(t: Trace, opNames: Set[String]): Int = {
    val ids = t.all.filter(s => s.kind == "op" && opNames(s.name)).flatMap(t.subtree).map(_.id).toSet
    t.sqlExecs.count(e => ids(e.span))
  }

  /** workload -> pass -> op -> build/action -> job, with self seconds. */
  def spans(t: Trace): Map[String, Any] = {
    val jobs = t.jobs.filter(_.endMs >= 0)
    val jobsByPhase = jobs.flatMap(jb => t.phaseOf(jb).map(_.id -> jb)).groupBy(_._1)
    val children = t.all.groupBy(_.parent)
    Map(
      "spans" -> t.all.filter(_.endNs >= 0).map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)) ++
          jobsByPhase.getOrElse(s.id, Nil).map { case (_, jb) => (t.jobStartNs(jb), t.jobEndNs(jb)) }
        Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
          "seconds" -> s.seconds,
          "self_s" -> (s.endNs - s.startNs - unionNs(kids, s.startNs, s.endNs)) / 1e9)
      },
      "jobs" -> jobs.map { jb =>
        Map("job" -> jb.jobId, "phase" -> t.phaseOf(jb).map(_.id).getOrElse(-1),
          "seconds" -> (jb.endMs - jb.startMs) / 1e3, "tasks" -> jb.tasks, "busy_s" -> jb.busyMs / 1e3,
          "shuffle_read_bytes" -> jb.shuffleReadBytes, "shuffle_write_bytes" -> jb.shuffleWriteBytes)
      })
  }
}
