package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.BusAccess
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{GraftSession, SparkEntry}
import graft.functions.KeywordMatch
import graft.model.{AnalysisConfig, PostsMapping, Taxonomy}
import graft.pipeline.Pipeline
import graft.sql.{GraftFunctions, OracleSql, UnicodeSql}
import graft.text.UnicodeAnalyzer

/** Closed-loop benchmark harness: one caller, each op starts after the
  * previous one finished, engine reached only through its public calls.
  *
  * {{{
  * Harness --workload W --data DIR --out DIR --tmp DIR --seconds S
  *         --trace 0|1 --seed N --cores N --posts N
  * }}}
  *
  * Writes `OUT/result.json` (raw samples, the storage read-out, the
  * environment stamp, per-layer numbers when traced, and the result files
  * plus oracle SQL the checker compares) and, when traced, `OUT/spans.json`.
  */
object Harness {

  final case class Args(workload: String, data: String, out: String, tmp: String,
      seconds: Int, trace: Boolean, seed: Long, cores: Int, posts: Long)

  /** One call the harness timed. `counted` calls are ops: they enter op
    * latency and the attempted/failed counts. */
  final case class OpRun(name: String, pass: Int, seconds: Double, digest: String, error: String,
      counted: Boolean)

  /** A result file the checker compares against DuckDB, and the op whose
    * runs fail when it does not match. `kind` is `csv` (a report directory
    * the pipeline wrote) or `parquet`. */
  final case class OracleCheck(name: String, op: String, kind: String, path: String, sql: String)

  val SetupRepeats = 15
  val ControlRepeats = 5

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val a = Args(kv("workload"), kv("data"), kv("out"), kv("tmp"), kv("seconds").toInt,
      kv("trace") == "1", kv("seed").toLong, kv("cores").toInt, kv("posts").toLong)
    val workload: Workload = a.workload match {
      case "posts_pipeline" => new PostsPipeline(a)
      case "catalog_warm" => new CatalogWarm(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.createDirectories(Paths.get(a.out))
    // wall-clock marks of the run's phases, for sizing the run
    val t0 = System.nanoTime()
    val marks = mutable.LinkedHashMap.empty[String, Double]
    def mark(phase: String): Unit = marks(phase) = (System.nanoTime() - t0) / 1e9

    // set-up: GraftSession.local (context + SQL function registration),
    // rebuilt several times so the median is a steady figure
    val setup = (1 to SetupRepeats).map { i =>
      if (i > 1) SparkSession.active.stop()
      time(GraftSession.local(a.cores))._2
    }
    val spark = SparkSession.active
    val sc = spark.sparkContext
    val trace = new Trace(sc)
    val ctx = new Ctx(a, spark, trace)

    mark("setup")
    (1 to workload.warmupPasses).foreach(i => workload.pass(ctx, -i))
    mark("warmup")
    val (controlBefore, floorBefore) = control(sc)
    val passes = math.max(workload.minPasses, math.ceil(a.seconds / workload.nominalPassS).toInt)

    // a traced run interleaves untraced reference passes (pass number 0,
    // span kind "refpass") with the traced ones, alternating which goes
    // first, so the tracing overhead is measured at the same point of the
    // JIT's warm-up curve
    val root = trace.open("workload", a.workload)
    val refSecs = mutable.ArrayBuffer.empty[Double]
    def refPass(): Unit = if (a.trace) refSecs += timedPass(ctx, workload, 0, "refpass")
    val passSecs = (1 to passes).map { p =>
      if (p % 2 == 1) refPass()
      if (a.trace) trace.attach(spark)
      val secs = try timedPass(ctx, workload, p) finally trace.detach(spark)
      if (p % 2 == 0) refPass()
      secs
    }
    trace.close(root)
    val (controlAfter, floorAfter) = control(sc)
    mark("timed")

    val storage = Storage.settle(sc, Paths.get(a.tmp))
    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (a.trace) {
      layers ++= Layers.perPass(trace, root, a.cores)
      val untraced = median(refSecs.toSeq)
      layers("trace.overhead_s") = median(passSecs) - untraced
      val selfSum = Layers.SelfKeys.map(layers).sum
      layers("trace.reconcile_err") = math.abs(selfSum - untraced) / untraced
      trace.attach(spark)
      layers ++= workload.layerExtras(ctx, root)
      trace.detach(spark)
      val reg = (1 to SetupRepeats).map(_ => time(GraftFunctions.register(spark.newSession()))._2)
      layers("session.register_s") = median(reg)
      layers("session.build_s") = median(setup) - median(reg)
      layers("storage.rdds") = storage.rdds
      layers("storage.mb") = storage.mb
      layers("storage.tmp_mb") = storage.tmpMb
      layers("storage.gc_released_mb") = storage.releasedMb
      layers("control.drift") = controlAfter / controlBefore
    }
    mark("layers")
    // outputs for the oracle check are written after every measurement
    val checks = workload.oracleChecks(ctx)
    mark("checks")

    Json.write(Paths.get(a.out, "result.json"), Map(
      "workload" -> a.workload, "seed" -> a.seed, "cores" -> a.cores, "posts" -> workload.inputPosts,
      "setup_s" -> setup, "pass_s" -> passSecs, "ref_pass_s" -> refSecs,
      "ops" -> ctx.ops,
      "storage" -> Map("rdds" -> storage.rdds, "mb" -> storage.mb, "tmp_mb" -> storage.tmpMb,
        "released_mb" -> storage.releasedMb, "settle_rounds" -> storage.rounds),
      "control" -> Map("before_s" -> controlBefore, "after_s" -> controlAfter,
        "job_floor_before_s" -> floorBefore, "job_floor_after_s" -> floorAfter),
      "stamp" -> Map(
        "jvm" -> (System.getProperty("java.vm.name") + " " + System.getProperty("java.version")),
        "spark" -> spark.version,
        "cores" -> sc.defaultParallelism,
        "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "advisory_partition_bytes" -> spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")),
      "layers" -> layers,
      "checks" -> checks,
      "check_setup_sql" -> workload.checkSetupSql(ctx),
      "marks_s" -> marks))
    if (a.trace) Json.write(Paths.get(a.out, "spans.json"), Layers.spans(trace))
    spark.stop()
  }

  private def timedPass(ctx: Ctx, w: Workload, p: Int, kind: String = "pass"): Double = {
    val (_, s) = ctx.trace.span(kind, s"pass$p")(w.pass(ctx, p))
    s.seconds
  }

  // ---- shared helpers ----

  final class Ctx(val a: Args, val spark: SparkSession, val trace: Trace) {
    val ops = mutable.ArrayBuffer.empty[OpRun]
    val sc = spark.sparkContext

    /** One op: `build` (DataFrame construction, including any eager
      * materialization the engine does there) then `action` (the call that
      * produces the op's result). The digest is taken after the clock stops. */
    def op[B, R](name: String, pass: Int, counted: Boolean = true)(build: => B)(action: B => R)(
        digest: R => String): Option[R] = {
      val opSpan = trace.open("op", name)
      val t0 = System.nanoTime()
      val res = try {
        val (b, _) = trace.span("build", name)(build)
        val (r, _) = trace.span("action", name)(action(b))
        Right(r)
      } catch { case NonFatal(e) => Left(e.toString.take(300)) }
      val secs = (System.nanoTime() - t0) / 1e9
      trace.close(opSpan)
      res match {
        case Right(r) =>
          val d = try digest(r) catch { case NonFatal(e) => "digest failed: " + e }
          ops += OpRun(name, pass, secs, d, null, counted)
          Some(r)
        case Left(err) =>
          ops += OpRun(name, pass, secs, null, err, counted)
          None
      }
    }
  }

  trait Workload {
    def nominalPassS: Double
    def minPasses: Int
    /** Untimed passes before the timed ones: plan compilation, memos, and
      * the JIT, whose pass times keep falling for about three passes. */
    def warmupPasses: Int
    def inputPosts: Long
    def pass(ctx: Ctx, p: Int): Unit
    def layerExtras(ctx: Ctx, root: Span): Map[String, Double]
    def oracleChecks(ctx: Ctx): Seq[OracleCheck]
    def checkSetupSql(ctx: Ctx): Seq[String]
  }

  // ---- analysis config shared with the generator and the oracle ----

  def readJson(path: String): JsonNode = new ObjectMapper().readTree(new File(path))

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  def analysisConfig(data: String): (AnalysisConfig, UnicodeAnalyzer) = {
    val c = readJson(s"$data/config.json")
    val taxonomy = Taxonomy(c.get("taxonomy").elements().asScala.map { e =>
      e.get(0).asText -> strings(e.get(1))
    }.toSeq)
    val cfg = AnalysisConfig(taxonomy, strings(c.get("blacklist")), strings(c.get("noise_patterns")),
      strings(c.get("stopwords")),
      PostsMapping("post_id", "text", "channel_username", "views", Some("full_date")))
    val lemmas = c.get("lemmas").fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    (cfg, UnicodeAnalyzer(stopwords = cfg.stopwords, lemmas = lemmas))
  }

  /** Kernel passes over a text corpus: forced noop writes. */
  def kernelLayers(spark: SparkSession, corpus: String, cfg: AnalysisConfig,
      analyzer: UnicodeAnalyzer): Map[String, Double] = {
    def noop(df: => DataFrame): Double =
      median((1 to 3).map(_ => time(df.write.format("noop").mode("overwrite").save())._2))
    val text = spark.read.parquet(corpus).select(col("text"))
    Map(
      "io.scan_s" -> noop(spark.read.parquet(corpus)),
      "functions.keyword_tag_s" -> noop(text.select(
        KeywordMatch.multiKeywordTags(col("text"), cfg.taxonomy.industries))),
      "text.tokenize_s" -> noop(text.select(analyzer.tokenRows(col("text")))))
  }

  // ---- posts_pipeline ----

  /** The reference flow per pass: `Pipeline.run` -> `writeReports` ->
    * `writeCharts` -> `unpersist`. The two sinks are the ops; `run` (lazy
    * frame construction) and `unpersist` run no Spark action, so they count
    * toward the pass but not toward op latency. */
  final class PostsPipeline(a: Args) extends Workload {
    val nominalPassS = 3.0
    val minPasses = 3
    val warmupPasses = 3
    val inputPosts: Long = a.posts
    private val corpus = s"${a.data}/posts.parquet"
    private val (cfg, analyzer) = analysisConfig(a.data)
    private val reportsDir = s"${a.out}/reports"
    private val chartsDir = s"${a.out}/charts"
    private val bytesWritten = mutable.ArrayBuffer.empty[Double]
    // distinct report relations the two sinks write: industry counts,
    // keyword breakdown, word frequency, channel audit, top channels by
    // views, the weekly series and per-industry word frequency
    private val DistinctReports = 7

    def pass(ctx: Ctx, p: Int): Unit = {
      val report = ctx.op("pipeline.run", p, counted = false)(ctx.spark.read.parquet(corpus))(
        Pipeline.run(_, cfg, analyzer))(_ => "-")
      report.foreach { r =>
        ctx.op("pipeline.reports", p)(())(_ => Pipeline.writeReports(r, reportsDir))(
          _ => Digest.dir(reportsDir))
        ctx.op("pipeline.charts", p)(())(_ => Pipeline.writeCharts(r, chartsDir))(
          _ => Digest.dir(chartsDir))
        ctx.op("pipeline.unpersist", p, counted = false)(())(_ => Pipeline.unpersist(r))(_ => "-")
      }
      if (p > 0) bytesWritten += (Storage.bytes(Paths.get(reportsDir)) +
        Storage.bytes(Paths.get(chartsDir))).toDouble
    }

    def layerExtras(ctx: Ctx, root: Span): Map[String, Double] = {
      val ops = ctx.ops.filter(_.pass > 0)
      def opMedian(n: String) = median(ops.filter(_.name == n).map(_.seconds).toSeq)
      val sinkExecs = Layers.sqlExecsUnder(ctx.trace, Set("pipeline.reports", "pipeline.charts"))
      Map(
        "pipeline.run_s" -> opMedian("pipeline.run"),
        "pipeline.reports_s" -> opMedian("pipeline.reports"),
        "pipeline.charts_s" -> opMedian("pipeline.charts"),
        "io.bytes_written" -> median(bytesWritten.toSeq),
        "pipeline.sql_execs_per_output" ->
          sinkExecs.toDouble / Layers.passesUnder(ctx.trace, root).size / DistinctReports,
        "storage.churn_mb" -> 0.0, "storage.churn_rdds" -> 0.0
      ) ++ kernelLayers(ctx.spark, corpus, cfg, analyzer) ++ Memo.zero
    }

    def checkSetupSql(ctx: Ctx): Seq[String] = Seq(
      s"CREATE VIEW telegram_posts AS SELECT * FROM read_parquet('$corpus')",
      s"CREATE VIEW clean_posts AS SELECT * FROM telegram_posts WHERE ${OracleSql.cleanWhere(cfg)}",
      "CREATE VIEW clean_docs AS SELECT post_id AS doc_id, text FROM clean_posts")

    def oracleChecks(ctx: Ctx): Seq[OracleCheck] = {
      // the last timed pass's CSV reports, then the chart relations of a
      // fresh report collected outside the timed region
      val t = "telegram_posts"
      val csv = Seq(
        OracleCheck("industry_counts", "pipeline.reports", "csv", s"$reportsDir/industry_counts",
          OracleSql.industryCounts(cfg, t)),
        OracleCheck("keyword_breakdown", "pipeline.reports", "csv", s"$reportsDir/keyword_breakdown",
          OracleSql.keywordBreakdown(cfg, t)),
        OracleCheck("word_frequency", "pipeline.reports", "csv", s"$reportsDir/word_frequency",
          UnicodeSql.wordFrequency("clean_docs", analyzer, Seq(""), 50)),
        OracleCheck("channel_audit", "pipeline.reports", "csv", s"$reportsDir/channel_audit",
          OracleSql.channelAudit(cfg, t, 5, 3)))
      val r = Pipeline.run(ctx.spark.read.parquet(corpus), cfg, analyzer)
      // chart inputs count against the charts op; relations no sink writes
      // against the reports op
      val frames = Seq(
        ("top_channels_by_views", "pipeline.charts", r.topChannelsByViews,
          OracleSql.topChannelsByViews(cfg, t, 15)),
        ("time_series", "pipeline.charts", r.timeSeries.get,
          OracleSql.resampleCount("clean_posts", "full_date", "week", "INTERVAL 7 DAY")),
        ("most_active_channels", "pipeline.reports", r.mostActiveChannels,
          OracleSql.mostActiveChannels(cfg, t, 15)),
        ("top_posts", "pipeline.reports", r.topPosts, OracleSql.topPostsPerIndustry(cfg, t, 20)))
      val dumped = frames.map { case (n, op, df, sql) =>
        val path = s"${ctx.a.out}/oracle/$n"
        Digest.dump(ctx.spark, df.collect(), df, path)
        OracleCheck(n, op, "parquet", path, sql)
      }
      Pipeline.unpersist(r)
      csv ++ dumped
    }
  }

  // ---- catalog_warm ----

  /** Catalog query by its short id (`q104` -> `q104_pagerank`). */
  def query(id: String): String =
    SparkEntry.queries.keys.find(_.startsWith(id + "_"))
      .getOrElse(throw new IllegalArgumentException(s"no catalog query $id"))

  /** Session memo families and the query whose first call in a session
    * builds each one. */
  object Memo {
    val families: Seq[(String, String)] = Seq(
      "edges" -> "q104", "lexical" -> "q115", "pq" -> "q124", "funnel" -> "q71", "vocab" -> "q187")

    def zero: Map[String, Double] = families.flatMap { case (f, _) =>
      Seq(s"memo.build_s.$f" -> 0.0, s"memo.build_jobs.$f" -> 0.0)
    }.toMap

    /** Build side of the memos: in one fresh session (functions
      * registered), each family's query is called twice; first minus
      * second call is the memo build. The session is then dropped, and the
      * storage it leaves behind after GC is its churn residue. Needs the
      * trace listener for job counts. */
    def probe(ctx: Ctx): Map[String, Double] = {
      val before = Storage.settle(ctx.sc, Paths.get(ctx.a.tmp))
      val builds = {
        val s = ctx.spark.newSession()
        GraftFunctions.register(s)
        families.flatMap { case (f, q) =>
          val name = query(q)
          def call(): (Double, Int) = {
            val j0 = ctx.trace.jobsStarted
            val t = time(SparkEntry.queries(name)(s, ctx.a.data).collect())._2
            ctx.trace.drain()
            (t, ctx.trace.jobsStarted - j0)
          }
          val (t1, j1) = call()
          val (t2, j2) = call()
          Seq(s"memo.build_s.$f" -> (t1 - t2), s"memo.build_jobs.$f" -> (j1 - j2).toDouble)
        }.toMap
      }
      val after = Storage.settle(ctx.sc, Paths.get(ctx.a.tmp))
      builds ++ Map("storage.churn_mb" -> (after.mb + after.tmpMb - before.mb - before.tmpMb),
        "storage.churn_rdds" -> (after.rdds - before.rdds).toDouble)
    }
  }

  /** One warm session runs a fixed query list after an untimed warmup
    * pass; the seed permutes the order. Every query reads a session memo
    * on its hit path (q121 the interaction edges q104 builds, q124 the PQ
    * index, q191 the frozen vocab); q121 also spends most of its time in
    * eager materialization before the final action. */
  final class CatalogWarm(a: Args) extends Workload {
    val nominalPassS = 1.7
    val minPasses = 3
    // the first pass fills the memos, the second lets the JIT settle
    val warmupPasses = 2
    val inputPosts: Long = 500L // documents rows the generator writes
    val queryIds: Seq[String] = new scala.util.Random(a.seed)
      .shuffle(Seq("q121", "q124", "q191"))
    private val lastRows = mutable.Map.empty[String, (Array[Row], DataFrame)]

    def pass(ctx: Ctx, p: Int): Unit = queryIds.foreach { id =>
      val name = query(id)
      ctx.op(name, p)(SparkEntry.queries(name)(ctx.spark, a.data))(df => (df, df.collect()))(
        r => Digest.rows(r._2)).foreach(r => lastRows(name) = (r._2, r._1))
    }

    def layerExtras(ctx: Ctx, root: Span): Map[String, Double] = {
      val (cfg, analyzer) = analysisConfig(a.data)
      Map("pipeline.run_s" -> 0.0, "pipeline.reports_s" -> 0.0, "pipeline.charts_s" -> 0.0,
        "io.bytes_written" -> 0.0, "pipeline.sql_execs_per_output" -> 0.0) ++
        kernelLayers(ctx.spark, s"${a.data}/documents.parquet", cfg, analyzer) ++ Memo.probe(ctx)
    }

    def checkSetupSql(ctx: Ctx): Seq[String] =
      Seq("orders", "lineitem", "documents", "embeddings").map(t =>
        s"CREATE VIEW $t AS SELECT * FROM read_parquet('${a.data}/$t.parquet')")

    def oracleChecks(ctx: Ctx): Seq[OracleCheck] =
      lastRows.toSeq.sortBy(_._1).map { case (name, (rows, df)) =>
        val path = s"${a.out}/oracle/$name"
        Digest.dump(ctx.spark, rows, df, path)
        OracleCheck(name, name, "parquet", path, SparkEntry.oracleSql(name))
      }
  }

  // ---- small utilities ----

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Fixed work, read before and after the timed passes so load drift is
    * visible: a CPU canary and a scheduling canary (20 trivial Spark jobs,
    * the per-job floor these workloads are bound by). */
  def control(sc: org.apache.spark.SparkContext): (Double, Double) = {
    val floor = median((1 to ControlRepeats).map { _ =>
      time((1 to 20).foreach(_ => sc.parallelize(0 until 4, 4).count()))._2
    })
    (cpuControl(), floor)
  }

  /** Fixed CPU work (md5 over 32 MB), median of several samples. */
  def cpuControl(): Double = {
    val buf = Array.tabulate[Byte](1 << 23)(i => (i * 31).toByte)
    median((1 to ControlRepeats).map { _ =>
      time { val md = MessageDigest.getInstance("MD5"); (1 to 4).foreach(_ => md.update(buf)); md.digest() }._2
    })
  }

}

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(p: Path, value: Any): Unit = Files.write(p, mapper.writeValueAsBytes(value))
}

/** Storage read-out after forced GC and a drained ContextCleaner. */
object Storage {
  final case class Reading(rdds: Int, mb: Double, tmpMb: Double, releasedMb: Double, rounds: Int)

  private def persisted(sc: org.apache.spark.SparkContext): (Int, Double) = {
    val infos = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    (infos.length, infos.map(i => i.memSize + i.diskSize).sum / 1e6)
  }

  def bytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** GC until the persisted set stops changing for three rounds: the
    * cleaner releases weakly-reachable RDDs and shuffles asynchronously,
    * so what is still there after that is pinned, not lagging. */
  def settle(sc: org.apache.spark.SparkContext, tmp: Path): Reading = {
    val before = persisted(sc)
    var last = before
    var stable = 0
    var rounds = 0
    while (stable < 3 && rounds < 40) {
      System.gc()
      Thread.sleep(150)
      BusAccess.drain(sc)
      val now = persisted(sc)
      stable = if (now == last) stable + 1 else 0
      last = now
      rounds += 1
    }
    Reading(last._1, last._2, bytes(tmp) / 1e6, before._2 - last._2, rounds)
  }
}

/** Order-insensitive result digests. */
object Digest {
  private def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  def rows(rows: Array[Row]): String = md5(rows.map(r => md5(r.toString)).sorted.mkString)

  /** Digest of every data file under a directory (Spark's `.crc` and
    * `_SUCCESS` markers excluded), line-order insensitive. */
  def dir(root: String): String = {
    val s = Files.walk(Paths.get(root))
    val files = try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
    md5(files.filterNot { f => val n = f.getFileName.toString; n.startsWith(".") || n.startsWith("_") }
      .map(f => Paths.get(root).relativize(f).toString.replaceAll("part-[^.]*", "part") + "\n" +
        md5(new String(Files.readAllBytes(f), UTF_8).split("\n").sorted.mkString("\n")))
      .sorted.mkString)
  }

  /** Write collected rows as one parquet file for the oracle check. */
  def dump(spark: SparkSession, rows: Array[Row], like: DataFrame, path: String): Unit =
    spark.createDataFrame(rows.toSeq.asJava, like.schema).coalesce(1)
      .write.mode("overwrite").parquet(path)
}
