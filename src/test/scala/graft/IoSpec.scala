package graft

import java.nio.file.{Files, Path, Paths}
import graft.io.{CsvRepair, JdbcSource, Sinks, Tables}
import graft.ops.ArtifactCache
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class IoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val postsSchema = StructType(Seq(
    StructField("text", StringType),
    StructField("full_date", StringType),
    StructField("channel_username", StringType),
    StructField("views", StringType)))

  test("repairing CSV scan: literal backslash-n repaired, bad lines dropped, coercion applied") {
    val dir = Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, "posts.csv")
    val content =
      """text,full_date,channel_username,views
        |"hello\nworld",2024-01-01 10:00:00,chan1,42
        |"plain text",2024-01-02 11:00:00,chan2,notanumber
        |"bad date row",not-a-date,chan3,7
        |garbage,,,,,,,,
        |"last",2024-01-03 12:00:00,chan4,9
        |""".stripMargin
    Files.writeString(f.toPath, content)
    try {
      val raw = CsvRepair.readRepaired(spark, f.getAbsolutePath, postsSchema)
      val out = CsvRepair.coercePosts(raw, "full_date", "views")
        .orderBy("full_date").collect()
      // bad-date row dropped; garbage row dropped; 3 rows survive
      assert(out.length == 3)
      assert(out(0).getString(0) == "hello world") // \n repaired to space
      assert(out(0).getLong(3) == 42L)
      assert(out(1).getLong(3) == 0L) // notanumber -> 0
      assert(out(2).getString(2) == "chan4")
    } finally {
      f.delete(); dir.delete()
    }
  }

  test("jdbc builder: pushed-down posts query contains window + not-null predicates") {
    val q = JdbcSource.postsQuery("telegram_channel_post", "full_date", "text",
      "2024-01-01", "2024-02-01")
    assert(q.contains("full_date >= '2024-01-01'"))
    assert(q.contains("full_date < '2024-02-01'"))
    assert(q.contains("text IS NOT NULL"))
    // reader builds without touching the database
    JdbcSource.partitionedReader(spark, "jdbc:mysql://db/x", "t", "full_date",
      "2024-01-01", "2024-02-01", 8, "u", "p")
  }

  test("parquet sink round-trips with partition pruning layout") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_pq").toString + "/out"
    val df = Seq((1L, "a", "2024-01"), (2L, "b", "2024-02")).toDF("id", "v", "month")
    Sinks.writeParquet(df, dir, partitionBy = Seq("month"))
    val back = spark.read.parquet(dir)
    assert(back.count() == 2)
    assert(new java.io.File(dir, "month=2024-01").exists())
  }

  test("bucketed tables join without any shuffle exchange") {
    import spark.implicits._
    val orders = graft.io.Tables.orders(spark, "/root/testdata/sf0.001")
    val customer = graft.io.Tables.customer(spark, "/root/testdata/sf0.001")
    Sinks.writeBucketed(orders, "b_orders", "o_custkey", 8)
    Sinks.writeBucketed(
      customer.withColumnRenamed("c_custkey", "o_custkey"), "b_customer", "o_custkey", 8)
    val joined = spark.table("b_orders").join(spark.table("b_customer").hint("merge"), "o_custkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")
    assert(joined.count() == orders.join(
      customer, orders("o_custkey") === customer("c_custkey")).count())
  }

  test("report csv sink writes a single headered file") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_csv_out").toString + "/report"
    Sinks.writeReportCsv(Seq((1, "x")).toDF("a", "b"), dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length == 1)
    val lines = Files.readAllLines(files.head.toPath)
    assert(lines.get(0) == "a,b")
  }

  test("jdbc: partitioned scan round-trips against an embedded Derby database") {
    // Derby ships in /opt/spark/jars — a REAL database end for S1/W3, not
    // just builder assertions. derby.system.home keeps derby.log out of cwd.
    val home = Files.createTempDirectory("graft_derby").toString
    System.setProperty("derby.system.home", home)
    val url = s"jdbc:derby:$home/db;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("""CREATE TABLE posts (id INT NOT NULL, text VARCHAR(100),
        full_date TIMESTAMP, channel_username VARCHAR(50), views INT)""")
      (0 until 100).foreach { i =>
        val day = i % 28 + 1
        val text = if (i % 10 == 9) "NULL" else s"'text $i'"
        st.execute(s"INSERT INTO posts VALUES " +
          s"($i, $text, TIMESTAMP('2024-01-${"%02d".format(day)} 10:00:00'), 'chan${i % 3}', ${i * 3})")
      }
    } finally conn.close()

    val df = JdbcSource
      .partitionedReader(spark, url, "posts", "id", "0", "100", 4, "", "")
      .load()
    assert(df.count() == 100)
    // the month-loop replacement: 4 concurrent range slices of the id domain
    assert(df.rdd.getNumPartitions == 4)
    // predicate pushes into the database query path
    import org.apache.spark.sql.functions.col
    assert(df.filter(col("views") >= 150).count() == 50)
    // the reference's effective scan: projection + date window + not-null
    // filter pushed into the DB as a dbtable subquery
    val q = JdbcSource.postsQuery("posts", "full_date", "text",
      "2024-01-01 00:00:00", "2024-01-08 00:00:00")
    val sliced = spark.read.format("jdbc")
      .option("url", url).option("dbtable", s"($q) AS s").load()
    val got = sliced.collect()
    assert(got.nonEmpty && got.length < 100)
    assert(sliced.columns.toSeq ==
      Seq("TEXT", "FULL_DATE", "CHANNEL_USERNAME", "VIEWS").map(_.toLowerCase) ||
      sliced.columns.toSeq == Seq("TEXT", "FULL_DATE", "CHANNEL_USERNAME", "VIEWS"))
    assert(got.forall(_.getString(0) != null)) // not-null filter applied DB-side
  }

  test("jdbc sink: write-back round-trips against an embedded Derby database") {
    import spark.implicits._
    val home = Files.createTempDirectory("graft_derby_sink").toString
    System.setProperty("derby.system.home", home)
    val url = s"jdbc:derby:$home/db;create=true"
    val df = (1 to 50).map(i => (i.toLong, s"name$i", i * 2.5)).toDF("id", "name", "score")
    graft.io.Sinks.writeJdbc(df, url, "scores", mode = "overwrite", numPartitions = 2)
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "scores").load()
    assert(back.count() == 50)
    assert(back.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq ==
      (1 to 50).map(i => (i.toLong, s"name$i", i * 2.5)))
    // append mode adds rows instead of recreating
    graft.io.Sinks.writeJdbc(df, url, "scores", mode = "append", numPartitions = 2)
    assert(spark.read.format("jdbc")
      .option("url", url).option("dbtable", "scores").load().count() == 100)
  }

  test("distributed csv export writes one headered file per partition") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_csv_dist").toString + "/export"
    Sinks.writeCsv((1 to 20).map(i => (i, s"v$i")).toDF("a", "b").repartition(3), dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length == 3)
    val all = files.flatMap(f => scala.jdk.CollectionConverters
      .ListHasAsScala(Files.readAllLines(f.toPath)).asScala)
    assert(all.count(_ == "a,b") == 3) // header per file
    assert(all.length == 20 + 3)
  }

  test("env config: dotenv file parses into JDBC options, process env wins") {
    val f = Files.createTempFile("graft_env", ".env")
    Files.writeString(f,
      """# database credentials (sample.env shape, main.py:27-37)
        |DB_USER=alice
        |export DB_PASS="s3cr=et"
        |DB_HOST = 'db.internal'
        |DB_PORT=5432
        |
        |DB_NAME=posts
        |MALFORMED LINE NO EQUALS
        |DB_NAME=posts_v2
        |""".stripMargin)
    try {
      val conf = graft.io.EnvConfig.load(f.toString, env = Map("DB_PORT" -> "6000"))
      assert(conf("DB_USER") == "alice")
      assert(conf("DB_PASS") == "s3cr=et") // quotes stripped, value keeps '='
      assert(conf("DB_HOST") == "db.internal")
      assert(conf("DB_PORT") == "6000") // process env wins over the file
      assert(conf("DB_NAME") == "posts_v2") // later duplicate wins
      val Some((url, user, pass)) = graft.io.EnvConfig.jdbcConfig(conf)
      assert(url == "jdbc:postgresql://db.internal:6000/posts_v2")
      assert(user == "alice" && pass == "s3cr=et")
      // plumbs into the partitioned JDBC reader without loss
      val reader = JdbcSource.partitionedReader(
        spark, url, "posts", "id", "0", "100", 4, user, pass)
      assert(reader != null)
    } finally Files.delete(f)
  }

  test("env config: missing file falls back to process env only") {
    val conf = graft.io.EnvConfig.load("/nonexistent/.env", env = Map("DB_USER" -> "u"))
    assert(conf == Map("DB_USER" -> "u"))
    assert(graft.io.EnvConfig.jdbcConfig(conf).isEmpty)
  }

  private val sf = "/root/testdata/sf0.001"

  /** A copy of sf0.001's orders as a one-part table directory. */
  private def ordersDir(): Path = {
    val table = Files.createDirectories(
      Files.createTempDirectory("graft_registry").resolve("orders.parquet"))
    Files.copy(Paths.get(s"$sf/orders.parquet"), table.resolve("part-00000.parquet"))
    table
  }

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("table registry: a hit returns the same rows as a miss") {
    val reg = new ArtifactCache[Tables.Registered]
    val table = ordersDir().toString
    val miss = Tables.resolve(reg, spark, table).rows
    assert(reg.misses == 1 && reg.hits == 0)
    val hit = Tables.resolve(reg, spark, table).rows
    assert(reg.misses == 1 && reg.hits == 1)
    assert(hit.schema == miss.schema)
    assert(sortedRows(hit) == sortedRows(miss))
    assert(sortedRows(hit) == sortedRows(spark.read.parquet(table)))
  }

  test("table registry: appending a part file re-resolves the table and shows the new rows") {
    val reg = new ArtifactCache[Tables.Registered]
    val table = ordersDir()
    val before = Tables.resolve(reg, spark, table.toString).rows.count()
    Files.copy(table.resolve("part-00000.parquet"), table.resolve("part-00001.parquet"))
    assert(Tables.resolve(reg, spark, table.toString).rows.count() == 2 * before)
    // the older listing's entry is dropped
    assert(reg.misses == 2 && reg.size == 1)
    // `_`/`.` files are not data: they leave the listing unchanged
    Files.writeString(table.resolve("_SUCCESS"), "")
    Files.writeString(table.resolve(".part-00001.parquet.crc"), "")
    assert(Tables.resolve(reg, spark, table.toString).rows.count() == 2 * before)
    assert(reg.misses == 2 && reg.hits == 1)
  }

  test("table registry: a self-join of two loads equals the join over two plain reads") {
    def selfJoin(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, a("o_custkey") === b("o_custkey") && a("o_orderkey") < b("o_orderkey"))
        .select(a("o_orderkey"), b("o_orderkey"))
    val hits = Tables.registry.hits
    val loaded = selfJoin(Tables.orders(spark, sf), Tables.orders(spark, sf))
    assert(Tables.registry.hits > hits)
    val plain = selfJoin(
      spark.read.parquet(s"$sf/orders.parquet"), spark.read.parquet(s"$sf/orders.parquet"))
    val rows = sortedRows(plain)
    assert(rows.nonEmpty)
    assert(sortedRows(loaded) == rows)
  }

  test("table registry: graft.test.repartition still applies on a hit") {
    val unhooked = Tables.orders(spark, sf)
    val hits = Tables.registry.hits
    spark.conf.set("graft.test.repartition", "3")
    val hooked = try Tables.orders(spark, sf) finally spark.conf.unset("graft.test.repartition")
    assert(Tables.registry.hits == hits + 1)
    assert(hooked.queryExecution.logical.collectFirst {
      case r: RepartitionByExpression => r.numPartitions
    }.contains(3))
    assert(sortedRows(hooked) == sortedRows(unhooked))
  }

  test("table registry: a stopped session's entries are swept") {
    val other = spark.newSession()
    var otherStopped = false
    val reg = new ArtifactCache[Tables.Registered] {
      override protected def stopped(s: SparkSession): Boolean = otherStopped && (s eq other)
    }
    val table = s"$sf/orders.parquet"
    Tables.resolve(reg, other, table)
    Tables.resolve(reg, spark, table)
    assert(reg.size == 2 && reg.misses == 2) // one entry per session
    otherStopped = true
    Tables.resolve(reg, spark, table)
    assert(reg.size == 1 && reg.hits == 1)
  }

  test("compactBatches: epoch rewrite keeps screen verdicts bit-identical and shrinks files") {
    import spark.implicits._
    import graft.ops.DedupOps
    val dir = Files.createTempDirectory("graft_compact").toString
    // an ingest history: seed epoch plus two appended micro-batch partitions
    val batches = Seq(
      (-1L, Seq((10L, "the quick brown fox jumps over the lazy dog tonight"))),
      (0L, Seq((21L, "completely novel sentence about catalyst physical planning"))),
      (1L, Seq((31L, "another entirely fresh document about shuffle partitions"))))
    batches.foreach { case (id, rows) =>
      val docs = rows.toDF("doc_id", "text")
      DedupOps.bandKeyIndex(docs, "text", "doc_id")
        .write.parquet(s"$dir/index/batch=$id")
      DedupOps.shingleHashSets(docs, "text", "doc_id")
        .write.parquet(s"$dir/hashsets/batch=$id")
    }
    Sinks.compactBatches(spark, s"$dir/index", s"$dir/index_c", epochId = 2,
      numFiles = 1, sortCols = Seq("band", "bh"))
    Sinks.compactBatches(spark, s"$dir/hashsets", s"$dir/hashsets_c", epochId = 2,
      numFiles = 1, sortCols = Seq("id"))
    val shard = Seq(
      (40L, "completely novel sentence about catalyst physical planning"),
      (41L, "no corpus doc resembles this one at all frankly"))
      .toDF("doc_id", "text")
    def verdicts(ix: String, hs: String) = DedupOps.minhashDeltaIndexed(
      shard, spark.read.parquet(ix), spark.read.parquet(hs), "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val before = verdicts(s"$dir/index", s"$dir/hashsets")
    val after = verdicts(s"$dir/index_c", s"$dir/hashsets_c")
    assert(before == Seq((40L, 21L, 1.0)), s"pre-compaction verdicts: $before")
    assert(after == before, "compaction must not change a single verdict")
    def parquetFiles(p: String): Int = {
      val b = java.nio.file.Paths.get(p)
      val s = java.nio.file.Files.walk(b)
      try s.filter(f => f.toString.endsWith(".parquet")).count().toInt finally s.close()
    }
    assert(parquetFiles(s"$dir/index_c") == 1 &&
      parquetFiles(s"$dir/index_c") < parquetFiles(s"$dir/index"),
      s"compaction must shrink the file count: ${parquetFiles(s"$dir/index")} -> " +
        s"${parquetFiles(s"$dir/index_c")}")
  }
}
