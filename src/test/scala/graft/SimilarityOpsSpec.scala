package graft

import graft.io.Tables
import graft.ops.SimilarityOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilarityOpsSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"
  private lazy val spark = TestSpark.spark
  private def emb = Tables.embeddings(spark, sf)

  test("persisted IVF index artifacts survive a write/reload boundary bit-identically") {
    // the production similarity-ingest claim: centroids + vector-bearing
    // inverted lists written to parquet (lists hive-partitioned by cid so
    // probe scans prune), reloaded fresh, and the delta ANN must
    // reproduce the in-memory verdicts bit-for-bit
    val corpus = emb.filter(col("vec_id") % 4 =!= 0)
    val shard = emb.filter(col("vec_id") % 4 === 0)
    val cents = SimilarityOps.ivfCentroids(corpus, "vec_id", "embedding", centroidMod = 50)
    val lists = SimilarityOps.ivfAssignments(corpus, "vec_id", "embedding", cents)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfidx").toString
    cents.write.parquet(s"$dir/centroids")
    lists.write.partitionBy("cid").parquet(s"$dir/lists")
    def verdicts(c: org.apache.spark.sql.DataFrame, a: org.apache.spark.sql.DataFrame) =
      SimilarityOps.annIvfDelta(shard, c, a, "vec_id", "embedding", k = 5, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val inMem = verdicts(cents, lists)
    val reloaded = verdicts(
      spark.read.parquet(s"$dir/centroids"), spark.read.parquet(s"$dir/lists"))
    assert(inMem.nonEmpty, "the shard must find corpus neighbors")
    assert(reloaded == inMem,
      "ANN verdicts must survive the write/reload boundary bit-identically")
    // every shard vector reports exactly k neighbors, rank order correct
    inMem.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._4).sorted == (1L to 5L))
    }
  }

  test("brute-force ANN: k neighbors per query, cosine non-increasing, no self-pairs") {
    val rows = SimilarityOps.annBruteForce(emb, "vec_id", "embedding", queryMod = 100, k = 10).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.nonEmpty)
    byQ.foreach { case (q, rs) =>
      assert(rs.length == 10)
      assert(rs.forall(_.getLong(1) != q))
      val cs = rs.sortBy(_.getLong(3)).map(_.getDouble(2))
      cs.zip(cs.tail).foreach { case (a, b) => assert(a >= b) }
    }
  }

  test("LSH ANN returns only same-bucket neighbors and is a cosine-correct ranking") {
    val planes = SimilarityOps.hyperplanes(4, 64)
    val buckets = emb.select(col("vec_id"),
      SimilarityOps.lshBucket(col("embedding"), planes).as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = SimilarityOps.annLsh(emb, "vec_id", "embedding",
      queryMod = 20, k = 5, nPlanes = 4, dim = 64).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(buckets(r.getLong(0)) == buckets(r.getLong(1)),
      s"pair ${r.getLong(0)},${r.getLong(1)} not in same bucket"))
  }

  test("hyperplanes are deterministic and in [-1, 1)") {
    val a = SimilarityOps.hyperplanes(4, 64)
    val b = SimilarityOps.hyperplanes(4, 64)
    assert(a == b)
    assert(a.flatten.forall(x => x >= -1.0 && x < 1.0))
  }

  test("label centroid profile covers all labels, counts sum to corpus") {
    val rows = SimilarityOps.labelCentroidProfile(emb, "vec_id", "embedding", "label").collect()
    assert(rows.map(_.getLong(1)).sum == emb.count())
    // unit-ish random vectors: means should be near zero
    rows.foreach(r => assert(math.abs(r.getDouble(2)) < 0.2))
  }

  test("full label centroids are 64-dim") {
    val rows = SimilarityOps.labelCentroids(emb, "embedding", "label").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getSeq[Double](1).length == 64))
  }

  test("embedding near-dup finds identical vectors and orders by cosine desc") {
    import spark.implicits._
    val v1 = (0 until 64).map(i => math.sin(i + 1).toFloat).toArray
    val v3 = (0 until 64).map(i => math.cos(i * 2 + 1).toFloat).toArray
    val df = Seq((1L, v1), (2L, v1), (3L, v3)).toDF("vec_id", "embedding")
    val rows = SimilarityOps.embeddingNearDupPairs(df, "vec_id", "embedding",
      nPlanes = 6, dim = 64, minCos = 0.99, limit = 10).collect()
    // identical vectors share every hyperplane sign -> guaranteed same bucket
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).contains((1L, 2L)))
    assert(rows.forall(_.getDouble(2) >= 0.99))
  }

  test("embedding near-dup drops buckets over maxBucket (degenerate mass-dup bucket)") {
    import spark.implicits._
    val v1 = (0 until 64).map(i => math.sin(i + 1).toFloat).toArray
    val v3 = (0 until 64).map(i => math.cos(i * 2 + 1).toFloat).toArray
    // 10 identical copies of v1 (one dense bucket) + a small pair of v3s
    val df = ((1L to 10L).map(i => (i, v1)) ++ Seq((100L, v3), (101L, v3)))
      .toDF("vec_id", "embedding")
    val capped = SimilarityOps.embeddingNearDupPairs(df, "vec_id", "embedding",
      nPlanes = 6, dim = 64, minCos = 0.99, limit = 1000, maxBucket = 5).collect()
    // the 10-member bucket (45 pairs) is dropped; the 2-member bucket survives
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((100L, 101L)))
    val uncapped = SimilarityOps.embeddingNearDupPairs(df, "vec_id", "embedding",
      nPlanes = 6, dim = 64, minCos = 0.99, limit = 1000).collect()
    assert(uncapped.length == 45 + 1)
  }

  test("IVF ANN: neighbors share the query's centroid cell, ranking is correct") {
    val rows = SimilarityOps.annIvf(emb, "vec_id", "embedding",
      centroidMod = 50, queryMod = 40, k = 5).collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getLong(0))
    byQ.foreach { case (_, rs) =>
      assert(rs.length <= 5)
      val cs = rs.sortBy(_.getLong(3)).map(_.getDouble(2))
      cs.zip(cs.tail).foreach { case (a, b) => assert(a >= b) }
    }
  }

  test("multi-probe IVF recall is at least single-probe IVF recall") {
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = hits(SimilarityOps.annBruteForce(emb, "vec_id", "embedding", 40, 5))
    val single = hits(SimilarityOps.annIvf(emb, "vec_id", "embedding", 50, 40, 5))
    val multi = hits(SimilarityOps.annIvfMultiProbe(emb, "vec_id", "embedding", 50, 40, 5, nprobe = 3))
    val rs = (truth intersect single).size.toDouble / truth.size
    val rm = (truth intersect multi).size.toDouble / truth.size
    assert(rm >= rs, s"multi-probe IVF recall $rm < single-probe $rs")
    // probing 3 cells must never yield duplicate (query, neighbor) pairs
    val rows = SimilarityOps.annIvfMultiProbe(emb, "vec_id", "embedding", 50, 40, 5, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.distinct.length == rows.length)
  }

  test("multi-probe LSH recall is at least single-probe recall") {
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = hits(SimilarityOps.annBruteForce(emb, "vec_id", "embedding", 40, 5))
    val single = hits(SimilarityOps.annLsh(emb, "vec_id", "embedding", 40, 5, 6, 64))
    val multi = hits(SimilarityOps.annLshMultiProbe(emb, "vec_id", "embedding", 40, 5, 6, 64))
    val rs = (truth intersect single).size.toDouble / truth.size
    val rm = (truth intersect multi).size.toDouble / truth.size
    assert(rm >= rs, s"multi-probe recall $rm < single-probe $rs")
  }

  test("kmeans training: counts conserve the corpus, centroids land on cluster means") {
    import spark.implicits._
    // two tight clusters around +e1 and -e1; the k=2 lowest-id seeds land
    // one inside each cluster (ids 1 and 2)
    def v(base: Float, eps: Float) = Array.tabulate(4)(i => if (i == 0) base else eps)
    val df = Seq(
      (1L, v(1f, 0.01f)), (3L, v(1f, 0.02f)), (5L, v(1f, 0.03f)), (7L, v(1f, 0.04f)),
      (2L, v(-1f, 0.01f)), (4L, v(-1f, 0.02f)), (6L, v(-1f, 0.03f)), (8L, v(-1f, 0.04f)))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps
      .kmeansCentroids(df, "vec_id", "embedding", k = 2, iters = 2)
      .collect()
    assert(out.length == 2)
    assert(out.map(_.getLong(1)).sum == 8) // every vector assigned exactly once
    out.foreach(r => assert(r.getSeq[Double](2).length == 4))
    // first components: each cluster's mean of four identical base values
    val first = out.map(r => r.getLong(0) -> r.getSeq[Double](2).head).toMap
    assert(first(1L) == 1.0 && first(2L) == -1.0)
    // off-axis components are the exact 6-dp mean of the epsilons
    assert(out.forall(r => r.getSeq[Double](2).tail.forall(_ == 0.025)))
  }

  test("cluster topics: each cell's top term is its own vocabulary, shared terms rank below") {
    import spark.implicits._
    def v(base: Float, eps: Float) = Array.tabulate(4)(i => if (i == 0) base else eps)
    val emb = Seq(
      (1L, v(1f, 0.01f)), (3L, v(1f, 0.02f)), (5L, v(1f, 0.03f)),
      (2L, v(-1f, 0.01f)), (4L, v(-1f, 0.02f)), (6L, v(-1f, 0.03f)))
      .toDF("vec_id", "embedding")
    // cluster {1,3,5} speaks "apple", cluster {2,4,6} speaks "banana",
    // "common" appears everywhere (df_cells = 2 -> score halves)
    val docs = Seq(
      (1L, "apple apple common"), (3L, "apple common"), (5L, "apple"),
      (2L, "banana banana common"), (4L, "banana common"), (6L, "banana"))
      .toDF("doc_id", "text")
    val out = SimilarityOps.clusterTopics(emb, docs,
      "vec_id", "embedding", "doc_id", "text", k = 2, iters = 2, topN = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    val byCell = out.groupBy(_._1)
    assert(byCell.keySet == Set(1L, 2L), "two cells survive")
    val top1 = byCell(1L).find(_._2 == 1L).get
    val top2 = byCell(2L).find(_._2 == 1L).get
    assert(top1._3 == "apple" && top2._3 == "banana",
      "each cell's top term is its exclusive vocabulary")
    // exclusive term: tf=4, df_cells=1, n_cells=2 -> score = 8.0
    assert(top1._6 == 8.0 && top2._6 == 8.0)
    // shared term ranks second with halved weight: tf=2 * 2 / 2 = 2.0
    assert(byCell(1L).find(_._2 == 2L).get._3 == "common")
    assert(byCell(1L).find(_._2 == 2L).get._6 == 2.0)
  }

  test("converged kmeans stops early on a stable clustering and matches the fixed form") {
    import spark.implicits._
    def v(base: Float, eps: Float) = Array.tabulate(4)(i => if (i == 0) base else eps)
    val df = Seq(
      (1L, v(1f, 0.01f)), (3L, v(1f, 0.02f)), (5L, v(1f, 0.03f)), (7L, v(1f, 0.04f)),
      (2L, v(-1f, 0.01f)), (4L, v(-1f, 0.02f)), (6L, v(-1f, 0.03f)), (8L, v(-1f, 0.04f)))
      .toDF("vec_id", "embedding")
    // well-separated clusters stabilize after iteration 2 (iteration 1 moves
    // seeds to the means; iteration 2 re-derives identical means) — the
    // convergence test must detect that and not run to maxIters
    val (centsDf, iters) = SimilarityOps
      .kmeansCentroidsConverged(df, "vec_id", "embedding", k = 2, maxIters = 10)
    assert(iters < 10, s"never detected convergence (ran all $iters iterations)")
    val conv = centsDf.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getSeq[Double](2))).sortBy(_._1)
    val fixed = SimilarityOps
      .kmeansCentroids(df, "vec_id", "embedding", k = 2, iters = iters)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getSeq[Double](2))).sortBy(_._1)
    assert(conv.toSeq == fixed.toSeq,
      "converged training must equal the fixed form run for the same iterations")
    // an infinite tolerance means any first step counts as converged
    val (_, one) = SimilarityOps.kmeansCentroidsConverged(
      df, "vec_id", "embedding", k = 2, maxIters = 10, tol = Double.MaxValue)
    assert(one == 1)
  }

  test("pq: codebooks partition each subspace, codes compress, ADC ranks the true neighbor first") {
    import spark.implicits._
    // 4-dim vectors, m=2 subspaces of 2 dims; two tight groups per subspace
    def v(a: Float, b: Float) = Array(a, a, b, b)
    val df = Seq(
      (1L, v(1f, 8f)), (2L, v(1.1f, 8.1f)), (3L, v(5f, 2f)), (4L, v(5.1f, 2.1f)),
      (5L, v(1.05f, 8.05f)), (6L, v(5.05f, 2.05f)))
      .toDF("vec_id", "embedding")
    val books = SimilarityOps.pqTrainCodebooks(df, "vec_id", "embedding",
      dim = 4, m = 2, ksub = 2, iters = 2).collect()
    // 2 subspaces x <=2 centroids, each centroid a 2-dim mean vector
    assert(books.map(_.getInt(0)).toSet == Set(0, 1))
    books.foreach(r => assert(r.getSeq[Double](3).length == 2))
    val codes = SimilarityOps.pqEncode(df, "vec_id", "embedding",
      SimilarityOps.pqTrainCodebooks(df, "vec_id", "embedding", 4, 2, 2, 2), 4, 2)
      .collect()
    assert(codes.length == 12) // 6 vectors x 2 subspaces: m ints per vector
    // ADC: with queryMod=5, query 5 is a {1,2}-group member; its nearest
    // ADC neighbors must be the same-group vectors 1 and 2 before 3/4/6
    val ann = SimilarityOps.pqAnn(df, "vec_id", "embedding",
      dim = 4, m = 2, ksub = 2, iters = 2, queryMod = 5, k = 3).collect()
    val q5 = ann.filter(_.getLong(0) == 5L).sortBy(_.getLong(3)).map(_.getLong(1))
    assert(q5.take(2).toSet == Set(1L, 2L), s"ADC misranked: ${q5.mkString(",")}")
    // a repeated search reads the memoized codebooks + codes and must
    // return exactly what the training call did
    val hits0 = SimilarityOps.pqMemo.hits
    val again = SimilarityOps.pqAnn(df, "vec_id", "embedding",
      dim = 4, m = 2, ksub = 2, iters = 2, queryMod = 5, k = 3).collect()
    assert(SimilarityOps.pqMemo.hits >= hits0 + 1, "pqAnn must reuse the trained index")
    assert(again.toSeq == ann.toSeq, "memo hit diverged from the training call")
  }

  test("pq: pqEncode refuses a dim that does not split evenly into m subspaces") {
    import spark.implicits._
    val df = Seq((1L, Array(1f, 2f, 3f, 4f, 5f))).toDF("vec_id", "embedding")
    val books = Seq((0, 0L, Seq(1.0, 2.0))).toDF("sub", "cid", "cv")
    // two subvectors of 5 / 2 = 2 components would drop the fifth
    val e = intercept[IllegalArgumentException](
      SimilarityOps.pqEncode(df, "vec_id", "embedding", books, dim = 5, m = 2))
    assert(e.getMessage.contains("dim 5 must split evenly into 2 subspaces"))
  }

  test("pq: IVF-PQ over one all-zero coarse cell trains and encodes exactly like plain PQ") {
    import spark.implicits._
    // one zero centroid: every residual is the raw vector, and the lone
    // cell wins every argmax (a one-element array_max, though the 0/0
    // cosine is NaN) — so the residual trainer must reproduce
    // pqTrainCodebooks + pqEncode row for row
    def v(a: Float, b: Float) = Array(a, a, b, b)
    val df = Seq(
      (1L, v(1f, 8f)), (2L, v(1.1f, 8.1f)), (3L, v(5f, 2f)), (4L, v(5.1f, 2.1f)),
      (5L, v(1.05f, 8.05f)), (6L, v(5.05f, 2.05f)))
      .toDF("vec_id", "embedding")
    val zero = Seq((0L, Array.fill(4)(0.0))).toDF("cid", "cv")
    val (_, ivfBooks, ivfCodes) = SimilarityOps.ivfPqIndexWith(df, "vec_id", "embedding",
      zero, dim = 4, m = 2, ksub = 2, iters = 2)
    val books = SimilarityOps.pqTrainCodebooks(df, "vec_id", "embedding",
      dim = 4, m = 2, ksub = 2, iters = 2)
    def bookRows(d: org.apache.spark.sql.DataFrame) = d.select("sub", "cid", "cv").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2))).sortBy(r => (r._1, r._2)).toSeq
    def codeRows(d: org.apache.spark.sql.DataFrame) = d.select("id", "sub", "code").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    assert(bookRows(books).size == 4)
    assert(bookRows(ivfBooks) == bookRows(books))
    val plainCodes = codeRows(SimilarityOps.pqEncode(df, "vec_id", "embedding", books, 4, 2))
    assert(plainCodes.size == 12)
    assert(codeRows(ivfCodes) == plainCodes)
    assert(ivfCodes.select("ccell").distinct().collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  test("ivf-pq: residual ADC ranks the true cluster first; refine equals brute force on the shortlist") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 4-dim, two well-separated clusters; ids 0 and 30 are the coarse
    // centroids (coarseMod=30 over ids 0..31): one per cluster
    def v(a: Float, b: Float) = Array(a, a, b, b)
    val rows = (0L to 31L).map { i =>
      if (i % 2 == 0) (i, v(1f + (i % 7) * 0.01f, 8f - (i % 5) * 0.01f))
      else (i, v(5f + (i % 7) * 0.01f, 2f + (i % 5) * 0.01f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val ann = SimilarityOps.ivfPqAnn(df, "vec_id", "embedding",
      dim = 4, coarseMod = 30, m = 2, ksub = 4, iters = 2,
      queryMod = 16, k = 3, nprobe = 1).collect()
    // a repeated search reads the memoized id-residue index and must
    // return exactly what the training call did
    val hits0 = SimilarityOps.idResidueIndexMemo.hits
    val again = SimilarityOps.ivfPqAnn(df, "vec_id", "embedding",
      dim = 4, coarseMod = 30, m = 2, ksub = 4, iters = 2,
      queryMod = 16, k = 3, nprobe = 1).collect()
    assert(SimilarityOps.idResidueIndexMemo.hits >= hits0 + 1,
      "ivfPqAnn must reuse the trained index")
    assert(again.toSeq == ann.toSeq, "memo hit diverged from the training call")
    // queries 0 and 16 are even = cluster A; with nprobe=1 every reported
    // neighbor must come from the probed (same) cell = even ids only
    assert(ann.nonEmpty)
    ann.foreach(r => assert(r.getLong(1) % 2 == 0,
      s"nprobe=1 leaked a cross-cell neighbor: $r"))
    // the refine stage reports EXACT cosines: every (query, neighbor) row
    // must carry the same 6-dp cosine brute force computes for that pair
    val refined = SimilarityOps.ivfPqRerankAnn(df, "vec_id", "embedding",
      dim = 4, coarseMod = 30, m = 2, ksub = 4, iters = 2,
      queryMod = 16, k = 3, nprobe = 2, rerank = 6)
    val bf = SimilarityOps.annBruteForce(df, "vec_id", "embedding",
        queryMod = 16, k = 31)
      .select(col("query_id"), col("neighbor_id"), col("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val rc = refined.collect()
    assert(rc.nonEmpty)
    rc.foreach { r =>
      assert(bf((r.getLong(0), r.getLong(1))) == r.getDouble(2),
        s"refined cosine diverges from brute force: $r")
    }
    // rerank >= corpus with nprobe = all cells would equal brute force;
    // here assert the weaker guaranteed property: per-query rank order is
    // by exact cosine desc
    rc.groupBy(_.getLong(0)).values.foreach { qs =>
      val byRk = qs.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(byRk.zip(byRk.tail).forall { case (a, b) => a >= b })
    }
  }

  test("ivf-pq index artifacts survive a write/reload boundary bit-identically") {
    import org.apache.spark.sql.functions.col
    // the persisted-index production story, PQ edition: centroids +
    // codebooks + codes round-trip parquet (all columns exact — BIGINT
    // ids/codes, double centroid components), and search from the
    // RELOADED artifacts equals the inline search row for row
    val (cents, codebooks, codes) = SimilarityOps.ivfPqIndex(
      emb, "vec_id", "embedding", dim = 64, coarseMod = 50, m = 4, ksub = 8, iters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_").toString
    cents.write.parquet(dir + "/cents")
    codebooks.write.parquet(dir + "/codebooks")
    codes.write.partitionBy("ccell").parquet(dir + "/codes")
    val rCents = spark.read.parquet(dir + "/cents")
    val rBooks = spark.read.parquet(dir + "/codebooks")
    val rCodes = spark.read.parquet(dir + "/codes")
      .select(col("id"), col("ccell"), col("sub"), col("code"))
    val fromIndex = SimilarityOps.ivfPqFromIndex(
      emb.filter(col("vec_id") % 40 === 0), rCents, rBooks, rCodes,
      "vec_id", "embedding", dim = 64, m = 4, k = 5, nprobe = 2)
      .collect().toSeq.map(_.toSeq)
    val inline = SimilarityOps.ivfPqAnn(
      emb, "vec_id", "embedding", dim = 64, coarseMod = 50, m = 4, ksub = 8,
      iters = 2, queryMod = 40, k = 5, nprobe = 2)
      .collect().toSeq.map(_.toSeq)
    assert(fromIndex.nonEmpty && fromIndex == inline,
      "reloaded-artifact search diverged from the inline search")
  }

  test("ivf-pq over trained kmeans cells keeps nprobe=1 neighbors inside the query's true cluster") {
    import spark.implicits._
    // same two-cluster fixture as the id-residue test, but the coarse
    // stage is TRAINED (kCoarse=2): Lloyd from the two lowest-id seeds
    // (0 = cluster A, 1 = cluster B) converges one centroid onto each
    // cluster, so with nprobe=1 every reported neighbor shares the
    // query's parity — the fixed-k quantizer finds the same structure
    // the id-residue convention was hand-seeded with
    def v(a: Float, b: Float) = Array(a, a, b, b)
    val rows = (0L to 31L).map { i =>
      if (i % 2 == 0) (i, v(1f + (i % 7) * 0.01f, 8f - (i % 5) * 0.01f))
      else (i, v(5f + (i % 7) * 0.01f, 2f + (i % 5) * 0.01f))
    }
    val df = rows.toDF("vec_id", "embedding")
    val ann = SimilarityOps.ivfPqKmeansAnn(df, "vec_id", "embedding",
      dim = 4, kCoarse = 2, kmIters = 2, m = 2, ksub = 4, iters = 2,
      queryMod = 16, k = 3, nprobe = 1).collect()
    assert(ann.nonEmpty)
    ann.foreach { r =>
      assert(r.getLong(1) % 2 == r.getLong(0) % 2,
        s"trained-cell nprobe=1 leaked a cross-cluster neighbor: $r")
    }
    // per-query ranks are 1..n by ascending ADC distance
    ann.groupBy(_.getLong(0)).values.foreach { qs =>
      val byRk = qs.sortBy(_.getLong(3))
      assert(byRk.map(_.getLong(3)).toSeq == (1L to byRk.length).toSeq)
      val d = byRk.map(_.getLong(2))
      assert(d.zip(d.tail).forall { case (a, b) => a <= b })
    }
    // the kmeans + refine composition reports EXACT cosines (the
    // ivfPqRerankAnn contract over trained cells): every surfaced pair's
    // cosine equals brute force's, and per-query order is cosine desc.
    // nprobe/queryMod are SEARCH params, not training params, so this
    // call must reuse the trained-index memo the ADC call above built
    val hits0 = SimilarityOps.kmeansIndexMemo.hits
    val refined = SimilarityOps.ivfPqKmeansRerankAnn(df, "vec_id", "embedding",
      dim = 4, kCoarse = 2, kmIters = 2, m = 2, ksub = 4, iters = 2,
      queryMod = 16, k = 3, nprobe = 2, rerank = 6).collect()
    assert(SimilarityOps.kmeansIndexMemo.hits >= hits0 + 1,
      "rerank must reuse the session-memoized trained index")
    val bf = SimilarityOps.annBruteForce(df, "vec_id", "embedding",
        queryMod = 16, k = 31)
      .select(org.apache.spark.sql.functions.col("query_id"),
        org.apache.spark.sql.functions.col("neighbor_id"),
        org.apache.spark.sql.functions.col("cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(refined.nonEmpty)
    refined.foreach { r =>
      assert(bf((r.getLong(0), r.getLong(1))) == r.getDouble(2),
        s"kmeans-refined cosine diverges from brute force: $r")
    }
    refined.groupBy(_.getLong(0)).values.foreach { qs =>
      val byRk = qs.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(byRk.zip(byRk.tail).forall { case (a, b) => a >= b })
    }
  }

  test("brute-force plan broadcasts the query side") {
    val plan = SimilarityOps.annBruteForce(emb, "vec_id", "embedding", 100, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), "query set should be broadcast")
  }

  /** centroidMod=3 -> centroids are ids 0 and 3: cell "x-axis" and cell
    * "y-axis". 1 and 2 are near-dups of 0; 4 is a near-dup of 3; 5 sits in
    * the x cell but below the threshold to everything earlier there. */
  private def dedupFixture = {
    import spark.implicits._
    Seq(
      (0L, Array(1f, 0f)),
      (1L, Array(0.99f, 0.05f)),
      (2L, Array(0.98f, 0.08f)),
      (3L, Array(0f, 1f)),
      (4L, Array(0.05f, 0.99f)),
      (5L, Array(0.75f, 0.66f)))
      .toDF("vec_id", "embedding")
  }

  test("semantic dedup drops later in-cell near-dups, attributed to the lowest-id keeper") {
    val rows = SimilarityOps.semanticDedup(dedupFixture, "vec_id", "embedding",
      centroidMod = 3, minCos = 0.99)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows == Map(1L -> 0L, 2L -> 0L, 4L -> 3L),
      s"dropped->keeper attribution wrong: $rows")
  }

  test("semantic dedup rows do not depend on self-join ambiguity resolution") {
    // the keeper join reads `pairs` twice; its result must not rest on the
    // analyzer rewriting an ambiguous self-join condition
    def run() = SimilarityOps.semanticDedup(dedupFixture, "vec_id", "embedding",
      centroidMod = 3, minCos = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val default = run()
    val key = "spark.sql.selfJoinAutoResolveAmbiguity"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    val unresolved =
      try run()
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(default.map(_._1) == Seq(1L, 2L, 4L), s"default run wrong: $default")
    assert(unresolved.length == default.length, s"row count differs: $unresolved")
    assert(unresolved == default)
  }

  test("semantic dedup equals brute-force within-cell filtering and respects maxCell") {
    val dropped = SimilarityOps.semanticDedup(emb, "vec_id", "embedding",
      centroidMod = 10, minCos = 0.2).collect()
    // every reported cos must clear the threshold in scaled-int form
    dropped.foreach(r => assert(r.getLong(2) >= 200000L))
    // keeper must be earlier than the dropped vector
    dropped.foreach(r => assert(r.getLong(1) < r.getLong(0)))
    val capped = SimilarityOps.semanticDedup(emb, "vec_id", "embedding",
      centroidMod = 10, minCos = 0.2, maxCell = 1)
    assert(capped.isEmpty, "maxCell=1 leaves no comparable cell")
  }

  test("knn graph: cell-local neighbors, cosine-ranked, symmetric pair values") {
    import spark.implicits._
    // centroidMod=4 -> centroids 0 (x-axis) and 4 (y-axis); two cells of 4
    val df = Seq(
      (0L, Array(1f, 0f)), (1L, Array(1f, 0.1f)),
      (2L, Array(1f, 0.2f)), (3L, Array(1f, 0.3f)),
      (4L, Array(0f, 1f)), (5L, Array(0.1f, 1f)),
      (6L, Array(0.2f, 1f)), (7L, Array(-0.1f, 1f)))
      .toDF("vec_id", "embedding")
    val rows = SimilarityOps.knnGraph(df, "vec_id", "embedding",
      centroidMod = 4, kNbrs = 2).collect()
    val byV = rows.groupBy(_.getLong(0))
    assert(byV.keySet == (0L to 7L).toSet, "every vector gets neighbors")
    byV.values.foreach(rs => assert(rs.length == 2))
    val xCell = Set(0L, 1L, 2L, 3L)
    rows.foreach { r =>
      assert(xCell(r.getLong(0)) == xCell(r.getLong(2)), "neighbors stay in-cell")
    }
    // id0's nearest is id1 (smallest angular offset), then id2
    val n0 = byV(0L).sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
    assert(n0 == Seq(1L, 2L))
    // the undirected pair is mirrored with an identical cosine both ways
    val cos01 = rows.find(r => r.getLong(0) == 0L && r.getLong(2) == 1L).get.getDouble(3)
    val cos10 = rows.find(r => r.getLong(0) == 1L && r.getLong(2) == 0L).get.getDouble(3)
    assert(cos01 == cos10)
    // cosine non-increasing in rank for every vector
    byV.values.foreach { rs =>
      val cs = rs.sortBy(_.getLong(1)).map(_.getDouble(3))
      cs.zip(cs.tail).foreach { case (a, b) => assert(a >= b) }
    }
  }

  test("knn graph: singleton and over-cap cells emit nothing") {
    import spark.implicits._
    val df = Seq(
      (0L, Array(1f, 0f)), (1L, Array(1f, 0.1f)), (2L, Array(1f, 0.2f)),
      (3L, Array(0f, 1f)))  // centroidMod=3 -> cell 3 holds only vector 3
    .toDF("vec_id", "embedding")
    val rows = SimilarityOps.knnGraph(df, "vec_id", "embedding",
      centroidMod = 3, kNbrs = 2).collect()
    assert(!rows.exists(_.getLong(0) == 3L), "singleton cell has no neighbors")
    assert(rows.map(_.getLong(0)).toSet == Set(0L, 1L, 2L))
    val capped = SimilarityOps.knnGraph(df, "vec_id", "embedding",
      centroidMod = 3, kNbrs = 2, maxCell = 2)
    assert(capped.isEmpty, "over-cap cell is skipped entirely")
  }

  test("knn graph refinement: recall strictly improves and rescues singleton cells") {
    import spark.implicits._
    // centroidMod=4 -> centroids 0 (x-axis), 4 (y-axis), 8 (diagonal).
    // Vector 8 = (1, 1) is its own nearest centroid and captures nothing
    // else -> singleton cell -> no rows in the base graph; its true
    // neighbors live in the two axis clusters.
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(1f, 0.1f)),
      (2L, Array(1f, 0.2f)), (3L, Array(1f, 0.3f)),
      (4L, Array(0f, 1f)), (5L, Array(0.1f, 1f)),
      (6L, Array(0.2f, 1f)), (7L, Array(-0.1f, 1f)),
      (8L, Array(1f, 1f)))
    val df = vecs.toDF("vec_id", "embedding")
    // exact brute-force top-2 per vector, computed in Scala
    def cosD(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val truth: Map[Long, Set[Long]] = vecs.map { case (id, v) =>
      id -> vecs.filter(_._1 != id)
        .map { case (oid, ov) => (oid, cosD(v, ov)) }
        .sortBy { case (oid, c) => (-c, oid) }.take(2).map(_._1).toSet
    }.toMap
    def recall(rows: Array[org.apache.spark.sql.Row]): Double = {
      val got = rows.groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.map(_.getLong(2)).toSet }
      vecs.map { case (id, _) =>
        got.getOrElse(id, Set.empty[Long]).intersect(truth(id)).size.toDouble / 2
      }.sum / vecs.size
    }
    val base = SimilarityOps.knnGraph(df, "vec_id", "embedding",
      centroidMod = 4, kNbrs = 2).collect()
    val refined = SimilarityOps.knnGraphRefined(df, "vec_id", "embedding",
      centroidMod = 4, kNbrs = 2, seedBuckets = 1, anchorMod = 4).collect()
    // singleton-cell vector 8 has no base rows; seeds tie it to the
    // anchors (0 and 4), and the NN-descent round through the anchors'
    // neighborhoods reaches real cluster members: 2 and 6 (cos 0.832,
    // symmetric about the diagonal, tie broken by id) — one of which (2)
    // is in its brute-force top-2 {3, 2}
    assert(!base.exists(_.getLong(0) == 8L))
    val n8 = refined.filter(_.getLong(0) == 8L).sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
    assert(n8 == Seq(2L, 6L), s"vector 8 must reach real cluster neighbors, got $n8")
    assert(truth(8L).contains(2L))
    assert(recall(refined) > recall(base),
      s"refinement must strictly improve recall: base=${recall(base)} refined=${recall(refined)}")
    // schema/invariant parity with the base graph: ranked, cosine
    // non-increasing, no self-edges
    refined.groupBy(_.getLong(0)).values.foreach { rs =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq)
      val cs = sorted.map(_.getDouble(3))
      cs.zip(cs.tail).foreach { case (a, b) => assert(a >= b) }
    }
    assert(!refined.exists(r => r.getLong(0) == r.getLong(2)))
    // a SECOND NN-descent round reaches one hop further: round 1 gave
    // vector 8 cluster members {2, 6}; through 2's neighborhood round 2
    // must recover 8's TRUE brute-force top-2 {3, 2} — and recall is
    // monotone over rounds (max-merging candidates into a per-node top-k
    // can only improve it)
    val refined2 = SimilarityOps.knnGraphRefined(df, "vec_id", "embedding",
      centroidMod = 4, kNbrs = 2, seedBuckets = 1, anchorMod = 4, rounds = 2)
      .collect()
    val n8r2 = refined2.filter(_.getLong(0) == 8L).sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
    assert(n8r2 == Seq(3L, 2L), s"round 2 must recover the true top-2, got $n8r2")
    assert(truth(8L) == Set(3L, 2L))
    assert(recall(refined2) >= recall(refined),
      s"recall must be monotone over rounds: r1=${recall(refined)} r2=${recall(refined2)}")
  }

  test("knn graph refinement on an empty corpus is empty, never a crash") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(SimilarityOps.knnGraphRefined(empty, "vec_id", "embedding",
      centroidMod = 4, kNbrs = 2, rounds = 2).isEmpty)
  }

  test("scalar quantization: codes are clamp(floor(x*127/maxabs)) with zero-dim -> 0") {
    import spark.implicits._
    // dim 0 max-abs 2.0; dim 1 max-abs 4.0; dim 2 all-zero
    val vecs = Seq(
      (1L, Array(2.0f, -4.0f, 0.0f)),
      (2L, Array(-2.0f, 1.0f, 0.0f)),
      (3L, Array(0.5f, 3.0f, 0.0f))).toDF("vec_id", "embedding")
    val scales = SimilarityOps.sqScales(vecs, "embedding")
    assert(scales.collect().head.getSeq[Double](0) == Seq(2.0, 4.0, 0.0))
    val codes = SimilarityOps.sqEncode(vecs, "vec_id", "embedding", scales)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // x = +maxabs clamps the float-rounding overshoot to +127; x = -maxabs
    // floors to -128 and clamps symmetric to -127
    assert(codes(1L) == Seq(127L, -127L, 0L))
    assert(codes(2L) == Seq(-127L, math.floor(1.0 * 127 / 4).toLong, 0L))
    assert(codes(3L) == Seq(math.floor(0.5 * 127 / 2).toLong,
      math.floor(3.0 * 127 / 4).toLong, 0L))
  }

  test("scalar-quantized ANN ranks an exact duplicate first and is repartition-invariant") {
    import spark.implicits._
    val dup = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f, 4.0f)),
      (1L, Array(1.0f, 2.0f, 3.0f, 4.0f)),   // exact duplicate of the query
      (2L, Array(-1.0f, -2.0f, -3.0f, -4.0f)),
      (3L, Array(4.0f, 3.0f, 2.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = SimilarityOps.annScalarQuant(dup, "vec_id", "embedding", queryMod = 4, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.head == ((0L, 1L, out.head._3, 1L)), s"duplicate must rank first: ${out.toSeq}")
    assert(out.map(_._2).toSeq == Seq(1L, 3L, 2L), s"integer-dot order: ${out.toSeq}")
    val real = SimilarityOps.annScalarQuant(emb, "vec_id", "embedding", queryMod = 50, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val reparted = SimilarityOps.annScalarQuant(emb.repartition(13), "vec_id", "embedding",
      queryMod = 50, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(real.nonEmpty && real == reparted)
  }

  test("embedding profile: nulls, zero vectors, ragged dims, norm band") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(3.0f, 4.0f), 0), // norm2 = 25
      (2L, Array(0.0f, 0.0f), 0), // zero vector
      (3L, null.asInstanceOf[Array[Float]], 0), // null
      (4L, Array(1.0f), 1)) // ragged dim
      .toDF("vec_id", "embedding", "label")
    val r = SimilarityOps.embeddingProfile(emb, "embedding", "label")
      .collect().map(x => x.getInt(0) -> x).toMap
    val l0 = r(0)
    assert(l0.getAs[Long]("n_vecs") == 3L && l0.getAs[Long]("n_null") == 1L &&
      l0.getAs[Long]("n_zero") == 1L)
    assert(l0.getAs[Long]("dim_min") == 2L && l0.getAs[Long]("dim_max") == 2L)
    assert(l0.getAs[Double]("norm2_min") == 0.0 && l0.getAs[Double]("norm2_max") == 25.0)
    assert(l0.getAs[Double]("norm2_mean") == 12.5) // (0 + 25) / 2 over non-null
    val l1 = r(1)
    assert(l1.getAs[Long]("dim_min") == 1L && l1.getAs[Double]("norm2_mean") == 1.0)
  }

  test("cluster silhouette: separated clusters report wide positive margins") {
    import spark.implicits._
    // two orthogonal-ish clusters; the two lowest-id seeds land one per
    // cluster, so training converges immediately and every point's
    // winning-vs-runner-up cosine margin is wide
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.9f, 0.1f)), (4L, Array(0.1f, 0.9f)),
      (5L, Array(0.95f, 0.05f)), (6L, Array(0.05f, 0.95f)))
      .toDF("vec_id", "embedding")
    val r = SimilarityOps.clusterSilhouette(emb, "vec_id", "embedding",
      k = 2, iters = 2).collect()
    assert(r.length == 2)
    r.foreach { x =>
      assert(x.getAs[Long]("n_points") == 3L)
      assert(x.getAs[Double]("mean_margin") > 0.2,
        s"separated clusters must have wide margins: $x")
      assert(x.getAs[Double]("min_margin") > 0.0)
      assert(x.getAs[Double]("min_margin") <= x.getAs[Double]("mean_margin"))
    }
    // repartition-invariant (decimal-exact margin aggregation)
    val r13 = SimilarityOps.clusterSilhouette(emb.repartition(13), "vec_id",
      "embedding", k = 2, iters = 2).collect()
    assert(r.map(_.toString).toSeq == r13.map(_.toString).toSeq)
    intercept[IllegalArgumentException] {
      SimilarityOps.clusterSilhouette(emb, "vec_id", "embedding", k = 1, iters = 1)
    }
  }

  test("labelCentroidMargin: clean labels score positive margins; a planted mislabel goes negative") {
    import spark.implicits._
    // label 0 points along e1, label 1 along e2 — vec 5 carries label 1
    // but sits on e1: its own-centroid cosine loses to label 0's centroid
    val emb = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(0.9f, 0.1f), 0), (3L, Array(0.95f, 0.05f), 0),
      (4L, Array(0.0f, 1.0f), 1), (6L, Array(0.1f, 0.9f), 1),
      (5L, Array(1.0f, 0.02f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = SimilarityOps.labelCentroidMargin(emb, "vec_id", "embedding", "label")
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(0L).getAs[Long]("n_vecs") == 3 && r(0L).getAs[Long]("n_misassigned") == 0)
    assert(r(0L).getAs[Double]("min_margin") > 0.0)
    assert(r(1L).getAs[Long]("n_vecs") == 3 && r(1L).getAs[Long]("n_misassigned") == 1)
    assert(r(1L).getAs[Double]("min_margin") < 0.0)
    assert(r(1L).getAs[Long]("mis_ppm") == 333333L)
    // decimal-exact aggregation: partitioning-invariant
    val b = SimilarityOps.labelCentroidMargin(emb.repartition(7), "vec_id", "embedding", "label")
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r.view.mapValues(_.toString).toMap == b.view.mapValues(_.toString).toMap)
  }

  test("lengthNormCorrelation: planted length-norm bias is caught; unit norms yield null") {
    import spark.implicits._
    val docs = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("doc_id", "n_chars")
    // norms grow with length: corr 1.0-ish (positive, strong)
    val biased = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(2.0f, 0.0f)), (3L, Array(3.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val r = SimilarityOps.lengthNormCorrelation(
      docs, "doc_id", "n_chars", biased, "vec_id", "embedding").collect().head
    assert(r.getLong(0) == 3L && r.getDouble(1) > 0.9)
    // unit-normalized corpus: zero norm variance -> null corr (the guard)
    val unit = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)), (3L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    assert(SimilarityOps.lengthNormCorrelation(
      docs, "doc_id", "n_chars", unit, "vec_id", "embedding").collect().head.isNullAt(1))
  }

  test("tripletMining: nearest same-label positive, nearest other-label hard negative, margin sign") {
    import spark.implicits._
    // anchor 0 (label 0) along e1: positive = closest label-0 (id 2),
    // hard negative = the label-1 vector that also points along e1 (id 3)
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.1f), 0), (4L, Array(0.5f, 0.5f), 0),
      (3L, Array(0.95f, 0.05f), 1), (5L, Array(0.0f, 1.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val r = SimilarityOps.tripletMining(emb, "vec_id", "embedding", "label",
      queryMod = 2).collect().map(x => x.getLong(0) -> x).toMap
    val a0 = r(0L)
    assert(a0.getAs[Long]("pos_id") == 2L && a0.getAs[Long]("neg_id") == 3L)
    // the hard negative is CLOSER than the positive here: margin < 0
    assert(a0.getAs[Double]("margin") < 0.0)
    assert(math.abs(a0.getAs[Double]("margin") -
      (a0.getAs[Double]("pos_cos") - a0.getAs[Double]("neg_cos"))) <= 1e-6)
    // anchor 4 (label 0): positive 2 or 0, negative exists; margins consistent
    assert(r.contains(4L) && r.contains(2L))
    // partitioning-invariant
    val b = SimilarityOps.tripletMining(emb.repartition(7), "vec_id", "embedding",
      "label", queryMod = 2).collect().map(x => x.getLong(0) -> x.toString).toMap
    assert(r.view.mapValues(_.toString).toMap == b)
  }

  test("sqReconError: error bounded by s/127 half-step analogue; zero-scale dim has zero error") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.5f)), (2L, Array(-1.0f, 0.0f, 0.25f)),
      (3L, Array(0.3f, 0.0f, -0.5f)))
      .toDF("vec_id", "embedding")
    val r = SimilarityOps.sqReconError(emb, "vec_id", "embedding")
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r.keySet == Set(1L, 2L, 3L))
    // dim 2 is all-zero: scale 0, code 0, reconstruction exact
    assert(r(2L).getAs[Long]("max_err_e6") == 0L)
    // floor-based code is within one step: err <= s/127 (+ 6-dp rounding)
    Seq(1L, 3L).foreach { d =>
      val bound = (1.0 / 127.0 + 5e-7) * 1e6
      assert(r(d).getAs[Long]("max_err_e6") <= bound.toLong + 1,
        s"dim $d err ${r(d)} exceeds one quantization step")
      assert(r(d).getAs[Long]("mean_err_e6") <= r(d).getAs[Long]("max_err_e6"))
      assert(r(d).getAs[Long]("n_vecs") == 3L)
    }
    // exact integers: partitioning-invariant
    val b = SimilarityOps.sqReconError(emb.repartition(5), "vec_id", "embedding")
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r.view.mapValues(_.toString).toMap == b.view.mapValues(_.toString).toMap)
  }

  test("embedding anisotropy: a one-axis corpus scores 1e6 ppm, a balanced cross scores uniform") {
    import spark.implicits._
    // all variance on axis 1: mu = (2e6, 0), centered (-1e6, 0, 1e6),
    // C = [[2e12, 0], [0, 0]] — the power iterate locks onto axis 1 and
    // the Rayleigh share is the whole trace
    val cone = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(2.0f, 0.0f)), (3L, Array(3.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val c = SimilarityOps.embeddingAnisotropy(cone, "embedding", dim = 2, iters = 3)
      .collect().head
    assert((c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3), c.getLong(4)) ==
      ((3L, 2L, 666666666666L, 1000000L, 500000L)))
    // balanced cross: C = 2e12 * I — equal eigenvalues, the share sits
    // exactly at the uniform 1e6/dim floor
    val cross = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(-1.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.0f, -1.0f)))
      .toDF("vec_id", "embedding")
    val x = SimilarityOps.embeddingAnisotropy(cross, "embedding", dim = 2, iters = 3)
      .collect().head
    assert((x.getLong(0), x.getLong(2), x.getLong(3)) == ((4L, 1000000000000L, 500000L)))
  }

  test("lexical-embedding agreement: aligned signals give corr 1, scrambled ids go negative") {
    import spark.implicits._
    // docs 1 and 2 are verbatim clones, doc 3 is lexically disjoint:
    // pair jaccards are (1e6, 0, 0)
    val docs = Seq(
      (1L, "a1 a2 a3 a4 a5"), (2L, "a1 a2 a3 a4 a5"), (3L, "b1 b2 b3 b4 b5"))
      .toDF("doc_id", "text")
    val e1 = Array(1.0f, 0.0f, 0.0f)
    val e2 = Array(0.0f, 1.0f, 0.0f)
    // embeddings agree with the text: clones share e1, the outlier is
    // orthogonal — two distinct (x, y) points, Pearson exactly 1
    val aligned = Seq((1L, e1), (2L, e1), (3L, e2)).toDF("vec_id", "embedding")
    val good = SimilarityOps.lexicalEmbeddingAgreement(docs, aligned,
      "text", "doc_id", "vec_id", "embedding", w = 3, sampleN = 10).collect()
    assert(good.length == 1 && good.head.getLong(0) == 3L)
    assert(good.head.getDouble(1) == 1.0)
    // a scrambled id join (doc 2's vector swapped): the clone pair now
    // has cosine 0 while a disjoint pair has cosine 1 — moments give
    // corr exactly -0.5, the audit's "do not trust this column" signal
    val scrambled = Seq((1L, e1), (2L, e2), (3L, e1)).toDF("vec_id", "embedding")
    val bad = SimilarityOps.lexicalEmbeddingAgreement(docs, scrambled,
      "text", "doc_id", "vec_id", "embedding", w = 3, sampleN = 10).collect()
    assert(bad.head.getDouble(1) == -0.5)
  }
}
