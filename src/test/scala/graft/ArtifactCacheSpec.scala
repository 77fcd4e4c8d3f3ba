package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.ops.ArtifactCache
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

object ArtifactCacheSpec {
  /** Distinct params whose hashes are equal, so their keys share one
    * bin of the backing map. */
  final case class Colliding(id: Int) {
    override def hashCode: Int = 0
  }
}

class ArtifactCacheSpec extends AnyFunSuite with BeforeAndAfterAll {
  import ArtifactCacheSpec.Colliding
  private lazy val spark = TestSpark.spark
  private lazy val content = spark.range(3).toDF()

  private val pool = Executors.newCachedThreadPool()
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
  override def afterAll(): Unit = pool.shutdownNow()

  private def await[T](f: Future[T]): T = Await.result(f, 30.seconds)

  test("two callers of one key: one build, the same value for both") {
    val cache = new ArtifactCache[Object]
    val builds = new AtomicInteger(0)
    val building = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    def build(): Object = {
      builds.incrementAndGet()
      building.countDown()
      release.await(30, TimeUnit.SECONDS)
      new Object
    }
    val first = Future(cache(content, "k")(build()))
    building.await(30, TimeUnit.SECONDS)
    val second = Future(cache(content, "k")(build()))
    release.countDown()
    assert(await(first) eq await(second))
    assert(builds.get == 1)
    assert(cache.hits == 1)
  }

  test("a build blocked on one key does not block a colliding key") {
    val cache = new ArtifactCache[String]
    val building = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val slow = Future(cache(content, Colliding(1)) {
      building.countDown()
      release.await(30, TimeUnit.SECONDS)
      "slow"
    })
    building.await(30, TimeUnit.SECONDS)
    try assert(Await.result(Future(cache(content, Colliding(2))("fast")), 10.seconds) == "fast")
    finally release.countDown()
    assert(await(slow) == "slow")
  }

  test("a builder may call the cache for another key") {
    val cache = new ArtifactCache[Int]
    val outer = cache(content, Colliding(1))(cache(content, Colliding(2))(1) + 1)
    assert(outer == 2)
    assert(cache(content, Colliding(2))(fail("inner must be cached")) == 1)
  }

  test("a build that throws leaves no entry; the next call rebuilds") {
    val cache = new ArtifactCache[String]
    val e = intercept[IllegalStateException] {
      cache(content, "k")(throw new IllegalStateException("build failed"))
    }
    assert(e.getMessage == "build failed")
    assert(cache(content, "k")("rebuilt") == "rebuilt")
    assert(cache.hits == 0)
  }

  test("a stopped session's entries are dropped on the next lookup") {
    val other = spark.newSession()
    var otherStopped = false
    val cache = new ArtifactCache[String] {
      override protected def stopped(s: SparkSession): Boolean = otherStopped && (s eq other)
    }
    val otherContent = other.range(3).toDF()
    assert(cache(otherContent, "k")("old") == "old")
    assert(cache(content, "k")("live") == "live")
    otherStopped = true
    assert(cache(content, "k")(fail("a live session's entry must survive")) == "live")
    // the lookup above swept the entry; with the session live again, its
    // key is a miss and rebuilds
    otherStopped = false
    assert(cache(otherContent, "k")("rebuilt") == "rebuilt")
  }
}
