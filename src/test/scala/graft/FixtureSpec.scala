package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** [[SparkEntry.fixture]], the build-once scratch directory behind every
  * registry gate's persisted index or table. Each test uses its own kinds:
  * fixtures are per JVM and other specs' fixtures share it, so no test
  * here calls the global cleanup.
  */
class FixtureSpec extends AnyFunSuite {

  private def listing(p: Path): Seq[String] = {
    val s = Files.list(p)
    try s.toArray.toSeq.map(_.toString) finally s.close()
  }

  private def withPool[T](n: Int)(f: ExecutionContext => T): T = {
    val pool = Executors.newFixedThreadPool(n)
    try f(ExecutionContext.fromExecutor(pool)) finally pool.shutdownNow()
  }

  test("concurrent callers of one key run the build once and share its value") {
    val builds = new AtomicInteger(0)
    val got = withPool(8) { implicit ec =>
      val start = new CountDownLatch(1)
      val calls = (1 to 8).map(_ => Future {
        start.await()
        SparkEntry.fixture("fxspec-once", "/corpus") { p =>
          builds.incrementAndGet()
          Thread.sleep(200)
          p
        }
      })
      start.countDown()
      Await.result(Future.sequence(calls), 30.seconds)
    }
    assert(builds.get == 1)
    assert(got.distinct.size == 1)
    assert(Files.isDirectory(java.nio.file.Paths.get(got.head)))
  }

  test("a build that throws is retried on the next call in a fresh, empty directory") {
    val dirs = scala.collection.mutable.ArrayBuffer.empty[String]
    def build(p: String): String = {
      dirs += p
      val empty = listing(java.nio.file.Paths.get(p)).isEmpty
      Files.writeString(java.nio.file.Paths.get(p, "_vlatest"), "1")
      if (dirs.size == 1) sys.error("first attempt fails half-way")
      require(empty, s"attempt ${dirs.size} started in a non-empty directory $p")
      p
    }
    intercept[RuntimeException] { SparkEntry.fixture("fxspec-retry", "/corpus")(build) }
    val p = SparkEntry.fixture("fxspec-retry", "/corpus")(build)
    assert(dirs.size == 2)
    assert(dirs(0) != dirs(1))
    assert(p == dirs(1))
    // Recorded now: a third call builds nothing.
    assert(SparkEntry.fixture("fxspec-retry", "/corpus")(build) == p)
    assert(dirs.size == 2)
  }

  test("a slow build of one key does not block another key") {
    val release = new CountDownLatch(1)
    val entered = new CountDownLatch(1)
    withPool(2) { implicit ec =>
      val slow = Future {
        SparkEntry.fixture("fxspec-slow", "/corpus") { p =>
          entered.countDown()
          release.await(30, TimeUnit.SECONDS)
          p
        }
      }
      assert(entered.await(30, TimeUnit.SECONDS))
      val fast = Future(SparkEntry.fixture("fxspec-fast", "/corpus")(p => p))
      try {
        // Completes while the slow build is still inside its build function.
        assert(Files.isDirectory(java.nio.file.Paths.get(Await.result(fast, 10.seconds))))
        assert(!slow.isCompleted)
      } finally release.countDown()
      Await.result(slow, 30.seconds)
    }
  }

  test("deleteTree removes a tree holding symlinks and leaves their targets intact") {
    val outside = Files.createTempDirectory("fxspec-target-")
    val kept = Files.writeString(outside.resolve("events.parquet"), "corpus")
    val tree = Files.createTempDirectory("fxspec-tree-")
    try {
      Files.createDirectories(tree.resolve("a/b"))
      Files.writeString(tree.resolve("a/b/f"), "x")
      Files.createSymbolicLink(tree.resolve("dirlink"), outside)
      Files.createSymbolicLink(tree.resolve("a/filelink"), kept)
      SparkEntry.deleteTree(tree)
      assert(!Files.exists(tree, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      assert(Files.readString(kept) == "corpus")
      assert(listing(outside) == Seq(kept.toString))
    } finally SparkEntry.deleteTree(outside)
  }
}
