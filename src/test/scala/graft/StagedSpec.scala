package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** The staging registry's contract: one build per (applicationId, dir,
  * name), nested builds allowed, failures retried, self time recorded.
  * Each test uses its own application id so entries never collide.
  */
class StagedSpec extends AnyFunSuite {
  private def app(tag: String) = s"staged-spec-$tag-${System.nanoTime()}"
  private def buildsOf(appId: String) = Staged.builds.filter(_.appId == appId)

  test("nested entries build from the one registry") {
    val a = app("nested")
    val outer = Staged.at(a, "d", "outer") {
      Staged.at(a, "d", "inner")("in") + "+out"
    }
    assert(outer == "in+out")
    assert(Staged.at[String](a, "d", "inner")(fail("inner rebuilt")) == "in")
    assert(Staged.at[String](a, "d", "outer")(fail("outer rebuilt")) == "in+out")
    assert(buildsOf(a).map(_.name) == Seq("inner", "outer"))
  }

  test("a throwing build is not cached; the next call retries") {
    val a = app("throw")
    val calls = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      Staged.at(a, "d", "x") { calls.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    assert(buildsOf(a).isEmpty)
    assert(Staged.at(a, "d", "x") { calls.incrementAndGet(); "ok" } == "ok")
    assert(Staged.at(a, "d", "x") { calls.incrementAndGet(); "again" } == "ok")
    assert(calls.get == 2)
  }

  test("a new applicationId, dir or name rebuilds; the same key does not") {
    val a = app("a")
    val b = app("b")
    val calls = new AtomicInteger()
    def get(appId: String, dir: String, name: String) =
      Staged.at(appId, dir, name)(s"v${calls.incrementAndGet()}")
    assert(get(a, "d", "x") == "v1")
    assert(get(a, "d", "x") == "v1")
    assert(get(b, "d", "x") == "v2")
    assert(get(a, "e", "x") == "v3")
    assert(get(a, "d", "y") == "v4")
    assert(calls.get == 4)
  }

  test("8 threads racing one key run the build exactly once") {
    val a = app("race")
    val calls = new AtomicInteger()
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val fs = (1 to 8).map(_ => pool.submit(new Callable[AnyRef] {
        def call(): AnyRef = {
          start.await()
          Staged.at(a, "d", "x") {
            calls.incrementAndGet(); Thread.sleep(200); new Object
          }
        }
      }))
      start.countDown()
      val got = fs.map(_.get(60, TimeUnit.SECONDS))
      assert(calls.get == 1)
      assert(got.forall(_ eq got.head))
      assert(buildsOf(a).size == 1)
    } finally pool.shutdownNow()
  }

  test("build seconds exclude a nested entry's time") {
    val a = app("self")
    Staged.at(a, "d", "outer") {
      Thread.sleep(20)
      Staged.at(a, "d", "inner") { Thread.sleep(500); "in" }
    }
    val self = buildsOf(a).map(b => b.name -> b.selfSeconds).toMap
    assert(self("inner") >= 0.5, self)
    assert(self("outer") >= 0.02 && self("outer") < 0.3, self)
  }

  test("an entry that depends on itself fails loudly") {
    val a = app("cycle")
    def get(): String = Staged.at(a, "d", "x")(get())
    intercept[IllegalArgumentException](get())
    assert(Staged.at(a, "d", "x")("ok") == "ok")
  }

  test("a staged frame is persisted and keyed by the session's application") {
    val spark = SparkTestSession.spark
    val dir = s"staged-spec-frame-${System.nanoTime()}"
    val d = Staged.frame(spark, dir, "range")(spark.range(10).toDF("id"))
    assert(d.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    assert(Staged.frame(spark, dir, "range")(fail("rebuilt")) eq d)
    assert(Staged.builds.exists(b => b.dir == dir &&
      b.appId == spark.sparkContext.applicationId))
    d.unpersist()
  }
}
