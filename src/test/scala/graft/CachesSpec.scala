package graft

import org.apache.spark.storage.StorageLevel

/** `Caches`: the one artifact store — its two lifetimes, its build
  * ledger and its eviction path. Keys are prefixed `cs_` so no engine
  * artifact is touched; every session entry made here is evicted. */
class CachesSpec extends GraftSpecBase {

  private def frame(v: Long) = {
    import spark.implicits._
    Seq(v).toDF("v")
  }

  test("an artifact survives clear(); a memo does not") {
    val a = Caches.artifact("cs_keep", "x")(frame(1).cache())
    // a distributed frame: a local one is memoized uncached
    val m = Caches.memo("cs_sweep", "x")(_ => spark.range(2).toDF("v"))
    assert(m.storageLevel != StorageLevel.NONE, "the memo must be cached")
    Caches.clear()
    assert(Caches.artifact("cs_keep", "x")(frame(3)) eq a)
    assert(!(Caches.memo("cs_sweep", "x")(_ => frame(4)) eq m))
    assert(m.storageLevel == StorageLevel.NONE, "clear() must unpersist the memo")
    Caches.clear()
    Caches.evict("cs_keep", "x")
    Caches.drainBuildLog()
  }

  test("a build runs once per (key, dir)") {
    var builds = 0
    def get(dir: String) = Caches.artifact("cs_once", dir) { builds += 1; builds }
    assert(get("a") == 1 && get("a") == 1 && builds == 1)
    assert(get("b") == 2 && get("b") == 2 && builds == 2)
    var objBuilds = 0
    def obj(dir: String) = Caches.memoObj("cs_once_obj", dir) { objBuilds += 1; objBuilds }
    assert(obj("a") == 1 && obj("a") == 1 && obj("b") == 2 && objBuilds == 2)
    Caches.evict("cs_once", "a"); Caches.evict("cs_once", "b")
    assert(get("a") == 3, "an evicted key rebuilds")
    Caches.evict("cs_once", "a")
    Caches.clear()
    Caches.drainBuildLog()
  }

  test("evict unpersists both frames of a tuple value, in either lifetime") {
    def pair(v: Long) = {
      val (l, r) = (frame(v).cache(), frame(v + 1).cache())
      l.count(); r.count()
      (l, r, "not a frame")
    }
    val (sl, sr, _) = Caches.artifact("cs_pair", "x")(pair(10))
    val (wl, wr, _) = Caches.memoObj("cs_pair_obj", "x")(pair(20))
    Seq(sl, sr, wl, wr).foreach(df => assert(df.storageLevel != StorageLevel.NONE))
    Caches.evict("cs_pair", "x")
    Caches.evict("cs_pair_obj", "x")
    Seq(sl, sr, wl, wr).foreach(df => assert(df.storageLevel == StorageLevel.NONE))
    // both keys are gone: the next call builds afresh
    assert(!(Caches.artifact("cs_pair", "x")(pair(30))._1 eq sl))
    assert(!(Caches.memoObj("cs_pair_obj", "x")(pair(40))._1 eq wl))
    Caches.evict("cs_pair", "x")
    Caches.evict("cs_pair_obj", "x")
    Caches.drainBuildLog()
  }

  test("a throwing artifact build leaves no entry and no orphaned timing frame") {
    Caches.drainBuildLog()
    val t0 = System.nanoTime()
    Caches.memo("cs_catches", "x") { _ =>
      intercept[RuntimeException] {
        Caches.artifact[Int]("cs_boom", "x") {
          Thread.sleep(100)
          throw new RuntimeException("boom")
        }
      }
      frame(1)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    // the failed build logs nothing, and its frame is popped: the
    // outer build's own frame takes the failed child's wall (an
    // orphaned frame would leave the outer charged its full wall)
    val logged = Caches.drainBuildLog()
    assert(logged.map(_._1) == Seq("cs_catches"), s"ledger: $logged")
    assert(logged.head._2 < wall - 0.09, s"ledger: $logged, wall $wall")
    // no entry: the next call runs its build
    assert(Caches.artifact("cs_boom", "x")(7) == 7)
    Caches.memo("cs_after", "x")(_ => frame(2))
    assert(Caches.drainBuildLog().map(_._1) == Seq("cs_boom", "cs_after"))
    Caches.evict("cs_boom", "x")
    Caches.clear()
  }

  test("an artifact built inside a memo build: exclusive seconds sum to the outer wall") {
    Caches.drainBuildLog()
    val t0 = System.nanoTime()
    Caches.memo("cs_outer", "x") { _ =>
      Thread.sleep(50)
      Caches.artifact("cs_inner", "x") { Thread.sleep(100); 1 }
      frame(1)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val logged = Caches.drainBuildLog()
    assert(logged.map(_._1) == Seq("cs_inner", "cs_outer"), s"ledger: $logged")
    val ex = logged.toMap
    assert(ex("cs_inner") >= 0.1)
    assert(ex("cs_outer") >= 0.05 && ex("cs_outer") < wall - 0.1,
      s"the outer build must not be charged its child's time: $logged, wall $wall")
    val sum = ex.values.sum
    assert(sum <= wall && sum > wall - 0.05, s"exclusive sum $sum vs wall $wall")
    Caches.evict("cs_inner", "x")
    Caches.clear()
  }

  test("a memo build releases its kept frames once the result is cached") {
    var kept: org.apache.spark.sql.DataFrame = null
    val m = Caches.memo("cs_scope", "x") { scope =>
      kept = scope.keep(frame(5))
      kept.select(kept("v") + 1)
    }
    assert(kept.storageLevel == StorageLevel.NONE, "the kept frame outlived the build")
    assert(m.storageLevel != StorageLevel.NONE, "the result must stay cached")
    assert(m.head().getLong(0) == 6L)
    Caches.clear()
    Caches.drainBuildLog()
  }

  test("a memo of driver-local rows launches no job, is not cached, and returns the same rows") {
    import spark.implicits._
    def rows = Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("v", "s").orderBy($"v".desc)
    var m: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { m = Caches.memo("cs_local", "x")(_ => rows) } == 0)
    assert(m.storageLevel == StorageLevel.NONE, "a local memo was cached")
    assert(Caches.memo("cs_local", "x")(_ => frame(9)) eq m, "the memo was not kept")
    assert(m.collect().toSeq == rows.collect().toSeq)
    assert(m.as[(Long, String)].collect().toSeq == Seq((3L, "c"), (2L, "b"), (1L, "a")))
    Caches.clear()
    Caches.drainBuildLog()
  }

  test("a throwing memo or scoped body releases its kept frames and rethrows") {
    var inMemo: org.apache.spark.sql.DataFrame = null
    val e1 = intercept[IllegalStateException] {
      Caches.memo("cs_scope_boom", "x") { scope =>
        inMemo = scope.keep(frame(1))
        inMemo.count()
        throw new IllegalStateException("memo boom")
      }
    }
    assert(e1.getMessage == "memo boom")
    assert(inMemo.storageLevel == StorageLevel.NONE)
    var inScoped: org.apache.spark.sql.DataFrame = null
    val e2 = intercept[IllegalStateException] {
      Caches.scoped { scope =>
        inScoped = scope.keep(frame(2))
        inScoped.count()
        throw new IllegalStateException("scoped boom")
      }
    }
    assert(e2.getMessage == "scoped boom")
    assert(inScoped.storageLevel == StorageLevel.NONE)
    // the failed memo left no entry: the next call builds
    assert(Caches.memo("cs_scope_boom", "x")(_ => frame(3)).head().getLong(0) == 3L)
    Caches.clear()
    Caches.drainBuildLog()
  }

  test("frames kept from three threads at once are all released") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: scala.concurrent.ExecutionContextExecutorService =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val start = new java.util.concurrent.CountDownLatch(3)
      val kept = Caches.scoped { scope =>
        val frames = scala.concurrent.Await.result(
          scala.concurrent.Future.sequence((1 to 3).map { i =>
            scala.concurrent.Future {
              start.countDown(); start.await()
              (0 until 20).map(j => scope.keep(frame(i * 100L + j)))
            }
          }), scala.concurrent.duration.Duration.Inf).flatten
        frames.foreach(df => assert(df.storageLevel != StorageLevel.NONE))
        frames
      }
      assert(kept.size == 60)
      kept.foreach(df => assert(df.storageLevel == StorageLevel.NONE))
    } finally pool.shutdownNow()
  }
}
