package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** The one store for derived artifacts, keyed by (artifact key,
  * dataset dir). Each key belongs to one module, which builds it in
  * one place (a loaded model replaces its key by `evict` + `artifact`).
  * Entries live for one of two lifetimes:
  *
  *  - SWEEP (`memo` for frames, `memoObj` for driver objects): results
  *    and scaffolds an entry family shares within one pass — d2's
  *    pairs, the m1 slate, the gated pair list. `clear()` drops them,
  *    so every bench sweep recomputes the joins and aggregations it
  *    times instead of reading the last sweep's output.
  *  - SESSION (`artifact`): trained models, indexes and staged inputs
  *    that serving reuses the way a deployment does — the ALS and
  *    sentiment models, the IVF/PQ/d5/d11/s15 indexes, ingest staging.
  *    `clear()` never touches them; `evict` is the only way out.
  *
  * All three share one build path: each build is timed and its
  * exclusive seconds go to one ledger (`drainBuildLog`), so the entry
  * that triggered a build is charged for it, whichever lifetime the
  * artifact has.
  *
  * Build intermediates have one owner too, a `Scope`. A build or a
  * kernel caches a frame it reads more than once with `scope.keep`,
  * and the scope unpersists everything it kept when it closes:
  *
  *  - `memo(key, dir) { scope => ... }` closes its scope once the
  *    built frame is cached and counted (a frame of driver-local rows
  *    is stored uncached), so executor storage holds the artifact, not
  *    every intermediate that produced it;
  *  - `scoped { scope => ... }` closes when its body returns, for
  *    kernels outside a memo. Put the block's end where the
  *    intermediates are last read: a lazy result that still reads a
  *    kept frame recomputes it uncached once the block has closed.
  *
  * Both close on failure as well: a body that throws releases what it
  * kept, and the exception is rethrown with any release failures
  * attached as suppressed. A scope is passed explicitly (never found
  * through a thread-local), and `keep` is thread-safe, so builds that
  * fan out over a thread pool share one scope.
  */
object Caches {

  private type Key = (String, String)
  private val sweep = scala.collection.concurrent.TrieMap.empty[Key, Any]
  private val session = scala.collection.concurrent.TrieMap.empty[Key, Any]

  /** Eagerly materialize a loop-state frame AND sever its inherited
    * plan statistics. `localCheckpoint` truncates lineage but COPIES
    * the child plan's `Statistics` onto the `LogicalRDD` it returns;
    * in an iterative loop whose step joins the previous state k ≥ 2
    * times, the inherited `sizeInBytes` MULTIPLIES per step — a
    * BigInt whose bit length DOUBLES per iteration (measured in q84:
    * 1.2k bits after one subround, 1.6e8 bits eighteen subrounds
    * later, by which point Catalyst stats arithmetic — Toom-Cook
    * multiplication of hundred-megabit integers — owns the driver and
    * each step takes 2× the last). Rebuilding the frame from the
    * checkpointed RDD resets the leaf to default stats: per-step
    * planning cost becomes constant. The extra InternalRow↔Row bounce
    * executes per downstream use of the STATE table (nodes, not
    * edges) — noise next to the join work it feeds. */
  def checkpointFresh(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(eager = true)
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  /** `.checkpointFresh` postfix syntax for loop bodies. */
  implicit class FreshCheckpoint(private val df: DataFrame) extends AnyVal {
    def checkpointFresh: DataFrame = Caches.checkpointFresh(df)
  }

  /** Build-time ledger for memoized artifacts: (artifact key,
    * seconds) appended once per actual build. Bench drains it after
    * each entry to CHARGE the build to the entry that triggered it —
    * without this, within a sweep the alphabetically-first family
    * member silently pays the whole shared chain (the round-12
    * q84 0.04 s / q100 15.6 s mis-attribution). */
  private val buildLog =
    scala.collection.mutable.ListBuffer.empty[(String, Double)]

  // memo builds NEST (q101_labels builds semiColoredMemo inside its
  // own build): each frame on this per-thread stack accumulates the
  // wall seconds of DIRECT child builds, so every artifact logs its
  // EXCLUSIVE time and the drained sum equals the outermost wall —
  // an entry's self time is then raw − Σ drained, with nothing
  // double-subtracted.
  private val childSec = new ThreadLocal[java.util.ArrayDeque[Double]] {
    override def initialValue() = new java.util.ArrayDeque[Double]()
  }

  /** Return and clear the builds logged since the last drain. */
  def drainBuildLog(): Seq[(String, Double)] = buildLog.synchronized {
    val out = buildLog.toList
    buildLog.clear()
    out
  }

  /** Run `body` as the build of `key`: its wall seconds minus those
    * of the builds nested inside it go to the ledger. A build that
    * throws logs nothing; its frame is still popped (a leaked frame
    * would absorb the wall time of every later build on this thread)
    * and its elapsed wall still counts against its parent. */
  private def timed[T](key: String)(body: => T): T = {
    val stack = childSec.get()
    stack.push(0.0)
    val t0 = System.nanoTime()
    def close(): (Double, Double) = {
      val wall = (System.nanoTime() - t0) / 1e9
      val children = stack.pop()
      if (!stack.isEmpty) stack.push(stack.pop() + wall)
      (wall, children)
    }
    val v = try body catch { case e: Throwable => close(); throw e }
    val (wall, children) = close()
    buildLog.synchronized { buildLog += key -> (wall - children) }
    v
  }

  /** The cached intermediates of one build or kernel; see the scope
    * contract above. */
  final class Scope private[Caches] () {
    private var kept = List.empty[DataFrame]

    /** Cache `df`, record it for release when the scope closes, and
      * return it. */
    def keep(df: DataFrame): DataFrame = {
      val c = df.cache()
      synchronized { kept = c :: kept }
      c
    }

    /** True while nothing is kept (nothing was, or the scope closed). */
    private[graft] def isEmpty: Boolean = synchronized(kept.isEmpty)

    /** Unpersist every kept frame in the order kept, trying each one;
      * the first failure is rethrown with the later ones suppressed. */
    private[Caches] def close(): Unit = {
      val frames = synchronized { val k = kept.reverse; kept = Nil; k }
      var first: Throwable = null
      frames.foreach { df =>
        try df.unpersist() catch { case e: Throwable =>
          if (first == null) first = e else first.addSuppressed(e)
        }
      }
      if (first != null) throw first
    }
  }

  /** Run `body` with a fresh `Scope` and release what it kept when the
    * body returns or throws. */
  def scoped[T](body: Scope => T): T = {
    val scope = new Scope
    val v = try body(scope) catch { case e: Throwable =>
      try scope.close() catch { case c: Throwable => e.addSuppressed(c) }
      throw e
    }
    scope.close()
    v
  }

  /** Memoized frame for (op key, dataset dir), sweep lifetime.
    * `build` runs at most once per key; its scope closes after the
    * result is cached and materialized, so no kept intermediate is
    * recomputed by a later read of the artifact. A result that plans
    * to rows already on the driver (a `LocalRelation`, e.g. a local
    * endgame's `toDF(...).orderBy(...)`) reads none of them and is
    * stored as it is: caching and counting it would only add jobs. */
  def memo(key: String, dir: String)(build: Scope => DataFrame): DataFrame =
    sweep.getOrElseUpdate((key, dir), timed(key) {
      scoped { scope =>
        val d = build(scope)
        if (!isLocal(d)) {
          d.cache()
          d.count() // materialize before the scope releases what it read
        }
        d
      }
    }).asInstanceOf[DataFrame]

  /** True when `df` optimizes to a `LocalRelation`. Only a plan whose
    * leaves are all local can, and it is optimized on a fresh
    * `QueryExecution`: optimizing `df`'s own would fix its plan before
    * `cache()` could substitute the cached relation into it. */
  private def isLocal(df: DataFrame): Boolean = {
    val plan = df.queryExecution.analyzed
    plan.collectLeaves().forall(_.isInstanceOf[LocalRelation]) &&
      df.sparkSession.sessionState.executePlan(plan).optimizedPlan.isInstanceOf[LocalRelation]
  }

  /** Memoized DRIVER-SIDE object for (op key, dataset dir), sweep
    * lifetime — e.g. the local-endgame family's collected pair list
    * (one bounded collect per sweep serves every gated entry). */
  def memoObj[T](key: String, dir: String)(build: => T): T =
    sweep.getOrElseUpdate((key, dir), timed(key)(build)).asInstanceOf[T]

  /** Session-lifetime artifact for (key, dataset dir): built at most
    * once and kept across `clear()` until `evict`. The value is
    * returned as built — a frame the build wants cached it caches. */
  def artifact[T](key: String, dir: String)(build: => T): T =
    session.getOrElseUpdate((key, dir), timed(key)(build)).asInstanceOf[T]

  private def release(v: Any): Unit = v match {
    case ds: Dataset[_] => ds.unpersist()
    case p: Product => p.productIterator.foreach(release)
    case _ =>
  }

  /** Drop (key, dir) from either lifetime and unpersist every frame
    * the value holds, tuple members included. */
  def evict(key: String, dir: String): Unit =
    Seq(sweep, session).foreach(_.remove((key, dir)).foreach(release))

  /** Drop every sweep-lifetime entry (unpersisting its frames). Bench
    * calls this between sweeps so the timed re-sweep measures real
    * recomputation under warm JIT and session artifacts — not reads of
    * the first sweep's cached results. */
  def clear(): Unit = {
    sweep.values.foreach(release)
    sweep.clear()
  }
}
