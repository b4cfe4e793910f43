package graft

import org.apache.spark.sql.DataFrame

/** Per-dataset memoization of materialized intermediate results.
  *
  * The registry pattern the engine already uses for models (ALS,
  * sentiment) and indexes (IVF), applied to expensive derived FRAMES:
  * an operator's pair table or signature table is an artifact of the
  * dataset, so repeated invocations (a pipeline stage reusing d2's
  * pairs, a bench iteration, a dependent operator) serve the cached
  * artifact instead of re-running the join and re-`cache()`-ing the
  * same plan (the "Asked to cache already cached data" churn).
  *
  * `memo` caches the built frame, forces materialization, then runs
  * `andThen` (for unpersisting the build's scaffolding caches) — so
  * executor storage holds exactly the artifacts, not every
  * intermediate that produced them.
  */
object Caches {

  private val frames =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]

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

  /** Memoized cached frame for (op key, dataset dir). `build` runs at
    * most once per key; its result is cached and materialized before
    * `cleanup` runs (safe point to unpersist intermediates); a build
    * that throws runs `cleanup` before rethrowing. */
  def memo(key: String, dir: String)(build: => DataFrame)(
      cleanup: => Unit = ()): DataFrame =
    frames.getOrElseUpdate((key, dir), {
      val stack = childSec.get()
      stack.push(0.0)
      val t0 = System.nanoTime()
      try {
        val df = build.cache()
        df.count() // materialize so cleanup can't force a recompute
        cleanup
        val wall = (System.nanoTime() - t0) / 1e9
        val children = stack.pop()
        if (!stack.isEmpty) stack.push(stack.pop() + wall)
        buildLog.synchronized { buildLog += key -> (wall - children) }
        df
      } catch {
        case e: Throwable =>
          // pop the frame even on a failed build: a leaked frame makes
          // every LATER top-level build on this thread feed its wall
          // time into the orphan and the stack grow unbounded across
          // failures (advisor r13). The parent (if any) still absorbs
          // the failed build's elapsed wall; nothing is logged for the
          // failed key itself.
          val wall = (System.nanoTime() - t0) / 1e9
          stack.pop()
          if (!stack.isEmpty) stack.push(stack.pop() + wall)
          try cleanup catch { case c: Throwable => e.addSuppressed(c) }
          throw e
      }
    })

  private val objects =
    scala.collection.concurrent.TrieMap.empty[(String, String), Any]

  /** Round 15: memoized DRIVER-SIDE object for (op key, dataset dir) —
    * the memo discipline for the local-endgame family's collected pair
    * list (one bounded collect per sweep serves every gated entry,
    * instead of a count + collect pair per entry). Same ledger
    * accounting as `memo`, same clear() lifetime — every bench sweep
    * recollects. */
  def memoObj[T](key: String, dir: String)(build: => T): T =
    objects.getOrElseUpdate((key, dir), {
      val stack = childSec.get()
      stack.push(0.0)
      val t0 = System.nanoTime()
      try {
        val v = build
        val wall = (System.nanoTime() - t0) / 1e9
        val children = stack.pop()
        if (!stack.isEmpty) stack.push(stack.pop() + wall)
        buildLog.synchronized { buildLog += key -> (wall - children) }
        v
      } catch {
        case e: Throwable =>
          val wall = (System.nanoTime() - t0) / 1e9
          stack.pop()
          if (!stack.isEmpty) stack.push(stack.pop() + wall)
          throw e
      }
    }).asInstanceOf[T]

  /** Drop every memoized frame (unpersisting its cache). Bench calls
    * this between sweeps so the timed re-sweep measures real
    * recomputation under warm JIT/models — not reads of the first
    * sweep's cached results. */
  def clear(): Unit = {
    frames.values.foreach(_.unpersist())
    frames.clear()
    objects.clear()
  }
}
