package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}

/** Round-14 optimization measurement harness: time named registry
  * entries under the bench's exact conditions (noop sink, warm JIT,
  * memoized artifacts) and report the driver-synchronized job/stage
  * bill per run — the per-entry A/B loop (guide §1) without paying a
  * full 4-sweep bench per iteration.
  *
  * `runMain graft.OptProbe <sfDir> <name,name,...> [reps]`
  *
  * Per entry: `reps` untimed warm-up runs (codegen, JIT, model/index
  * fits), then `reps` timed runs (default 3), with Caches cleared
  * BEFORE every run exactly like a bench warm sweep — artifacts
  * rebuild inside the rep, and the per-rep artifact-build seconds are
  * reported separately (the self-clock split the bench archives
  * carry). A single warm-up left JIT warm-up in the timed reps
  * (s2_ann_ivf at sf0.01: 0.75–0.92 s in rep 1, 0.49–0.60 s in rep 8),
  * so each entry ends with its median over the timed reps.
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").toSeq
    val reps = args.drop(2).headOption.map(_.toInt).getOrElse(3)
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        stages.incrementAndGet()
    })
    def exec(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      try (1 to reps).foreach { _ => Caches.clear(); exec(fn(spark, dir)) }
      catch { case e: Throwable =>
        System.err.println(s"[optprobe] $name warmup failed: $e") }
      val secs = (1 to reps).map { i =>
        Caches.clear()
        Caches.drainBuildLog()
        val (j0, s0, t0) = (jobs.get, stages.get, System.nanoTime())
        exec(fn(spark, dir))
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200)
        val builds = Caches.drainBuildLog()
        val bsec = builds.map(_._2).sum
        println(f"== $name%-22s rep$i $sec%7.2f s (self ${sec - bsec}%6.2f)" +
          f"  jobs ${jobs.get - j0}%4d  stages ${stages.get - s0}%5d" +
          (if (builds.nonEmpty) builds.map { case (k, v) =>
            f"$k=$v%.2f" }.mkString("  [", " ", "]") else ""))
        sec
      }.sorted
      val median = (secs((reps - 1) / 2) + secs(reps / 2)) / 2
      println(f"== $name%-22s median $median%7.2f s over $reps timed reps")
    }
    spark.stop()
  }
}
