package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming rate-anomaly alerting: watermark-closed hourly event
  * counts per type, each scored against the expanding history of all
  * STRICTLY EARLIER closed windows — alert when a window's count
  * exceeds mean + k·std of that history (with a minimum history
  * depth, so the first hours never alert).
  *
  * Architecture is the production alerting shape, not a toy:
  *  - Stage 1 is the standard watermarked tumbling-window aggregate —
  *    only CLOSED windows reach the sink (append mode), so an alert
  *    can never fire on a half-filled hour.
  *  - Stage 2 runs in `foreachBatch`: priors come from a tiny
  *    per-type stats table (n, Σ, Σ²  — mergeable sufficient
  *    statistics, never raw history), the in-batch windows add their
  *    own expanding prefix via an ordered window frame (so windows
  *    arriving together still score only against their past), and the
  *    batch then folds into the stats table for the future.
  *  - Both sinks are REPLAY-IDEMPOTENT, the foreachBatch exactly-once
  *    recipe: alerts land in a per-batchId directory (overwrite), and
  *    the stats table records the last folded batchId and refuses to
  *    fold the same batch twice. A crash between the two writes
  *    replays the batch into identical output.
  *
  * State is |event types| rows of 4 numbers — broadcast-sized at any
  * corpus scale; the heavy lifting (the count) stays in the
  * watermarked stateful aggregation where the state store bounds it.
  */
object AnomalyStream {

  val K = 3.0
  val MinHist = 3

  /** Hourly closed-window counts (append mode) from (ms, event_type). */
  def hourlyCounts(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withColumn("ts", timestamp_millis($"ms"))
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"))
      .select(unix_millis($"window.start").as("hour_ms"),
        $"event_type", $"n_events")
  }

  /** Score one batch of closed windows against priors + their own
    * in-batch expanding prefix; returns (alerts, foldedStats). Pure
    * batch logic — the spec exercises it directly and through the
    * stream. `stats` schema: (event_type, n, s, q, last_batch). */
  private[graft] def scoreBatch(closed: DataFrame, stats: DataFrame)
      : (DataFrame, DataFrame) = {
    import closed.sparkSession.implicits._
    val pri = stats.select($"event_type", $"n".as("n0"), $"s".as("s0"), $"q".as("q0"))
    val byType = Window.partitionBy($"event_type").orderBy($"hour_ms")
      .rowsBetween(Window.unboundedPreceding, -1)
    val scored = closed
      .join(pri, Seq("event_type"), "left")
      .na.fill(0L, Seq("n0")).na.fill(0.0, Seq("s0", "q0"))
      .withColumn("n1", coalesce(count(lit(1)).over(byType), lit(0L)))
      .withColumn("s1", coalesce(sum($"n_events".cast("double")).over(byType), lit(0.0)))
      .withColumn("q1", coalesce(sum($"n_events".cast("double") * $"n_events").over(byType), lit(0.0)))
      .withColumn("n_hist", $"n0" + $"n1")
      .withColumn("mean", ($"s0" + $"s1") / $"n_hist")
      .withColumn("vr", greatest(($"q0" + $"q1") / $"n_hist" - $"mean" * $"mean", lit(0.0)))
      .withColumn("is_spike",
        $"n_hist" >= MinHist && $"n_events" > $"mean" + lit(K) * sqrt($"vr"))
    val alerts = scored.filter($"is_spike")
      .select($"event_type", $"hour_ms", $"n_events",
        round($"mean", 4).as("hist_mean"), round(sqrt($"vr"), 4).as("hist_std"))
    // full-outer fold: a type with no windows THIS batch must keep its
    // prior statistics (an inner fold would silently evict it)
    val deltas = scored.groupBy($"event_type")
      .agg(count(lit(1)).as("dn"), sum($"n_events".cast("double")).as("ds"),
        sum($"n_events".cast("double") * $"n_events").as("dq"))
    val folded = stats.select($"event_type", $"n", $"s", $"q")
      .join(deltas, Seq("event_type"), "full")
      .select($"event_type",
        (coalesce($"n", lit(0L)) + coalesce($"dn", lit(0L))).as("n"),
        (coalesce($"s", lit(0.0)) + coalesce($"ds", lit(0.0))).as("s"),
        (coalesce($"q", lit(0.0)) + coalesce($"dq", lit(0.0))).as("q"))
    (alerts, folded)
  }

  private def emptyStats(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Long, Double, Double, Long)]
      .toDF("event_type", "n", "s", "q", "last_batch")
  }

  /** Stats versions live at `statsDir/v-<batchId>`; a version counts
    * only once its `_SUCCESS` marker exists. Promotion is therefore a
    * single atomic fact (the marker file appearing) instead of the
    * earlier two-rename dance, which had a crash window between
    * "stage old aside" and "promote tmp" that left NO stats dir at
    * all — on restart the last_batch idempotence guard vanished and
    * the batch re-scored against empty priors. */
  private def statsVersions(dir: String): Seq[(Long, java.io.File)] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.getName.startsWith("v-") &&
        new java.io.File(f, "_SUCCESS").exists())
      .map(f => (f.getName.stripPrefix("v-").toLong, f))
      .sortBy(_._1)

  /** The highest COMPLETE stats version (the live priors table). */
  def currentStats(spark: SparkSession, dir: String): DataFrame =
    statsVersions(dir).lastOption match {
      case Some((_, f)) => spark.read.parquet(f.toString)
      case None         => emptyStats(spark)
    }

  private def readStats(spark: SparkSession, dir: String): DataFrame =
    currentStats(spark, dir)

  /** Drain available events, alerting into `alertDir/batch-<id>` and
    * folding stats at `statsDir`. Rerun to pick up more (AvailableNow,
    * the CdcStream restart shape). */
  def start(events: DataFrame, statsDir: String, alertDir: String,
      checkpoint: String): StreamingQuery =
    hourlyCounts(events).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.Caches.scoped { sc =>
          val spark = batch.sparkSession
          import spark.implicits._
          val stats = sc.keep(readStats(spark, statsDir))
          val already = stats.agg(coalesce(max($"last_batch"), lit(-1L)))
            .as[Long].head() >= batchId
          if (!already) {
            val (alerts, folded) = scoreBatch(batch, stats)
            // per-batch directory + overwrite = replay writes identical
            // bytes; new IDs only ever extend the directory set
            alerts.coalesce(1).write.mode("overwrite")
              .parquet(s"$alertDir/batch-$batchId")
            // versioned promotion: overwrite-write v-<batchId> (replay
            // rewrites identical bytes — idempotent), whose _SUCCESS
            // marker IS the atomic promotion; then prune superseded
            // versions (a crash mid-prune is harmless — readers always
            // pick the highest complete version)
            folded.withColumn("last_batch", lit(batchId))
              .coalesce(1).write.mode("overwrite")
              .parquet(s"$statsDir/v-$batchId")
            def rm(f: java.io.File): Unit = {
              Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
            }
            statsVersions(statsDir).filter(_._1 < batchId).foreach(v => rm(v._2))
          }
        }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** All alerts emitted so far (union of the per-batch directories). */
  def alerts(spark: SparkSession, alertDir: String): DataFrame = {
    val dirs = Option(new java.io.File(alertDir).listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("batch-"))
    if (dirs.isEmpty) {
      import spark.implicits._
      Seq.empty[(String, Long, Long, Double, Double)]
        .toDF("event_type", "hour_ms", "n_events", "hist_mean", "hist_std")
    } else spark.read.parquet(dirs.map(_.toString): _*)
  }
}
