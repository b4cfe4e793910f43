package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, hash, lit, pmod}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.Relational

/** Streaming CDC apply — the production shape that turns the q34 batch
  * MERGE into a continuously-maintained table: each micro-batch of
  * change rows is merged into the parquet base by key via
  * `foreachBatch`, with exactly-once effects coming from the
  * checkpoint's batch-id dedup (a replayed batch rewrites the same
  * result).
  *
  * Two layouts:
  *  - `start`: unpartitioned base — read → full-outer upsert →
  *    write-new → directory swap. Simple, but O(base) I/O per batch;
  *    correctness shape only.
  *  - `startBucketed`: the base is hash-bucketed on the key
  *    (`__bucket = pmod(hash(key), n)` partition directories), and a
  *    batch reads and rewrites ONLY the buckets its keys land in —
  *    per-batch I/O follows the delta's key spread, not the base size,
  *    which is what makes continuous CDC viable against a 100 TB base.
  *    At lake scale the same `foreachBatch` body targets a table
  *    format's transactional MERGE; the bucketing and the merge join
  *    shape carry over unchanged.
  */
object CdcStream {

  /** Start applying `changes` (a streaming DataFrame with the base's
    * schema, unique per key within a batch) onto the parquet table at
    * `baseDir`. AvailableNow: drains what has arrived, then stops —
    * rerun to pick up more (the restart path the spec exercises). */
  def start(changes: DataFrame, baseDir: String, key: String,
      checkpoint: String): StreamingQuery =
    changes.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // crash-window recovery: a crash between "stage aside" and
        // "promote" leaves no baseDir but a complete .old-<id> sibling;
        // restore the newest one so the replayed batch re-merges from
        // the same base (idempotent — identical merged output)
        val dirF = new java.io.File(baseDir)
        if (!dirF.exists()) {
          val pfx = dirF.getName + ".old-"
          Option(dirF.getParentFile.listFiles()).getOrElse(Array.empty)
            .filter(_.getName.startsWith(pfx))
            .sortBy(_.getName.stripPrefix(pfx).toLong)
            .lastOption.foreach { o =>
              if (!o.renameTo(dirF))
                throw new java.io.IOException(s"cannot restore $o")
            }
        }
        val base = spark.read.parquet(baseDir)
        // batch rows may repeat a key only across batches, not within
        // one (upstream CDC compaction's job); the merge itself is the
        // shared batch operator
        val merged = Relational.upsert(base, batch, key)
        val tmp = new java.io.File(baseDir + s".tmp-$batchId")
        merged.write.mode("overwrite").parquet(tmp.toString)
        val dir = new java.io.File(baseDir)
        val old = new java.io.File(baseDir + s".old-$batchId")
        // swap: current → old, new → current, then drop old. The
        // checkpoint replays the batch on a crash between renames.
        if (!dir.renameTo(old))
          throw new java.io.IOException(s"cannot stage $baseDir aside")
        if (!tmp.renameTo(dir))
          throw new java.io.IOException(s"cannot promote $tmp")
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
        }
        rm(old)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** The bucket column for `startBucketed`: a pure function of the key,
    * so a key's rows land in the same partition directory on every
    * write and a delta row names exactly the bucket it must touch. */
  private def bucketOf(key: String, nBuckets: Int) =
    pmod(hash(col(key)), lit(nBuckets))

  /** Lay a table down in the bucketed-base layout: one `__bucket=N`
    * partition directory per key-hash bucket. `nBuckets` sizes the
    * rewrite granularity: a batch rewrites `|touched buckets| / n` of
    * the base, so pick n high enough that a typical delta touches a
    * small fraction (thousands at lake scale). */
  def writeBucketedBase(df: DataFrame, baseDir: String, key: String,
      nBuckets: Int): Unit =
    df.withColumn("__bucket", bucketOf(key, nBuckets))
      .write.mode("overwrite").partitionBy("__bucket").parquet(baseDir)

  /** Start applying `changes` onto the bucketed base at `baseDir`.
    * Each micro-batch:
    *   1. buckets its rows by key hash and collects the distinct
    *      bucket ids it touches (bounded by `nBuckets`, never by data);
    *   2. reads ONLY those buckets from the base — partition pruning,
    *      the scan never opens an untouched directory;
    *   3. merges via the shared `upsert` full-outer join;
    *   4. rewrites ONLY the touched partition directories (dynamic
    *      partition overwrite) — untouched bucket files are not
    *      rewritten, not rewritten-identically, but simply NOT TOUCHED
    *      (the spec asserts byte-identity).
    *
    * Exactly-once across restarts: the checkpoint replays an
    * incomplete batch, and re-merging the same delta is idempotent —
    * delta rows overwrite by key, so merging them into an
    * already-merged bucket rewrites the same content. */
  def startBucketed(changes: DataFrame, baseDir: String, key: String,
      nBuckets: Int, checkpoint: String): StreamingQuery =
    changes.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        graft.Caches.scoped { sc =>
          val delta = sc.keep(batch.withColumn("__bucket", bucketOf(key, nBuckets)))
          val touched = delta.select($"__bucket").distinct()
            .collect().map(_.getInt(0)).toSeq // ≤ nBuckets ids, a bounded artifact
          if (touched.nonEmpty) {
            val base = spark.read.parquet(baseDir)
              .filter($"__bucket".isin(touched: _*))
            val merged = Relational.upsert(base, delta, key)
            merged.write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("__bucket").parquet(baseDir)
          }
        }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
}
