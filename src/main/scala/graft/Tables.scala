package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the graft star schema + document/embedding/event tables.
  *
  * Always parquet — Catalyst prunes columns and pushes predicates into
  * the scan, so loaders stay projection-free; callers `.select(...)`
  * and the scan narrows automatically.
  *
  * Schemas are resolved once, the way a catalog pins them. A plain
  * `spark.read.parquet` lists the files, reads a footer and launches
  * one inference job on EVERY load — a fixed per-query cost that does
  * not shrink with data or cores. Here the first load of a table infers
  * its `StructType`; later loads hand it to `read.schema(...)`, which
  * skips inference and launches no job.
  *   - What is cached: only the `StructType`, keyed by the table's
  *     canonical path and the session confs that shape parquet
  *     inference (`ParquetInferenceConfs`). Results are never cached —
  *     every load still returns a fresh lazy scan over the files.
  *   - What invalidates it: a change to the table's file fingerprint,
  *     the sorted (name, length, mtime) of every data file (one file
  *     for a single-file table, every part file for a directory). The
  *     fingerprint is re-listed on each load; a changed one re-infers
  *     and REPLACES the entry, so the memo holds at most one entry per
  *     path and conf set. `Caches.clear()` leaves it alone: it holds
  *     no result, only file metadata.
  *
  * The same fingerprint names every persisted artifact built from a
  * table (`sourceIdentity`, `identityDigest`): path + per-file bytes and
  * mtime, SHA-256 named, so two datasets never share a directory and a
  * regenerated table never serves a stale artifact.
  */
object Tables {
  def region(s: SparkSession, dir: String): DataFrame    = load(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame    = load(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame  = load(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame  = load(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame      = load(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame    = load(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame  = load(s, dir, "lineitem")
  def events(s: SparkSession, dir: String): DataFrame    = load(s, dir, "events")

  /** `events` with `ts` reduced to exact epoch milliseconds `ms`,
    * adaptive to the physical type the parquet carries:
    *   - TIMESTAMP(NANOS) read as epoch-nanos LongType (the
    *     `nanosAsLong` legacy conf in GraftSession): `ts div 1000000`.
    *   - TIMESTAMP(MICROS) read as TIMESTAMP / TIMESTAMP_NTZ:
    *     `unix_micros(cast(ts as timestamp)) div 1000` — the NTZ→TZ
    *     cast is exact under the session's UTC time zone and matches
    *     the DuckDB oracle's `epoch_ms(ts)` (naive-as-UTC) semantics.
    * Integer `div` end-to-end, never float division: epoch nanos
    * (1.7e18) exceed a double's exact-integer range. */
  def eventsWithMs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.types.LongType
    val e = load(s, dir, "events")
    val ms = e.schema("ts").dataType match {
      case LongType => expr("ts div 1000000L")
      case _        => expr("unix_micros(cast(ts as timestamp)) div 1000L")
    }
    e.withColumn("ms", ms)
  }
  def documents(s: SparkSession, dir: String): DataFrame = load(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = load(s, dir, "embeddings")

  private def load(s: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    s.read.schema(schemaOf(s, path)).parquet(path)
  }

  /** Session confs that change what parquet schema inference returns
    * for the same files; part of the memo key. */
  private val ParquetInferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema")

  /** (name relative to the table root, length, mtime) of one data file. */
  private type Fingerprint = Seq[(String, Long, Long)]

  private val schemas = scala.collection.concurrent.TrieMap
    .empty[(String, Seq[Option[String]]), (Fingerprint, StructType)]

  /** The parquet schema of `path`, inferred once per file fingerprint. */
  private def schemaOf(s: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val key = (fs.makeQualified(p).toString,
      ParquetInferenceConfs.map(s.conf.getOption))
    val fp = fingerprint(fs, p)
    schemas.get(key) match {
      case Some((seen, schema)) if seen == fp => schema
      case _ =>
        // a missing path has an empty fingerprint and throws here with
        // Spark's own "path does not exist" error, leaving no entry
        val schema = s.read.parquet(path).schema
        schemas.put(key, (fp, schema))
        schema
    }
  }

  /** Canonical paths that currently hold a memoized schema (one per
    * conf set in use). */
  private[graft] def memoizedPaths: Seq[String] = schemas.keys.map(_._1).toSeq

  /** Sorted (relative name, length, mtime) of every data file under
    * `p`, recursing into partition directories. Hidden and marker files
    * (`.crc`, `_SUCCESS`, `_COMPLETE`) are skipped, as Spark's file
    * index skips them; parquet summary files are kept. A missing path
    * has an empty fingerprint. */
  private def fingerprint(fs: FileSystem, p: Path): Fingerprint = {
    def isData(name: String): Boolean =
      !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".")) ||
        name.startsWith("_metadata") || name.startsWith("_common_metadata")
    def walk(q: Path, prefix: String): Fingerprint =
      fs.listStatus(q).toSeq.filter(st => isData(st.getPath.getName)).flatMap { st =>
        val name = prefix + st.getPath.getName
        if (st.isDirectory) walk(st.getPath, name + "/")
        else Seq((name, st.getLen, st.getModificationTime))
      }
    scala.util.Try(fs.getFileStatus(p)).toOption match {
      case None => Nil
      case Some(st) if st.isDirectory => walk(p, "").sorted
      case Some(st) => Seq((st.getPath.getName, st.getLen, st.getModificationTime))
    }
  }

  /** Identity of the files an artifact is built from: each source's
    * canonical path plus its fingerprint (per-file name, bytes and
    * mtime). Recorded in an artifact's `_COMPLETE` marker and checked
    * on load. */
  private[graft] def sourceIdentity(s: SparkSession, paths: String*): String =
    paths.map { path =>
      val p = new Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fingerprint(fs, p).map { case (n, len, mtime) => s"$n:$len:$mtime" }
        .mkString(s"${fs.makeQualified(p)}[", ",", "]")
    }.mkString("|")

  /** Hex SHA-256 of a source identity — the name of every on-disk
    * artifact built from it, so datasets sharing a directory never
    * collide (a 32-bit `hashCode` can). */
  private[graft] def identityDigest(identity: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(identity.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Local home of an artifact of `kind` built from `identity`. */
  private[graft] def artifactDir(kind: String, identity: String): java.io.File =
    new java.io.File(sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"$kind/${identityDigest(identity)}")

  /** True when `root/_COMPLETE` exists and names exactly `identity` —
    * a marker from another source or an older scheme means rebuild. */
  private[graft] def completeFor(root: java.io.File, identity: String): Boolean = {
    val marker = new java.io.File(root, "_COMPLETE")
    marker.exists() && new String(
      java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8").trim == identity
  }

  /** Write `root/_COMPLETE` naming `identity` — LAST, after the
    * artifact, so a crashed build leaves no marker and rebuilds. */
  private[graft] def markComplete(root: java.io.File, identity: String): Unit =
    java.nio.file.Files.write(new java.io.File(root, "_COMPLETE").toPath,
      identity.getBytes("UTF-8"))
}
