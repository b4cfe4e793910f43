package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions.{input_file_name, md5, regexp_extract}
import graft.Tables
import graft.sources.Sources

/** Ingest-edge operators: the CSV / JSON-lines readers exercised as
  * suite entries, so the non-parquet input path is oracle-checked by
  * the driver, not just round-tripped in specs.
  *
  * Each entry stages the source table into the edge format once per
  * dataset (a bounded dim table — the staging write is the "ingest
  * edge" a lake has anyway), then reads it back through the
  * schema-enforced reader. The oracle runs on the original parquet, so
  * a hash match proves the edge-format read is lossless.
  */
object Ingest {

  /** Stage `table` of `dir` under `key` once per session and source
    * identity (the `ingest:<key>` session artifact of the staging
    * root): the directory is named by the SHA-256 of the table's
    * path + per-file bytes and mtime, so two datasets never share it
    * and a rewritten table is staged afresh. */
  private def stage(key: String, s: SparkSession, dir: String, table: String)(
      write: String => Unit): String = {
    val root = Tables.artifactDir("graft-ingest",
      Tables.sourceIdentity(s, s"$dir/$table.parquet"))
    graft.Caches.artifact(s"ingest:$key", root.getPath) {
      val tmp = new java.io.File(root, key).getPath
      write(tmp)
      tmp
    }
  }

  val NationCsvSchema: StructType = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  /** I1: CSV ingest — nation staged as headered CSV, read back with an
    * explicit schema (never inferSchema: that is a second full pass
    * over the data at lake scale). */
  def i1CsvIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = stage("nation_csv", s, dir, "nation") { tmp =>
      Tables.nation(s, dir).select($"n_nationkey", $"n_name", $"n_regionkey")
        .write.mode("overwrite").option("header", "true").csv(tmp)
    }
    Sources.readCsv(s, path, NationCsvSchema)
      .orderBy($"n_nationkey")
  }

  val SupplierJsonSchema: StructType = StructType(Seq(
    StructField("s_suppkey", LongType),
    StructField("s_name", StringType),
    StructField("s_nationkey", IntegerType),
    StructField("s_acctbal", DoubleType)))

  /** I2: JSON-lines ingest — supplier staged as JSONL, read back with
    * an explicit schema. Doubles survive bit-exactly (Spark writes
    * round-trippable representations), which the oracle hash proves. */
  def i2JsonIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = stage("supplier_json", s, dir, "supplier") { tmp =>
      Tables.supplier(s, dir)
        .select($"s_suppkey", $"s_name", $"s_nationkey", $"s_acctbal")
        .write.mode("overwrite").json(tmp)
    }
    Sources.readJsonLines(s, path, SupplierJsonSchema)
      .orderBy($"s_suppkey")
  }

  /** I3: ORC ingest — the other columnar lake format Spark reads
    * natively (predicate pushdown + column pruning, like parquet).
    * Supplier staged as ORC, read back; the oracle runs on the
    * original parquet, so the hash proves the ORC round-trip is
    * value-exact, doubles included. */
  def i3OrcIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = stage("supplier_orc", s, dir, "supplier") { tmp =>
      Tables.supplier(s, dir)
        .select($"s_suppkey", $"s_name", $"s_nationkey", $"s_acctbal")
        .write.mode("overwrite").orc(tmp)
    }
    s.read.orc(path).orderBy($"s_suppkey")
  }

  /** I4: hive-partitioned sink + partition-pruned read — the lake
    * layout move: customer staged as parquet partitioned by
    * `c_mktsegment`, read back with a segment filter that must resolve
    * as PARTITION pruning (directory-level skip — the scan never opens
    * the other segments' files; PlanAuditSpec asserts PartitionFilters
    * carries the predicate and the data filter list stays empty). At
    * 100 TB partition layout is the first 10–100× before any row is
    * read; the oracle (a plain WHERE on the original table) proves
    * pruning loses nothing. */
  def i4PartitionedIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = stage("customer_part", s, dir, "customer") { tmp =>
      Tables.customer(s, dir)
        .select($"c_custkey", $"c_name", $"c_acctbal", $"c_mktsegment")
        .write.mode("overwrite").partitionBy("c_mktsegment").parquet(tmp)
    }
    s.read.parquet(path)
      .filter($"c_mktsegment".isin("BUILDING", "MACHINERY"))
      .select($"c_custkey", $"c_name", $"c_acctbal", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  /** I5: XML ingest — the document-feed edge format, via Spark 4's
    * NATIVE xml data source (the spark-xml donation, SPARK-44265):
    * nation staged as `<row>` elements, read back with an explicit
    * schema and the same rowTag. Like every ingest entry the reader is
    * schema-enforced (inference on XML is a full extra pass, worse
    * than CSV because tags repeat per field), and the oracle runs on
    * the original parquet so the hash proves the tag round-trip is
    * lossless. Integer/string columns only: XML carries no type
    * system, so this edge is for feeds, not for doubles. */
  def i5XmlIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = stage("nation_xml", s, dir, "nation") { tmp =>
      Tables.nation(s, dir).select($"n_nationkey", $"n_name", $"n_regionkey")
        .write.mode("overwrite").option("rowTag", "row").xml(tmp)
    }
    s.read.option("rowTag", "row").schema(NationCsvSchema).xml(path)
      .select($"n_nationkey", $"n_name", $"n_regionkey")
      .orderBy($"n_nationkey")
  }

  /** I6: whole-FILE binary ingest — the `binaryFile` source, the edge
    * a multimodal lake starts from: every file becomes one row of
    * (path, length, content bytes), no parsing, no schema guessing.
    * 100 documents stage as real `.txt` files (written by a
    * distributed `foreachPartition`, the shape of files landing from
    * an external producer), are read back as bytes, and the oracle —
    * running on the ORIGINAL documents table — hash-proves the
    * filesystem round trip byte-exact (doc id from the file name,
    * UTF-8 length, md5 of the content). At scale the unit of
    * parallelism is the file; `pathGlobFilter`/`recursiveFileLookup`
    * are the production knobs, and decode stays downstream (mm2's
    * boundary). */
  def i6BinaryIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = stage("docs_bin", s, dir, "documents") { tmp =>
      new java.io.File(tmp).mkdirs()
      Tables.documents(s, dir).filter($"doc_id" < 100)
        .select($"doc_id", $"text")
        .repartition(4)
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(tmp, s"${r.getLong(0)}.txt"),
              r.getString(1).getBytes("UTF-8"))
          }
        }
    }
    s.read.format("binaryFile").load(path)
      .select(
        regexp_extract(input_file_name(), "(\\d+)\\.txt$", 1)
          .cast("long").as("doc_id"),
        $"length".cast("int").as("n_bytes"),
        md5($"content").as("digest"))
      .orderBy($"doc_id")
  }

  /** I7: SCHEMA-EVOLUTION read — the lake reality i1–i6 don't cover:
    * a table written over time by producers on DIFFERENT schema
    * versions (here: supplier v1 without `s_acctbal`, v2 with it —
    * the classic added-column migration), read back as ONE table via
    * parquet `mergeSchema`. Rows from v1 files surface the added
    * column as NULL — the documented widening contract (additive
    * evolution only; renames/type changes need a MERGE rewrite, the
    * §8.6 lake-format stand-in). The oracle replays the widening as a
    * CASE on the original table, so the hash proves the merged read
    * is value-exact including the null backfill.
    *
    * Shape at scale: mergeSchema unions footers, not data — the
    * schema merge cost is per-FILE metadata (and in production is
    * pinned once in the catalog, not re-derived per query); the read
    * itself stays a plain pruned columnar scan. */
  def i7SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = stage("supplier_evo", s, dir, "supplier") { tmp =>
      val sup = Tables.supplier(s, dir)
      sup.filter($"s_suppkey" % 2 === 1).select($"s_suppkey", $"s_name")
        .write.mode("overwrite").parquet(tmp + "/v1")
      sup.filter($"s_suppkey" % 2 === 0)
        .select($"s_suppkey", $"s_name", $"s_acctbal")
        .write.mode("overwrite").parquet(tmp + "/v2")
    }
    s.read.option("mergeSchema", "true")
      .parquet(path + "/v1", path + "/v2")
      .orderBy($"s_suppkey")
  }

  /** I8: MALFORMED-RECORD ingest — the robustness surface real feeds
    * force: a JSONL drop where every s_suppkey ≡ 0 (mod 7) line is
    * TRUNCATED mid-record (deterministic corruption, so the oracle
    * knows exactly which rows are gone). The entry reads with
    * `DROPMALFORMED` — the production switch for "quarantine later,
    * don't poison the batch" — and the oracle (the original parquet
    * minus the corrupted keys) hash-proves the reader drops EXACTLY
    * the malformed lines and parses every survivor value-exactly.
    * The spec drives the other two modes on the same drop:
    * PERMISSIVE + columnNameOfCorruptRecord counts the quarantine
    * (== the staged corruption count, raw lines preserved verbatim),
    * FAILFAST raises. Per-row parsing — scan speed at 100 TB; mode
    * choice changes error handling, never the plan shape. */
  def i8CorruptIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = corruptStage(s, dir)
    s.read.schema(SupplierJsonSchema)
      .option("mode", "DROPMALFORMED")
      .json(path)
      .orderBy($"s_suppkey")
  }

  /** The staged corrupt JSONL drop (shared by the entry and the
    * mode-surface specs): supplier rows as JSON lines, every
    * suppkey ≡ 0 (mod `CorruptMod`) line truncated by 5 chars. */
  val CorruptMod = 7L
  private[graft] def corruptStage(s: SparkSession, dir: String): String = {
    import s.implicits._
    stage("supplier_corrupt_json", s, dir, "supplier") { tmp =>
      Tables.supplier(s, dir)
        .select($"s_suppkey",
          org.apache.spark.sql.functions.to_json(
            org.apache.spark.sql.functions.struct(
              $"s_suppkey", $"s_name", $"s_nationkey", $"s_acctbal")).as("j"))
        .select(org.apache.spark.sql.functions.when(
            $"s_suppkey" % CorruptMod === 0L,
            org.apache.spark.sql.functions.expr(
              "substring(j, 1, length(j) - 5)"))
          .otherwise($"j").as("value"))
        .write.mode("overwrite").text(tmp)
    }
  }
}
