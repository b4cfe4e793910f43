package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The schema memo behind `Tables`: loads serve the same schema and rows
  * as a plain `spark.read.parquet`, warm loads launch no job, a rewritten
  * table is re-resolved, and the memo keeps one entry per path. */
class TablesSpec extends GraftSpecBase {

  private val loaders: Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame)] =
    Seq("region" -> Tables.region _, "nation" -> Tables.nation _,
      "customer" -> Tables.customer _, "supplier" -> Tables.supplier _,
      "part" -> Tables.part _, "orders" -> Tables.orders _,
      "lineitem" -> Tables.lineitem _, "events" -> Tables.events _,
      "documents" -> Tables.documents _, "embeddings" -> Tables.embeddings _)

  /** Order-independent row hash: (row count, Σ xxhash64 over all columns). */
  private def rowHash(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(c => col(s"`$c`")): _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), r.getDecimal(1))
  }

  private def canonical(path: String): String = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
  }

  test("memoized loads equal a plain read: schema with nullability, and rows") {
    loaders.foreach { case (name, load) =>
      val plain = spark.read.parquet(s"$sf/$name.parquet")
      load(spark, sf) // warm the memo
      val memo = load(spark, sf)
      assert(memo.schema == plain.schema, name)
      assert(memo.schema.map(_.nullable) == plain.schema.map(_.nullable), name)
      assert(rowHash(memo) == rowHash(plain), name)
    }
  }

  test("a warm load launches no job; a plain read launches its inference job") {
    Tables.lineitem(spark, sf).schema
    assert(jobsDuring(Tables.lineitem(spark, sf).schema) == 0)
    // the counter is live: the load it replaces does launch a job
    assert(jobsDuring(spark.read.parquet(s"$sf/lineitem.parquet").schema) >= 1)
  }

  test("eventsWithMs serves the same ms column from the warm memo") {
    Tables.eventsWithMs(spark, sf)
    val warm = Tables.eventsWithMs(spark, sf)
    val plain = spark.read.parquet(s"$sf/events.parquet")
    val ms = plain.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000000L")
      case _ => expr("unix_micros(cast(ts as timestamp)) div 1000L")
    }
    val want = plain.withColumn("ms", ms)
    assert(warm.schema == want.schema)
    assert(rowHash(warm) == rowHash(want))
  }

  test("a directory table rewritten with another schema is seen on the next load") {
    val tmp = Files.createTempDirectory("graft_tables").toString
    val nation = Tables.nation(spark, sf)
    nation.write.parquet(s"$tmp/nation.parquet")
    assert(Tables.nation(spark, tmp).columns.toSeq == nation.columns.toSeq)
    nation.select(col("n_nationkey"), col("n_name"), lit(1.5).as("n_weight"))
      .write.mode("overwrite").parquet(s"$tmp/nation.parquet")
    val again = Tables.nation(spark, tmp)
    assert(again.columns.toSeq == Seq("n_nationkey", "n_name", "n_weight"))
    assert(again.agg(sum("n_weight")).head().getDouble(0) == 1.5 * nation.count())
  }

  test("a single-file table replaced by another file is seen on the next load") {
    val tmp = Files.createTempDirectory("graft_tables_file")
    val target = tmp.resolve("region.parquet")
    Files.copy(Paths.get(sf, "region.parquet"), target)
    assert(Tables.region(spark, tmp.toString).schema ==
      spark.read.parquet(s"$sf/region.parquet").schema)
    Files.copy(Paths.get(sf, "nation.parquet"), target, StandardCopyOption.REPLACE_EXISTING)
    assert(Tables.region(spark, tmp.toString).schema ==
      spark.read.parquet(s"$sf/nation.parquet").schema)
  }

  test("repeated rewrites of one path leave one memo entry") {
    val tmp = Files.createTempDirectory("graft_tables_rw").toString
    val path = s"$tmp/region.parquet"
    val region = Tables.region(spark, sf)
    (1 to 4).foreach { i =>
      region.withColumn(s"extra_$i", lit(i))
        .write.mode("overwrite").parquet(path)
      assert(Tables.region(spark, tmp).columns.last == s"extra_$i")
    }
    assert(Tables.memoizedPaths.count(_ == canonical(path)) == 1)
  }
}
