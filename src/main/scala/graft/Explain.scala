package graft

/** Plan/timing inspector: `runMain graft.Explain <query> [sfDir]`
  * prints the formatted physical plan of a SparkEntry query, executes
  * it, and reports wall time — the `.explain("formatted")` feedback
  * loop for plan-shape work.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fn = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    val df = fn(spark, sfDir)
    println(f"== build+fit: ${(System.nanoTime() - t0) / 1e9}%.1f s") // fits run eagerly
    df.explain("formatted")
    val t1 = System.nanoTime()
    val n = df.count()
    println(f"== rows: $n, execute: ${(System.nanoTime() - t1) / 1e9}%.1f s")
    val t2 = System.nanoTime()
    df.count()
    println(f"== re-execute: ${(System.nanoTime() - t2) / 1e9}%.1f s")
    spark.stop()
  }
}
