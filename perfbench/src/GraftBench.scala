package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Caches, GraftSession, SparkEntry, Tables}

/** One closed-loop benchmark run of a graft workload in a single JVM.
  *
  * The engine is reached only through its public entry points:
  * `SparkEntry.queries` / `oracleSql`, `GraftSession.builder`, the
  * `Tables` loaders and `Caches.clear` / `drainBuildLog`.
  *
  * Phases:
  *  1. registry guard: every entry must be registered, every
  *     oracle-checked entry must still have its `oracleSql`;
  *  2. set-up, timed from JVM start to the first timed query: a session,
  *     `--warmups` untimed passes (codegen, JIT, model and index fits), the
  *     leak baseline, and one untimed settling pass;
  *  3. timed passes until `--seconds` have elapsed and at least
  *     `--min-passes` have run, each starting with `Caches.clear()`, each
  *     entry written to the noop sink, in the seeded order rotated by one
  *     entry per pass;
  *  4. an untimed check pass writing every result as parquet, next to
  *     the oracle SQL of the checked entries, in the layout `tools/check.py`
  *     reads;
  *  5. `Caches.clear()`, leaked persisted RDDs and retained heap.
  *
  * With `--trace 1`, passes alternate untraced / traced, and traced
  * passes record spans and listener counters (see [[Tracer]]).
  * Everything measured goes to `<out>/harness.json`.
  *
  * `--dump-oracles <file> --entries <names>` only writes the entries'
  * oracle SQL to `<file>` (perfbench/expected.py uses it).
  */
object GraftBench {

  type Entry = (SparkSession, String) => DataFrame

  /** Entries that exist only for the benchmark's self-test. The leaking
    * one keeps a reference to each RDD it persists, as a real leak does:
    * Spark forgets persisted RDDs that are garbage. */
  private val selftestLeaks = mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[Int]]
  val faults: Map[String, Entry] = Map(
    "selftest_throw" -> ((_: SparkSession, _: String) =>
      throw new IllegalStateException("selftest: injected failure")),
    "selftest_leak" -> ((s: SparkSession, _: String) => {
      val rdd = s.sparkContext.parallelize(1 to 10, 1).cache()
      rdd.count()
      selftestLeaks += rdd
      s.range(1).toDF()
    }))

  private val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region _, "nation" -> Tables.nation _,
    "customer" -> Tables.customer _, "supplier" -> Tables.supplier _,
    "part" -> Tables.part _, "orders" -> Tables.orders _,
    "lineitem" -> Tables.lineitem _, "events" -> Tables.events _,
    "documents" -> Tables.documents _, "embeddings" -> Tables.embeddings _)

  final case class Exec(name: String, ms: Double, error: String)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String) = opt.getOrElse(k, "").split(",").toSeq.filter(_.nonEmpty)
    val entries = list("entries")
    val registry = SparkEntry.queries
    val oracles = SparkEntry.oracleSql
    if (opt.contains("dump-oracles")) {
      val doc = Json.Obj(entries.filter(oracles.contains).map(n => n -> Json.Str(oracles(n))))
      Files.write(Paths.get(opt("dump-oracles")), doc.render.getBytes(StandardCharsets.UTF_8))
      return
    }
    val oracle = list("oracle")
    val dir = opt("dir")
    val out = opt("out")
    val seconds = opt("seconds").toDouble
    val seed = opt("seed").toLong
    val traced = opt.get("trace").contains("1")
    val cpus = opt.getOrElse("cpus", "4").toInt
    val warmups = opt.getOrElse("warmups", "2").toInt
    val minPasses = opt.getOrElse("min-passes", "2").toInt

    // ---- 1. registry guard ----
    val missing = entries.filterNot(n => registry.contains(n) || faults.contains(n))
    val lost = oracle.filterNot(oracles.contains)
    missing.foreach(n => System.err.println(s"graftbench: entry $n is missing from SparkEntry.queries"))
    lost.foreach(n => System.err.println(s"graftbench: entry $n has lost its SparkEntry.oracleSql"))
    if (missing.nonEmpty || lost.nonEmpty) sys.exit(3)
    val fns: Map[String, Entry] = entries.map(n => n -> registry.getOrElse(n, faults(n))).toMap

    // pass k runs the seeded order rotated by k: over any entries.size
    // consecutive passes each entry comes first once, so each pays the
    // build of a memo that Caches.clear() dropped equally often
    val seeded = new scala.util.Random(seed).shuffle(entries)
    def order(pass: Int): Seq[String] = {
      val r = Math.floorMod(pass, seeded.size)
      seeded.drop(r) ++ seeded.take(r)
    }

    // ---- 2. set-up, from JVM start to the first timed query ----
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", System.getProperty("java.io.tmpdir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val warmupErrors = mutable.LinkedHashMap.empty[String, String]
    (1 to warmups).foreach { i =>
      Caches.clear()
      order(-i).foreach { n =>
        val x = runEntry(n, fns(n), spark, dir)
        if (x.error != null) warmupErrors(n) = x.error
        System.err.println(f"graftbench: warm-up $i ${x.name} ${x.ms}%.1f ms")
      }
      Caches.drainBuildLog()
    }
    // persisted RDDs that are garbage drop out of getPersistentRDDs at GC,
    // so both counts are taken after one: only referenced ones remain
    def collect(): Unit = (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    Caches.clear()
    collect()
    val baselineRdds = sc.getPersistentRDDs.size

    val tracer = if (traced) {
      val t = new Tracer(spark)
      sc.addSparkListener(t)
      spark.listenerManager.register(t)
      Some(t)
    } else None
    // one more untimed pass lets the JIT settle after the forced GC
    plainPass(order(-100), fns, spark, dir)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // ---- 3. timed passes ----
    val passes = mutable.ArrayBuffer.empty[Json.Obj]
    val runStart = System.nanoTime()
    var k = 0
    while (k < minPasses || (System.nanoTime() - runStart) / 1e9 < seconds) {
      val tr = tracer.filter(_ => k % 2 == 1)
      val row = tr match {
        case Some(t) => tracedPass(t, spark, k, order(k), fns, dir, cpus)
        case None => plainPass(order(k), fns, spark, dir)
      }
      passes += row + ("pass" -> Json.Num(k)) + ("traced" -> Json.Bool(tr.isDefined))
      k += 1
    }

    // ---- 4. untimed check pass ----
    Caches.clear()
    val check = mutable.LinkedHashMap.empty[String, Json.Value]
    order(k).foreach { n =>
      val err = try {
        fns(n)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$out/$n")
        null
      } catch { case t: Throwable => firstLine(t) }
      check(n) = Json.Str(err)
    }
    Caches.drainBuildLog()
    val oracleSql = Json.Obj(oracle.map(n => n -> Json.Str(oracles(n))))
    Files.write(Paths.get(out, "oracle_sql.json"), oracleSql.render.getBytes(StandardCharsets.UTF_8))

    // ---- 5. what the run leaves behind ----
    Caches.clear()
    collect()
    val leaked = sc.getPersistentRDDs.size - baselineRdds
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory - rt.freeMemory) / 1048576.0

    val doc = Json.Obj(Seq(
      "setup_s" -> Json.Num(setupS),
      "warmup_errors" -> Json.Obj(warmupErrors.map { case (n, e) => n -> Json.Str(e) }.toSeq),
      "baseline_rdds" -> Json.Num(baselineRdds),
      "leaked_rdds" -> Json.Num(leaked),
      "retained_heap_mb" -> Json.Num(heapMb),
      "cpus" -> Json.Num(cpus),
      "passes" -> Json.Arr(passes.toSeq),
      "check" -> Json.Obj(check.toSeq)) ++
      tracer.map(t => Seq(
        "spans" -> Json.Arr(t.spans.toSeq.map(s => Json.Arr(Seq(Json.Num(s.id),
          Json.Num(s.parent), Json.Str(s.name), Json.Str(s.label),
          Json.Num(s.startUs), Json.Num(s.endUs))))),
        "jobs" -> Json.Arr(t.jobs.toSeq.map(j => Json.Arr(Seq(Json.Num(j.id),
          Json.Num(j.span), Json.Num(j.startMs), Json.Num(j.endMs))))))).getOrElse(Nil))
    Files.write(Paths.get(out, "harness.json"), doc.render.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Every execution writes to the noop sink: all columns materialized,
    * nothing written. */
  private def exec(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def firstLine(t: Throwable): String =
    (t.getClass.getName + ": " + String.valueOf(t.getMessage)).linesIterator.next()

  private def runEntry(n: String, fn: Entry, spark: SparkSession, dir: String): Exec = {
    val t0 = System.nanoTime()
    val err = try { exec(fn(spark, dir)); null }
    catch { case t: Throwable => firstLine(t) }
    Exec(n, (System.nanoTime() - t0) / 1e6, err)
  }

  private def execsJson(xs: Seq[Exec]): Json.Value =
    Json.Arr(xs.map(x => Json.Arr(Seq(Json.Str(x.name), Json.Num(x.ms), Json.Str(x.error)))))

  private def plainPass(names: Seq[String], fns: Map[String, Entry],
      spark: SparkSession, dir: String): Json.Obj = {
    Caches.clear()
    val t0 = System.nanoTime()
    val xs = names.map { n =>
      val x = runEntry(n, fns(n), spark, dir)
      Caches.drainBuildLog()
      System.err.println(f"graftbench: pass ${x.name} ${x.ms}%.1f ms")
      x
    }
    Json.Obj(Seq("wall_s" -> Json.Num((System.nanoTime() - t0) / 1e9),
      "execs" -> execsJson(xs)))
  }

  private def tracedPass(t: Tracer, spark: SparkSession, k: Int, names: Seq[String],
      fns: Map[String, Entry], dir: String, cpus: Int): Json.Obj = {
    import Tracer._
    val sc = spark.sparkContext
    Caches.clear()
    val firstSpan = t.spans.size
    var wall = 0.0
    var builds = 0
    var buildS, persistedPeak, storagePeak = 0.0
    val xs = mutable.ArrayBuffer.empty[Exec]
    val passStartMs = t.nowUs / 1000.0
    t.span("pass", s"$k") {
      t.span("tables.load") {
        loaders.foreach { case (name, load) => t.span("tables.load", name)(load(spark, dir)) }
      }
      val t0 = System.nanoTime()
      names.foreach { n =>
        val q0 = System.nanoTime()
        val err = t.span("query", n) {
          try {
            val df = t.span("operators.build", n)(fns(n)(spark, dir))
            t.span("execute", n)(exec(df))
            null
          } catch { case e: Throwable => firstLine(e) }
        }
        xs += Exec(n, (System.nanoTime() - q0) / 1e6, err)
        val b = Caches.drainBuildLog()
        builds += b.size
        buildS += b.map(_._2).sum
        persistedPeak = math.max(persistedPeak, sc.getPersistentRDDs.size)
        storagePeak = math.max(storagePeak,
          sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0)
      }
      wall = (System.nanoTime() - t0) / 1e9
    }
    val passEndMs = t.nowUs / 1000.0
    t.flush(k)

    val spans = t.spans.slice(firstSpan, t.spans.size).toSeq
    val children = spans.groupBy(_.parent)
    def subtree(root: Span): Seq[Span] =
      root +: children.getOrElse(root.id, Nil).flatMap(subtree)
    val tableIds = spans.filter(s => s.name == "tables.load").map(_.id).toSet
    val queryIds = spans.filter(_.name == "query").flatMap(subtree).map(_.id).toSet
    val buildIds = spans.filter(_.name == "operators.build").map(_.id).toSet
    val spanIds = spans.map(_.id).toSet
    val (jobs, cs, planned) = t.synchronized {
      val c = new Counters
      queryIds.foreach(id => t.counters.get(id).foreach(c += _))
      (t.jobs.filter(j => spanIds(j.span)).toSeq, c,
        t.queries.filter(q => q.startMs >= passStartMs && q.startMs <= passEndMs).toSeq)
    }
    val queryJobs = jobs.filter(j => queryIds(j.span))
    def iv(j: Job) = (j.startMs.toDouble, j.endMs.toDouble)
    val jobCoveredMs = covered(queryJobs.map(iv))
    val driverSelfMs = spans.filter(_.name == "query").map { q =>
      val s = q.startUs / 1000.0
      val e = q.endUs / 1000.0
      val qIds = subtree(q).map(_.id).toSet
      val cov = covered(queryJobs.filter(j => qIds(j.span)).map { j =>
        (math.max(s, j.startMs.toDouble), math.min(e, j.endMs.toDouble)) })
      (e - s) - cov
    }.sum
    def durMs(s: Span) = (s.endUs - s.startUs) / 1000.0
    // self time per span name: duration minus the union of its child
    // spans and of the jobs it launched directly
    val selfMs = spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c => (c.startUs / 1000.0, c.endUs / 1000.0)) ++
          jobs.filter(_.span == s.id).map(iv)
        durMs(s) - covered(kids.map { case (a, b) =>
          (math.max(a, s.startUs / 1000.0), math.min(b, s.endUs / 1000.0)) })
      }.sum
    } + ("job" -> jobs.map(j => j.endMs - j.startMs).sum.toDouble)

    val layers = Seq[(String, Double)](
      "tables.load_ms" -> spans.filter(s => s.name == "tables.load" && s.label.nonEmpty).map(durMs).sum,
      "tables.jobs" -> jobs.count(j => tableIds(j.span)).toDouble,
      "operators.build_ms" -> spans.filter(_.name == "operators.build").map(durMs).sum,
      "operators.build_jobs" -> jobs.count(j => buildIds(j.span)).toDouble,
      "plans.analysis_ms" -> planned.map(_.analysisMs).sum.toDouble,
      "plans.optimize_ms" -> planned.map(_.optimizeMs).sum.toDouble,
      "plans.planning_ms" -> planned.map(_.planningMs).sum.toDouble,
      "plans.actions" -> planned.size.toDouble,
      "driver.self_ms" -> driverSelfMs,
      "spark.sched.jobs" -> queryJobs.size.toDouble,
      "spark.sched.stages" -> cs.stages.toDouble,
      "spark.sched.tasks" -> cs.tasks.toDouble,
      "spark.sched.task_wait_ms" -> cs.taskWaitMs.toDouble,
      "spark.exec.run_ms" -> cs.runMs.toDouble,
      "spark.exec.cpu_ms" -> cs.cpuNs / 1e6,
      "spark.exec.gc_ms" -> cs.gcMs.toDouble,
      "spark.exec.deser_ms" -> cs.deserMs.toDouble,
      "spark.exec.result_bytes" -> cs.resultBytes.toDouble,
      "spark.exec.busy_ratio" -> (if (jobCoveredMs > 0) cs.runMs / (jobCoveredMs * cpus) else 0.0),
      "spark.shuffle.write_bytes" -> cs.shuffleWrite.toDouble,
      "spark.shuffle.read_bytes" -> cs.shuffleRead.toDouble,
      "spark.shuffle.fetch_wait_ms" -> cs.fetchWaitMs.toDouble,
      "spark.shuffle.spill_bytes" -> cs.spillBytes.toDouble,
      "spark.scan.bytes" -> cs.scanBytes.toDouble,
      "spark.scan.records" -> cs.scanRecords.toDouble,
      "caches.builds" -> builds.toDouble,
      "caches.build_s" -> buildS,
      "caches.persisted_rdds" -> persistedPeak,
      "caches.storage_mb" -> storagePeak)
    Json.Obj(Seq("wall_s" -> Json.Num(wall), "execs" -> execsJson(xs.toSeq),
      "layers" -> Json.Obj(layers.map { case (n, v) => n -> Json.Num(v) }),
      "self_ms" -> Json.Obj(selfMs.toSeq.sortBy(_._1).map { case (n, v) => n -> Json.Num(v) })))
  }
}

/** Just enough JSON to write the run record. */
object Json {
  sealed trait Value { def render: String }
  final case class Num(v: Double) extends Value {
    def render: String =
      if (v.isNaN || v.isInfinite) "null"
      else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
      else v.toString
  }
  final case class Bool(v: Boolean) extends Value { def render: String = v.toString }
  final case class Str(v: String) extends Value {
    def render: String = if (v == null) "null" else "\"" + v.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  }
  final case class Arr(xs: Seq[Value]) extends Value {
    def render: String = xs.map(_.render).mkString("[", ",", "]")
  }
  final case class Obj(kv: Seq[(String, Value)]) extends Value {
    def render: String = kv.map { case (k, v) => Str(k).render + ":" + v.render }
      .mkString("{", ",", "}")
    def +(p: (String, Value)): Obj = Obj(kv :+ p)
    def ++(ps: Seq[(String, Value)]): Obj = Obj(kv ++ ps)
  }
}
