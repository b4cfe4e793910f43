package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: run the whole suite once at the smallest SF.
    // Whole-stage codegen sources depend on plan shape, not data, so
    // this compiles every query's generated classes (and C2-JITs the
    // interpreters they run on) before anything is timed — the timed
    // sweeps below then measure the benched dataset's compute, not
    // compiler latency. No result leaks across: `Caches`, the one
    // artifact store, keys every memo and session artifact (models,
    // indexes) on the dataset dir, and the warmup's sweep entries are
    // cleared before the timed sweeps.
    // force FULL evaluation: `count()` lets the optimizer prune every
    // cardinality-preserving operator (windows, per-row projections —
    // a fingerprint query counted at scan speed without ever hashing),
    // silently under-measuring the transform-heavy entries. The noop
    // sink materializes every output column and discards it — the cost
    // a real consumer pays, minus I/O.
    def exec(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val warmupDir = "/root/testdata/sf0.001"
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      if (new java.io.File(warmupDir).isDirectory && warmupDir != sfDir)
        SparkEntry.queries.foreach { case (_, fn) =>
          try exec(fn(spark, warmupDir)) catch { case _: Throwable => }
        }
      Caches.clear()
    } catch { case _: Throwable => }
    // optional args: regexes/names over query names, for timing a
    // subset without the full sweep (e.g. `runMain graft.Bench d6.*`);
    // several args beat one alternation — sbt's batch parser mangles
    // pipes/parens in runMain args
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => args.isEmpty || args.exists(n.matches) }
    // ARTIFACT-BUILD ATTRIBUTION (round 13): Caches.memo logs each
    // artifact's exclusive build seconds; draining the ledger after
    // every entry charges the build to the entry that TRIGGERED it.
    // Without this, within a sweep the alphabetically-first family
    // member silently pays the whole shared chain (round 12's
    // q84 0.04 s / q100 15.6 s mis-attribution: q100 runs first and
    // builds the shared labeling). Raw per-entry times stay what they
    // were (sweep totals honest); `queries_self_median` below is the
    // like-for-like clock (raw − builds paid), and `artifact_builds`
    // names who paid for what.
    //
    // An entry that throws is REPORTED, not read as a fast success: its
    // exception goes to stderr and its name to `failed_entries`. Its
    // seconds stay in the maps so their keys match across rounds.
    val failed = scala.collection.mutable.SortedSet.empty[String]
    def sweep(): (Seq[(String, Double)], Map[String, Seq[(String, Double)]]) = {
      val builds = scala.collection.mutable.Map
        .empty[String, Seq[(String, Double)]]
      val times = names.map { case (name, fn) =>
        Caches.drainBuildLog() // drop strays (warmup, prior failures)
        val t0 = System.nanoTime()
        try exec(fn(spark, sfDir)) catch { case e: Throwable =>
          System.err.println(s"bench: $name failed: $e")
          failed += name
        }
        val sec = (System.nanoTime() - t0) / 1e9
        val b = Caches.drainBuildLog()
        if (b.nonEmpty) builds(name) = b
        name -> sec
      }
      (times, builds.toMap)
    }
    // one cold sweep + N warm sweeps (default 3, SPARK_GRAFT_WARM_SWEEPS
    // to override). The cold sweep pays every one-time artifact cost
    // (JIT / codegen compilation, model fits, index builds — costs a
    // real deployment pays once per dataset, not per query); the warm
    // sweeps measure steady-state compute under warm JIT and amortized
    // models/indexes. The RESULT memo is cleared between sweeps so each
    // genuinely re-runs every operator's joins/aggregations — no sweep
    // ever reads a prior sweep's cached output.
    //
    // VARIANCE BANDS: this host shows bursty EXTERNAL contention
    // (2–5× single-shot swings at load 10+ with no local consumer), so
    // a single best-of-2 cannot distinguish a regression from a burst.
    // Per entry the bands report min / MEDIAN / spread (max−min) over
    // the warm sweeps: the median of 3 absorbs one burst entirely, and
    // a wide spread marks the entry's number as load-noise rather than
    // plan cost. Regression triage reads the MEDIAN, not the min.
    val nWarm = math.max(1,
      sys.env.get("SPARK_GRAFT_WARM_SWEEPS").map(_.toInt).getOrElse(3))
    val coldRun = sweep()
    // CONTAMINATION AUTO-RETRY (round-12): labeling a poisoned sweep
    // (round 11's archive shipped `contaminated_sweeps: [2]` with the
    // 3.3-min d6 burst still in every median) is not enough — re-run
    // it. Any warm sweep whose total exceeds 1.5× the fastest warm
    // sweep is host contention, not plan cost; replace it (bounded
    // retries — a busy host must not loop forever). A retried sweep
    // can itself come back faster and re-expose another as
    // contaminated; the loop re-evaluates until clean or the budget
    // is spent, and whatever remains is still flagged below.
    def contaminatedIdx(ws: Seq[Map[String, Double]]): Seq[Int] = {
      val totals = ws.map(_.values.sum)
      val mn = totals.min
      totals.zipWithIndex.filter(_._1 > 1.5 * mn).map(_._2)
    }
    val maxRetries = 3
    var retried = 0
    val cold = coldRun._1
    var warmRuns: Seq[(Map[String, Double], Map[String, Seq[(String, Double)]])] =
      (1 to nWarm).map { _ =>
        Caches.clear(); val (t, b) = sweep(); (t.toMap, b)
      }
    def warms: Seq[Map[String, Double]] = warmRuns.map(_._1)
    while (contaminatedIdx(warms).nonEmpty && retried < maxRetries) {
      val i = contaminatedIdx(warms).head
      retried += 1
      System.err.println(f"bench: warm sweep ${i + 1} total " +
        f"${warms(i).values.sum}%.1f s > 1.5x fastest " +
        f"(${warms.map(_.values.sum).min}%.1f s) - re-running it " +
        s"(retry $retried/$maxRetries)")
      Caches.clear()
      val (t, b) = sweep()
      warmRuns = warmRuns.updated(i, (t.toMap, b))
    }
    def samples(k: String): Seq[Double] = warms.map(_(k)).sorted
    def median(xs: Seq[Double]): Double =
      if (xs.size % 2 == 1) xs(xs.size / 2)
      else (xs(xs.size / 2 - 1) + xs(xs.size / 2)) / 2.0
    // headline stays best-of-all (cold included), back-comparable with
    // every prior round's "min of two sweeps"
    val results = cold.map { case (k, v) => k -> (v +: samples(k)).min }
    val medians = cold.map { case (k, _) => k -> median(samples(k)) }
    val spreads = cold.map { case (k, _) =>
      k -> (samples(k).max - samples(k).min) }
    // like-for-like clock: raw − the artifact builds this entry paid
    // in that sweep. Cross-round regression triage reads THIS (the
    // memo chain moving between family members no longer reads as a
    // regression); sweep totals and raw medians stay as before.
    def selfSamples(k: String): Seq[Double] = warmRuns.map { case (t, b) =>
      t(k) - b.getOrElse(k, Nil).map(_._2).sum
    }.sorted
    val selfMedians = cold.map { case (k, _) => k -> median(selfSamples(k)) }
    // the ledger itself: artifact → [paying entry, median exclusive
    // build seconds over the warm sweeps that built it]
    val artifactRows = warmRuns
      .flatMap { case (_, b) => b.toSeq.flatMap { case (entry, bs) =>
        bs.map { case (art, sec) => (art, entry, sec) } } }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (art, xs) =>
        art -> (xs.head._2, median(xs.map(_._3).sorted)) }
    def jmap(xs: Seq[(String, Double)]) =
      xs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = jmap(results)
    val total = results.map(_._2).sum
    val coldTotal = cold.map(_._2).sum
    val medianTotal = medians.map(_._2).sum
    val warmTotals = warms.map(_.values.sum)
    // RESIDUAL CONTAMINATION FLAG (after the bounded auto-retry above
    // ran out of budget): flag it in the JSON so a contaminated
    // archive can never silently become the round's number, and say
    // so on stderr for a human watching the run.
    val minWarmTotal = warmTotals.min
    val contaminated = warmTotals.zipWithIndex
      .filter { case (t, _) => t > 1.5 * minWarmTotal }
    contaminated.foreach { case (t, i) =>
      System.err.println(f"bench: WARNING sweep ${i + 1} total $t%.1f s " +
        f"> 1.5x fastest warm sweep ($minWarmTotal%.1f s) - host " +
        "contention; treat this archive's medians as suspect") }
    // queries_cold discloses each query's first-sweep time (one-time
    // model fits / index builds / JIT included) next to the best-of-N
    // headline, so no per-query cost is hidden by the methodology
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""iterations":${nWarm + 1},"cold_total":$coldTotal,""" +
      s""""median_total":$medianTotal,""" +
      s""""warm_totals":${warmTotals.mkString("[", ",", "]")},""" +
      s""""retried_sweeps":$retried,""" +
      s""""contaminated_sweeps":${contaminated.map(_._2 + 1).mkString("[", ",", "]")},""" +
      s""""queries_median":${jmap(medians)},""" +
      s""""queries_spread":${jmap(spreads)},""" +
      s""""queries_self_median":${jmap(selfMedians)},""" +
      s""""artifact_builds":${artifactRows.map { case (a, (e, v)) =>
        s"\"" + a + "\":[\"" + e + "\"," + v + "]"
      }.mkString("{", ",", "}")},""" +
      s""""queries_cold":${jmap(cold)},""" +
      s""""failed_entries":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""sf":"$sfDir"}"""
    // The driver records only a ~2000-char stdout TAIL, and the full
    // per-query line (131 entries × 4 maps) overflows it — four rounds
    // of BENCH_r{N}.json "parsed": null. So emit a COMPACT summary
    // line (totals + the top-12 most expensive queries by MEDIAN, with
    // their min/median/spread triple) BOTH before and after the full
    // line: the trailing copy is what survives tail truncation; the
    // leading copy serves a head-reader. The complete record still
    // reaches BENCH.json below.
    def r4(v: Double) = math.round(v * 10000) / 10000.0
    val medMap = medians.toMap
    val sprMap = spreads.toMap
    val resMap = results.toMap
    val top = medians.sortBy(-_._2).take(12).map(_._1)
    val topBands = top.map { k =>
      s"\"" + k + s"\":[${r4(resMap(k))},${r4(medMap(k))},${r4(sprMap(k))}]"
    }.mkString("{", ",", "}")
    val compact = s"""{"metric":"total","value":${r4(total)},"unit":"sec",""" +
      s""""median_total":${r4(medianTotal)},""" +
      s""""queries":$topBands,"iterations":${nWarm + 1},""" +
      s""""cold_total":${r4(coldTotal)},""" +
      s""""contaminated_sweeps":${contaminated.map(_._2 + 1).mkString("[", ",", "]")},""" +
      s""""n_queries":${results.size},""" +
      s""""queries_note":"top12 of ${results.size} by median; [min,median,spread] over $nWarm warm sweeps; full maps in BENCH.json",""" +
      s""""sf":"$sfDir"}"""
    // print the result lines (they must never be lost to a file-write
    // failure), then also drop a copy in a well-known file. The run is
    // forked with StdoutOutput, so these lines reach stdout bare — no
    // sbt "[info] " prefix.
    println(compact)
    println(json)
    println(compact)
    // subset runs (a regex arg) are triage probes — they must not
    // clobber the repo's full-suite record
    if (args.isEmpty) {
      val dir = sys.props.getOrElse("user.dir", ".")
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", dir + "/BENCH.json"))
      try java.nio.file.Files.write(out, (json + "\n").getBytes("UTF-8"))
      catch { case e: Throwable => System.err.println(s"bench: file write skipped: $e") }
      // ALSO persist a round-stamped copy: the driver's BENCH_r{N}.json
      // keeps only a ~2 kB stdout tail (the top-12 compact line), and
      // BENCH.json is overwritten every run — so without this,
      // historical per-entry bands die with the next round and
      // bench_compare falls back to top-12-only. The current round is
      // inferred as (newest driver artifact) + 1; repeated runs within
      // a round overwrite their own stamp, like BENCH.json.
      try {
        val rs = new java.io.File(dir).list().toSeq
          .flatMap { n =>
            val m = "BENCH_r(\\d+)\\.json".r.findFirstMatchIn(n)
            m.map(_.group(1).toInt)
          }
        val round = (if (rs.isEmpty) 0 else rs.max) + 1
        val full = java.nio.file.Paths.get(dir + f"/BENCH_full_r$round%02d.json")
        java.nio.file.Files.write(full, (json + "\n").getBytes("UTF-8"))
      } catch { case e: Throwable => System.err.println(s"bench: full archive skipped: $e") }
    }
    spark.stop()
  }
}
