package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.multimodal.Multimodal

/** Property-style randomized checks (fixed seeds) for the pure kernels:
  * many random inputs evaluated in one Spark pass, compared against
  * straightforward local models.
  */
class PropertySpec extends GraftSpecBase {

  test("ArrayDot matches a local left-fold on 200 random vector pairs exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(12345)
    val cases = Seq.fill(200) {
      val n = 1 + rnd.nextInt(96)
      (Seq.fill(n)(rnd.nextDouble() * 2 - 1), Seq.fill(n)(rnd.nextDouble() * 2 - 1))
    }
    val expected = cases.map { case (a, b) =>
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    }
    val got = cases.toDF("a", "b")
      .select(VectorFunctions.dot($"a", $"b")).as[Double].collect()
    got.zip(expected).foreach { case (g, e) => assert(g == e) } // bitwise
  }

  test("simhash_agg equals a local vote model on 100 random token groups") {
    import spark.implicits._
    val rnd = new scala.util.Random(999)
    val rows = (0 until 100).flatMap { g =>
      Seq.fill(1 + rnd.nextInt(40))((g.toLong, rnd.nextLong()))
    }
    val got = rows.toDF("g", "h")
      .groupBy($"g").agg(call_function("simhash_agg", $"h").as("sh"))
      .as[(Long, Long)].collect().toMap
    val want = rows.groupBy(_._1).map { case (g, hs) =>
      var out = 0L
      for (b <- 0 until 64) {
        val votes = hs.map { case (_, h) => if (((h >>> b) & 1L) == 1L) 1 else -1 }.sum
        if (votes > 0) out |= (1L << b)
      }
      g -> out
    }
    assert(got == want)
  }

  test("cdc chunking reassembles any random payload, chunk sizes within bounds") {
    val rnd = new scala.util.Random(4242)
    for (_ <- 0 until 50) {
      val payload = Array.fill(rnd.nextInt(2000))(rnd.nextInt().toByte)
      val chunks = Multimodal.Cdc.chunks(payload).toSeq
      assert(chunks.map(_._2).sum == payload.length)
      var off = 0
      chunks.foreach { case (o, len, _) =>
        assert(o == off && len > 0 && len <= Multimodal.CdcMaxChunk)
        off += len
      }
    }
  }

  test("minhash_agg equals a local min model on 100 random shingle groups") {
    import spark.implicits._
    val rnd = new scala.util.Random(31337)
    val rows = (0 until 100).flatMap { g =>
      Seq.fill(1 + rnd.nextInt(40))((g.toLong, rnd.nextLong(2147483647L)))
    }
    val got = rows.toDF("g", "x")
      .groupBy($"g").agg(call_function("minhash_agg", $"x").as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val m = graft.functions.MinHashAgg.MersennePrime
    val want = rows.groupBy(_._1).map { case (g, xs) =>
      g -> graft.functions.MinHashAgg.Perms.map { case (a, b) =>
        xs.map { case (_, x) => (x * a + b) % m }.min
      }.toList
    }
    assert(got.view.mapValues(_.toList).toMap == want)
  }

  test("sessionizer fold is arrival-order invariant on random event streams") {
    import graft.streaming.EventStreams
    import graft.streaming.EventStreams.Event
    val rnd = new scala.util.Random(2024)
    val gap = EventStreams.SessionGapMs
    for (trial <- 0 until 30) {
      val events = Seq.fill(1 + rnd.nextInt(60))(Event(
        user_id = 1L, event_id = rnd.nextLong(1L << 40),
        ms = rnd.nextLong(gap * 20), event_type = "e", value = rnd.nextInt(10)))
      // reference: sort by time, split on gaps
      val sorted = events.sortBy(e => (e.ms, e.event_id))
      val ref = sorted.tail.foldLeft(List(List(sorted.head))) { (acc, e) =>
        if (e.ms - acc.head.head.ms > gap) List(e) :: acc
        else (e :: acc.head) :: acc.tail
      }.reverse.map { s =>
        (s.map(_.ms).min, s.map(_.ms).max, s.size.toLong, s.map(_.value).sum)
      }
      // the fold sees events in a RANDOM arrival order
      val shuffled = rnd.shuffle(events)
      val got = EventStreams.mergeEvents(Nil, shuffled.iterator)
        .sortBy(_.firstMs)
        .map(f => (f.firstMs, f.lastMs, f.n, f.sumValue))
      assert(got == ref, s"trial $trial: $got vs $ref")
    }
  }

  test("salted join equals plain join on random skewed data") {
    import spark.implicits._
    val rnd = new scala.util.Random(777)
    // heavy skew: 80% of rows share one key
    val big = (0 until 2000).map { i =>
      (if (rnd.nextDouble() < 0.8) 7L else rnd.nextInt(50).toLong, i.toLong)
    }.toDF("k", "rowid")
    val small = (0L until 50L).map(k => (k, s"v$k")).toDF("k", "payload")
    val plain = big.join(small, Seq("k")).select($"rowid", $"payload")
      .collect().map(_.toSeq).toSet
    val salted = operators.Skew.saltedJoin(big, small, "k", $"rowid")
      .select($"rowid", $"payload").collect().map(_.toSeq).toSet
    assert(salted == plain)
  }

  test("ntileBoundaries: boundary-compare equals window ntile, incl. N < k duplicates and value ties") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(1515)
    // shapes that stress the selection: N < k (duplicate boundary
    // rows), N = k, heavy value ties (tie-break on key), and a few
    // hundred-row frames spanning multiple range partitions
    val shapes = Seq(2, 3, 4, 5, 17, 100, 311, 500)
    shapes.foreach { n =>
      val data = (1L to n.toLong).map(k => (rnd.nextInt(7).toLong, k))
      val df = data.toDF("v", "key")
      Caches.scoped { scope =>
        val bs = operators.Analytics.ntileBoundaries(df, 4, scope,
          $"v", $"key")
        val got = df.select($"v", $"key",
          bs.map { b =>
            when($"v" > lit(b.getLong(0)) ||
              ($"v" === lit(b.getLong(0)) && $"key" > lit(b.getLong(1))),
              1L).otherwise(0L)
          }.foldLeft(lit(1L))(_ + _).as("got"))
        val mismatch = got
          .withColumn("want",
            ntile(4).over(Window.orderBy($"v", $"key")).cast("long"))
          .filter($"got" =!= $"want")
        assert(mismatch.count() == 0, s"N=$n")
      }
    }
  }

  test("ntileBoundaries: descending order equals window ntile over (v desc, key)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(4949)
    // q49's frequency/monetary axes: a descending value with an
    // ascending key tie-break; a boundary precedes a row when its
    // value is larger, or equal with a smaller key
    Seq(3, 4, 9, 120, 400).foreach { n =>
      val df = (1L to n.toLong).map(k => (rnd.nextInt(5).toLong, k))
        .toDF("v", "key")
      Caches.scoped { scope =>
        val bs = operators.Analytics.ntileBoundaries(df, 4, scope,
          $"v".desc, $"key")
        val got = bs.map { b =>
          when($"v" < lit(b.getLong(0)) ||
            ($"v" === lit(b.getLong(0)) && $"key" > lit(b.getLong(1))),
            1L).otherwise(0L)
        }.foldLeft(lit(1L))(_ + _)
        val mismatch = df
          .withColumn("got", got)
          .withColumn("want",
            ntile(4).over(Window.orderBy($"v".desc, $"key")).cast("long"))
          .filter($"got" =!= $"want")
        assert(mismatch.count() == 0, s"N=$n")
      }
    }
  }

  test("ntileBoundaries: k = 1 has no boundaries, k < 1 is rejected") {
    import spark.implicits._
    val df = Seq((1L, 1L), (2L, 2L), (2L, 3L)).toDF("v", "key")
    Caches.scoped { scope =>
      assert(operators.Analytics.ntileBoundaries(df, 1, scope, $"v", $"key")
        .isEmpty)
      intercept[IllegalArgumentException] {
        operators.Analytics.ntileBoundaries(df, 0, scope, $"v", $"key")
      }
      assert(scope.isEmpty, "k < 2 must not cache anything")
    }
  }

  test("tileOf equals window ntile for random sizes and bucket counts") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(4242)
    // 30 random (N, k) shapes in one pass, including N < k and N = k
    val shapes = Seq.fill(28)((1 + rnd.nextInt(500), 1 + rnd.nextInt(9))) ++
      Seq((3, 7), (8, 8))
    val rows = shapes.zipWithIndex.flatMap { case ((n, k), g) =>
      (1 to n).map(r => (g.toLong, r.toLong, n.toLong, k.toLong))
    }.toDF("grp", "rank", "total", "k")
    val mismatch = rows
      .withColumn("want", ntile(4).over(
        Window.partitionBy($"grp").orderBy($"rank")))
      // tileOf is k-parameterized per row; compare on the k=4 groups
      .filter($"k" === 4)
      .withColumn("got", operators.Analytics.tileOf($"rank", $"total", 4))
      .filter($"got" =!= $"want")
    assert(mismatch.count() == 0)
    // and for every k: bucket sizes differ by ≤ 1, larger buckets first
    val sizes = rows
      .withColumn("got", operators.Analytics.tileOfDyn($"rank", $"total", $"k"))
      .groupBy($"grp", $"k", $"got").count()
      .groupBy($"grp", $"k")
      .agg(max($"count").as("mx"), min($"count").as("mn"),
        count(lit(1)).as("nbuckets"), max($"got").as("maxb"))
    assert(sizes.filter($"mx" - $"mn" > 1).count() == 0)
    assert(sizes.filter($"maxb" > $"k").count() == 0)
  }

  test("misra_gries_agg keeps the two-sided bound under partitioned merge on random skewed streams") {
    import spark.implicits._
    val rnd = new scala.util.Random(777)
    val cap = 8
    val rows = (0 until 20).flatMap { g =>
      Seq.fill(500 + rnd.nextInt(1500)) {
        // geometric skew: small token ids dominate
        val t = math.min((math.log(1.0 - rnd.nextDouble()) / math.log(0.7)).toInt, 30)
        (g.toLong, s"tok$t")
      }
    }
    // repartition(8) forces real partial-buffer merges at the exchange
    val got = rows.toDF("g", "tok").repartition(8)
      .groupBy($"g")
      .agg(call_function("misra_gries_agg", $"tok", lit(cap)).as("sk"))
      .select($"g", explode($"sk").as("e"))
      .select($"g", $"e.token", $"e.est")
      .as[(Long, String, Long)].collect()
      .groupBy(_._1).map { case (g, v) => g -> v.map(x => x._2 -> x._3).toMap }
    rows.groupBy(_._1).foreach { case (g, v) =>
      val exact = v.groupBy(_._2).map { case (t, xs) => t -> xs.size.toLong }
      val margin = v.size.toLong / (cap + 1)
      got(g).foreach { case (t, est) =>
        val tr = exact.getOrElse(t, 0L)
        assert(est <= tr, s"group $g: $t overestimated $est > $tr")
        assert(est >= tr - margin, s"group $g: $t est $est < $tr - $margin")
      }
      exact.foreach { case (t, tr) =>
        if (tr > margin)
          assert(got(g).contains(t), s"group $g: $t with $tr > margin $margin missing")
      }
    }
  }

  test("lshConfig: 200 random regimes — valid divisor config, floor met when feasible, minimal background collision") {
    val rnd = new scala.util.Random(31337)
    def p(b: Int, r: Int, j: Double) = 1.0 - math.pow(1.0 - math.pow(j, r), b)
    for (_ <- 0 until 200) {
      val n = Seq(16, 32, 64, 128)(rnd.nextInt(4))
      val j = 0.05 + rnd.nextDouble() * 0.9
      val pMin = 0.5 + rnd.nextDouble() * 0.49
      val jbg = rnd.nextDouble() * j
      val (b, r) = operators.Dedup.lshConfig(n, j, pMin, jbg)
      assert(r > 0 && n % r == 0 && b == n / r, s"invalid config ($b, $r) for n=$n")
      val widths = Iterator.iterate(1)(_ * 2).takeWhile(_ <= n).toSeq
      if (widths.exists(rr => p(n / rr, rr, j) >= pMin)) {
        assert(p(b, r, j) >= pMin, s"floor missed: ($b,$r) at J*=$j pMin=$pMin")
        widths.filter(rr => p(n / rr, rr, j) >= pMin).foreach { rr =>
          assert(p(b, r, jbg) <= p(n / rr, rr, jbg) + 1e-12,
            s"($b,$r) collides more at j_bg=$jbg than (${n / rr},$rr)")
        }
      }
    }
  }
}
