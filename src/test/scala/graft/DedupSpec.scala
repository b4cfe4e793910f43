package graft

import org.apache.spark.sql.functions._

class DedupSpec extends GraftSpecBase {
  import operators.Dedup

  private lazy val exactPairs: Set[(Long, Long)] = {
    import spark.implicits._
    Dedup.d2NgramJaccard(spark, sf)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
  }

  test("d11 index: a _COMPLETE marker naming another source identity triggers a rebuild") {
    val root = Dedup.d11LayoutDir(spark, sf)
    Caches.evict("d11_index", sf)
    Dedup.d11Index(spark, sf) // a complete layout for this source on disk
    Caches.evict("d11_index", sf)
    // the layout now claims to hold another dataset's index
    Tables.markComplete(root, Tables.sourceIdentity(spark, s"$sf/embeddings.parquet"))
    val b0 = Dedup.incIndexBuilds.get()
    val (docIdx, _) = Dedup.d11Index(spark, sf)
    assert(Dedup.incIndexBuilds.get() == b0 + 1, "served a layout built from another source")
    assert(Tables.completeFor(root, Dedup.d11SourceIdentity(spark, sf)))
    assert(docIdx.count() > 0)
    // a marker naming this source reloads without a rebuild
    Caches.evict("d11_index", sf)
    Dedup.d11Index(spark, sf)
    assert(Dedup.incIndexBuilds.get() == b0 + 1)
  }

  test("exact jaccard finds the planted near-dup pairs") {
    assert(exactPairs.nonEmpty, "expected planted near-dups at sf0.001")
  }

  test("p10: keep set is a deterministic transversal of the LSH pair graph") {
    import spark.implicits._
    val kept = Dedup.p10NearDedup(spark, sf).select($"doc_id").as[Long].collect()
    assert(kept.toSet.size == kept.length) // no dup rows
    val keptSet = kept.toSet
    val all = Tables.documents(spark, sf).select($"doc_id").as[Long].collect().toSet
    val pairs = Dedup.d3MinhashLsh(spark, sf)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    // local union-find over the pair graph
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val comps = pairs.flatMap(p => Seq(p._1, p._2)).distinct.groupBy(find)
    // exactly one kept member per component, and it is the minimum id
    comps.foreach { case (_, members) =>
      val keptHere = members.filter(keptSet.contains)
      assert(keptHere.toSeq == Seq(members.min),
        s"component ${members.sorted.take(5).mkString(",")}…: kept ${keptHere.mkString(",")}")
    }
    // singletons (docs in no pair) all survive
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert((all -- paired).forall(keptSet.contains))
    // deterministic across invocations
    val again = Dedup.p10NearDedup(spark, sf).select($"doc_id").as[Long].collect()
    assert(again.toSeq == kept.toSeq)
  }

  test("sorted_intersect_size equals size(array_intersect) on sorted distinct arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { _ =>
      def arr() = rnd.shuffle((0 until 60).toList).take(rnd.nextInt(20) + 1)
        .map(i => s"sh$i").distinct.sorted
      (arr(), arr())
    } :+ ((Nil: List[String], List("sh1"))) :+ ((List("a"), Nil: List[String]))
    val df = rows.toDF("a", "b")
    val bad = df.select(
        call_function("sorted_intersect_size", $"a", $"b").as("fast"),
        size(array_intersect($"a", $"b")).as("ref"))
      .filter($"fast" =!= $"ref")
    assert(bad.count() == 0)
    // int-array variant (the d2 verify path after dictionary encoding)
    val intRows = rows.map { case (a, b) =>
      (a.map(_.drop(2).toIntOption.getOrElse(-1)).sorted,
        b.map(_.drop(2).toIntOption.getOrElse(-1)).sorted)
    }
    val intBad = intRows.toDF("ai", "bi")
      .select(call_function("sorted_intersect_size", $"ai", $"bi").as("fast"),
        size(array_intersect($"ai", $"bi")).as("ref"))
      .filter($"fast" =!= $"ref")
    assert(intBad.count() == 0)
  }

  test("minhash-lsh recalls >= 80% of exact near-dup pairs") {
    import spark.implicits._
    val approx = Dedup.d3MinhashLsh(spark, sf)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val recall = exactPairs.count(approx.contains).toDouble / exactPairs.size
    assert(recall >= 0.8, s"recall $recall over ${exactPairs.size} pairs")
  }

  test("minhash estimate is close to exact jaccard on true pairs") {
    import spark.implicits._
    val est = Dedup.d3MinhashLsh(spark, sf)
      .select($"id_a", $"id_b", $"est_jaccard").as[(Long, Long, Double)]
      .collect().map { case (a, b, e) => (a, b) -> e }.toMap
    val exact = Dedup.d2NgramJaccard(spark, sf)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect()
    val errs = exact.flatMap { case (a, b, j) => est.get((a, b)).map(e => math.abs(e - j)) }
    assert(errs.nonEmpty && errs.max < 0.25, s"max est error ${if (errs.nonEmpty) errs.max else -1}")
  }

  test("custom minhash aggregate is bit-identical to the 64-column composition") {
    import spark.implicits._
    val fast = Dedup.minhashSignatures(spark, sf)
      .as[(Long, Seq[Long])].collect().map { case (id, s) => id -> s.toList }.toMap
    val ref = Dedup.minhashSignaturesComposed(spark, sf)
      .as[(Long, Seq[Long])].collect().map { case (id, s) => id -> s.toList }.toMap
    assert(fast == ref)
  }

  test("custom simhash aggregate is bit-identical to the 64-column composition") {
    import spark.implicits._
    val fast = Dedup.simhashes(spark, sf).as[(Long, Long)].collect().toMap
    val ref = Dedup.simhashesComposed(spark, sf).as[(Long, Long)].collect().toMap
    assert(fast == ref)
  }

  test("simhash is deterministic and pairs are hamming-close") {
    import spark.implicits._
    val s1 = Dedup.simhashes(spark, sf).as[(Long, Long)].collect().toMap
    val s2 = Dedup.simhashes(spark, sf).as[(Long, Long)].collect().toMap
    assert(s1 == s2)
    val pairs = Dedup.d4Simhash(spark, sf)
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Long)].collect()
    pairs.foreach { case (a, b, h) =>
      val real = java.lang.Long.bitCount(s1(a) ^ s1(b))
      assert(real == h && h <= 3)
    }
  }

  test("simhash pairs are token-level near-duplicates") {
    import spark.implicits._
    val sim = Dedup.d4Simhash(spark, sf)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // simhash approximates token (unigram) similarity — validate each
    // hamming<=3 pair against exact token-set jaccard, not the
    // order-sensitive 3-gram jaccard
    val toks = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ").toSet }.toMap
    val prec = if (sim.isEmpty) 1.0
      else sim.count { case (a, b) =>
        val j = toks(a).intersect(toks(b)).size.toDouble / toks(a).union(toks(b)).size
        j >= 0.5
      }.toDouble / sim.size
    assert(prec >= 0.9, s"precision $prec over ${sim.size} pairs")
  }

  test("dup groups are the transitive closure of the pair graph") {
    import spark.implicits._
    val groups = Dedup.d6DupGroups(spark, sf)
      .as[(Long, Long)].collect().toMap
    assert(groups.nonEmpty)
    // every paired doc is labeled, endpoints agree, and the label is
    // the minimum member of its component
    exactPairs.foreach { case (a, b) =>
      assert(groups(a) == groups(b), s"pair ($a,$b) split across groups")
    }
    groups.groupBy(_._2).foreach { case (gid, members) =>
      assert(gid == members.keys.min, s"group $gid labeled above its min member")
    }
  }

  test("exact dedup groups partition the corpus") {
    import spark.implicits._
    val d = Dedup.d1ExactDedup(spark, sf)
    val total = d.agg(sum($"n_copies")).as[Long].head()
    assert(total == Tables.documents(spark, sf).count())
  }

  test("d7 substring spans: corpus spans are >= shingle-width, disjoint, and in order") {
    import spark.implicits._
    val spans = Dedup.d7SubstringSpans(spark, sf).cache()
    assert(spans.count() > 0, "expected repeated 16-gram spans in the fixture corpus")
    assert(spans.filter($"span_len" < Dedup.SpanShingle).count() == 0)
    assert(spans.filter($"span_len" =!= $"span_end" - $"span_start" + 1).count() == 0)
    // merged spans never overlap: within a doc, each span starts after
    // the previous one ends
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"span_start")
    assert(spans.withColumn("pe", lag($"span_end", 1).over(w))
      .filter($"pe".isNotNull && $"span_start" <= $"pe").count() == 0)
    spans.unpersist()
  }

  test("d7 substring spans: a planted cross-doc repeat is found and merged; unique text is not") {
    import spark.implicits._
    // 20 shared tokens at the HEAD of doc A and the TAIL of doc B give
    // five overlapping repeated 16-grams in each doc that must merge
    // into one [.,.] span of exactly 20 tokens; the remaining text is
    // unique and must contribute nothing
    val shared = (1 to 20).map(i => s"shared$i").mkString(" ")
    val uniqueA = (1 to 30).map(i => s"ua$i").mkString(" ")
    val uniqueB = (1 to 25).map(i => s"ub$i").mkString(" ")
    val docs = Seq(
      (1L, s"$shared $uniqueA", "en", "spec", 0L),
      (2L, s"$uniqueB $shared", "en", "spec", 0L),
      (3L, (1 to 40).map(i => s"uc$i").mkString(" "), "en", "spec", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("graft_d7").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val spans = Dedup.d7SubstringSpans(spark, tmp)
      .as[(Long, Long, Long, Long)].collect().toSet
    // doc 1: tokens 0..19 shared; doc 2: tokens 25..44 shared; doc 3: none
    assert(spans == Set((1L, 0L, 19L, 20L), (2L, 25L, 44L, 20L)), spans.toString)

    // p7 applies exactly those cuts: doc 1 keeps its 30 unique tokens,
    // doc 2 its 25, doc 3 everything (fingerprint == original text)
    val cut = Dedup.p7CutSpans(spark, tmp)
      .as[(Long, Long, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(cut(1L)._1 == 30L && cut(2L)._1 == 25L && cut(3L)._1 == 40L, cut.toString)
    val fp3 = docs.filter($"doc_id" === 3L)
      .select(md5($"text")).as[String].head()
    assert(cut(3L)._2 == fp3)
  }

  test("d8 containment: finds a doc swallowed inside a bigger one that Jaccard misses") {
    import spark.implicits._
    // doc 1 (20 tokens) appears verbatim inside doc 2 (50 tokens):
    // C(1→2) = 1.0 but J(1,2) = 18/48 = 0.375 — below d2's 0.5 gate
    val inner = (1 to 20).map(i => s"quote$i").mkString(" ")
    val extra = (1 to 30).map(i => s"extra$i").mkString(" ")
    val docs = Seq(
      (1L, inner, "en", "spec", 0L),
      (2L, s"$inner $extra", "en", "spec", 0L),
      (3L, (1 to 40).map(i => s"other$i").mkString(" "), "en", "spec", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("graft_d8").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val cont = Dedup.d8Containment(spark, tmp)
      .as[(Long, Long, Long, Double)].collect()
    // exactly one directed pair: 1 contained in 2 at containment 1.0
    // (2→1 is 18/48 = 0.375, below threshold; doc 3 shares nothing)
    assert(cont.toSeq == Seq((1L, 2L, 18L, 1.0)), cont.mkString(","))
    // and d2's Jaccard gate structurally misses the pair
    val jac = Dedup.d2NgramJaccard(spark, tmp).count()
    assert(jac == 0, s"expected no Jaccard pair at J=0.375, got $jac")
  }

  test("p7 keep-first: the first occurrence survives, later ones are cut; never cuts more than cut-every") {
    import spark.implicits._
    // same planted corpus as the d7 test: doc 1 holds the FIRST
    // occurrence of the shared 20 tokens in (doc_id, pos) order
    val shared = (1 to 20).map(i => s"shared$i").mkString(" ")
    val uniqueA = (1 to 30).map(i => s"ua$i").mkString(" ")
    val uniqueB = (1 to 25).map(i => s"ub$i").mkString(" ")
    val docs = Seq(
      (1L, s"$shared $uniqueA", "en", "spec", 0L),
      (2L, s"$uniqueB $shared", "en", "spec", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = java.nio.file.Files.createTempDirectory("graft_p7kf").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val kf = Dedup.p7CutKeepFirst(spark, tmp)
      .as[(Long, Long, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // doc 1 is untouched (keep-first keeps its copy); cut-every would
    // have cut it to 30 tokens
    assert(kf(1L)._1 == 50L, kf.toString)
    val fp1 = docs.filter($"doc_id" === 1L).select(md5($"text")).as[String].head()
    assert(kf(1L)._2 == fp1)
    // doc 2's copy is a later occurrence — its 20 shared tokens go
    assert(kf(2L)._1 == 25L, kf.toString)

    // corpus-level dominance on the fixture corpus: keep-first never
    // keeps fewer tokens than cut-every, and every cut-every survivor
    // also survives keep-first
    val ce = Dedup.p7CutSpans(spark, sf).select($"doc_id", $"n_kept".as("n_ce"))
    val kfc = Dedup.p7CutKeepFirst(spark, sf).select($"doc_id", $"n_kept".as("n_kf"))
    assert(ce.join(kfc, Seq("doc_id"), "left")
      .filter($"n_kf".isNull || $"n_kf" < $"n_ce").count() == 0)
  }

  test("p7 cut corpus: kept counts never exceed originals and span-free docs are untouched") {
    import spark.implicits._
    val cut = Dedup.p7CutSpans(spark, sf).cache()
    val toks = Tables.documents(spark, sf)
      .select($"doc_id", size(split($"text", " ")).cast("long").as("n_tok"),
        md5($"text").as("fp"))
    val j = cut.join(toks, "doc_id").cache()
    assert(j.filter($"n_kept" > $"n_tok").count() == 0)
    // docs with no d7 span must come through bit-identical
    val spanned = Dedup.d7SubstringSpans(spark, sf).select($"doc_id").distinct()
    assert(j.join(spanned, Seq("doc_id"), "left_anti")
      .filter($"kept_fp" =!= $"fp" || $"n_kept" =!= $"n_tok").count() == 0)
    j.unpersist(); cut.unpersist()
  }
}
