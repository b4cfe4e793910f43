package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Deduplication operators over `documents`.
  *
  * Scale design: none of these ever materializes an O(n²) cross join.
  *  - exact dedup is a hash groupBy on the fingerprint (1 shuffle);
  *  - n-gram Jaccard generates candidates through a shingle inverted
  *    index (explode → self-join on the shingle key), so only docs
  *    sharing a shingle ever meet — the join shuffles on the shingle,
  *    which AQE splits when a hot shingle skews;
  *  - MinHash/LSH reduces each doc to a 64-slot signature, then only
  *    docs colliding in an LSH band bucket are paired;
  *  - SimHash reduces each doc to 64 bits; the pigeonhole join on
  *    16-bit chunks finds all pairs within hamming distance 3.
  */
object Dedup {

  /** D1: exact duplicate groups — fingerprint → (keeper, copy count).
    * The "keep min doc_id per group" rule is the standard
    * deterministic survivor policy. */
  def d1ExactDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", fingerprint($"text").as("fp"))
      .groupBy($"fp")
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy($"fp")
  }

  /** Distinct 3-word shingles per doc, exploded: the inverted index.
    * Tokens materialize into a column first — building shingles off an
    * inline split re-evaluates the split per shingle (see
    * TextFunctions.shinglesFromTokens). */
  private def shingleIndex(s: SparkSession, dir: String): DataFrame =
    shingleIndexOf(Tables.documents(s, dir))

  private def shingleIndexOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id", tokens($"text").as("w"))
      .select($"doc_id", explode(shinglesFromTokens($"w", 3)).as("shingle"))
  }

  val JaccardThreshold = 0.5

  /** D2: exact n-gram Jaccard near-dup pairs (threshold 0.5), with
    * prefix filtering (AllPairs/PPJoin, Bayardo et al. WWW'07):
    *
    * Each doc's shingle set is put in a global canonical order
    * (ascending document frequency, then shingle). If J(A,B) ≥ t then
    * |A∩B| ≥ ⌈t·|A|⌉, so A and B must share a shingle inside their
    * first |·|−⌈t·|·|⌉+1 shingles — the candidate join only explodes
    * those short, rare-first prefixes instead of the full inverted
    * index, which kills the hot-shingle d² blowup. Verification is an
    * exact `array_intersect` on the candidate pairs only. Same result
    * set as the naive join (the oracle checks it), a fraction of the
    * shuffle. */
  def d2NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    d2PairTable(s, dir).orderBy($"id_a", $"id_b")
  }

  /** The (unordered) d2 pair table, memoized per dataset: the pair
    * graph is an artifact — p1's near-dup gate, d6's components, and
    * repeated d2 calls all serve from one materialization, and the
    * build's scaffolding caches (member map, shingle index, doc
    * arrays) are unpersisted once it exists. */
  /** Round 15: the duplicate-compression members table and the rep
    * shingle arrays memoized ONCE per dataset — d2 and d8 each built
    * BOTH from scratch (same raw-fp window, same shingle index, same
    * (df, shingle)-ranked dictionary, same sorted id arrays: identical
    * derivations over identical inputs), so the second entry paid the
    * whole tokenize+dict chain again. One build per sweep, bench-
    * ledger-attributed like every artifact. */
  private[graft] def repMembers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Caches.memo("dedup_members", dir) { _ =>
      // duplicate compression (same move as d3/d4): byte-identical RAW
      // text ⟹ identical shingle sets, so the pair joins run over one
      // representative per identical-text group; intra-group pairs
      // expand by definition and inter-group rep pairs expand to all
      // member pairs. The key is the RAW text hash — NOT the normalized
      // fingerprint — because shingles come from the raw tokens, and a
      // case/whitespace variant has a different shingle set.
      Tables.documents(s, dir)
        .select($"doc_id", md5($"text".cast("binary")).as("raw_fp"),
          size(tokens($"text")).as("n_tok"))
        .withColumn("rep_id",
          min($"doc_id").over(org.apache.spark.sql.expressions.Window.partitionBy($"raw_fp")))
        .select($"doc_id", $"rep_id", $"n_tok")
    }
  }

  /** The representatives' sorted shingle-id arrays (doc_id, sh, n_sh),
    * memoized: the scaffold both prefix-filtered joins (d2's symmetric
    * Jaccard, d8's asymmetric containment) verify against. */
  private[graft] def repArrays(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Caches.memo("dedup_reparrays", dir) { sc =>
      val members = repMembers(s, dir)
      val reps = Tables.documents(s, dir)
        .join(members.filter($"doc_id" === $"rep_id").select($"doc_id"), "doc_id")
      shingleArraysOf(reps, sc)
    }
  }

  private[graft] def d2PairTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Caches.memo("d2_pairs", dir) { _ =>
      // docs with no shingles (<3 tokens) never pair, so they are
      // excluded from the intra expansion too. Output identical (the
      // oracle checks it); candidate cost follows distinct content.
      val members = repMembers(s, dir)
      val intra = members.as("x").join(members.as("y"),
          $"x.rep_id" === $"y.rep_id" && $"x.doc_id" < $"y.doc_id" &&
          $"x.n_tok" >= 3)
        .select($"x.doc_id".as("id_a"), $"y.doc_id".as("id_b"),
          lit(1.0).as("jaccard"))
      val repPairs = jaccardFromArrays(repArrays(s, dir))
      val inter = repPairs
        .join(members.select($"doc_id".as("da"), $"rep_id".as("ra")), $"id_a" === $"ra")
        .join(members.select($"doc_id".as("db"), $"rep_id".as("rb")), $"id_b" === $"rb")
        .select(least($"da", $"db").as("id_a"),
          greatest($"da", $"db").as("id_b"), $"jaccard")
      intra.unionAll(inter)
    }
  }

  val ContainmentThreshold = 0.8 // as n_both*10 >= n_sh(a)*8, exact ints

  /** D8: n-gram CONTAINMENT near-dup pairs — the ASYMMETRIC companion
    * to d2: C(A→B) = |S(A)∩S(B)| / |S(A)| over distinct 3-word
    * shingles. Containment is what catches a document swallowed inside
    * a bigger one (quotes, partial copies, page-plus-boilerplate):
    * there J(A,B) = |A∩B|/|A∪B| dilutes below any usable threshold
    * while C(A→B) stays at 1.0 — the DedupSpec plants exactly that
    * case and shows d2 misses it. Directed output: (id_a contained-in
    * id_b, shared count, containment ≥ 0.8).
    *
    * Built on the full d2 machinery — a naive posting self-join
    * measured 447 s at the 20× probe (2.1M true pairs on the
    * mass-duplicated corpus); this build is the same pipeline d2 runs:
    * duplicate compression over byte-identical texts, a distributed
    * shingle dictionary, and the ASYMMETRIC prefix filter (containment
    * bounds only A: |A∩B| ≥ ⌈t·|A|⌉ forces a match inside A's
    * rarest-first |A|−⌈t·|A|⌉+1 prefix, while B — which containment
    * puts no size bound on — indexes ALL its shingles), verified by
    * the codegen `sorted_intersect_size` two-pointer merge. Integer
    * threshold arithmetic keeps Spark and DuckDB exact at the
    * boundary. */
  def d8Containment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    d8PairTable(s, dir)
      .select($"id_a", $"id_b", $"n_both",
        (floor($"n_both".cast("double") / $"na".cast("double") * 10000) / 10000.0)
          .as("containment"))
      .orderBy($"id_a", $"id_b")
  }

  /** Memoized directed containment pair table (id_a, id_b, n_both,
    * na) — the d2PairTable pattern: compress byte-identical texts to
    * one representative, run the prefix-filtered join over reps, and
    * expand group members back at the end (identical text ⟹ identical
    * shingle set ⟹ identical containment; intra-group directed pairs
    * are C=1.0 with n_both = the group's shingle count). */
  private[graft] def d8PairTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Caches.memo("d8_pairs", dir) { _ =>
      // round 15: members + rep arrays come from the shared memos d2
      // also serves from (identical derivations — see repMembers)
      val members = repMembers(s, dir)
      val arrays = repArrays(s, dir)
      val repPairs = containmentFromArrays(arrays)
      val repSizes = arrays.select($"doc_id", $"n_sh")
      val intra = members.as("x").join(members.as("y"),
          $"x.rep_id" === $"y.rep_id" && $"x.doc_id" =!= $"y.doc_id" &&
          $"x.n_tok" >= 3)
        .join(repSizes.select($"doc_id".as("rep"), $"n_sh"), $"x.rep_id" === $"rep")
        .select($"x.doc_id".as("id_a"), $"y.doc_id".as("id_b"),
          $"n_sh".as("n_both"), $"n_sh".as("na"))
      val inter = repPairs
        .join(members.select($"doc_id".as("da"), $"rep_id".as("ra")), $"id_a" === $"ra")
        .join(members.select($"doc_id".as("db"), $"rep_id".as("rb")), $"id_b" === $"rb")
        .select($"da".as("id_a"), $"db".as("id_b"), $"n_both", $"na")
      intra.unionAll(inter)
    }
  }

  /** The containment prefix join + verify over a pre-built
    * (doc_id, sh, n_sh) arrays frame (round 15: the arrays come from
    * the shared memo when d8 runs over the corpus). */
  private[graft] def containmentFromArrays(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val t = ContainmentThreshold
    // A-side prefix: if C(A→B) ≥ t then |A∩B| ≥ ⌈t·|A|⌉, so the first
    // common shingle (canonical sid order) falls inside A's first
    // n−⌈t·n⌉+1 — else A's prefix is disjoint from B and the overlap
    // tops out at ⌈t·n⌉−1. B has no size bound under containment, so
    // the B side indexes every (position, sid).
    val prefix = docs.select($"doc_id", $"n_sh",
      posexplode(slice($"sh", lit(1), ($"n_sh" - ceil($"n_sh" * t) + 1).cast("int"))))
      .select($"doc_id", $"n_sh", ($"pos" + 1).as("p"), $"col".as("p_sid"))
    val full = docs.select($"doc_id", $"n_sh", posexplode($"sh"))
      .select($"doc_id", $"n_sh", ($"pos" + 1).as("p"), $"col".as("p_sid"))
    // positional filter: a match at (i, j) bounds the overlap by
    // 1 + min(|A|−i, |B|−j), which must still reach ⌈t·|A|⌉
    val needed = ceil($"x.n_sh" * t)
    val ubound = lit(1) + least($"x.n_sh" - $"x.p", $"y.n_sh" - $"y.p")
    val cands = prefix.as("x").join(full.as("y"),
        $"x.p_sid" === $"y.p_sid" && $"x.doc_id" =!= $"y.doc_id" &&
        $"y.n_sh" >= needed && ubound >= needed)
      .select($"x.doc_id".as("id_a"), $"y.doc_id".as("id_b"))
      .distinct()
    cands
      .join(docs.as("sa"), $"id_a" === $"sa.doc_id")
      .join(docs.as("sb"), $"id_b" === $"sb.doc_id")
      .select($"id_a", $"id_b", $"sa.n_sh".as("na"),
        call_function("sorted_intersect_size", $"sa.sh", $"sb.sh").as("n_both"))
      .filter($"n_both" * 10 >= $"na" * 8)
  }

  /** The shared shingle-array scaffold: per-doc SORTED dictionary-id
    * arrays (doc_id, sh, n_sh) over a (doc_id, text, …) frame — the
    * build d2 and d8 both verify against. The shingle index and the
    * dictionary are kept in `scope`; the returned arrays frame is
    * lazy, and the caller caches it. */
  private[graft] def shingleArraysOf(docsDf: DataFrame,
      scope: graft.Caches.Scope): DataFrame = {
    val s = docsDf.sparkSession
    import s.implicits._
    val sh = scope.keep(shingleIndexOf(docsDf))
    val freq = sh.groupBy($"shingle").agg(count(lit(1)).as("df"))
    val dict = scope.keep(freq
      .repartitionByRange(s.sessionState.conf.numShufflePartitions, $"df", $"shingle")
      .sortWithinPartitions($"df", $"shingle")
      .select($"shingle", monotonically_increasing_id().as("sid")))
    sh.join(dict, "shingle")
      .groupBy($"doc_id")
      .agg(array_sort(collect_list($"sid")).as("sh"))
      .select($"doc_id", $"sh", size($"sh").as("n_sh"))
  }

  /** The PPJoin core over an arbitrary (doc_id, text, …) frame. Its
    * cached intermediates are kept in `scope`; close it once the
    * result is materialized. */
  private[graft] def ngramJaccardPairs(docsDf: DataFrame,
      scope: graft.Caches.Scope): DataFrame =
    jaccardFromArrays(scope.keep(shingleArraysOf(docsDf, scope)))

  /** The PPJoin prefix join + verify over a pre-built (doc_id, sh,
    * n_sh) arrays frame.
    *
    * Dictionary notes (see shingleArraysOf, which builds the arrays):
    * sid = rank in (df asc, shingle asc) order, so ascending sid IS the
    * canonical rarest-first order AND the merge order — one sorted
    * integer array per doc serves both the prefix slice and the verify.
    * Fixed-width ids instead of 20-byte shingle strings cut the
    * candidate-join shuffle ~5× (the measured d2 bottleneck at 20×:
    * 23.6M pairs × 2 arrays). Id assignment is DISTRIBUTED:
    * range-partition the vocabulary on the sort key, sort within
    * partitions, then take monotonically_increasing_id — its high bits
    * are the partition id and its low bits count rows in partition
    * order, so over a range-partitioned sort ascending sid IS ascending
    * (df, shingle) rank (ids are sparse across partition boundaries,
    * which the merge order doesn't care about). No row ever funnels
    * through a single task, so this holds at a billions-entry
    * vocabulary, unlike a partitionBy-less row_number window whose
    * one-partition sort would be d2's OOM point at corpus scale. The
    * dict join carries no broadcast hint: AQE broadcasts a small
    * vocabulary at runtime and keeps a billion-entry one as a shuffle
    * join. */
  private[graft] def jaccardFromArrays(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val t = JaccardThreshold
    // prefix length p = n - ceil(t*n) + 1, with each element's 1-based
    // position for the positional filter
    val prefix = docs.select($"doc_id", $"n_sh",
      posexplode(slice($"sh", lit(1), ($"n_sh" - ceil($"n_sh" * t) + 1).cast("int"))))
      .select($"doc_id", $"n_sh", ($"pos" + 1).as("p"), $"col".as("p_sid"))
    // candidate pruning before the expensive verify:
    //  - size filter: J >= t ⟹ t·|A| <= |B| <= |A|/t
    //  - positional filter (PPJoin): overlap from match position
    //    (i,j) is at most 1 + min(|A|-i, |B|-j); J >= t needs
    //    overlap >= ceil(t/(1+t)·(|A|+|B|))
    val overlapNeeded = ceil(($"x.n_sh" + $"y.n_sh") * (t / (1 + t)))
    val overlapUbound = lit(1) + least($"x.n_sh" - $"x.p", $"y.n_sh" - $"y.p")
    val cands = prefix.as("x").join(prefix.as("y"),
        $"x.p_sid" === $"y.p_sid" && $"x.doc_id" < $"y.doc_id" &&
        $"y.n_sh" >= ceil($"x.n_sh" * t) && $"x.n_sh" >= ceil($"y.n_sh" * t) &&
        overlapUbound >= overlapNeeded)
      .select($"x.doc_id".as("id_a"), $"y.doc_id".as("id_b"))
      .distinct()
    // materialize the intersection size ONCE per pair (the filter and
    // the projection would otherwise each re-evaluate it), via the
    // codegen two-pointer merge over the pre-sorted id arrays — not
    // array_intersect, which builds a hash set and materializes the
    // intersection array per PAIR
    val j = $"n_both".cast("double") / ($"na" + $"nb" - $"n_both").cast("double")
    val pairs = cands
      .join(docs.as("sa"), $"id_a" === $"sa.doc_id")
      .join(docs.as("sb"), $"id_b" === $"sb.doc_id")
      .select($"id_a", $"id_b", $"sa.n_sh".as("na"), $"sb.n_sh".as("nb"),
        call_function("sorted_intersect_size", $"sa.sh", $"sb.sh").as("n_both"))
      .filter(j >= t)
      .select($"id_a", $"id_b", round(j, 4).as("jaccard"))
    pairs
  }

  /** P1: the end-to-end corpus-cleaning pipeline an LLM data run
    * executes — quality gate, then exact-dup removal (keep min id),
    * then near-dup removal (drop the higher id of every Jaccard≥0.5
    * pair). Composes t2/d1/d2 machinery; every stage is a narrow
    * filter or an anti-join, so the pipeline runs as one DAG with
    * no extra materialization. */
  def p1CleanCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // round 15: the survivor table is an artifact — p18/p20's curation
    // chains re-ran the whole quality+dedup composition per sweep on
    // top of the entry's own run. One build, ledger-attributed.
    graft.Caches.memo("p1_clean", dir) { _ =>
      val scored = TextAnalysis.t2QualityScore(s, dir)
      val dupLosers = d1ExactDedup(s, dir)
        .filter($"n_copies" > 1)
        .join(Tables.documents(s, dir)
            .select($"doc_id", graft.functions.TextFunctions.fingerprint($"text").as("fp2")),
          $"fp" === $"fp2")
        .filter($"doc_id" =!= $"keep_id")
        .select($"doc_id")
      val nearDupLosers = d2PairTable(s, dir).select($"id_b".as("doc_id"))
      scored
        .filter($"quality" >= 0.5)
        .join(dupLosers, Seq("doc_id"), "left_anti")
        .join(nearDupLosers, Seq("doc_id"), "left_anti")
        .select($"doc_id", $"n_tokens", $"quality")
    }.orderBy($"doc_id")
  }

  /** P3: benchmark decontamination — flag training docs sharing any
    * 8-token shingle with a benchmark/eval set, the n-gram-overlap
    * filter LLM corpus builds run before training (the same family as
    * GPT-3's 13-gram eval decontamination; 8 fits this corpus's short
    * docs). The benchmark stand-in is docs with
    * `doc_id % DecontamMod == 0`.
    *
    * Scale shape: an inverted-index equi-join on the shingle — only
    * docs sharing a shingle with the benchmark set ever meet (d2's
    * candidate-generation shape, no cross join), and the benchmark
    * side is DISTINCT shingles, orders smaller than the corpus.
    * Output: each contaminated doc with its matched-shingle count. */
  val DecontamMod = 7

  /** Memoized per-doc distinct 8-shingle stream (round 14): p3 and
    * p19 each derived it twice-to-thrice per invocation (benchmark
    * side + training side + size aggregate), re-tokenizing the corpus
    * each time — the entries' dominant cost. One build per dataset,
    * ledger-attributed like every artifact; d9 deliberately keeps its
    * own scan-rooted stream because its POINT is the bloom filter
    * dying shingles at the scan, and its spec audits that shape. */
  private[graft] def sh8Of(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Caches.memo("dedup_sh8", dir) { _ =>
      Tables.documents(s, dir)
        .select($"doc_id", tokens($"text").as("w"))
        .select($"doc_id", explode(shinglesFromTokens($"w", 8)).as("sh8"))
    }
  }

  def p3Decontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = sh8Of(s, dir)
    val bench = sh.filter($"doc_id" % DecontamMod === 0).select($"sh8").distinct()
    sh.filter($"doc_id" % DecontamMod =!= 0)
      // shingles are distinct per doc and the bench side is distinct,
      // so each (doc, shingle) hit lands exactly once
      .join(bench, "sh8")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_hits"))
      .orderBy($"doc_id")
  }

  /** Flag line for p19's contamination report, in ppm of a doc's
    * distinct shingles: 10% overlap with the benchmark flags the doc
    * (the GPT-3 appendix-C report regime — p3 DROPS on any hit; the
    * report GRADES, so curation can choose its own line). */
  val ContamFlagPpm = 100000L

  /** P19: per-doc CONTAMINATION-FRACTION report — the graded view p3's
    * binary drop can't give (GPT-3 appendix C's overlap accounting):
    * for every training doc with ≥ 1 shingle, the fraction of its
    * DISTINCT 8-token shingles present in the benchmark set, exact
    * integer micro-units (hits·10⁶ div shingles) + the ≥ 10% flag.
    * Zero-hit docs are reported (fraction 0) — a report that only
    * lists offenders can't prove the rest were checked. Docs shorter
    * than 8 tokens carry no shingle and no row (nothing to grade — the
    * oracle's unnest drops them identically).
    *
    * Scale shape: p3's inverted-index equi-join (benchmark side
    * distinct, orders smaller) + one per-doc size aggregate + one
    * per-doc hit aggregate + a doc-keyed left join — d2-class
    * exchanges, no window, no all-pairs; d9's bloom prefilter slots
    * in front of the hit join unchanged at 100 TB. */
  def p19ContaminationReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = sh8Of(s, dir)
    val bench = sh.filter($"doc_id" % DecontamMod === 0)
      .select($"sh8").distinct()
    val train = sh.filter($"doc_id" % DecontamMod =!= 0)
    val sizes = train.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    val hits = train.join(bench, "sh8")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_hits"))
    sizes.join(hits, Seq("doc_id"), "left")
      .select($"doc_id", $"n_sh",
        coalesce($"n_hits", lit(0L)).as("n_hits"))
      .withColumn("frac_1e6", expr("n_hits * 1000000 div n_sh"))
      .withColumn("flagged", $"frac_1e6" >= ContamFlagPpm)
      .orderBy($"doc_id")
  }

  private[graft] def contaminationReportOracleSql: String =
    s"""WITH sh AS (
           SELECT doc_id, unnest(list_distinct(list_filter(
             list_transform(string_split(text, ' '), (x, i) ->
               CASE WHEN i + 7 <= len(string_split(text, ' '))
                    THEN x || ' ' || string_split(text, ' ')[i+1]
                           || ' ' || string_split(text, ' ')[i+2]
                           || ' ' || string_split(text, ' ')[i+3]
                           || ' ' || string_split(text, ' ')[i+4]
                           || ' ' || string_split(text, ' ')[i+5]
                           || ' ' || string_split(text, ' ')[i+6]
                           || ' ' || string_split(text, ' ')[i+7] END),
             g -> g IS NOT NULL))) AS sh8
           FROM documents),
         bench AS (SELECT DISTINCT sh8 FROM sh
                   WHERE doc_id % $DecontamMod = 0),
         train AS (SELECT doc_id, sh8 FROM sh
                   WHERE doc_id % $DecontamMod <> 0),
         sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
                   FROM train GROUP BY 1),
         hits AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_hits
                  FROM train t JOIN bench b ON t.sh8 = b.sh8 GROUP BY 1)
         SELECT s.doc_id, s.n_sh,
           CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           CAST((coalesce(h.n_hits, 0) * 1000000) // s.n_sh AS BIGINT)
             AS frac_1e6,
           (coalesce(h.n_hits, 0) * 1000000) // s.n_sh >= $ContamFlagPpm
             AS flagged
         FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
         ORDER BY s.doc_id"""

  /** D9: p3's decontamination behind a BLOOM-FILTER prefilter — the
    * 100 TB first pass. p3's inverted-index equi-join is exact but
    * ships every corpus shingle into the join shuffle; at lake scale
    * the overwhelming majority of shingles match nothing, and the
    * standard move (Spark's own runtime row-level filtering does
    * exactly this) is a compact bloom filter of the benchmark side
    * broadcast into the corpus SCAN, so non-matching shingles die
    * before the exchange. Bloom filters have NO false negatives, so
    * the exact join on the survivors returns p3's result bit-for-bit
    * — same oracle SQL, different (scan-side-filtered) plan; false
    * positives only cost a little extra join input. Built with
    * `bloom_filter_agg` / `might_contain` over xxhash64 of the
    * shingle: the filter is one binary blob (~1 MB at 1% fpp for 1M
    * items), a broadcast artifact like a dimension table. */
  def d9BloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    // memoized like the other dedup artifacts, with the bench-side
    // cache kept in the build's scope (it used to leak: repeated
    // bench sweeps accumulated cached partitions Caches.clear never saw)
    graft.Caches.memo("d9_decontaminate", dir)(d9Build(s, dir, _))
  }

  /** The uncached d9 plan (the spec audits the filter-below-join shape
    * here — the memoized public entry serves an InMemoryRelation). */
  private[graft] def d9Build(s: SparkSession, dir: String,
      scope: graft.Caches.Scope): DataFrame = {
    import s.implicits._
    val sh = Tables.documents(s, dir)
      .select($"doc_id", tokens($"text").as("w"))
      .select($"doc_id", explode(shinglesFromTokens($"w", 8)).as("sh8"))
    val bench = scope.keep(
      sh.filter($"doc_id" % DecontamMod === 0).select($"sh8").distinct())
    // capacity must TRACK the benchmark (an undersized filter's fpp
    // explodes and it prunes nothing — measured at the 20× probe with
    // a fixed 100k: slower than no filter); 10 bits/item ≈ 1% fpp.
    // The count is one job over the distinct-compressed side, and the
    // cache makes it shared with the blob build + the exact join.
    val nBench = bench.count()
    // might_contain requires a CONSTANT (or scalar-subquery) filter, so
    // the blob lands as a literal — a bounded broadcast artifact like a
    // centroid matrix (10 bits/item), built by one distributed
    // aggregation over the (distinct-compressed) benchmark
    val bf: Array[Byte] = bench.agg(
        expr(s"bloom_filter_agg(xxhash64(sh8), ${nBench}L, ${nBench * 10}L)").as("bf"))
      .head().getAs[Array[Byte]]("bf")
    sh.filter($"doc_id" % DecontamMod =!= 0)
      .filter(call_function("might_contain", lit(bf), xxhash64($"sh8")))
      .join(bench, "sh8")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_hits"))
      .orderBy($"doc_id")
  }

  /** D6: near-dup GROUPS — connected components over the d2 pair
    * graph, labeling every paired doc with the minimum doc_id
    * reachable from it (the canonical survivor of its dup cluster).
    * Pairwise output (d2) under-counts: near-duplication is
    * transitive in a corpus (A≈B, B≈C ⟹ one keeper for {A,B,C}),
    * so the cleaning decision needs components, not edges.
    *
    * Min-label propagation with pointer jumping, Pregel-style: each
    * round is one neighbor join+min-aggregate (label ← min of own and
    * neighbors' labels) followed by label compression
    * (label[u] ← label[label[u]]), so remaining component depth halves
    * per round and the loop converges in O(log diameter) rounds
    * instead of O(diameter) — the same doubling trick that makes
    * large-star/small-star work at billion-edge scale. The driver loop
    * only orchestrates; all data movement is shuffle joins on doc_id,
    * and each round's result is localCheckpointed so lineage stays
    * flat. The convergence check reads the carried old label from the
    * same checkpointed frame — no extra join or job per round. */
  def d6DupGroups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Caches.memo("d6_labels", dir) { sc =>
      // the pair table comes memoized+cached from d2 (the union's two
      // branches would otherwise each recompute the candidate join)
      val pairs = d2PairTable(s, dir).select($"id_a", $"id_b")
      connectedComponents(s,
        sc.keep(pairs.union(pairs.select($"id_b", $"id_a")).toDF("src", "dst")))
    }.orderBy($"doc_id")
  }

  /** Pointer-jumping connected components over a BIDIRECTIONAL edge
    * list (src, dst): (doc_id, group_id) with group_id = the
    * component-minimum id, O(log diameter) rounds, ONE job per round
    * (the convergence count rides the checkpoint materialization via
    * `observe`). Shared by d6 (exact d2 pair graph) and p10 (LSH pair
    * graph); fails loudly past the round bound rather than returning
    * partially-propagated labels. */
  private[graft] def connectedComponents(s: SparkSession, edges: DataFrame): DataFrame = {
    import s.implicits._
    {
      // LOCAL ENDGAME (round 15): min-label propagation converges to
      // the component-minimum id — below the shared 2²² gate a driver-
      // side union-find computes that fixed point directly over the
      // collected pair list (the loop was 5+ driver-synchronized
      // rounds of scheduling over a metadata-scale dup graph). Serves
      // d6/p10/q73/q94 at once; beyond the gate the pointer-jumping
      // loop below runs unchanged (OptR15Spec pins parity per entry).
      // The gate probe is ONE bounded limit-collect, not a count job
      // plus a collect job — a too-big graph comes back truncated
      // (gate+1 rows) and falls through having collected only the
      // bounded prefix.
      val gate = GraphLocal.gates.graph
      if (gate > 0) {
        val lim = math.min(gate + 1, Int.MaxValue.toLong - 1).toInt
        val probe = edges
          .select($"src".cast("long"), $"dst".cast("long"))
          .limit(lim).as[(Long, Long)].collect()
        if (probe.length <= gate)
          return GraphLocal.componentsTable(s, probe)
      }
      // the iterative tail runs many small jobs; its shuffle width
      // follows the pair-graph size (the per-stage decision AQE makes
      // for one-shot queries) — a dup graph of thousands of edges on a
      // 32-way shuffle is pure task-startup overhead per round, while
      // a billion-edge graph keeps the session's full width
      Graph.withLoopWidth(s, edges.count()) {
      var labels = edges.select($"src".as("doc_id")).distinct()
        .select($"doc_id", $"doc_id".as("group_id"))
        .localCheckpoint(true)
      var changed = 1L
      var iter = 0
      val maxIters = 50
      while (changed > 0 && iter < maxIters) graft.Caches.scoped { sc =>
        val fromNbr = edges
          .join(labels.select($"doc_id".as("dst"), $"group_id"), "dst")
          .select($"src".as("doc_id"), lit(null).cast("long").as("old_gid"),
            $"group_id")
        // neighbor-min round, carrying each node's previous label
        // (every doc_id has exactly one `labels` row, so max(old_gid)
        // recovers it through the union's nulls)
        // kept: referenced twice by the compression self-join
        val prop = sc.keep(labels
          .select($"doc_id", $"group_id".as("old_gid"), $"group_id")
          .union(fromNbr)
          .groupBy($"doc_id")
          .agg(max($"old_gid").as("old_gid"), min($"group_id").as("group_id")))
        // pointer jumping: a node's label is itself a node in the same
        // component (labels only ever hold reachable ids), so adopting
        // label[label[u]] is sound and halves the remaining depth.
        // The convergence count rides the SAME job as the checkpoint
        // materialization (an observed metric collected while rows
        // stream through), so each round is exactly one job — one
        // driver barrier per round instead of two, which is the loop
        // overhead that matters on a 1000-executor cluster.
        val obs = org.apache.spark.sql.Observation(s"d6_conv_$iter")
        val next = prop.as("a")
          .join(prop.select($"doc_id".as("gid"), $"group_id".as("ggid")).as("b"),
            $"a.group_id" === $"b.gid")
          .select($"a.doc_id", $"a.old_gid",
            least($"a.group_id", $"ggid").as("group_id"))
          .observe(obs, sum(when($"group_id" =!= $"old_gid", 1L).otherwise(0L)).as("changed"))
          .localCheckpoint(true)
        changed = Option(obs.get("changed")).map(_.asInstanceOf[Long]).getOrElse(0L)
        labels = next.select($"doc_id", $"group_id")
        iter += 1
      }
      // fail LOUDLY rather than return partially-propagated labels — a
      // component deeper than maxIters would otherwise be silently wrong
      require(changed == 0,
        s"label propagation did not converge in $maxIters rounds " +
          s"($changed labels still changing) — component diameter exceeds the bound")
      labels
      }
    }
  }

  /** P10: near-dedup corpus — keep ONE representative per NEAR-dup
    * group, the production pipeline stage (FineWeb/Gopher style) the
    * rest of the dedup family feeds: d3's MinHash-LSH pair graph
    * (seeded-deterministic, recall-bounded by the banding spec) →
    * shared pointer-jumping components → drop every doc that is not
    * its group's minimum id. Unpaired docs survive untouched.
    *
    * Rows-only entry (LSH candidate recall is probabilistic, so no SQL
    * oracle can replay it); the spec checks the keep set IS a
    * transversal: one kept member per component of the pair graph
    * (union-find parity at test scale), all singletons kept, and
    * seeded determinism across invocations. Scale shape: everything
    * here reuses d3's distinct-signature banding and d6's loop —
    * no new exchange grain. */
  def p10NearDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Caches.memo("p10_keep", dir) { sc =>
      val pairs = d3MinhashLsh(s, dir).select($"id_a", $"id_b")
      val edges = sc.keep(pairs.union(pairs.select($"id_b", $"id_a"))
        .toDF("src", "dst"))
      val labels = connectedComponents(s, edges)
      Tables.documents(s, dir)
        .join(labels.filter($"doc_id" =!= $"group_id").select($"doc_id"),
          Seq("doc_id"), "left_anti")
        .select($"doc_id", $"lang", $"n_chars")
    }.orderBy($"doc_id")
  }

  /** P10-EXACT: the SAME keep-one-representative stage driven by the
    * d2 EXACT pair graph instead of d3's LSH pairs — p10's transversal
    * logic (components → min-id representative → anti-join the drops)
    * is deterministic GIVEN a pair set, and with the exact pairs the
    * whole stage is SQL-replicable: the DuckDB oracle replays d2's
    * shingle Jaccard + a recursive-CTE closure + the keep rule, so the
    * keep-set logic itself gets hash-checked end to end (d3's seeded
    * banding keeps p10 itself rows-only). Reuses d6's memoized labels
    * — no new exchange; same output surface as p10. */
  def p10ExactDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val labels = d6DupGroups(s, dir)
    Tables.documents(s, dir)
      .join(labels.filter($"doc_id" =!= $"group_id").select($"doc_id"),
        Seq("doc_id"), "left_anti")
      .select($"doc_id", $"lang", $"n_chars")
      .orderBy($"doc_id")
  }

  /** P14: KEEP-BEST dedup transversal — p10's keep rule upgraded from
    * "min id" to "highest QUALITY": within each near-dup group (d6's
    * component labels over the exact d2 pair graph) keep the document
    * with the maximum t2 quality score, ties → min doc_id. The policy
    * a production pipeline actually wants: when five scrapes of one
    * page survive, keep the cleanest scrape, not the one that happened
    * to be crawled first.
    *
    * Quality rides as the INTEGER micro-score `floor(q·10⁴)` — the
    * same IEEE expression t2 floors before its division, so the
    * argmax key is cross-engine exact (the q52-class float-boundary
    * discipline). The argmax itself is AGGREGATE-ONLY —
    * `max(struct(qmicro, −doc_id))` per group, map-side partials, no
    * window sort (the q81 argmax shape); singleton docs (no pair-graph
    * edge) are their own group via coalesce and always survive.
    *
    * Shape at scale: the pair graph and labels are the memoized d2/d6
    * artifacts (inverted-index candidates, pointer-jumping
    * components); beyond them this is one group-keyed aggregate + one
    * semi-join on the (group, keeper) key. */
  def p14KeepBest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val labels = d6DupGroups(s, dir).select($"doc_id", $"group_id")
    val docs = Tables.documents(s, dir)
      .withColumn("w", tokens($"text"))
      .select($"doc_id", $"lang", $"n_chars",
        floor(qualityScoreFromTokens($"text", $"w") * 10000)
          .cast("long").as("qmicro"))
    val grouped = docs.join(labels, Seq("doc_id"), "left")
      .withColumn("grp", coalesce($"group_id", $"doc_id"))
    val keepers = grouped.groupBy($"grp")
      .agg(max(struct($"qmicro", (-$"doc_id").as("neg_id"))).as("m"))
      .select($"grp", (-$"m.neg_id").as("doc_id"))
    grouped.join(keepers, Seq("grp", "doc_id"), "left_semi")
      .select($"doc_id", $"grp".as("group_id"), $"lang", $"n_chars",
        $"qmicro".as("quality_1e4"))
      .orderBy($"doc_id")
  }

  // ---- MinHash -------------------------------------------------------

  val NumHashes: Int = graft.functions.MinHashAgg.NumHashes
  val NumBands = 16 // 4 rows per band
  private val MersennePrime = graft.functions.MinHashAgg.MersennePrime

  /** LSH banding SOLVER — replaces hand-tuned (bands, rows): among
    * the power-of-two row widths dividing the signature, return the
    * config whose S-curve (a) catches pairs at the TARGET similarity
    * with probability ≥ `pMin` and, among those, (b) collides
    * BACKGROUND-similarity pairs least — candidate volume is
    * collisions at j_bg times the (quadratic) non-similar pair count,
    * so (b) is the shuffle-volume objective and (a) the recall
    * constraint, the same budget-vs-quality split as m11's γ solver.
    * P(collide | J) = 1 − (1 − J^r)^b, the standard banding S-curve
    * (Leskovec–Rajaraman–Ullman ch. 3). If no config meets pMin
    * (tiny signatures + high thresholds), fall back to the most
    * sensitive one. Pure closed-form arithmetic — no data pass. */
  def lshConfig(nHashes: Int, jTarget: Double, pMin: Double,
      jBg: Double): (Int, Int) = {
    def pCollide(b: Int, r: Int, j: Double): Double =
      1.0 - math.pow(1.0 - math.pow(j, r), b)
    val configs = Iterator.iterate(1)(_ * 2).takeWhile(_ <= nHashes)
      .map(r => (nHashes / r, r)).toSeq
    val feasible = configs.filter { case (b, r) => pCollide(b, r, jTarget) >= pMin }
    if (feasible.isEmpty) configs.maxBy { case (b, r) => pCollide(b, r, jTarget) }
    else feasible.minBy { case (b, r) => pCollide(b, r, jBg) }
  }

  /** Estimate the corpus's BACKGROUND Jaccard — the typical
    * similarity of a NON-duplicate pair, the j_bg input to
    * `lshConfig` — from a deterministic sample of distinct MinHash
    * signatures: slot-agreement fraction is an unbiased J estimator,
    * and a `hash`-ordered limit makes the sample (hence the solved
    * config) rerun-stable. Bounded work: `sample`² driver pairs over
    * collected 64-slot rows. */
  def estimateBackgroundJaccard(sigs: org.apache.spark.sql.DataFrame,
      sample: Int = 128): Double = {
    import org.apache.spark.sql.functions.{col, hash}
    val rows = sigs.select(col("sig")).distinct()
      .orderBy(hash(col("sig"))).limit(sample)
      .collect().map(_.getSeq[Long](0).toArray)
    if (rows.length < 2) return 0.0
    var agree = 0L; var slots = 0L
    var i = 0
    while (i < rows.length) {
      var j = i + 1
      while (j < rows.length) {
        var k = 0
        while (k < rows(i).length) {
          if (rows(i)(k) == rows(j)(k)) agree += 1
          slots += 1; k += 1
        }
        j += 1
      }
      i += 1
    }
    agree.toDouble / slots
  }

  /** 64-slot MinHash signature per doc (array column `sig`), via the
    * single-pass `minhash_agg` custom aggregate: one 512-byte buffer
    * update per shingle instead of 64 separate min() aggregate columns
    * (bit-identical — the spec checks it against the composed form). */
  def minhashSignatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    shingleIndex(s, dir)
      .select($"doc_id", pmod(xxhash64($"shingle"), lit(2147483647L)).as("x"))
      .groupBy($"doc_id")
      .agg(call_function("minhash_agg", $"x").as("sig"))
  }

  /** The 64-column min() composition the custom aggregate replaces
    * (spec reference implementation; coefficients shared via
    * MinHashAgg.Perms). The shingle hash materializes into a column
    * BEFORE the aggregation — embedded in the 64 min() expressions it
    * would be re-hashed 64× per row. */
  def minhashSignaturesComposed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mins = graft.functions.MinHashAgg.Perms.zipWithIndex.map { case ((a, b), i) =>
      min(pmod($"x" * lit(a) + lit(b), lit(MersennePrime))).as(s"h$i")
    }
    shingleIndex(s, dir)
      .select($"doc_id", pmod(xxhash64($"shingle"), lit(2147483647L)).as("x"))
      .groupBy($"doc_id")
      .agg(mins.head, mins.tail: _*)
      .select($"doc_id", array((0 until NumHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** D3: MinHash + LSH banding near-dup candidates with signature-
    * estimated Jaccard ≥ 0.5. Approximate → rows-only check; the spec
    * compares against exact Jaccard (d2).
    *
    * Duplicate-compressed like d4: docs with IDENTICAL signatures
    * (est 1.0) pair through a plain equi-join on the signature, and
    * the LSH band join runs over DISTINCT signatures only, expanding
    * back to doc pairs afterwards — candidate generation follows
    * distinct content, not corpus size. */
  def d3MinhashLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Caches.memo("d3_pairs", dir) { sc =>
      // kept: the joins below would recompute the signature
      // aggregation (the expensive part) for every use
      val sigs = sc.keep(minhashSignatures(s, dir))
      val intra = sigs.as("x").join(sigs.as("y"),
          $"x.sig" === $"y.sig" && $"x.doc_id" < $"y.doc_id")
        .select($"x.doc_id".as("id_a"), $"y.doc_id".as("id_b"),
          lit(1.0).as("est_jaccard"))
      val distinctSigs = sc.keep(sigs.select($"sig").distinct())
      // shared band-explode with d11 (bandsOf) — one place owns the
      // NumBands/band-hash recipe so the two keys can't drift apart
      val bands = bandsOf(distinctSigs, "sig")
      val est = size(filter(zip_with($"sa", $"sb", (p, q) => p === q), v => v))
        .cast("double") / lit(NumHashes.toDouble)
      val sigPairs = bands.as("x").join(bands.as("y"),
          $"x.band" === $"y.band" && $"x.bh" === $"y.bh" && $"x.sig" < $"y.sig")
        .select($"x.sig".as("sa"), $"y.sig".as("sb"))
        .dropDuplicates("sa", "sb")
        .select($"sa", $"sb", round(est, 4).as("est_jaccard"))
        .filter($"est_jaccard" >= 0.5)
      val inter = sigPairs
        .join(sigs.select($"doc_id".as("da"), $"sig".as("sa")), "sa")
        .join(sigs.select($"doc_id".as("db"), $"sig".as("sb")), "sb")
        .select(least($"da", $"db").as("id_a"),
          greatest($"da", $"db").as("id_b"), $"est_jaccard")
      intra.unionAll(inter)
    }.orderBy($"id_a", $"id_b")
  }

  // ---- incremental dedup against a prebuilt index ---------------------

  /** d11's serving artifact: (per-doc MinHash signature + sorted
    * 64-bit shingle-hash array; band→doc posting table) for the OLD
    * corpus half — PERSISTED as a parquet layout (postings partitioned
    * by `band`) and memoized per session on top (the `d11_index`
    * session artifact; Bench keeps index artifacts warm across sweeps
    * deliberately). A restart — new JVM or evicted artifact — RELOADS
    * the layout instead of re-scanning the old corpus: the production
    * contract where old-data volume prices in at zero per increment
    * (Round12Spec pins reload-without-rebuild). The layout is named by
    * the SHA-256 of the documents table's source identity (path +
    * per-file bytes and mtime) and its `_COMPLETE` marker records that
    * identity, re-verified on load: regenerated testdata or another
    * dataset in a shared /tmp can never serve a stale index. The
    * counter counts rebuilds of the on-disk layout, which the ledger
    * cannot tell from reloads. */
  private[graft] val incIndexBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Identity of the documents table a d11 layout is built from. */
  private[graft] def d11SourceIdentity(s: SparkSession, dir: String): String =
    Tables.sourceIdentity(s, s"$dir/documents.parquet")

  /** On-disk home of the d11 layout for a dataset. */
  private[graft] def d11LayoutDir(s: SparkSession, dir: String): java.io.File =
    Tables.artifactDir("graft-d11-index", d11SourceIdentity(s, dir))

  /** Signature + sorted shingle-hash frame for an arbitrary doc set:
    * x31 (the 2³¹−1 domain MinHashAgg permutes) drives the signature,
    * the RAW xxhash64 drives the exact-verify set (collision odds
    * n²/2⁶⁴ — the standard fingerprint-dedup trade, documented). */
  private[graft] def incSigFrame(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    shingleIndexOf(docs)
      .select($"doc_id", xxhash64($"shingle").as("x64"))
      .withColumn("x31", pmod($"x64", lit(MersennePrime)))
      .groupBy($"doc_id")
      .agg(call_function("minhash_agg", $"x31").as("sig"),
        sort_array(collect_set($"x64")).as("sh"))
  }

  private def bandsOf(sigs: DataFrame, idCol: String): DataFrame = {
    import sigs.sparkSession.implicits._
    val rowsPerBand = NumHashes / NumBands
    sigs.select(col(idCol), explode(array((0 until NumBands).map { j =>
        struct(lit(j).as("band"),
          xxhash64(lit(j), slice($"sig", j * rowsPerBand + 1, rowsPerBand))
            .as("bh"))
      }: _*)).as("b"))
      .select(col(idCol), $"b.band", $"b.bh")
  }

  private[graft] def d11Index(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    graft.Caches.artifact("d11_index", dir) {
      import s.implicits._
      val identity = d11SourceIdentity(s, dir)
      val root = Tables.artifactDir("graft-d11-index", identity)
      // _COMPLETE is written LAST and names the source: a crashed build
      // leaves no marker, a marker naming another source does not
      // match, and either way the next session rebuilds
      if (!Tables.completeFor(root, identity)) {
        incIndexBuilds.incrementAndGet()
        incSigFrame(Tables.documents(s, dir).filter($"doc_id" % 2 === 0))
          .write.mode("overwrite")
          .parquet(new java.io.File(root, "sigs").getPath)
        // postings partitioned BY BAND: the layout IS the join
        // partitioning a new crawl's band keys land on
        bandsOf(s.read.parquet(new java.io.File(root, "sigs").getPath), "doc_id")
          .withColumnRenamed("doc_id", "old_id")
          .write.mode("overwrite").partitionBy("band")
          .parquet(new java.io.File(root, "bands").getPath)
        Tables.markComplete(root, identity)
      }
      val docIdx = s.read.parquet(new java.io.File(root, "sigs").getPath).cache()
      val bandIdx = s.read.parquet(new java.io.File(root, "bands").getPath)
        .select($"old_id", $"band", $"bh").cache()
      docIdx.count(); bandIdx.count()
      (docIdx, bandIdx)
    }

  /** D11: INCREMENTAL dedup of a new snapshot against a PREBUILT
    * index — the shape every production corpus actually runs (dedup
    * the new crawl against what's already curated, d3's within-corpus
    * pass only bootstraps): old half (even doc_ids) lives in the
    * d11Index artifact (signatures + band postings + sorted
    * shingle-hash sets, built once per dataset); the new half (odd
    * doc_ids) pays ONLY new-side work — its own signatures, a band
    * equi-join against the posting table, and one exact
    * `sorted_intersect_size` verify per surviving candidate. The
    * J ≥ 1/2 gate is exact integer algebra (3·|∩| ≥ |A|+|B|), and the
    * reported jaccard floor-quantizes to 1e4. Banding recall at the
    * threshold follows d3's S-curve (1−(1−J⁴)¹⁶); the spec measures
    * it against a local brute-force truth and pins precision EXACT
    * (every reported pair re-verified). Seeded hashing → rows-only.
    *
    * Shape at scale: the index is the partition layout (band, bh) —
    * a new crawl shuffles once on its own band keys, joins postings,
    * and touches old-corpus rows only for verified candidates. Old
    * data volume prices in at zero per increment. */
  def d11IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Caches.memo("d11_pairs", dir) { sc =>
      val (docIdx, bandIdx) = d11Index(s, dir)
      val newIdx = sc.keep(incSigFrame(
        Tables.documents(s, dir).filter($"doc_id" % 2 === 1)))
      d11Match(newIdx, docIdx, bandIdx)
    }.orderBy($"new_id", $"old_id")
  }

  /** The d11 query path over an arbitrary batch of NEW signatures —
    * shared by the batch entry and the `DedupStream` twin (a stream's
    * micro-batch is exactly "a new snapshot increment"). */
  private[graft] def d11Match(newIdx: DataFrame, docIdx: DataFrame,
      bandIdx: DataFrame): DataFrame = {
    val s = newIdx.sparkSession
    import s.implicits._
    val cand = bandsOf(newIdx, "doc_id").withColumnRenamed("doc_id", "new_id")
      .join(bandIdx, Seq("band", "bh"))
      .select($"new_id", $"old_id").distinct()
    cand
      .join(newIdx.select($"doc_id".as("new_id"), $"sh".as("sa")), "new_id")
      .join(docIdx.select($"doc_id".as("old_id"), $"sh".as("sb")), "old_id")
      .withColumn("n_both",
        call_function("sorted_intersect_size", $"sa", $"sb"))
      .withColumn("na", size($"sa").cast("long"))
      .withColumn("nb", size($"sb").cast("long"))
      .filter($"n_both" * 3L >= $"na" + $"nb")
      .select($"new_id", $"old_id",
        (floor($"n_both" * 10000L / ($"na" + $"nb" - $"n_both")) / 10000.0)
          .as("jaccard"))
  }

  // ---- SimHash -------------------------------------------------------

  /** 64-bit SimHash per doc from token hashes: bit b is set when the
    * sum of ±1 votes (per-token bit b) is positive. Single-pass via
    * the custom SimHashAgg aggregate (one 256-byte buffer per doc
    * instead of 64 aggregate columns; bit-identical result — the spec
    * checks it against `simhashesComposed`). */
  def simhashes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", explode(tokens($"text")).as("tok"))
      .groupBy($"doc_id")
      .agg(call_function("simhash_agg", xxhash64($"tok")).as("simhash"))
  }

  /** The 64-column composition the custom aggregate replaces (spec
    * reference implementation). */
  def simhashesComposed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, dir)
      .select($"doc_id", explode(tokens($"text")).as("tok"))
      .select($"doc_id", xxhash64($"tok").as("h"))
    val votes = (0 until 64).map { b =>
      sum(when(shiftright($"h", b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"v$b")
    }
    val assembled = (0 until 64).map { b =>
      when(col(s"v$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce[Column]((l, r) => l.bitwiseOR(r))
    toks.groupBy($"doc_id")
      .agg(votes.head, votes.tail: _*)
      .select($"doc_id", assembled.as("simhash"))
  }

  /** D4: SimHash near-dup pairs within hamming distance ≤ 3.
    *
    * Duplicate-compressed: a mass-duplicated corpus has far fewer
    * DISTINCT simhashes than docs, so (a) hamming-0 pairs come from a
    * plain equi-join on the hash value, and (b) the 4×16-bit
    * pigeonhole join (hamming ≤3 ⟹ some chunk equal) runs over
    * distinct hash values only, expanding back to doc pairs at the
    * end. Same result set as pairing docs directly (hamming 0 ⟺
    * equal hash), but candidate generation cost follows the distinct-
    * content count, not the corpus size — the regime that matters
    * when 100 TB is one-third exact copies. */
  def d4Simhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Caches.memo("d4_pairs", dir) { sc =>
      val sh = sc.keep(simhashes(s, dir))
      // (a) doc pairs sharing a hash: hamming 0 by definition
      val intra = sh.as("x").join(sh.as("y"),
          $"x.simhash" === $"y.simhash" && $"x.doc_id" < $"y.doc_id")
        .select($"x.doc_id".as("id_a"), $"y.doc_id".as("id_b"),
          lit(0).as("hamming"))
      // (b) pigeonhole over DISTINCT hashes, then expand to doc pairs
      val distinctH = sc.keep(sh.select($"simhash").distinct())
      val chunks = distinctH.select($"simhash",
        explode(array((0 until 4).map { c =>
          struct(lit(c).as("c"),
            shiftright($"simhash", c * 16).bitwiseAND(lit(0xFFFFL)).as("cv"))
        }: _*)).as("ch"))
        .select($"simhash", $"ch.c", $"ch.cv")
      val hashPairs = chunks.as("x").join(chunks.as("y"),
          $"x.c" === $"y.c" && $"x.cv" === $"y.cv" && $"x.simhash" < $"y.simhash")
        .select($"x.simhash".as("ha"), $"y.simhash".as("hb"))
        .dropDuplicates("ha", "hb")
        .select($"ha", $"hb", bit_count($"ha".bitwiseXOR($"hb")).as("hamming"))
        .filter($"hamming" <= 3)
      val inter = hashPairs
        .join(sh.select($"doc_id".as("da"), $"simhash".as("ha")), "ha")
        .join(sh.select($"doc_id".as("db"), $"simhash".as("hb")), "hb")
        .select(least($"da", $"db").as("id_a"),
          greatest($"da", $"db").as("id_b"), $"hamming")
      intra.unionAll(inter)
    }.orderBy($"id_a", $"id_b")
  }

  /** Span shingle width for `d7SubstringSpans` — 16 tokens, in the
    * range the exact-substring dedup literature uses for boilerplate
    * (long enough that natural text rarely collides). */
  val SpanShingle = 16

  /** D7: repeated-substring SPANS — for every document, the merged
    * token ranges covered by a 16-token shingle that occurs at least
    * twice anywhere in the corpus (intra- or cross-document). This is
    * exact-substring deduplication at shingle granularity (the
    * ExactSubstr pass of "Deduplicating Training Data Makes Language
    * Models Better", Lee et al. 2022, shingle-approximated): d1-style
    * whole-doc dedup misses shared boilerplate INSIDE otherwise-unique
    * documents; these spans are what a cleaning pipeline cuts.
    *
    * Plan: positional shingles (narrow per-row transform) are keyed
    * by a 128-bit hash pair the moment they exist, so the two heavy
    * exchanges (multiplicity count, repeated-position join) move
    * 16 bytes per shingle instead of the ~width-of-16-tokens string —
    * on a 100 TB corpus that is the difference between a ~PB string
    * shuffle and a ~10s-of-TB one, and it is the same trade the
    * ExactSubstr literature makes. Two xxhash64 keys — h2 salted with
    * the constant as the FIRST child, `xxhash64(lit(1), sh)`, so the
    * second hash runs under an independent effective seed (salt-last
    * would make h2 = H(salt, h1), a pure function of h1: any h1
    * collision would imply an h2 collision and the pair would be
    * 64-bit in effect) — put the corpus-wide false-positive
    * expectation near 1e-19 per pair at billions of distinct shingles
    * (single-64-bit would already expect collisions there); the
    * DuckDB oracle runs the exact-string
    * formulation and hash-matches at validation scale. A hot
    * boilerplate shingle is AQE's skew-join case, never a broadcast of
    * the vocabulary-sized repeat set. The per-doc interval merge is
    * the q14 sessionize shape: a doc-keyed window with a running
    * "no-overlap" break flag and a cumulative group id — keyed on
    * doc_id, which the span rows already hash by. */
  def d7SubstringSpans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    d7SpanTable(s, dir).orderBy($"doc_id", $"span_start")
  }

  /** The memoized merged-span artifact shared by d7 and p7 (the d2
    * pair-table pattern: a span table is a dataset artifact, not a
    * per-query computation — p7 applies it right after d7 reports it). */
  private def d7SpanTable(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo("d7_spans", dir) { _ =>
      import s.implicits._
      val sh = positionalShingles(s, dir)
      mergeSpans(s, sh.join(repeatedShingles(s, dir)
        .select($"h1", $"h2"), Seq("h1", "h2")))
    }

  /** Position-packing factor: (doc_id, pos) rides aggregations as the
    * single long `doc_id * PosPack + pos`, whose min IS the
    * lexicographic (doc_id, pos) minimum — a plain long `min` stays in
    * codegen HashAggregate, where a `min(struct(…))` forces the
    * 5M-row-at-20× aggregation to sort-based execution (measured: the
    * struct formulation tripled d7's 20× build). Bounds: positions
    * < 2^20 tokens/doc and doc ids < 2^43 — document-scale limits, not
    * corpus-scale ones. */
  val PosPack = 1L << 20

  /** Memoized repeated-shingle table: every 16-gram hash pair with
    * corpus multiplicity ≥ 2 and its FIRST occurrence by (doc_id, pos)
    * packed as `first_packed` — ONE count shuffle serving both d7/p7
    * (which need the repeat set) and p7_keep_first (which also reads
    * the first occurrence). */
  private def repeatedShingles(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo("d7_rep_shingles", dir) { _ =>
      import s.implicits._
      positionalShingles(s, dir)
        .groupBy($"h1", $"h2")
        .agg(count(lit(1)).as("c"),
          min($"doc_id" * PosPack + $"pos").as("first_packed"))
        .filter($"c" >= 2)
        .select($"h1", $"h2", $"first_packed")
    }

  /** (doc_id, pos, h1, h2) for every `SpanShingle`-gram occurrence —
    * the shared front end of the d7/p7 span family (hash-pair keyed
    * the moment it exists; strings never reach an exchange). Memoized:
    * the tokenize→posexplode→hash scan otherwise re-runs for the
    * repeat-count build, the d7 probe side, AND p7_keep_first's probe
    * side — three passes over the corpus' heaviest derived frame; the
    * cached form is 4 fixed-width columns (32 B/row). */
  private def positionalShingles(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo("d7_pos_shingles", dir)(_ => positionalShinglesUncached(s, dir))

  private def positionalShinglesUncached(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", tokens($"text").as("w"))
      .select($"doc_id",
        posexplode(ngramsFromTokens($"w", SpanShingle)).as(Seq("pos", "sh")))
      // loud PosPack bound: a doc with ≥2^20 tokens would collide its
      // packed (doc_id, pos) keys into the next doc_id and silently
      // corrupt first-occurrence mins — fail the scan instead. The
      // branch is codegen'd and position-only; scan cost is nil.
      .select($"doc_id",
        when($"pos" < lit(PosPack.toInt), $"pos")
          .otherwise(raise_error(concat(
            lit(s"document exceeds PosPack bound of $PosPack tokens: doc_id="),
            $"doc_id".cast("string")))).as("pos"),
        xxhash64($"sh").as("h1"), xxhash64(lit(1), $"sh").as("h2"))
  }

  /** Interval-merge (doc_id, pos) shingle occurrences into maximal
    * contiguous covered ranges — the q14 sessionize shape, keyed on
    * doc_id which the rows already hash by. */
  private def mergeSpans(s: SparkSession, occ: DataFrame): DataFrame = {
    import s.implicits._
    val n = SpanShingle
    val spans = occ.select($"doc_id", $"pos".cast("long").as("a"),
      ($"pos" + n - 1).cast("long").as("b"))
    import org.apache.spark.sql.expressions.Window
    val w1 = Window.partitionBy($"doc_id").orderBy($"a")
    val prevMax = max($"b").over(
      w1.rowsBetween(Window.unboundedPreceding, -1))
    spans
      // break only on a genuine gap: a == prevMax + 1 is ADJACENT
      // coverage ([0,15] then [16,31] is one contiguous covered
      // range) and stays in the group, so reported spans are the
      // maximal contiguous covered ranges.
      .withColumn("brk",
        when($"a" > coalesce(prevMax, lit(-2L)) + 1L, 1L).otherwise(0L))
      .withColumn("grp", sum($"brk").over(
        w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"doc_id", $"grp")
      .agg(min($"a").as("span_start"), max($"b").as("span_end"))
      .select($"doc_id", $"span_start", $"span_end",
        ($"span_end" - $"span_start" + 1).as("span_len"))
  }

  /** P7: boilerplate span CUTTING — the stage that applies d7: every
    * document is re-emitted without the tokens its repeated spans
    * cover, completing the ExactSubstr pass end-to-end (find repeats →
    * cut repeats). Documents left with zero tokens (pure boilerplate —
    * exact duplicates are the degenerate case) are dropped, which is
    * the cleaning decision; the policy here cuts EVERY occurrence of
    * repeated material, the conservative variant (d1 keeps one copy of
    * whole-doc dups upstream in the p1 DAG).
    *
    * Plan: d7's merged spans collapse to one bounded array per doc
    * (disjoint spans ⟹ ≤ n_tokens/16 entries), join back to the
    * corpus on doc_id, and the cut itself is a narrow two-arg
    * `filter((token, index) => …)` lambda with an `exists` over the
    * span array — scan-speed per row, no further shuffle. Output is
    * (kept-token count, fingerprint of the rebuilt text), the
    * hash-comparable form of the cleaned corpus. */
  def p7CutSpans(s: SparkSession, dir: String): DataFrame =
    cutBySpans(s, dir, d7SpanTable(s, dir))

  /** P7 keep-first variant — the ExactSubstr literature's default
    * policy (Lee et al. 2022 keep one copy of repeated material): each
    * repeated 16-gram's FIRST occurrence in the (doc_id, pos) global
    * order survives; only the later occurrences' positions are cut.
    * The first occurrence is a partial-aggregatable packed-long `min`
    * on the same hash-pair-keyed count shuffle d7 already pays — no
    * window sort over the (potentially hot) shingle key — and the
    * non-first occurrences then merge and cut through the exact d7/p7
    * machinery. A doc can still lose its own "first" text to an
    * OVERLAPPING different shingle's later occurrence — span semantics,
    * mirrored by the oracle. */
  def p7CutKeepFirst(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val later = positionalShingles(s, dir)
      .join(repeatedShingles(s, dir), Seq("h1", "h2"))
      .filter($"doc_id" * PosPack + $"pos" =!= $"first_packed")
    cutBySpans(s, dir, mergeSpans(s, later))
  }

  /** Re-emit the corpus without the tokens covered by `spanTable`:
    * spans collapse to one bounded array per doc (disjoint ⟹
    * ≤ n_tokens/16 entries), one doc-keyed join back, then a narrow
    * `filter((token, index) => …)` cut — scan-speed per row. Zero-token
    * survivors (pure boilerplate) are dropped. */
  private def cutBySpans(s: SparkSession, dir: String,
      spanTable: DataFrame): DataFrame = {
    import s.implicits._
    val cuts = spanTable
      .groupBy($"doc_id")
      .agg(collect_list(struct($"span_start", $"span_end")).as("cuts"))
    Tables.documents(s, dir)
      .select($"doc_id", tokens($"text").as("w"))
      .join(cuts, Seq("doc_id"), "left")
      .select($"doc_id", filter($"w", (t, i) =>
        !coalesce(exists($"cuts", c =>
          i.cast("long") >= c.getField("span_start") &&
            i.cast("long") <= c.getField("span_end")), lit(false))).as("kept"))
      .filter(size($"kept") > 0)
      .select($"doc_id", size($"kept").cast("long").as("n_kept"),
        md5(concat_ws(" ", $"kept")).as("kept_fp"))
      .orderBy($"doc_id")
  }

  /** P8: canonical-representative selection — the step after d6 in a
    * real dedup pipeline: from each near-dup group keep exactly one
    * document, the LONGEST member (min doc_id on ties — content-light
    * members are the truncated/boilerplate variants), and report the
    * group roster. Reuses d6's converged labels (memoized — the
    * propagation loop runs once per session per SF) joined to a
    * 2-column (doc_id, len) projection; the representative argmax is a
    * single `min(struct(-len, doc_id))` aggregation buffer per group —
    * no window, no second shuffle past the group key, and group count
    * (not corpus size) bounds the output. */
  def p8Canonicalize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lens = Tables.documents(s, dir)
      .select($"doc_id", length($"text").cast("long").as("len"))
    d6DupGroups(s, dir)
      .join(lens, "doc_id")
      .groupBy($"group_id")
      .agg(count(lit(1)).as("n_members"),
        min(struct((-$"len").as("neg"), $"doc_id")).as("rep"))
      .select($"group_id", $"n_members",
        $"rep.doc_id".as("rep_doc_id"), (-$"rep.neg").as("rep_len"))
      .orderBy($"group_id")
  }
}
