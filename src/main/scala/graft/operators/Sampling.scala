package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Training-mix sampling: rebalance a corpus by stratum before
  * training (the "data mixing" step of an LLM pipeline).
  */
object Sampling {

  val Seed = 42L
  /** Downweight the dominant language, keep the rest. */
  val DownweightLang = "en"
  val DownweightFraction = 0.5

  /** P2: seeded stratified sample by language — `sampleBy` pushes the
    * per-stratum Bernoulli filter into the scan (no shuffle at all);
    * the strata list is a bounded artifact (distinct langs), not data.
    * Sampling RNG is engine-specific → rows-only + determinism/
    * proportion specs instead of a SQL oracle. */
  def p2SampleMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val langs = docs.select($"lang").distinct().as[String].collect()
    val fractions = langs.map(l =>
      l -> (if (l == DownweightLang) DownweightFraction else 1.0)).toMap
    docs.stat.sampleBy("lang", fractions, Seed)
      .select($"doc_id", $"lang")
      .orderBy($"doc_id")
  }

  /** Token budget for `p6MixAllocate` — the total training tokens to
    * apportion across languages. */
  val MixBudget = 1000000L

  /** P6: training-mix budget allocation — apportion a fixed token
    * budget across languages proportional to their exact corpus token
    * counts, by largest-remainder (Hamilton) apportionment: every
    * language gets floor(B·n_l/T) tokens, and the B − Σfloor leftover
    * goes one token each to the largest fractional remainders. All
    * integer arithmetic (exact, engine-portable, no float shares), so
    * unlike RNG sampling (p2) this stage IS oracle-checkable.
    *
    * Shape at scale: the heavy work is the per-language token sum — a
    * scan plus a map-side-partial aggregate. Everything after operates
    * on ONE ROW PER LANGUAGE (a bounded artifact, ≤ a few hundred rows
    * for any real corpus), so the single-partition remainder-rank
    * window and the two broadcast one-row totals are K-bounded
    * driver-scale steps, not data-scale ones — the same discipline as
    * d5's pivot artifacts. BIGINT products B·n_l stay exact up to
    * ~9.2e12 corpus tokens at this budget; a larger corpus casts the
    * one multiply to DECIMAL(38,0) with no plan change. */
  def p6MixAllocate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.tokens
    val langTok = Tables.documents(s, dir)
      .select($"lang", size(tokens($"text")).cast("long").as("n"))
      .groupBy($"lang")
      .agg(sum($"n").as("n_tok"))
    val total = langTok.agg(sum($"n_tok").as("t_tok"))
    val quotas = langTok.crossJoin(broadcast(total))
      .select($"lang", $"n_tok",
        expr(s"(${MixBudget}L * n_tok) div t_tok").as("base"),
        expr(s"(${MixBudget}L * n_tok) % t_tok").as("rem"))
    val leftover = quotas.agg((lit(MixBudget) - sum($"base")).as("extra"))
    quotas.crossJoin(broadcast(leftover))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"rem".desc, $"lang")))
      .select($"lang", $"n_tok",
        ($"base" + when($"rnk" <= $"extra", 1L).otherwise(0L)).as("alloc_tokens"))
      .orderBy($"lang")
  }

  /** P15: TEMPERATURE-scaled mix allocation (Arivazhagan et al. 2019;
    * the mT5/XLM-R multilingual sampling standard) — p6's budget
    * apportionment with weights n_l^(1/τ) instead of n_l: τ > 1
    * flattens the distribution, upweighting low-resource languages a
    * proportional mix starves. This entry instantiates τ = 2, i.e.
    * w_l = √n_l — deliberately: IEEE `sqrt` is CORRECTLY ROUNDED (a
    * 754 requirement both engines honor), while general `pow(x, 1/τ)`
    * is not, so τ = 2 is the exactly-verifiable member of the family
    * (other τ run fine, with cross-engine parity only to pow's ulp).
    * The single sqrt quantizes to a BIGINT micro-weight immediately;
    * everything after — shares, floors, largest-remainder top-up — is
    * p6's exact integer Hamilton apportionment.
    *
    * Shape at scale: identical to p6 — one scan + map-side-partial
    * token sum, then one-row-per-language arithmetic (a bounded
    * artifact) with broadcast totals. */
  def p15TemperatureMix(s: SparkSession, dir: String): DataFrame =
    p17Kernel(s, dir, 2.0)

  /** P18: the END-TO-END CURATION PIPELINE — the composition a real
    * training-data team runs, as ONE oracle-checked entry: p1's
    * survivors (quality ≥ 0.5, exact-dup keep-first, near-dup losers
    * out) → p3's decontamination (drop the benchmark slice itself
    * AND every survivor sharing an 8-shingle with it) → p16's
    * source cap (lowest doc_ids per source, cap recomputed over the
    * SURVIVING corpus — the mix is capped after curation, not
    * before). Output = the final kept documents, so the hash gate
    * checks the whole composition end-to-end: any drift in any
    * stage's semantics (or in how they chain) breaks the hash.
    *
    * Shape at scale: each stage is its §2 entry's plan (memoized
    * artifacts shared in-session — the d2 pair table builds once);
    * the chain adds two anti-joins and one DISTRIBUTED per-source
    * rank (`withGroupRank`, p16's discipline — never a bare
    * partitionBy(source) window) over the shrinking survivor set.
    * The one scalar action (the cap over survivors) is p16's own
    * discipline. */
  def p18Curate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // memoized, its scope released after materialization: the
    // un-memoized form leaked one cached `kept` frame per invocation
    // (repeated bench sweeps accumulate partitions
    // Caches.clear never saw — the d9 leak class)
    graft.Caches.memo("p18_curate", dir) { sc =>
      val clean = Dedup.p1CleanCorpus(s, dir).select($"doc_id")
      val contaminated = Dedup.p3Decontaminate(s, dir).select($"doc_id")
      val train = clean
        .filter($"doc_id" % Dedup.DecontamMod =!= 0)
        .join(contaminated, Seq("doc_id"), "left_anti")
      val docs = Tables.documents(s, dir).select($"doc_id", $"lang", $"source")
      val kept = sc.keep(train.join(docs, "doc_id"))
      val cap = kept.count() * SourceCapPct / 100
      // per-source keep-first rank via the distributed group rank —
      // p16's discipline (a bare partitionBy(source) window puts each
      // source's whole survivor population through one task)
      // round 15: sever the composed ~500-node lineage at the memo
      // boundary — the cache cuts EXECUTION but every consumer action
      // (the entry's orderBy, p20's joins) still re-analyzed the whole
      // chain's tree (the measured q84 inherited-stats/analysis cost
      // at the pipeline-composition layer; p20 already checkpointed on
      // its side for exactly this reason)
      graft.Caches.checkpointFresh(
        Analytics.withGroupRank(kept, "source", "rnk", sc, $"doc_id")
          .filter($"rnk" <= cap)
          .select($"doc_id", $"lang", $"source"))
    }.orderBy($"doc_id")
  }

  /** P20: p18's curation chain EXTENDED WITH THE SEMANTIC STAGE — the
    * full modern recipe (quality gate → exact/near-dup → decontam →
    * source cap → SemDeDup): after the lexical stages, drop survivors
    * whose EMBEDDING is τ-close to an earlier cluster-mate among the
    * SURVIVORS (semantic near-dups that share no 8-shingle — republished
    * rewrites, translations-of-boilerplate — are exactly what the
    * lexical stages cannot see; Abbas et al. 2023 run this order for
    * the same reason). The embedding table rides the 1:1
    * vec_id == doc_id companion contract (TESTDATA.md).
    *
    * Stage composition: the coarse quantizer is the DATASET's ivfIndex
    * artifact (built once, shared with d10/s2/d5 — a production
    * pipeline reuses the fitted quantizer rather than re-fitting per
    * stage), and the SemDeDup pass runs over only the surviving
    * vectors — cluster sizes only shrink vs d10's full-corpus run, so
    * the mega-cluster cap inherits d10's guarantee. Seeded k-means fit
    * → rows-only (d10's honesty); Round12Spec pins the composition
    * invariants: p20 ⊆ p18, within-cluster completeness among
    * survivors, soundness of every semantic drop, rerun determinism.
    *
    * Shape at scale: p18's chain (memoized artifacts) + one
    * cluster-keyed equi-join over surviving DISTINCT vectors — the
    * d10 duplicate-compressed plan on a smaller frame. */
  def p20CurateSemantic(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Caches.memo("p20_curate_semantic", dir) { sc =>
      // checkpointFresh, not just the memo cache: p18's frame carries
      // a ~536-node logical plan, and this stage references it in
      // SEVERAL actions and self-joining subtrees — caching cuts
      // execution but every action still re-analyzes the composed
      // tree (measured: the final join alone 119.8 s raw vs 0.93 s
      // checkpointed — the q84 inherited-stats lesson at the
      // pipeline-composition layer)
      val kept = graft.Caches.checkpointFresh(p18Curate(s, dir))
      val (assigned, centers) = Similarity.ivfIndex(s, dir)
      val surviving = assigned
        .join(kept.select($"doc_id".as("vec_id")), "vec_id")
      val verdicts = Similarity.semDedupCore(surviving, centers,
        Similarity.SemDedupTau, sc)
      kept.join(verdicts.filter(!$"dropped")
          .select($"vec_id".as("doc_id")), "doc_id")
        .select($"doc_id", $"lang", $"source")
    }.orderBy($"doc_id")
  }

  /** P21: INCREMENTAL curation — the ARRIVAL shape of the pipeline
    * (§8e.2, round 12): a new crawl (odd doc_ids — d11's new half)
    * lands on an already-curated corpus (even doc_ids — d11's
    * prebuilt index) and pays ONLY new-side work: quality gate →
    * within-batch exact dedup (keep-first) → d11 incremental
    * near-dup against the curated index → benchmark decontamination.
    * p18/p20 prove the BOOTSTRAP composition (curate a whole corpus);
    * this entry proves the STEADY-STATE one (curate what arrives) —
    * the form a production pipeline runs per crawl, where old-corpus
    * volume prices at zero per increment (d11's contract).
    *
    * Stage-scope notes: exact duplicates OF THE CURATED CORPUS need
    * no stage of their own — J=1 matches every band, so the d11
    * posting join catches them with CERTAINTY (the S-curve is 1 at
    * J=1); the within-batch exact stage only minimizes the batch
    * itself (keep-first among its quality survivors). Within-batch
    * NEAR-dup is d3's bootstrap pass applied to the batch and
    * deliberately not re-proven here — the entry isolates the
    * cross-corpus stage that makes arrival different. The source cap
    * is corpus-level maintenance (p16/p18), not per-arrival work.
    *
    * Shape at scale: the quality and decontamination restrictions
    * filter on each frame's GROUPING key (doc_id), so Catalyst pushes
    * the batch predicate through those aggregates into the scans —
    * the shared t2/p3 logic is reused, and the executed plan still
    * only pays batch-sized stage work where the stage is per-doc;
    * the exact stage is one fingerprint aggregate over the batch; the
    * near-dup stage is d11's band-partitioned posting join (new-side
    * signatures only). Seeded MinHash under d11 → rows-only;
    * Round12Spec pins the stage-survival set algebra and determinism. */
  def p21CurateIncremental(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Caches.memo("p21_curate_incremental", dir) { sc =>
      val docs = Tables.documents(s, dir)
      val newQuality = TextAnalysis.t2QualityScore(s, dir)
        .filter($"doc_id" % 2 === 1)
        .filter($"quality" >= 0.5)
        .select($"doc_id")
      // within-batch exact dedup: keep the min doc_id per fingerprint
      // among the batch's quality survivors
      val fp = sc.keep(newQuality.join(docs, "doc_id")
        .select($"doc_id",
          graft.functions.TextFunctions.fingerprint($"text").as("fp")))
      val keepFirst = fp.groupBy($"fp").agg(min($"doc_id").as("doc_id"))
        .select($"doc_id")
      // cross-corpus near-dup: any verified d11 pair drops the arrival
      val nearIndex = Dedup.d11IncrementalDedup(s, dir)
        .select($"new_id".as("doc_id")).distinct()
      val contaminated = Dedup.p3Decontaminate(s, dir)
        .filter($"doc_id" % 2 === 1).select($"doc_id")
      keepFirst
        .join(nearIndex, Seq("doc_id"), "left_anti")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .join(docs.select($"doc_id", $"lang", $"source"), "doc_id")
    }.orderBy($"doc_id")
  }

  /** P17: the GENERAL-τ temperature knob (§8b.2, closed) — p15 pins
    * τ = 2 because one IEEE sqrt is correctly rounded; this entry
    * ships the rest of the family with honesty matched to what each
    * τ can verifiably promise:
    *   - τ = 1 degenerates to p6's proportional weights (micro-unit
    *     scaled — spec-pinned identity);
    *   - τ = 4 composes as sqrt∘sqrt: two correctly-rounded sqrts are
    *     a DETERMINISTIC identical sequence in both engines (not the
    *     correctly-rounded 4th root, but the same bits everywhere) —
    *     so `p17_temperature_tau4` is hash-oracle-checked like p15;
    *   - arbitrary τ (the registered `p17_temperature_pow` uses
    *     τ = 3) needs `pow`, which 754 does NOT require correctly
    *     rounded — cross-engine parity only to pow's ulp, so the
    *     entry is rows-only with an ulp-BAND spec (each micro-weight
    *     within 1 unit of a local StrictMath.pow reference, floors
    *     can differ only at a boundary) instead of a hash oracle.
    * After the weight column, everything is the shared exact integer
    * Hamilton apportionment (same shape and scale story as p6/p15). */
  def p17TemperatureTau4(s: SparkSession, dir: String): DataFrame =
    p17Kernel(s, dir, 4.0)

  def p17TemperaturePow(s: SparkSession, dir: String): DataFrame =
    p17Kernel(s, dir, 3.0)

  private[graft] def p17Kernel(s: SparkSession, dir: String,
      tau: Double): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.tokens
    val nd = $"n_tok".cast("double")
    val w = tau match {
      case 1.0 => $"n_tok" * 1000000L // exact proportional micro-units
      case 2.0 => floor(sqrt(nd) * 1000000).cast("long")
      case 4.0 => floor(sqrt(sqrt(nd)) * 1000000).cast("long")
      case t   => floor(pow(nd, lit(1.0 / t)) * 1000000).cast("long")
    }
    val langTok = Tables.documents(s, dir)
      .select($"lang", size(tokens($"text")).cast("long").as("n"))
      .groupBy($"lang")
      .agg(sum($"n").as("n_tok"))
      .withColumn("wq", w)
    hamiltonApportion(langTok)
  }

  /** The exact integer largest-remainder apportionment over
    * (lang, n_tok, wq) rows — p15/p17's shared tail: floor shares of
    * `MixBudget` by micro-weight, leftover one-each to the largest
    * remainders. One-row-per-language arithmetic on a bounded
    * artifact; broadcast totals. */
  private def hamiltonApportion(langTok: DataFrame): DataFrame = {
    import langTok.sparkSession.implicits._
    val total = langTok.agg(sum($"n_tok").as("t_tok"), sum($"wq").as("t_wq"))
    val quotas = langTok.crossJoin(broadcast(total))
      .select($"lang", $"n_tok", $"wq",
        expr(s"(${MixBudget}L * wq) div t_wq").as("base"),
        expr(s"(${MixBudget}L * wq) % t_wq").as("rem"))
    val leftover = quotas.agg((lit(MixBudget) - sum($"base")).as("extra"))
    quotas.crossJoin(broadcast(leftover))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"rem".desc, $"lang")))
      .select($"lang", $"n_tok", $"wq",
        ($"base" + when($"rnk" <= $"extra", 1L).otherwise(0L)).as("alloc_tokens"))
      .orderBy($"lang")
  }

  /** p18's oracle: the p1 / p3 / p16 oracle algebra composed into one
    * statement (kept textually in step with those entries' SQL — the
    * end-to-end hash breaks if any stage drifts). */
  private[graft] def p18OracleSql: String =
    s"""WITH base AS (
           SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
             CAST(len(list_filter(string_split(text, ' '),
                 x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
               / greatest(len(string_split(text, ' ')), 1) AS swr,
             CAST(length(text) - length(regexp_replace(text, '[.,!?;:''"()]', '', 'g')) AS DOUBLE)
               / greatest(length(text), 1) AS pr
           FROM documents),
         scored AS (
           SELECT doc_id, n_tokens,
             floor(least(greatest((least(CAST(n_tokens AS DOUBLE) / 32.0, 1.0)
               + greatest(1.0 - abs(swr - 0.08) * 2.0, 0.0)
               + greatest(1.0 - pr * 4.0, 0.0)) / 3.0, 0.0), 1.0) * 10000) / 10000.0 AS quality
           FROM base),
         fps AS (
           SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
           FROM documents),
         dup_losers AS (
           SELECT f.doc_id FROM fps f
           JOIN (SELECT fp, min(doc_id) AS keep_id FROM fps GROUP BY 1) g ON f.fp = g.fp
           WHERE f.doc_id != g.keep_id),
         sh3 AS (
           SELECT doc_id, unnest(list_distinct(list_filter(
             list_transform(string_split(text, ' '), (x, i) ->
               CASE WHEN i + 2 <= len(string_split(text, ' '))
                    THEN x || ' ' || string_split(text, ' ')[i+1]
                           || ' ' || string_split(text, ' ')[i+2] END),
             s -> s IS NOT NULL))) AS shingle
           FROM documents),
         sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh3 GROUP BY 1),
         inter AS (
           SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS n_both
           FROM sh3 x JOIN sh3 y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
           GROUP BY 1, 2),
         near_losers AS (
           SELECT DISTINCT id_b AS doc_id FROM inter
           JOIN sizes sa ON id_a = sa.doc_id
           JOIN sizes sb ON id_b = sb.doc_id
           WHERE CAST(n_both AS DOUBLE) / (sa.n_sh + sb.n_sh - n_both) >= 0.5),
         clean AS (
           SELECT doc_id FROM scored
           WHERE quality >= 0.5
             AND doc_id NOT IN (SELECT doc_id FROM dup_losers)
             AND doc_id NOT IN (SELECT doc_id FROM near_losers)),
         sh8 AS (
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
         bench AS (SELECT DISTINCT sh8 FROM sh8 WHERE doc_id % 7 = 0),
         contaminated AS (
           SELECT DISTINCT s.doc_id FROM sh8 s JOIN bench b ON s.sh8 = b.sh8
           WHERE s.doc_id % 7 <> 0),
         train AS (
           SELECT doc_id FROM clean
           WHERE doc_id % 7 <> 0
             AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
         kept AS (
           SELECT t.doc_id, d.lang, d.source
           FROM train t JOIN documents d ON d.doc_id = t.doc_id),
         cap AS (SELECT count(*) * $SourceCapPct // 100 AS cap FROM kept),
         ranked AS (
           SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rnk
           FROM kept)
         SELECT doc_id, lang, source FROM ranked CROSS JOIN cap
         WHERE rnk <= cap.cap ORDER BY doc_id"""

  private[graft] def tau4OracleSql: String =
    s"""WITH lt AS (
           SELECT lang,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tok
           FROM documents GROUP BY 1),
         w AS (SELECT lang, n_tok,
             CAST(floor(sqrt(sqrt(CAST(n_tok AS DOUBLE))) * 1000000) AS BIGINT) AS wq
           FROM lt),
         t AS (SELECT CAST(sum(wq) AS BIGINT) AS t_wq FROM w),
         q AS (SELECT lang, n_tok, wq,
             ($MixBudget * wq) // t.t_wq AS base,
             ($MixBudget * wq) % t.t_wq AS rem
           FROM w CROSS JOIN t),
         x AS (SELECT CAST($MixBudget - sum(base) AS BIGINT) AS extra FROM q),
         r AS (SELECT lang, n_tok, wq, base, rem,
             row_number() OVER (ORDER BY rem DESC, lang) AS rnk
           FROM q)
         SELECT lang, n_tok, wq,
           CAST(base + CASE WHEN rnk <= x.extra THEN 1 ELSE 0 END AS BIGINT)
             AS alloc_tokens
         FROM r CROSS JOIN x ORDER BY lang"""

  private[graft] def temperatureMixOracleSql: String =
    s"""WITH lt AS (
           SELECT lang,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tok
           FROM documents GROUP BY 1),
         w AS (SELECT lang, n_tok,
             CAST(floor(sqrt(CAST(n_tok AS DOUBLE)) * 1000000) AS BIGINT) AS wq
           FROM lt),
         t AS (SELECT CAST(sum(wq) AS BIGINT) AS t_wq FROM w),
         q AS (SELECT lang, n_tok, wq,
             ($MixBudget * wq) // t.t_wq AS base,
             ($MixBudget * wq) % t.t_wq AS rem
           FROM w CROSS JOIN t),
         x AS (SELECT CAST($MixBudget - sum(base) AS BIGINT) AS extra FROM q),
         r AS (SELECT lang, n_tok, wq, base, rem,
             row_number() OVER (ORDER BY rem DESC, lang) AS rnk
           FROM q)
         SELECT lang, n_tok, wq,
           CAST(base + CASE WHEN rnk <= x.extra THEN 1 ELSE 0 END AS BIGINT)
             AS alloc_tokens
         FROM r CROSS JOIN x ORDER BY lang"""

  /** Per-source ceiling for p16, percent of the corpus. 3% binds on
    * this deliberately uniform corpus (every source holds 5%). */
  val SourceCapPct = 3

  /** Audit-fingerprint mix constants (p16/p18's kept-set power sums):
    * h(id) = ((id mod P)·A + B) mod P with P = 1e9+7 prime. Chosen so
    * every intermediate stays exact in BIGINT on BOTH engines:
    * (P−1)·A ≈ 1.2e18 and (P−1)² ≈ 1e18 < 2^63; the fingerprint SUMS
    * hold exact for ~9·10⁹ kept rows per source before the audit
    * column needs DECIMAL(38,0) (a column-type change, not a plan
    * change). */
  val FpPrime = 1000000007L
  val FpMulA = 1103515245L
  val FpAddB = 12345L

  /** The mixed per-id fingerprint term (Spark side). */
  private[graft] def fpMix(id: org.apache.spark.sql.Column) =
    pmod(pmod(id, lit(FpPrime)) * FpMulA + FpAddB, lit(FpPrime))

  /** P16: SOURCE-CAP curation — bound any single source's share of
    * the corpus at `SourceCapPct`% (the anti-domination guard every
    * web-scale mix applies before weighting: one crawler bucket or
    * mirror farm must not swamp the distribution, however its quality
    * scores look). Deterministic keep policy: the LOWEST doc_ids per
    * source up to the cap (ingest order = keep-first, p7's
    * convention). Output is the per-source audit row: total, kept,
    * whether the cap bound, and TWO mergeable kept-set fingerprints —
    * order-insensitive power sums Σh(id) and Σh(id)² mod P over the
    * kept ids (exact integers both engines replay; a multiset is
    * pinned up to degree-2 power-sum collisions, the audit-grade
    * check).
    *
    * Shape at scale: one count for the global cap scalar, then the
    * per-source rank via `withGroupRank` — range-partitioned
    * (source, doc_id) with per-partition ranks + bounded offsets —
    * NEVER a bare partitionBy(source) window, which funnels each
    * source's ENTIRE population (3 % of a 100 TB corpus) through one
    * task; and the fingerprints are map-side-partial SUMS, never a
    * `collect_list` materializing a data-sized kept set in one
    * aggregation buffer. */
  def p16SourceCap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Caches.memo("p16_source_cap", dir) { sc =>
      val docs = Tables.documents(s, dir).select($"doc_id", $"source")
      val cap = docs.count() * SourceCapPct / 100
      val h = fpMix($"doc_id")
      Analytics.withGroupRank(docs, "source", "rnk", sc, $"doc_id")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_total"),
          sum(when($"rnk" <= cap, 1L).otherwise(0L)).as("n_kept"),
          (max($"rnk") > cap).as("capped"),
          coalesce(sum(when($"rnk" <= cap, h)), lit(0L)).as("kept_fp1"),
          coalesce(sum(when($"rnk" <= cap, pmod(h * h, lit(FpPrime)))),
            lit(0L)).as("kept_fp2"))
        .orderBy($"source")
    }
  }

  private[graft] def sourceCapOracleSql: String =
    s"""WITH n AS (SELECT count(*) * $SourceCapPct // 100 AS cap
           FROM documents),
         r AS (SELECT source, doc_id,
             ((doc_id % $FpPrime) * $FpMulA + $FpAddB) % $FpPrime AS h,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rnk
           FROM documents)
         SELECT source, count(*) AS n_total,
           CAST(sum(CASE WHEN rnk <= n.cap THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           max(rnk) > n.cap AS capped,
           CAST(coalesce(sum(CASE WHEN rnk <= n.cap THEN h END), 0)
             AS BIGINT) AS kept_fp1,
           CAST(coalesce(sum(CASE WHEN rnk <= n.cap
             THEN (h * h) % $FpPrime END), 0) AS BIGINT) AS kept_fp2
         FROM r CROSS JOIN n
         GROUP BY source, n.cap ORDER BY source"""

  /** P9: curriculum assignment — rank the corpus by t2's quality score
    * and deal it into 4 curriculum phases (quartiles: phase 1 = best),
    * the "quality-ordered training schedule" stage between cleaning
    * and packing. The quality ranking is q49's exact DISTRIBUTED
    * global rank (range-partition + per-partition running count +
    * bounded offset join — never a single-partition ntile window over a
    * billion-doc corpus), with total-order (quality desc, doc_id)
    * tie-breaks so phase boundaries are engine-reproducible, and the
    * phase formula is q49's SQL-exact `tileOf` integer arithmetic —
    * the oracle's plain `ntile(4)` hash-match proves the distributed
    * rank IS SQL ntile on this frame too. t2's quality is already
    * 4-dp floor-quantized, so rank order carries across engines. */
  def p9Curriculum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Caches.memo("p9_curriculum", dir) { sc =>
      val q = TextAnalysis.t2QualityScore(s, dir)
        .select($"doc_id", $"n_tokens".cast("long").as("n_tokens"), $"quality")
      val tot = q.agg(count(lit(1)).as("__n"))
      Analytics.withGlobalRunningSum(q, lit(1L), "q_rank", sc,
          $"quality".desc, $"doc_id")
        .join(broadcast(tot))
        .select($"doc_id", $"n_tokens", $"quality",
          Analytics.tileOf($"q_rank", $"__n", 4).as("phase"))
        .orderBy($"doc_id")
    }
  }

  /** Per-language epoch targets for `p11RepeatEpochs`, in exact
    * thousandths (en is upweighted 2.5 epochs, zh downweighted 0.5 —
    * the LLaMA-recipe shape where high-quality domains repeat and
    * noisy ones subsample). Integer thousandths keep every copy-count
    * decision in exact arithmetic. */
  val EpochTargetsThousandths: Map[String, Long] =
    Map("en" -> 2500L, "zh" -> 500L).withDefaultValue(1000L)

  /** P11: fractional-EPOCH repetition materializer — the data-recipe
    * stage p2/p6 don't cover: a weight > 1 means the domain REPEATS
    * (2.5 epochs of `en` = every doc twice + half the docs a third
    * time), < 1 means it subsamples. Each doc emits
    * floor(w) + [residue(doc_id) < frac(w)] copies, tagged with an
    * epoch ordinal so downstream packing can interleave epochs.
    *
    * The fractional coin is SYSTEMATIC — `(doc_id·7919) mod 1000`
    * against the weight's thousandths — not an RNG: deterministic,
    * exactly SQL-replicable, and because 7919 is a unit mod 1000 the
    * residue stays uniform even when the id space is a contiguous
    * prefix (a bare `doc_id mod 1000` puts every id of a 500-doc
    * corpus below 500 — measured failure). It is exactly
    * SQL-replicable (this entry is oracle-checked, unlike p2's
    * `sampleBy`); once the id space covers full residue cycles the
    * achieved rate is within 1/1000 of target by construction, and a
    * finite prefix sees ordinary √n selection noise. If ids correlate
    * with content (sharded crawls), swap the residue for a seeded
    * hash — same plan, rows-only check (the p2 trade).
    *
    * Shape at scale: one scan; the copy count is a per-row integer
    * expression and the emission is `explode(sequence(...))` — fan-out
    * exactly Σw per row, no shuffle at all before the output sort. */
  def p11RepeatEpochs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val langs = EpochTargetsThousandths
    val wCol = coalesce(
      element_at(
        map(Seq("en", "zh").flatMap(l =>
          Seq(lit(l), lit(langs(l)))): _*), $"lang"),
      lit(1000L))
    Tables.documents(s, dir)
      .select($"doc_id", $"lang", wCol.as("w"))
      .withColumn("n_copies",
        expr("w div 1000") +
          when(pmod($"doc_id" * 7919L, lit(1000L)) < $"w" % 1000L, 1L).otherwise(0L))
      .filter($"n_copies" > 0)
      .select($"doc_id", $"lang",
        explode(sequence(lit(0L), $"n_copies" - 1)).as("epoch"))
      .orderBy($"doc_id", $"epoch")
  }

  /** Per-stratum systematic-sampling modulus for `p12`: keep 1-in-k
    * per language (en 1/20, zh 1/5, rest 1/10) — the rebalancing mix
    * p2 draws with RNG, expressed deterministically. */
  private[graft] def p12Modulus(lang: org.apache.spark.sql.Column) =
    when(lang === "en", 20L).when(lang === "zh", 5L).otherwise(10L)

  /** P12: DETERMINISTIC stratified systematic sample — p2's
    * rebalancing mix with the RNG replaced by modular selection on the
    * key space: keep a document iff (doc_id·7919) mod k_lang = 0.
    * 7919 is coprime to every modulus, so doc_id ↦ doc_id·7919 mod k
    * is a bijection on residues — any k consecutive ids contain
    * EXACTLY one selected row (true systematic sampling, exact rate
    * 1/k on contiguous id ranges), yet selection decorrelates from
    * plain id blocks (p11's coin, same construction). Unlike p2 this
    * is a pure function of the data → full SQL oracle, reproducible
    * across engines, reruns, and retries — what a training pipeline
    * actually wants from a mix stage (resumable shards, auditable
    * membership).
    *
    * Shape at scale: a scan-local integer predicate — NO shuffle, no
    * per-stratum window (a rank-based systematic sample would funnel
    * each stratum through one task; the modular form needs no order at
    * all). The product doc_id·7919 stays exact past 10¹⁴ ids. */
  def p12StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter(pmod($"doc_id" * 7919L, p12Modulus($"lang")) === 0L)
      .select($"doc_id", $"lang")
      .orderBy($"doc_id")
  }

  /** p13 grid stride, in weight units (characters): one selection per
    * 6000 corpus characters ≈ a 5% document rate at this corpus'
    * ~300-char mean. The stride is per unit of WEIGHT, not per
    * document, so the sample grows linearly with the corpus — the
    * scale-free way to spend a token budget. */
  val P13Stride = 6000L

  /** P13: WEIGHT-PROPORTIONAL systematic sample — the token-budget
    * sampler: select documents with multiplicity proportional to
    * length (weight = n_chars), so the sample is uniform over
    * CHARACTERS, not documents — long documents can't be starved by a
    * per-document coin, and expected token spend is exact. p12's
    * systematic construction lifted from the id axis to the weight
    * axis: lay documents end-to-end on the cumulative-weight line
    * (intervals [cum−w, cum) in doc_id order) and take every
    * grid point {j·S + 1 : j ≥ 0}; a document's `copies` is the
    * number of grid points its interval contains —
    * `ceildiv(cum−1, S) − ceildiv(cum−w−1, S)` in pure non-negative
    * integer arithmetic (both engines' integral division agrees on
    * non-negatives; the +S−2 form keeps every operand ≥ 0), so Σ
    * copies over any PREFIX of the corpus is within 1 of its weight
    * share — the systematic-sampling guarantee, deterministic,
    * auditable, rerun-stable.
    *
    * Shape at scale: ONE distributed global running sum
    * (`withGlobalRunningSum` — range-partition + per-partition prefix
    * sums + broadcast offsets, never a single-task window), then
    * scan-local integer algebra; no joins, no explode. Output carries
    * `copies` (p11's epoch-repeat explodes multiplicities when
    * materialization is wanted). */
  def p13WeightedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Caches.memo("p13_weighted", dir) { sc =>
      val docs = Tables.documents(s, dir)
        .select($"doc_id", $"lang", greatest(lit(1L), $"n_chars").as("w"))
      p13Kernel(docs, P13Stride, sc)
    }.orderBy($"doc_id")
  }

  /** p13's engine over (doc_id, lang, w ≥ 1): separated so specs can
    * drive constructed weight patterns against a local replay. */
  private[graft] def p13Kernel(docs: DataFrame, stride: Long,
      scope: graft.Caches.Scope): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    Analytics.withGlobalRunningSum(docs, $"w", "cum", scope, $"doc_id")
      .withColumn("copies",
        expr(s"(cum + $stride - 2) div $stride") -
          expr(s"(cum - w + $stride - 2) div $stride"))
      .filter($"copies" >= 1)
      .select($"doc_id", $"lang", $"w", $"copies")
  }

  private[graft] def p13OracleSql(stride: Long = P13Stride): String =
    s"""WITH d AS (SELECT doc_id, lang, greatest(1, n_chars) AS w
                   FROM documents),
         c AS (SELECT doc_id, lang, w,
                      sum(w) OVER (ORDER BY doc_id) AS cum FROM d)
       SELECT doc_id, lang, w,
              CAST((cum + $stride - 2) // $stride
                   - (cum - w + $stride - 2) // $stride AS BIGINT) AS copies
       FROM c
       WHERE (cum + $stride - 2) // $stride
             - (cum - w + $stride - 2) // $stride >= 1
       ORDER BY doc_id"""
}
