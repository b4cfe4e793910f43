package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Text-analysis queries over `documents` — token statistics, quality
  * scoring, language ID, fingerprinting. All per-row narrow transforms
  * (no shuffle at all except the final presentation sort), so they
  * stream through 100 TB at scan speed.
  */
object TextAnalysis {

  /** T1: token counting — whitespace tokens, distinct tokens, regex
    * (word-char) tokens. */
  def t1TokenStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("w", tokens($"text")) // materialize once, reuse thrice
      .select($"doc_id",
        size($"w").as("n_tokens"),
        size(array_distinct($"w")).as("n_distinct"),
        size(regexTokens($"text")).as("n_regex_tokens"))
      .orderBy($"doc_id")
  }

  /** T2: quality scoring — length/stopword/punctuation heuristics. */
  def t2QualityScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("w", tokens($"text"))
      .select($"doc_id",
        size($"w").as("n_tokens"),
        round(length(regexp_replace($"text", " ", "")).cast("double") /
          greatest(size($"w"), lit(1)).cast("double"), 4).as("avg_word_len"),
        round(stopwordRatioFromTokens($"w"), 4).as("stopword_ratio"),
        round(punctRatio($"text"), 4).as("punct_ratio"),
        // floor-quantize, not round: the score formula lands on exact
        // .5e-4 boundaries where Spark (HALF_UP on BigDecimal) and
        // DuckDB (x*1e4 then std::round) disagree; floor of identical
        // IEEE doubles is engine-independent.
        (floor(qualityScoreFromTokens($"text", $"w") * 10000) / 10000.0).as("quality"))
      .orderBy($"doc_id")
  }

  /** T3: language identification (marker-word + CJK heuristic). */
  def t3LangId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("toks", tokens(lower($"text")))
      .select($"doc_id", $"lang".as("labeled_lang"),
        langIdFromTokens($"text", $"toks").as("pred_lang"))
      .orderBy($"doc_id")
  }

  /** T4: document fingerprint — md5 of normalized text. */
  def t4Fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", fingerprint($"text").as("fp"))
      .orderBy($"doc_id")
  }

  /** T5: repetition metrics — the Gopher-style repetition filters a
    * corpus pipeline gates on: `rep2` = fraction of all bigrams taken
    * by the single most frequent bigram (high = loopy/templated text)
    * and the distinct-token ratio.
    *
    * Zero-shuffle: the top-bigram multiplicity is the longest run of
    * equal elements in the doc's SORTED bigram array, computed by the
    * codegen `max_run_length` expression — no explode, no grouped
    * re-aggregation of bigram occurrence rows (the previous
    * formulation shuffled every bigram occurrence twice; at 20× that
    * was most of its 14+ s; an interpreted HOF fold was tried and
    * spent tens of seconds in CodegenFallback warm-up). The whole
    * operator now runs at scan speed, like t1–t4.
    *
    * The no-bigram filter is expressed on the TOKEN count, not on
    * `size(bi)`: a predicate on the derived column gets pushed below
    * the projections with the whole tokenize→bigram→sort chain
    * SUBSTITUTED into it, where the split re-evaluates per lambda
    * element — the round-1 lambda-inlining trap reintroduced by
    * predicate pushdown. `size(tokens) >= 2` is the same row set
    * (n bigrams = n_tokens − 1) and pushes down as one linear split
    * per row (measured: 5.3 s → ~0.9 s at sf0.1). */
  def t5Repetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .filter(size(tokens($"text")) >= 2) // docs with < 2 tokens have no bigram stats
      .withColumn("w", tokens($"text"))
      .withColumn("bi", array_sort(ngramsFromTokens($"w", 2)))
      .select($"doc_id", size($"w").as("n_tokens"),
        size(array_distinct($"w")).as("n_distinct"),
        call_function("max_run_length", $"bi").as("top_n"),
        size($"bi").as("n_bi"))
      .select($"doc_id", $"n_tokens",
        (floor($"top_n".cast("double") / $"n_bi".cast("double") * 10000) / 10000.0).as("rep2"),
        (floor($"n_distinct".cast("double") / $"n_tokens".cast("double") * 10000) / 10000.0).as("distinct_ratio"))
      .orderBy($"doc_id")
  }

  /** T6: corpus heavy hitters — tokens holding at least 3.3% of all
    * token occurrences. The frequency table is one explode + grouped
    * count (map-side partials carry the load); the threshold compare
    * is INTEGER arithmetic (`n*1000 >= total*33`) so Spark and the
    * DuckDB oracle agree bit-for-bit at the boundary. At 100 TB the
    * exact form is still one shuffle keyed on token; the sketch twin
    * (`t6Cms`, spec-bounded) serves when even that table is too big. */
  def t6HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tok = Tables.documents(s, dir)
      .select(explode(tokens($"text")).as("token"))
      .filter($"token" =!= "")
    val total = tok.agg(count(lit(1)).as("total"))
    tok.groupBy($"token").agg(count(lit(1)).as("n"))
      .join(broadcast(total))
      .filter($"n" * 1000 >= $"total" * 33)
      .select($"token", $"n")
      .orderBy($"token")
  }

  /** The sketch twin of t6: a Count-Min estimate for every token —
    * the bounded-memory path when the exact frequency table itself is
    * too large to materialize. The sketch is a fixed-size mergeable
    * artifact (one per partition, merged on the driver), so the
    * aggregation is one pass with no shuffle of per-token rows. */
  def t6Cms(s: SparkSession, dir: String,
      eps: Double = 0.001, confidence: Double = 0.99)
      : org.apache.spark.util.sketch.CountMinSketch = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(explode(tokens($"text")).as("token"))
      .filter($"token" =!= "")
      .stat.countMinSketch("token", eps, confidence, 42)
  }

  /** Capacity of the t15 Misra–Gries summary: error ≤ N/257 ≈ 0.39%
    * of total occurrences — an order under t6's 3.3% report line. */
  val MgCapacity = 256

  /** T15: heavy hitters from a BOUNDED summary — t6's top tokens
    * served by the mergeable Misra–Gries aggregate instead of the
    * exact token-keyed frequency table. One pass, and the only thing
    * that moves through the exchange is the fixed ≤ 256-entry buffer
    * per partition (partial-aggregated map-side like any sum) — at
    * 100 TB the exact t6 shuffle carries every distinct token; this
    * carries kilobytes. Estimates are deterministic-given-merge-order
    * but merge order is shuffle-scheduling-dependent → rows-only; the
    * spec pins the two-sided MG bound (est ≤ true ≤ est + N/(cap+1))
    * against t6's exact counts and guaranteed presence of every token
    * above the error line. */
  def t15HeavySketch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tok = Tables.documents(s, dir)
      .select(explode(tokens($"text")).as("token"))
      .filter($"token" =!= "")
    tok
      .agg(call_function("misra_gries_agg", $"token", lit(MgCapacity)).as("sk"),
        count(lit(1)).as("total"))
      .select(explode($"sk").as("e"), $"total")
      // t6's integer report line: tokens the summary credits with
      // ≥ 3.3% of all occurrences. est ≤ true ⇒ NO false positives
      // against t6's exact threshold; a t6 token can only be missed
      // if its true count sits within N/257 of the 3.3% line (the MG
      // margin) — the spec pins both directions
      .filter($"e.est" * 1000 >= $"total" * 33)
      .select($"e.token".as("token"), $"e.est".as("est"))
      .orderBy($"token")
  }

  // PII patterns — deliberately the regex subset that compiles to the
  // same automaton under Java regex (Spark) and RE2 (DuckDB), so the
  // op and its oracle agree match-for-match.
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val Ipv4Re  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** T8: PII scrubbing — the redaction stage a training-data pipeline
    * runs before anything ships: per-doc match counts for
    * email/phone/IPv4 patterns plus the fingerprint of the redacted
    * text (emails first, then phones, then IPs — the oracle nests its
    * replaces identically). Counts are per-pattern matches on the RAW
    * text. Pure per-row regex evaluation — scan speed at 100 TB, like
    * t1–t5; the semantics spec drives it over constructed PII docs
    * (this synthetic corpus itself carries none). */
  def t8PiiScrub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    piiScrubOf(Tables.documents(s, dir))
      .select($"doc_id", $"n_emails", $"n_phones", $"n_ips",
        md5($"redacted".cast("binary")).as("redacted_fp"))
      .orderBy($"doc_id")
  }

  /** The scrub core over any (doc_id, text, …) frame, keeping the
    * redacted text visible (the spec asserts it verbatim). */
  private[graft] def piiScrubOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id",
      size(regexp_extract_all($"text", lit(EmailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all($"text", lit(PhoneRe), lit(0))).as("n_phones"),
      size(regexp_extract_all($"text", lit(Ipv4Re), lit(0))).as("n_ips"),
      regexp_replace(
        regexp_replace(
          regexp_replace($"text", EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"),
        Ipv4Re, "<IP>").as("redacted"))
  }

  /** Tokens per training-sequence chunk for `p4ChunkDocs`. */
  val ChunkTokens = 32

  /** P4: training-sequence chunking — split every document into
    * fixed-`ChunkTokens` token segments (the context-length packing
    * prep step before tokenization proper), emitting per chunk its
    * token count and content fingerprint. A flat per-row transform
    * (explode over the chunk-index range + array slices), no shuffle
    * anywhere but the presentation sort — scan speed at 100 TB.
    * Chunk count uses integer arithmetic (`(n+31) div 32`) so the
    * DuckDB oracle agrees exactly at every boundary. */
  def p4ChunkDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = ChunkTokens
    Tables.documents(s, dir)
      .withColumn("w", tokens($"text"))
      .withColumn("n_chunks", expr(s"(size(w) + ${n - 1}) div $n").cast("int"))
      .select($"doc_id", $"w",
        explode(sequence(lit(0), $"n_chunks" - 1)).as("chunk_id"))
      .withColumn("cw", slice($"w", $"chunk_id" * n + 1, lit(n)))
      .select($"doc_id", $"chunk_id",
        size($"cw").as("n_tok_chunk"),
        md5(array_join($"cw", " ").cast("binary")).as("chunk_fp"))
      .orderBy($"doc_id", $"chunk_id")
  }

  /** Tokens per packed training sequence for `p5PackSequences`. */
  val SeqTokens = 512

  /** Docs per prefix-sum bucket for `p5PackSequences`. */
  val PackBucket = 1000L

  /** P5: training-sequence packing — assign every document its token
    * offset in the doc_id-ordered corpus concatenation and the
    * `SeqTokens`-budget sequence its first token lands in: the packing
    * ledger a concat-and-chunk training pipeline materializes before
    * tokenization proper.
    *
    * The global running total is a DISTRIBUTED three-level prefix sum —
    * the d2-dictionary lesson applied to cumsum: a partitionBy-less
    * window would funnel every document through one task. Instead (1)
    * per-bucket token totals roll up to SUPERBUCKET totals whose
    * exclusive prefix runs in the only single-partition window — sized
    * corpus/`PackBucket`² (1e-6 of the doc count: a trillion-doc corpus
    * puts 1e6 16-byte rows in that task; the same div-rollup adds a
    * fourth level if that ever binds); (2) each bucket's offset within
    * its superbucket comes from a window hash-partitioned on the
    * superbucket (≤ `PackBucket` rows per group); (3) each row's
    * in-bucket prefix comes from a window hash-partitioned on the
    * bucket; tok_start = superbucket offset + bucket offset + in-bucket
    * prefix. doc_ids bucket by integer div, so bucket boundaries are
    * data-independent and every pass is one scan. The bucket-offset
    * table (corpus/`PackBucket` rows) joins back WITHOUT a forced
    * broadcast — AQE broadcasts it while it's small and shuffle-joins
    * on the bucket key once it isn't. */
  def p5PackSequences(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = Tables.documents(s, dir)
      .select($"doc_id", nTokens($"text").cast("long").as("n_tok"),
        expr(s"doc_id div ${PackBucket}L").as("bucket"))
    val bt = t.groupBy($"bucket").agg(sum($"n_tok").as("btot"))
      .withColumn("sb", expr(s"bucket div ${PackBucket}L"))
    // level 0: superbucket exclusive prefix — the bounded-grain funnel
    val sbOffsets = bt.groupBy($"sb").agg(sum($"btot").as("stot"))
      .withColumn("soff", coalesce(
        sum($"stot").over(Window.orderBy($"sb")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"sb", $"soff")
    // level 1: bucket offset inside the superbucket, distributed
    val inSb = Window.partitionBy($"sb").orderBy($"bucket")
    val bucketOffsets = bt.join(broadcast(sbOffsets), "sb")
      .withColumn("boff", $"soff" + sum($"btot").over(inSb) - $"btot")
      .select($"bucket", $"boff")
    // level 2: per-doc prefix inside the bucket, distributed
    val inBucket = Window.partitionBy($"bucket").orderBy($"doc_id")
    t.join(bucketOffsets, "bucket")
      .withColumn("tok_start", $"boff" + sum($"n_tok").over(inBucket) - $"n_tok")
      .withColumn("seq_id", expr(s"tok_start div ${SeqTokens}L"))
      .select($"doc_id", $"n_tok", $"tok_start", $"seq_id")
      .orderBy($"doc_id")
  }

  /** T9: unigram-LM surprisal — the CCNet-style perplexity quality
    * filter: fit an add-one-smoothed unigram language model on the
    * corpus itself, then score every document by its mean per-token
    * surprisal −log2 p(t). Low = stereotypical in-distribution text,
    * high = rare-vocabulary / noise — the standard cheap stand-in for
    * a KenLM gate in training-data pipelines.
    *
    * Shape at 100 TB: the LM is one explode + grouped count (map-side
    * partials, keyed on token) and scoring is a shuffle EQUI-join of
    * token occurrences against that table on the token key — never a
    * broadcast of the vocabulary (billions of entries at corpus
    * scale). The two corpus scalars (N, V) ARE broadcast: one row.
    * Surprisal values floor-quantize at 1e-4 (log2 is not required to
    * be correctly rounded, so the engines may differ in the last ulp;
    * the t2/t5 floor discipline absorbs it). */
  def t9Surprisal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tok = Tables.documents(s, dir)
      .select($"doc_id", explode(tokens($"text")).as("token"))
      .filter($"token" =!= "")
    val counts = tok.groupBy($"token").agg(count(lit(1)).as("c"))
    val scalars = counts.agg(sum($"c").as("n_total"), count(lit(1)).as("v"))
    tok.join(counts, "token")
      .join(broadcast(scalars))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        (floor(avg(-log2(($"c" + 1).cast("double") /
          ($"n_total" + $"v").cast("double"))) * 10000) / 10000.0).as("surprisal"))
      .orderBy($"doc_id")
  }

  /** T10: per-document keyword extraction — the top-3 terms per doc by
    * TF-IDF, the classic document-summary head. Plan shape: term
    * frequencies are one (doc, token) grouped count; document
    * frequencies derive from the SAME tf table (one grouped count —
    * never a re-scan of the corpus); the idf join is keyed on the
    * token's 128-bit hash pair — h2 salt-FIRST, `xxhash64(lit(1),
    * token)`, so it runs under an independent effective seed rather
    * than as a function of h1 — so the df aggregate and the join
    * exchange 16 B per key instead of the token string (the d7 trade:
    * FP expectation ~1e-19 per pair at billion-token vocabularies; a
    * collision would merge two tokens' counts, and the exact-string
    * oracle guards validation scale). The token string itself rides
    * the tf rows once, as a value — it has to reach the output. The
    * per-doc top-3 is a ranked window on the doc key the tf rows
    * already hash by (measured at the 20× corpus: 5.8–8.8 s
    * string-keyed → 2.1–4.1 s hash-keyed, identical output). Ranking
    * is on the floor-quantized score with a token tie-break, so order
    * is engine-reproducible (raw-double ln ties at the 4-dp boundary
    * are the only cross-engine risk; quantization absorbs ulp noise). */
  def t10Keywords(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tf = Tables.documents(s, dir)
      .select($"doc_id", explode(tokens($"text")).as("token"))
      .filter($"token" =!= "")
      .groupBy($"doc_id",
        xxhash64($"token").as("h1"), xxhash64(lit(1), $"token").as("h2"))
      // every row in a (doc, h1, h2) group holds the same token string
      // (absent a 128-bit collision), so max() reproduces it exactly
      .agg(max($"token").as("token"), count(lit(1)).as("tf"))
    val dfq = tf.groupBy($"h1", $"h2").agg(count(lit(1)).as("df"))
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfq, Seq("h1", "h2"))
      .join(broadcast(nDocs))
      .select($"doc_id", $"token",
        (floor($"tf" * log($"n_docs".cast("double") / $"df") * 10000) / 10000.0)
          .as("score"))
    val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"token")
    scored.withColumn("kw_rank", row_number().over(w))
      .filter($"kw_rank" <= 3)
      .select($"doc_id", $"kw_rank", $"token", $"score")
      .orderBy($"doc_id", $"kw_rank")
  }

  /** T11: Zipf-law fit — the corpus-health diagnostic a pipeline runs
    * after every cleaning stage: OLS slope and correlation of
    * log10(frequency) on log10(rank) over the TOP-1000 vocabulary.
    * Natural text sits near slope −1; templated/synthetic corpora go
    * flat; a cleaning bug that eats common words shows up immediately.
    *
    * Scale shape: the frequency table is t6's one explode + grouped
    * count (map-side partials); the top-1000 is a
    * TakeOrderedAndProject (per-partition heaps — never a global
    * vocabulary sort, which at billions of distinct tokens is the
    * single-partition trap); ranking and the two co-moment aggregates
    * then run over a 1000-row BOUNDED frame (the q45 broadcast-total
    * pattern: constant-size work, not corpus-size work). Slope and
    * corr floor-quantize at 1e-4 — co-moment sums over 1000 doubles
    * agree across engines well inside that. */
  def t11Zipf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val freq = Tables.documents(s, dir)
      .select(explode(tokens($"text")).as("token"))
      .filter($"token" =!= "")
      .groupBy($"token").agg(count(lit(1)).as("n"))
    val top = freq.orderBy($"n".desc, $"token").limit(1000)
    val ranked = top.withColumn("rank",
      row_number().over(Window.orderBy($"n".desc, $"token")))
    ranked.agg(
      count(lit(1)).as("n_points"),
      (floor(covar_pop(log10($"rank"), log10($"n")) /
        var_pop(log10($"rank")) * 10000) / 10000.0).as("zipf_slope"),
      (floor(corr(log10($"rank"), log10($"n")) * 10000) / 10000.0)
        .as("zipf_corr"))
  }

  /** T7: bigram frequency table — the top-50 most frequent bigrams
    * corpus-wide (n-gram LM / contamination statistics). Same explode +
    * grouped-count shape as t6; the top-50 is a TakeOrderedAndProject
    * (per-partition heaps, no global sort). */
  def t7BigramFreq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .withColumn("w", tokens($"text"))
      .select(explode(ngramsFromTokens($"w", 2)).as("bigram"))
      .groupBy($"bigram").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"bigram")
      .limit(50)
  }

  /** T12: bigram-LM surprisal — t9's quality gate upgraded one order:
    * fit an add-one-smoothed BIGRAM model p(w₂|w₁) = (c(w₁w₂)+1) /
    * (c(w₁)+V) on the corpus, score each document by its mean bigram
    * surprisal −log₂ p. Context counts c(w₁) are derived from the
    * SAME bigram table (count of bigrams starting at w₁ — i.e. w₁'s
    * occurrences as a non-final token), so the corpus is tokenized
    * once; V is the full unigram vocabulary size, one broadcast row.
    *
    * Shape at 100 TB: both model joins are shuffle EQUI-joins keyed on
    * the bigram / context token the occurrence rows already carry —
    * never a vocabulary broadcast (bigram vocabularies run 10× unigram;
    * t10's 16-byte hash-pair key is the drop-in upgrade if the string
    * exchange ever dominates). Surprisal floor-quantizes at 1e-4: log2
    * is not correctly-rounded, the floor discipline absorbs the ulp. */
  def t12BigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // round 14: context counts c(w1) derive from the bigram-count
    // table by pure algebra (Σ cb over bigrams starting at w1 ≡
    // counting the occurrences directly), dropping the third
    // tokenize+explode pass of the corpus. The stream itself stays a
    // lazy parquet-rooted plan on purpose: an eager checkpoint of the
    // 2M-row stream measured SLOWER than the tokenize it saves at this
    // SF, and a cache would expose small stats that flip the model
    // joins to a vocabulary BROADCAST — the 100 TB shape this entry's
    // plan audit forbids (bigram vocabularies run 10× unigram).
    val bg = Tables.documents(s, dir)
      .withColumn("w", tokens($"text"))
      .filter(size($"w") >= 2)
      .select($"doc_id", explode(ngramsFromTokens($"w", 2)).as("bigram"))
      .withColumn("w1", substring_index($"bigram", " ", 1))
    val cbg = bg.groupBy($"bigram").agg(count(lit(1)).as("cb"))
    val ctx = cbg.groupBy(substring_index($"bigram", " ", 1).as("w1"))
      .agg(sum($"cb").as("cw"))
    val vocab = Tables.documents(s, dir)
      .select(explode(tokens($"text")).as("token"))
      .agg(countDistinct($"token").as("v"))
    // round 15: the two model joins are PINNED to shuffled-hash — the
    // derived ctx/cbg frames carry tiny estimated stats that would
    // otherwise flip the planner to the vocabulary broadcast this
    // entry's doc (and plan audit) forbids at 100 TB. SHUFFLE_HASH over
    // SHUFFLE_MERGE: the count sides are aggregated (one row per
    // bigram / context token), so the per-partition hash build is safe
    // and the 2M-row occurrence stream is never sorted.
    bg.join(cbg.hint("SHUFFLE_HASH"), "bigram")
      .join(ctx.hint("SHUFFLE_HASH"), "w1")
      .join(broadcast(vocab))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (floor(avg(-log2(($"cb" + 1).cast("double") /
          ($"cw" + $"v").cast("double"))) * 10000) / 10000.0)
          .as("bi_surprisal"))
      .orderBy($"doc_id")
  }

  val CosineThreshold = 0.30

  /** T13: exact all-pairs TF-IDF cosine similarity — the classic
    * near-duplicate / related-document join on WEIGHTED term vectors
    * (d2 is set-overlap Jaccard; this is the cosine companion that
    * ranks a shared rare term above ten shared common ones).
    *
    * Cross-engine determinism: a floating dot product is
    * addition-order-dependent, so the whole vector space is quantized
    * to integer MILLI-units first (`floor(tf·ln(N/df)·1000)`, the q53
    * fixed-point discipline). Dot products and squared norms are then
    * exact BIGINT sums in any order; the single float op is the final
    * `dot/(√n2a·√n2b)` on exactly-agreed integers (sqrt and divide
    * are IEEE correctly-rounded), floor-quantized at 1e-4. The one
    * residual cross-engine risk is `ln` ulp at a milli-unit floor
    * boundary — the same accepted class as t9/t10.
    *
    * Shape at 100 TB — the Bayardo WWW'07 All-Pairs discipline, the
    * cosine analogue of d2's PPJoin (a naive posting self-join over
    * the sub-stopword band is still Σ df² and measured as a stall at
    * the 20× probe):
    *  - stopword-band tokens (df·10 > N) are dropped: ~zero idf and
    *    quadratic fan-out (semantically standard);
    *  - the retained vocabulary is dictionary-encoded rarest-first by
    *    d2's DISTRIBUTED range-partition + monotonic-id trick, so
    *    ascending tid = ascending (df, token) with no single-task
    *    funnel at billion-token vocabularies;
    *  - each doc INDEXES only its rarest-first prefix: walking from
    *    the frequent end, tokens are left unindexed while the
    *    accumulated ceiling Σ ŵ(t)·maxw(t) stays below τ (ŵ = unit-
    *    normalized weight, maxw = the token's corpus-max ŵ). Any pair
    *    whose sharing lives entirely in one side's unindexed suffix
    *    has cosine ≤ that mass < τ, so candidates = indexed side ⋈
    *    FULL side (lower id indexes) — the fan-out collapses from
    *    Σ df² to Σ idx(t)·df(t), and the frequent tokens that
    *    dominate df² are exactly the ones the bound refuses to index.
    *    The per-doc suffix walk is a window on the doc key the rows
    *    already hash by. τ is backed off by 1e-9 so double rounding
    *    in the ceiling can never exclude a true pair;
    *  - verify is the codegen `sorted_dot` two-pointer merge over
    *    each doc's (tid, milli-weight) parallel arrays — exact
    *    integer dot, no per-pair allocation, no re-shuffle.
    * Milli-unit weights stay < ~2^21 per term at any plausible tf, so
    * a BIGINT dot overflows only past ~2^21 shared terms per pair —
    * not a document. */
  def t13TfidfCosine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t13PairTable(s, dir).orderBy($"doc_a", $"doc_b")
  }

  /** Memoized t13 pair table (doc_a, doc_b, cosine ≥ τ). */
  private[graft] def t13PairTable(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo("t13_pairs", dir)(tfidfCosinePairs(Tables.documents(s, dir), _))

  /** The t13 build over an arbitrary (doc_id, text) frame, exposed for
    * the plan audit. Its cached intermediates are kept in `scope`;
    * close it once the result is materialized.
    *
    * Measured non-move: d2-style exact-duplicate compression (run the
    * join over one rep per byte-identical-text group, expand after)
    * was built and REVERTED — with the prefix filter already bounding
    * candidate fan-out, the compression's extra text-table shuffles
    * (fingerprint window, global-df reconstruction, intra/inter
    * expansion union) measured 2× at sf0.1 (4.7→8.4 s) and breakeven
    * at the 20× probe (220→250 s, corpus ~1.4× byte-dup). Revisit only
    * for corpora where exact-dup rate is high AND the verify join
    * dominates. */
  private[graft] def tfidfCosinePairs(docs: DataFrame,
      scope: graft.Caches.Scope): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val tau = CosineThreshold
    val tf = scope.keep(docs
      .select($"doc_id", explode(tokens($"text")).as("token"))
      .filter($"token" =!= "")
      .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf")))
    val dfq = tf.groupBy($"token").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val kept = dfq.join(broadcast(nDocs))
      .filter($"df" * 10 <= $"n_docs")
    val dict = scope.keep(kept
      .repartitionByRange(s.sessionState.conf.numShufflePartitions,
        $"df", $"token")
      .sortWithinPartitions($"df", $"token")
      .select($"token", $"df", monotonically_increasing_id().as("tid")))
    val rows = scope.keep(tf.join(dict, "token").join(broadcast(nDocs))
      .select($"doc_id", $"tid",
        floor($"tf" * log($"n_docs".cast("double") / $"df") * 1000)
          .cast("long").as("wq"))
      .filter($"wq" > 0))
    val norms = scope.keep(
      rows.groupBy($"doc_id").agg(sum($"wq" * $"wq").as("n2")))
    val maxw = rows.join(norms, "doc_id")
      .select($"tid", ($"wq" / sqrt($"n2".cast("double"))).as("nw"))
      .groupBy($"tid").agg(max($"nw").as("mw"))
    // suffix ceiling from the frequent end (descending tid); indexed
    // while it still reaches τ (minus a rounding guard)
    val wSuf = Window.partitionBy($"doc_id").orderBy($"tid".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = rows.join(norms, "doc_id").join(maxw, "tid")
      .withColumn("ceil_mass",
        sum(($"wq" / sqrt($"n2".cast("double"))) * $"mw").over(wSuf))
    val docsArr = scope.keep(rows
      .groupBy($"doc_id")
      .agg(array_sort(collect_list(struct($"tid", $"wq"))).as("kv"))
      .select($"doc_id",
        transform($"kv", x => x.getField("tid")).as("ks"),
        transform($"kv", x => x.getField("wq")).as("vs")))
    val idx = scored.filter($"ceil_mass" >= tau - 1e-9)
      .select($"doc_id", $"tid")
    val full = rows.select($"doc_id", $"tid")
    val cands = idx.as("x").join(full.as("y"),
        $"x.tid" === $"y.tid" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"))
      .distinct()
    cands
      .join(docsArr.select($"doc_id".as("doc_a"), $"ks".as("ka"), $"vs".as("va")), "doc_a")
      .join(docsArr.select($"doc_id".as("doc_b"), $"ks".as("kb"), $"vs".as("vb")), "doc_b")
      .join(norms.select($"doc_id".as("doc_a"), $"n2".as("n2a")), "doc_a")
      .join(norms.select($"doc_id".as("doc_b"), $"n2".as("n2b")), "doc_b")
      .select($"doc_a", $"doc_b",
        // n2a·n2b would overflow Int64; sqrt·sqrt keeps every step an
        // IEEE correctly-rounded double op (deterministic cross-engine)
        (floor(call_function("sorted_dot", $"ka", $"va", $"kb", $"vb") /
          (sqrt($"n2a".cast("double")) * sqrt($"n2b".cast("double"))) *
          10000) / 10000.0).as("cosine"))
      .filter($"cosine" >= tau)
  }

  // t14 code-detect — the regex subset that compiles identically
  // under Java regex (Spark) and RE2 (DuckDB), the t8 discipline.
  /** Code-ish punctuation: braces/brackets/parens, statement and
    * operator glyphs prose essentially never carries. */
  val CodeSymbolRe = "[{}\\[\\]();=<>#|&]"
  /** Language keywords as whole words — note `if/for/while/class`
    * legitimately occur in prose, which is why keywords alone never
    * cross the threshold (see the score weights). */
  val CodeKeywordRe = "\\b(def|class|return|import|function|public|static|void|int|var|val|for|while|if|else)\\b"
  /** A line CONTINUING an indent block: newline followed by leading
    * whitespace (the (?m)^-free formulation both engines agree on). */
  val CodeIndentRe = "\\n[ \\t]"

  /** is_code threshold on the integer score — tuned on constructed
    * docs (spec): real code scores 700+, keyword-dense prose ≤ ~30. */
  val CodeScoreThreshold = 80

  /** T14: code-vs-prose detection — the training-mix gate that routes
    * documents to a code pipeline (or excludes them from a prose
    * one). Three deterministic signals, integer-combined:
    * symbol density (code punctuation per kchar, weight 2), keyword
    * density (per kchar, weight 1 — `if/for/while/class` occur in
    * ordinary prose, so keywords CORROBORATE but cannot alone cross
    * the line), and indent regularity (indented lines per kline).
    * `code_score = 2·sym/kchar + kw/kchar + ind/kline`,
    * `is_code = score ≥ 80` — pure per-row regex algebra,
    * scan speed at 100 TB like t1–t8.
    *
    * Honesty note (the t8 pattern): this synthetic corpus carries
    * ZERO code-symbol characters (measured corpus-wide), so every
    * real document scores near 0 and `is_code = false` — the entry is
    * oracle-checked for the COMPUTATION while the semantics spec
    * drives constructed code/prose docs where the signal is real. */
  def t14CodeDetect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    codeDetectOf(Tables.documents(s, dir)).orderBy($"doc_id")
  }

  /** The detector core over any (doc_id, text, …) frame. */
  private[graft] def codeDetectOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id",
      size(regexp_extract_all($"text", lit(CodeSymbolRe), lit(0)))
        .cast("long").as("n_symbols"),
      size(regexp_extract_all($"text", lit(CodeKeywordRe), lit(0)))
        .cast("long").as("n_keywords"),
      size(regexp_extract_all($"text", lit(CodeIndentRe), lit(0)))
        .cast("long").as("n_indented"),
      length($"text").cast("long").as("n_chars"),
      (size(regexp_extract_all($"text", lit("\\n"), lit(0))) + 1)
        .cast("long").as("n_lines"))
    .withColumn("code_score",
      expr("(n_symbols * 2000 + n_keywords * 1000) div greatest(n_chars, 1L) " +
        "+ (n_indented * 1000) div greatest(n_lines, 1L)"))
    .withColumn("is_code", $"code_score" >= CodeScoreThreshold)
  }

  /** T16: marginal n-gram NOVELTY per document — in doc_id (ingest)
    * order, how much of each document's 3-shingle content is seen here
    * FIRST? The curation metric behind "is this source still adding
    * new content or re-serving what we have" (the per-doc view of the
    * corpus-growth curves data-mixing papers draw): a shingle credits
    * the minimum doc_id containing it; novelty = novel/total distinct
    * shingles, an exact rational floor-quantized via `div` (the t2/t5
    * discipline). Complements p3/d9 (which score overlap against a
    * FIXED benchmark set — this scores against everything already
    * ingested).
    *
    * Shape at scale: the same inverted-index exchange d2/p3 already
    * carry — one explode, one shingle-keyed min aggregate (map-side
    * partial), one shingle-keyed join back, one doc-keyed count. No
    * window, no all-pairs; AQE splits hot shingles like d2's join. */
  def t16Novelty(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // round 14: the corpus-wide shingle stream tokenizes ONCE (memo),
    // and the join BACK on the shingle key is gone — n_novel(doc) is
    // just the count of shingles whose min-holder is the doc, i.e. a
    // doc-keyed aggregate OF the first-holder table itself; n_shingles
    // is a direct doc-keyed count. Two corpus-stream exchanges become
    // map-side-partial aggregates and the 2M-row shingle join becomes
    // a doc-cardinality join (guide §2.3/§2.4). Values identical:
    // shingles are distinct per doc, so the old per-row sum(when
    // first=doc) counts exactly the min-holder shingles.
    val sh = graft.Caches.memo("t16_shingles", dir) { _ =>
      Tables.documents(s, dir)
        .select($"doc_id", tokens($"text").as("w"))
        .select($"doc_id", explode(shinglesFromTokens($"w", 3)).as("shingle"))
    }
    val novel = sh.groupBy($"shingle").agg(min($"doc_id").as("first_doc"))
      .groupBy($"first_doc").agg(count(lit(1)).as("n_novel"))
    sh.groupBy($"doc_id").agg(count(lit(1)).as("n_shingles"))
      .join(novel, $"doc_id" === $"first_doc", "left")
      .select($"doc_id", $"n_shingles",
        coalesce($"n_novel", lit(0L)).as("n_novel"))
      .select($"doc_id", $"n_shingles", $"n_novel",
        (expr("n_novel * 10000 div n_shingles") / 10000.0).as("novelty"))
      .orderBy($"doc_id")
  }

  private[graft] def noveltyOracleSql: String =
    """WITH sh AS (
         SELECT doc_id, unnest(list_distinct(list_filter(
           list_transform(string_split(text, ' '), (x, i) ->
             CASE WHEN i + 2 <= len(string_split(text, ' '))
                  THEN x || ' ' || string_split(text, ' ')[i+1]
                         || ' ' || string_split(text, ' ')[i+2] END),
           s -> s IS NOT NULL))) AS shingle
         FROM documents),
       fst AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1)
       SELECT sh.doc_id, count(*) AS n_shingles,
         CAST(sum(CASE WHEN fst.first_doc = sh.doc_id THEN 1 ELSE 0 END)
           AS BIGINT) AS n_novel,
         (sum(CASE WHEN fst.first_doc = sh.doc_id THEN 1 ELSE 0 END) * 10000)
           // count(*) / 10000.0 AS novelty
       FROM sh JOIN fst ON sh.shingle = fst.shingle
       GROUP BY 1 ORDER BY 1"""

  /** T17: HEAVY-CHANGE detection between corpus snapshots (the
    * Cormode–Muthukrishnan "what's new" question asked of training
    * data): split the corpus at the doc_id midpoint into snapshot A
    * (earlier) and B (later), compute each token's share of its
    * snapshot in exact integer micro-units, and report the top-20 by
    * absolute share DRIFT — the distribution-shift alarm a data
    * pipeline wants between crawl batches (t6/t15 say what's big;
    * this says what CHANGED). Min combined count 5 keeps one-off
    * tokens out of the drift ranking.
    *
    * Shape at scale: one explode + one token-keyed two-phase
    * conditional count (both snapshots in ONE aggregate — never two
    * scans), totals broadcast, TakeOrdered top-20. The split point is
    * a scalar aggregate (K-bounded driver value, like centroids). */
  def t17HeavyChange(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val mid = docs.agg(expr("(max(doc_id) + 1) div 2")).as[Long].head()
    val cnt = docs.select($"doc_id", explode(tokens($"text")).as("token"))
      .filter($"token" =!= "")
      .groupBy($"token")
      .agg(sum(when($"doc_id" < mid, 1L).otherwise(0L)).as("na"),
        sum(when($"doc_id" >= mid, 1L).otherwise(0L)).as("nb"))
    val tots = cnt.agg(sum($"na").as("ta"), sum($"nb").as("tb"))
    cnt.filter($"na" + $"nb" >= 5)
      .crossJoin(broadcast(tots))
      .select($"token", $"na", $"nb",
        expr("na * 1000000 div ta").as("share_a_1e6"),
        expr("nb * 1000000 div tb").as("share_b_1e6"))
      .withColumn("drift_1e6", abs($"share_a_1e6" - $"share_b_1e6"))
      .orderBy($"drift_1e6".desc, $"token").limit(20)
  }

  private[graft] def heavyChangeOracleSql: String =
    """WITH mx AS (SELECT (max(doc_id) + 1) // 2 AS mid FROM documents),
       tok AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS token
         FROM documents),
       cnt AS (
         SELECT token,
           CAST(sum(CASE WHEN doc_id < mx.mid THEN 1 ELSE 0 END) AS BIGINT) AS na,
           CAST(sum(CASE WHEN doc_id >= mx.mid THEN 1 ELSE 0 END) AS BIGINT) AS nb
         FROM tok CROSS JOIN mx WHERE token <> '' GROUP BY 1),
       tots AS (SELECT CAST(sum(na) AS BIGINT) AS ta,
                  CAST(sum(nb) AS BIGINT) AS tb FROM cnt)
       SELECT token, na, nb,
         (na * 1000000) // ta AS share_a_1e6,
         (nb * 1000000) // tb AS share_b_1e6,
         abs((na * 1000000) // ta - (nb * 1000000) // tb) AS drift_1e6
       FROM cnt CROSS JOIN tots
       WHERE na + nb >= 5
       ORDER BY drift_1e6 DESC, token LIMIT 20"""

  /** T18: CROSS-corpus surprisal — t9's per-doc surprisal scored
    * against a REFERENCE unigram LM instead of the corpus's own: the
    * snapshot-A half (t17's doc_id-midpoint split) trains the add-one
    * model, snapshot-B docs are scored under it, OOV tokens smoothed
    * to count 0+1. This is the perplexity-filter shape of CCNet /
    * Wenzek et al. 2020 — "how surprising is this NEW document to the
    * distribution we already curated" — the quality/domain gate a
    * within-corpus surprisal (t9) can't express because a document
    * always helps train the model scoring it. Same log2 floor-quantize
    * discipline as t9.
    *
    * Shape at scale: the reference counts are one token aggregate
    * over half the corpus; scoring is one token-keyed LEFT join (OOV
    * rows survive with null→smoothed) + one doc aggregate — d2-class
    * exchanges, no window. */
  def t18CrossSurprisal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val mid = docs.agg(expr("(max(doc_id) + 1) div 2")).as[Long].head()
    val tok = docs.select($"doc_id", explode(tokens($"text")).as("token"))
      .filter($"token" =!= "")
    val ref = tok.filter($"doc_id" < mid)
      .groupBy($"token").agg(count(lit(1)).as("c"))
    val scalars = ref.agg(sum($"c").as("n_total"), count(lit(1)).as("v"))
    tok.filter($"doc_id" >= mid)
      .join(ref, Seq("token"), "left")
      .join(broadcast(scalars))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        (floor(avg(-log2((coalesce($"c", lit(0L)) + 1).cast("double") /
          ($"n_total" + $"v").cast("double"))) * 10000) / 10000.0)
          .as("cross_surprisal"))
      .orderBy($"doc_id")
  }

  private[graft] def crossSurprisalOracleSql: String =
    """WITH mx AS (SELECT (max(doc_id) + 1) // 2 AS mid FROM documents),
       tok AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS token
         FROM documents),
       tk AS (SELECT doc_id, token FROM tok WHERE token <> ''),
       ref AS (SELECT token, count(*) AS c FROM tk CROSS JOIN mx
               WHERE doc_id < mx.mid GROUP BY 1),
       sc AS (SELECT CAST(sum(c) AS BIGINT) AS n_total,
                count(*) AS v FROM ref)
       SELECT tk.doc_id, count(*) AS n_tokens,
         floor(avg(-log2(CAST(coalesce(ref.c, 0) + 1 AS DOUBLE) /
           CAST(sc.n_total + sc.v AS DOUBLE))) * 10000) / 10000.0
           AS cross_surprisal
       FROM tk CROSS JOIN mx CROSS JOIN sc
       LEFT JOIN ref ON tk.token = ref.token
       WHERE tk.doc_id >= mx.mid
       GROUP BY 1 ORDER BY 1"""

  /** Query tokens for t20 — mid-to-high-frequency corpus terms so
    * idf, tf saturation, and length normalization all carry signal at
    * every SF (same generator vocabulary across SFs). */
  val Bm25Query = Seq("query", "join", "filter")
  /** Okapi k1 (tf saturation) and b (length normalization). */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 25

  /** T20: BM25 RETRIEVAL (Robertson & Zaragoza 2009, the Okapi
    * weighting every retrieval / RAG-curation stack runs) — top-25
    * documents for a fixed query under
    * score(D) = Σ_q idf(q) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    * idf(q) = log(1 + (N−n_q+0.5)/(n_q+0.5)) (the always-positive
    * Robertson–Sparck-Jones form). idf is computed in LOG2 units —
    * a 1/ln2 constant rescale of the textbook ln that leaves the
    * ranking identical, because log2 is the engine-agreed primitive
    * (the t9 discipline); each per-term score floor-quantizes to 1e4
    * micro-units and the doc score is the exact INTEGER sum of its
    * term scores, ties broken by doc_id — fully hash-oracle-checked.
    * Every double expression is written in the SAME literal/operation
    * sequence in both engines (k1+1 as `1.2 + 1.0`, never the
    * pre-folded 2.2 — the two parses differ in the last ulp).
    *
    * Shape at scale: the corpus statistics (N, total tokens, per-term
    * document frequencies) are ONE map-side-partial aggregate to a
    * single broadcast row; scoring is then a SCAN-LOCAL per-row
    * expression (tf via array filters on the token array — no
    * explode, no token shuffle), and the top-25 plans as
    * TakeOrderedAndProject. Two scans, zero data-sized shuffles —
    * the 100 TB shape a posting-list engine needs an index for. */
  def t20Bm25(s: SparkSession, dir: String): DataFrame =
    bm25For(s, dir, Bm25Query, Bm25TopK)

  /** The reusable retrieval primitive behind t20 — BM25 top-k for ANY
    * token query (the §8c.4 parameterization): same exact-integer
    * micro-unit scoring, same two-scan zero-shuffle shape for any
    * query length (per-term df columns ride the one broadcast stats
    * row; the scoring expression unrolls per term into codegen). */
  def bm25For(s: SparkSession, dir: String, query: Seq[String],
      topK: Int): DataFrame = {
    import s.implicits._
    require(query.nonEmpty && query.distinct == query,
      s"bm25 query must be distinct non-empty tokens: $query")
    // Tokens are interpolated into the generated oracle SQL as
    // string literals; restrict to a quote-free charset so a token
    // can never break out of the literal.
    require(query.forall(_.matches("^[\\w-]+$")),
      s"bm25 query tokens must match ^[\\w-]+$$ (SQL-literal-safe): $query")
    val toks = Tables.documents(s, dir)
      .select($"doc_id", filter(tokens($"text"), t => t =!= "").as("tk"))
      .withColumn("dl", size($"tk").cast("long"))
    val aggs = count(lit(1)).as("n_docs") +:
      sum($"dl").as("total_tok") +:
      query.zipWithIndex.map { case (q, i) =>
        sum(when(array_contains($"tk", q), 1L).otherwise(0L)).as(s"df_$i") }
    val stats = toks.agg(aggs.head, aggs.tail: _*)
    val nD = $"n_docs".cast("double")
    val avgdl = $"total_tok".cast("double") / nD
    val score = query.zipWithIndex.map { case (q, i) =>
      val tf = size(filter($"tk", t => t === q)).cast("double")
      val nq = col(s"df_$i").cast("double")
      val idf = log2(lit(1.0) + (nD - nq + lit(0.5)) / (nq + lit(0.5)))
      floor(idf * (tf * (lit(Bm25K1) + lit(1.0))) /
        (tf + lit(Bm25K1) * (lit(1.0) - lit(Bm25B) +
          lit(Bm25B) * $"dl".cast("double") / avgdl)) * 10000)
        .cast("long")
    }.reduce(_ + _)
    toks.join(broadcast(stats))
      .select($"doc_id", $"dl", score.as("score_1e4"))
      .filter($"score_1e4" > 0)
      .orderBy($"score_1e4".desc, $"doc_id").limit(topK)
  }

  private[graft] def bm25OracleSql: String =
    bm25OracleSqlFor(Bm25Query, Bm25TopK)

  /** Oracle generator for any query (the spec cross-checks a second
    * query through it, so the parameterized path is oracle-grade). */
  private[graft] def bm25OracleSqlFor(query: Seq[String],
      topK: Int): String = {
    val terms = query.zipWithIndex
    val dfSel = terms.map { case (q, i) =>
      s"sum(CASE WHEN list_contains(tk, '$q') THEN 1 ELSE 0 END) AS df_$i"
    }.mkString(", ")
    val scoreExpr = terms.map { case (q, i) =>
      s"""CAST(floor(
           log2(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_$i AS DOUBLE) + 0.5)
             / (CAST(df_$i AS DOUBLE) + 0.5))
           * (CAST(len(list_filter(tk, x -> x = '$q')) AS DOUBLE) * ($Bm25K1 + 1.0))
           / (CAST(len(list_filter(tk, x -> x = '$q')) AS DOUBLE)
              + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * CAST(dl AS DOUBLE)
                / (CAST(total_tok AS DOUBLE) / CAST(n_docs AS DOUBLE))))
           * 10000) AS BIGINT)"""
    }.mkString(" + ")
    s"""WITH d AS (
           SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS tk
           FROM documents),
         dd AS (SELECT doc_id, tk,
             CAST(len(tk) AS BIGINT) AS dl FROM d),
         st AS (SELECT count(*) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS total_tok, $dfSel FROM dd)
         SELECT doc_id, dl, score_1e4 FROM (
           SELECT doc_id, dl, $scoreExpr AS score_1e4
           FROM dd CROSS JOIN st)
         WHERE score_1e4 > 0
         ORDER BY score_1e4 DESC, doc_id LIMIT $topK"""
  }

  /** T21: two-sample KOLMOGOROV–SMIRNOV quality drift between corpus
    * snapshots — the distribution-shift alarm on a CONTINUOUS score
    * where t17 watches token shares: split the corpus at the doc_id
    * midpoint (t17's discipline), D = sup_x |F_A(x) − F_B(x)| over
    * t2's quality scores, plus the classical 95% rejection line
    * D_crit = 1.358·√((n_A+n_B)/(n_A·n_B)). EXACT integer algebra:
    * quality is already 4-dp floor-quantized (t2), so the sup ranges
    * over the ≤ 10⁴+1 observed values; CDFs are integer micro-unit
    * floors (cnt·10⁶ div n), and the critical line floor-quantizes to
    * micro-units through one correctly-rounded IEEE sqrt (the p15
    * discipline) so the reject flag is an integer compare. The n_A·n_B
    * denominator multiplies AFTER each side casts to double (both
    * engines replay the identical IEEE sequence) — a BIGINT product
    * would silently wrap past ~3·10⁹ docs per side in Spark while the
    * oracle raised.
    *
    * Shape at scale: one t2 scan + one quality-keyed conditional
    * count (map-side partials). Everything after runs on the
    * HISTOGRAM — a ≤ 10⁴⁺¹-row bounded artifact (the q45 discipline),
    * so the two running-sum windows and the top-1 are artifact-sized,
    * never row-sized. */
  def t21KsDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, dir)
    val mid = docs.agg(expr("(max(doc_id) + 1) div 2")).as[Long].head()
    val q = t2QualityScore(s, dir).select($"doc_id", $"quality")
    val hist = q.groupBy($"quality").agg(
      sum(when($"doc_id" < mid, 1L).otherwise(0L)).as("ca"),
      sum(when($"doc_id" >= mid, 1L).otherwise(0L)).as("cb"))
    val tots = hist.agg(sum($"ca").as("na"), sum($"cb").as("nb"))
    val w = Window.orderBy($"quality")
      .rowsBetween(Window.unboundedPreceding, 0)
    hist
      .withColumn("fa", sum($"ca").over(w))
      .withColumn("fb", sum($"cb").over(w))
      .join(broadcast(tots))
      .select($"quality".as("at_quality"), $"na", $"nb",
        abs(expr("fa * 1000000 div na") - expr("fb * 1000000 div nb"))
          .as("d_stat_1e6"),
        floor(lit(1.358) * sqrt(($"na" + $"nb").cast("double") /
          ($"na".cast("double") * $"nb".cast("double"))) * 1000000)
          .cast("long").as("d_crit95_1e6"))
      .withColumn("reject_95", $"d_stat_1e6" > $"d_crit95_1e6")
      .orderBy($"d_stat_1e6".desc, $"at_quality").limit(1)
  }

  private[graft] def ksDriftOracleSql: String =
    """WITH mx AS (SELECT (max(doc_id) + 1) // 2 AS mid FROM documents),
       base AS (
         SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           CAST(len(list_filter(string_split(text, ' '),
               x -> x IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
             / greatest(len(string_split(text, ' ')), 1) AS swr,
           CAST(length(text) - length(regexp_replace(text, '[.,!?;:''"()]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1) AS pr
         FROM documents),
       scored AS (
         SELECT doc_id,
           floor(least(greatest((least(CAST(n_tokens AS DOUBLE) / 32.0, 1.0)
             + greatest(1.0 - abs(swr - 0.08) * 2.0, 0.0)
             + greatest(1.0 - pr * 4.0, 0.0)) / 3.0, 0.0), 1.0) * 10000) / 10000.0 AS quality
         FROM base),
       hist AS (
         SELECT quality,
           CAST(sum(CASE WHEN doc_id < mx.mid THEN 1 ELSE 0 END) AS BIGINT) AS ca,
           CAST(sum(CASE WHEN doc_id >= mx.mid THEN 1 ELSE 0 END) AS BIGINT) AS cb
         FROM scored CROSS JOIN mx GROUP BY 1),
       tots AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
                  CAST(sum(cb) AS BIGINT) AS nb FROM hist),
       cdf AS (
         SELECT quality,
           sum(ca) OVER (ORDER BY quality) AS fa,
           sum(cb) OVER (ORDER BY quality) AS fb
         FROM hist)
       SELECT quality AS at_quality, na, nb,
         CAST(abs((fa * 1000000) // na - (fb * 1000000) // nb) AS BIGINT)
           AS d_stat_1e6,
         CAST(floor(1.358 * sqrt(CAST(na + nb AS DOUBLE)
           / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) * 1000000) AS BIGINT) AS d_crit95_1e6,
         CAST(abs((fa * 1000000) // na - (fb * 1000000) // nb) AS BIGINT)
           > CAST(floor(1.358 * sqrt(CAST(na + nb AS DOUBLE)
             / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) * 1000000) AS BIGINT) AS reject_95
       FROM cdf CROSS JOIN tots
       ORDER BY d_stat_1e6 DESC, at_quality LIMIT 1"""

  // ---- t19: trained naive-Bayes language ID ------------------------

  /** The corpus languages, sorted (argmax tie-break order). */
  private[graft] val T19Langs = Vector("de", "en", "es", "fr", "zh")

  /** Per-language marker words — public stopword lists (romanized for
    * zh so the whitespace tokenizer applies uniformly). Some markers
    * COLLIDE across languages ("de" ∈ fr/es lists and the zh particle;
    * "la" ∈ fr/es) — deliberate: NB must win on the distribution, not
    * on disjoint vocabularies. */
  private[graft] val T19Markers: Map[String, Vector[String]] = Map(
    "de" -> Vector("der", "die", "das", "und", "mit", "nicht", "ein", "ist"),
    "en" -> Vector("the", "and", "of", "to", "that", "with", "for", "this"),
    "es" -> Vector("el", "la", "los", "de", "y", "que", "con", "para"),
    "fr" -> Vector("le", "la", "les", "de", "et", "un", "pour", "avec"),
    "zh" -> Vector("de", "shi", "zai", "wo", "ni", "ta", "men", "hao"))

  /** Marker-injection noise: 1 in 4 injected markers draws from a
    * uniformly-seeded language instead of the labeled one. */
  private[graft] val T19NoiseDen = 4

  private def t19Mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The t19 corpus: documents with deterministic seeded MARKER-WORD
    * enrichment. HONESTY BOUNDARY (the mm5 discipline applied to
    * text): the synthetic corpus carries ONE shared vocabulary across
    * all `lang` labels — a trained classifier is measurably vacuous
    * on the raw text (round 8: add-one NB scored 36.8% vs the 43.6%
    * majority baseline), and the testdata generator is driver-owned.
    * So the LANGUAGE SIGNAL is synthesized at this clearly-marked
    * boundary — 1 + n/8 marker words per doc from the labeled
    * language's public stopword list, 25% drawn from a seeded OTHER
    * language (confusion noise), appended to the original (shared,
    * near-uninformative) token stream — and everything downstream
    * (distributed NB training, smoothing, scoring, argmax) is the
    * real mechanism a real multilingual corpus would exercise. */
  private[graft] def t19Enriched(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"lang", $"text").as[(Long, String, String)]
      .map { case (id, lang, text) =>
        val toks = text.toLowerCase.split(" ").filter(_.nonEmpty)
        val k = 1 + toks.length / 8
        val markers = (0 until k).map { i =>
          val h = t19Mix(id * 1000003L + i)
          val srcLang =
            if (math.floorMod(h, T19NoiseDen.toLong) == 0L)
              T19Langs(math.floorMod(h >>> 2, T19Langs.size.toLong).toInt)
            else lang
          val words = T19Markers(srcLang)
          words(math.floorMod(h >>> 5, words.size.toLong).toInt)
        }
        (id, lang, toks.toSeq ++ markers)
      }
      .toDF("doc_id", "lang", "toks")
  }

  /** T19: TRAINED add-one multinomial naive-Bayes language ID over
    * the marker-enriched corpus (see `t19Enriched`'s honesty
    * boundary) — train on even doc_ids, score odd doc_ids, the
    * round-8 protocol that measured the raw corpus vacuous.
    *
    * Exactness: per-token log-likelihoods ln((cnt+1)/(tot+V)) and
    * log-priors floor-quantize to 1e6 micro-units (longs) BEFORE
    * summing, so per-(doc, lang) scores are integer sums —
    * addition-order-free, rerun-identical — and the argmax
    * (score desc, lang asc) is an integer/string compare. Seeded
    * enrichment isn't SQL-replicable → rows-only; the spec replays
    * the whole pipeline locally (same mix, same quantization) and
    * pins prediction-exact equality plus the accuracy-vs-majority
    * margin the raw corpus lacked.
    *
    * Shape at scale: training is one explode + one (lang, token)
    * count (map-side partials) + one lang-keyed total — model size is
    * vocab × langs, a data-independent artifact; scoring is one
    * explode, a ×|langs| widening, one token-keyed LEFT equi-join
    * against the model (unseen tokens coalesce to the smoothed miss
    * score), one (doc, lang) integer sum, and a 5-row-per-doc window
    * argmax partitioned BY DOC — every stage keys on token or doc,
    * nothing funnels. */
  def t19NbLangId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // enrichment is a scan-speed map — recomputing it per branch is
    // cheaper than pinning a data-sized cache nobody clears
    val enriched = t19Enriched(s, dir)
    val train = enriched.filter($"doc_id" % 2 === 0)
    val test = enriched.filter($"doc_id" % 2 === 1)
    val tokTrain = train.select($"lang", explode($"toks").as("tok"))
    val counts = tokTrain.groupBy($"lang", $"tok")
      .agg(count(lit(1)).as("cnt"))
    val totals = tokTrain.groupBy($"lang").agg(count(lit(1)).as("tot"))
    val vocab = tokTrain.agg(countDistinct($"tok").as("v"))
    val priors = train.groupBy($"lang")
      .agg(count(lit(1)).as("nd"))
      .join(broadcast(train.agg(count(lit(1)).as("ndAll"))))
      .select($"lang",
        floor(log($"nd".cast("double") / $"ndAll".cast("double")) * 1e6)
          .cast("long").as("prior_q"))
    // per-lang smoothing constants ride one broadcast row each
    val langConst = totals.join(broadcast(vocab))
      .select($"lang", $"tot", $"v",
        floor(log(lit(1.0) / ($"tot" + $"v").cast("double")) * 1e6)
          .cast("long").as("miss_q"))
    val model = counts.join(langConst, "lang")
      .select($"lang", $"tok",
        floor(log(($"cnt" + 1L).cast("double") /
          ($"tot" + $"v").cast("double")) * 1e6).cast("long").as("ll_q"))
    val testToks = test.select($"doc_id", $"lang".as("labeled_lang"),
      explode($"toks").as("tok"))
    val scored = testToks
      .crossJoin(broadcast(langConst.select($"lang", $"miss_q")))
      .join(model, Seq("lang", "tok"), "left")
      .groupBy($"doc_id", $"labeled_lang", $"lang")
      .agg(sum(coalesce($"ll_q", $"miss_q")).as("ll_sum_q"))
      .join(broadcast(priors), "lang")
      .select($"doc_id", $"labeled_lang", $"lang",
        ($"ll_sum_q" + $"prior_q").as("score_q"))
    val w = Window.partitionBy($"doc_id")
      .orderBy($"score_q".desc, $"lang")
    val out = scored
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"doc_id", $"labeled_lang", $"lang".as("pred_lang"),
        $"score_q", ($"lang" === $"labeled_lang").as("correct"))
      .orderBy($"doc_id")
    out
  }

  /** t14 oracle: the same regex algebra in DuckDB (RE2). */
  private[graft] def codeDetectOracleSql: String =
    raw"""SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[{}\[\]();=<>#|&]')) AS BIGINT) AS n_symbols,
         CAST(len(regexp_extract_all(text, '\b(def|class|return|import|function|public|static|void|int|var|val|for|while|if|else)\b')) AS BIGINT) AS n_keywords,
         CAST(len(regexp_extract_all(text, '\n[ \t]')) AS BIGINT) AS n_indented,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(regexp_extract_all(text, '\n')) + 1 AS BIGINT) AS n_lines,
         (n_symbols * 2000 + n_keywords * 1000) // greatest(n_chars, 1)
           + (n_indented * 1000) // greatest(n_lines, 1) AS code_score,
         code_score >= $CodeScoreThreshold AS is_code
       FROM documents ORDER BY doc_id"""
}
