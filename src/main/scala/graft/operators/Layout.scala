package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Data-layout operators: multi-dimensional clustering for scan
  * pruning, plus small-file compaction — the two lakehouse
  * maintenance primitives (OPTIMIZE and OPTIMIZE…ZORDER).
  *
  * At 100 TB the cheapest query is the one that never reads the file:
  * parquet row-group / file min-max stats prune a scan only when the
  * layout puts correlated values together. A linear sort gives perfect
  * pruning on ONE column and none on the others; a Z-order (Morton)
  * interleave gives useful bounding boxes on ALL interleaved columns
  * at once — the standard lakehouse layout for multi-dimensional
  * filters (bit-interleaving goes back to Morton 1966; every modern
  * table format exposes it as OPTIMIZE ... ZORDER BY).
  *
  * The z-key is pure integer bit arithmetic (shift/mask spread +
  * interleave), fully codegen'd, engine-reproducible, and cheap enough
  * to compute at write time on every row. `zorderKey` is the reusable
  * column function; `z1ZorderStats` is the suite entry that
  * hash-checks the interleave against the oracle's identical bit
  * arithmetic and reports per-bucket bounding boxes — the direct
  * evidence of locality (each coarse z-bucket covers a tight box in
  * (part, supp) space, which is exactly what min-max pruning needs).
  */
object Layout {

  /** Insert one zero bit between each of the low 21 bits of `c`
    * (values must be < 2^21): the classic 5-step shift-mask spread.
    * Long arithmetic end to end — `shiftleft` on an int column would
    * wrap at 32 bits. */
  private[graft] def spread21(c: Column): Column = {
    val x0 = c.cast("long").bitwiseAND(lit(0x1FFFFFL))
    val x1 = (x0.bitwiseOR(shiftleft(x0, 16))).bitwiseAND(lit(0x0000FFFF0000FFFFL))
    val x2 = (x1.bitwiseOR(shiftleft(x1, 8))).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    val x3 = (x2.bitwiseOR(shiftleft(x2, 4))).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    val x4 = (x3.bitwiseOR(shiftleft(x3, 2))).bitwiseAND(lit(0x3333333333333333L))
    (x4.bitwiseOR(shiftleft(x4, 1))).bitwiseAND(lit(0x5555555555555555L))
  }

  /** 2-D Morton key: bits of `a` at even positions, `b` at odd. Total
    * order on the key is the Z-curve through (a, b) space. Bounds:
    * both inputs < 2^21 (key < 2^42) — catalog-key-scale limits. */
  def zorderKey(a: Column, b: Column): Column =
    spread21(a).bitwiseOR(shiftleft(spread21(b), 1))

  /** Small-file COMPACTION — the other lakehouse maintenance primitive
    * next to z-ordering: a streaming ingest leaves thousands of tiny
    * files (one per micro-batch per partition), and at 100 TB the
    * scan's task-scheduling overhead and the namenode's file count
    * both bill per FILE, not per byte. Rewrite the directory into
    * EXACTLY ⌈rows / targetRecordsPerFile⌉ files, each holding
    * ⌊n/parts⌋ or ⌈n/parts⌉ rows (so every file sits in
    * [target/2, target] whenever parts ≥ 2 — balanced division, not
    * "fill to target and leave a runt tail").
    *
    * Why not `repartition(parts)` + `maxRecordsPerFile`: round-robin
    * repartition is only APPROXIMATELY even — each input partition
    * deals its rows starting at a per-partition offset, so output
    * partitions drift by up to the input-partition count. When n is an
    * exact multiple of the target (the common case for a compaction
    * job), any +1 overflow makes `maxRecordsPerFile` split that
    * partition into an extra runt file, breaking both the file-count
    * and the size-band contract (found by this operator's own spec:
    * 6,000 rows at 2,000/file produced 4 files). And `coalesce` is
    * worse — it merges unevenly and cannot split at all.
    *
    * The exact construction: one cheap pass collects per-input-
    * partition row counts (a bounded ≤#input-files driver artifact —
    * the q45/withGlobalRunningSum offsets pattern), turning them into
    * exclusive prefix offsets; the data pass then knows each row's
    * exact global rank r without any sort, assigns bucket
    * b = r·parts/n (balanced contiguous ranges), and an identity
    * Partitioner places bucket b in output partition b. Hash
    * partitioning can collide two buckets into one file and
    * range partitioning is sample-estimated (boundaries can miss by a
    * few rows) — the exact bucket→file mapping is the one placement
    * the declarative API cannot express, which is why this is the
    * repo's single non-stub use of an RDD partitioner. The shuffle is
    * the same one `repartition` would pay; a compaction rewrite is
    * I/O-bound, so the Row-encoder detour is noise. Content is
    * preserved row-for-row — the spec compares full multisets. An
    * `orderBy(zorderKey(...))` composed before this write is exactly
    * OPTIMIZE ... ZORDER. */
  def compact(s: SparkSession, src: String, dst: String,
      targetRecordsPerFile: Long): Long =
    compactFrame(s.read.parquet(src), dst, targetRecordsPerFile)

  /** OPTIMIZE … ZORDER BY (a, b): one maintenance rewrite composing
    * the two primitives — a global z-key sort feeding the exact
    * balanced compaction. Because the compaction cuts a SORTED
    * sequence into contiguous rank buckets, the output files carry
    * non-overlapping z-key ranges: every file is a tight Z-interval,
    * which is exactly what makes footer min-max stats prune on BOTH
    * interleaved dimensions at once (z2's accounting, now physical).
    * Returns the output file count. */
  def optimizeZorder(s: SparkSession, src: String, dst: String,
      targetRecordsPerFile: Long, a: String, b: String): Long =
    compactFrame(
      s.read.parquet(src).orderBy(zorderKey(col(a), col(b)), col(a), col(b)),
      dst, targetRecordsPerFile)

  /** OPTIMIZE … by HILBERT curve — `optimizeZorder`'s locality
    * upgrade: the same balanced compaction over the Hilbert total
    * order. Because the file cuts land at arbitrary ROW-COUNT
    * boundaries (not bit-aligned tiles), this is exactly the regime
    * where the Hilbert key's Manhattan continuity buys tighter
    * per-file boxes than Morton (z4's measured comparison); each
    * output file still carries a non-overlapping curve interval, so
    * footer min-max stats prune on both dimensions. */
  def optimizeHilbert(s: SparkSession, src: String, dst: String,
      targetRecordsPerFile: Long, a: String, b: String): Long =
    compactFrame(
      s.read.parquet(src).orderBy(hilbertKey(col(a), col(b)), col(a), col(b)),
      dst, targetRecordsPerFile)

  /** Frame-input compaction core. The input RDD is persisted for the
    * duration: the size pass and the data pass MUST observe the same
    * physical partitioning, and any exchange above (a z-order sort's
    * RangePartitioner re-SAMPLES per job, seeded by the rdd id) would
    * hand pass 2 different partition offsets than pass 1 computed —
    * the q49/withGlobalRunningSum both-branches-one-shuffle lesson applied
    * at the RDD layer. A plain parquet read is stable without the
    * persist; the persist makes the contract hold for ANY input. */
  def compactFrame(df: org.apache.spark.sql.DataFrame, dst: String,
      targetRecordsPerFile: Long): Long = {
    val s = df.sparkSession
    val rdd = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // pass 1: per-partition sizes -> exclusive offsets (bounded artifact)
    val sizes = rdd.mapPartitionsWithIndex { (pid, it) =>
      var c = 0L; while (it.hasNext) { it.next(); c += 1 }; Iterator((pid, c))
    }.collect().sortBy(_._1).map(_._2)
    val n = sizes.sum
    val parts = math.max(1L, (n + targetRecordsPerFile - 1) / targetRecordsPerFile).toInt
    if (n == 0L) {
      df.write.mode("overwrite").parquet(dst)
      return parts
    }
    val offsets = sizes.scanLeft(0L)(_ + _)
    // pass 2: exact global rank = partition offset + local position;
    // balanced buckets (first n%parts buckets take one extra row —
    // same ranges as floor(r*parts/n) without the 128-bit multiply);
    // identity partitioner -> one file per bucket, exactly
    // floor/ceil(n/parts) rows each
    val q = n / parts; val rem = n % parts; val cut = rem * (q + 1L)
    val bucketed = rdd.mapPartitionsWithIndex { (pid, it) =>
      var r = offsets(pid)
      it.map { row =>
        val b = if (r < cut) r / (q + 1L) else rem + (r - cut) / q
        r += 1L; (b, row)
      }
    }.partitionBy(new org.apache.spark.Partitioner {
      override def numPartitions: Int = parts
      override def getPartition(key: Any): Int = key.asInstanceOf[Long].toInt
    }).values
    s.createDataFrame(bucketed, df.schema)
      .write.mode("overwrite").parquet(dst)
    parts
    } finally rdd.unpersist(false)
  }

  /** Z1: z-order layout audit over lineitem keyed on
    * (l_partkey, l_suppkey) — per coarse z-bucket (key >> 12): row
    * count and the bucket's bounding box in both dimensions. Buckets
    * are 4096-cell Z-tiles, so each bounding box is provably ≤ a
    * 64×64-aligned region of (part, supp) space — tight boxes on BOTH
    * columns simultaneously, which a linear sort cannot give. The
    * whole computation is one scan + one hash aggregation on the
    * bucket key; output is bucket-count-sized. */
  def z1ZorderStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .select($"l_partkey", $"l_suppkey",
        zorderKey($"l_partkey", $"l_suppkey").as("zkey"))
      .groupBy(shiftright($"zkey", 12).as("zbucket"))
      .agg(count(lit(1)).as("n"),
        min($"l_partkey").as("min_part"), max($"l_partkey").as("max_part"),
        min($"l_suppkey").as("min_supp"), max($"l_suppkey").as("max_supp"))
      .orderBy($"zbucket")
  }

  /** Hilbert key domain: 21 bits per dimension — the same catalog-key
    * bound as `zorderKey` (keys < 2^21, index < 2^42), so the two
    * layouts are directly comparable on the same columns. */
  val HilbertBits = 21

  /** 2-D HILBERT index column: position of (a, b) along the Hilbert
    * curve through the 2^21 × 2^21 grid — `zorderKey`'s locality
    * upgrade. One native loop-codegen expression
    * (functions/HilbertIndex.scala): consecutive key values are
    * Manhattan-adjacent cells (the property Morton order loses at
    * every power-of-two boundary), so contiguous key ranges — the
    * file cuts an OPTIMIZE rewrite produces — cover strictly tighter
    * bounding boxes for min-max pruning. */
  def hilbertKey(a: Column, b: Column): Column =
    call_function("hilbert_xy2d", a.cast("long"), b.cast("long"),
      lit(HilbertBits))

  /** Z4: Hilbert-curve layout audit — z1's twin under the Hilbert
    * key, same surface (per coarse curve bucket: row count + bounding
    * box in both dimensions) so the two curves' locality is
    * hash-checked AND comparable row-for-row. Each 4096-cell bucket
    * of a Hilbert curve is a CONNECTED region of (part, supp) space
    * (curve continuity), where a Z bucket at the same granularity can
    * straddle a discontinuity jump; Round12Spec measures the
    * aggregate bounding-box area of both layouts on this corpus and
    * pins the Hilbert ≤ Morton direction. Same shape as z1: one scan
    * + one hash aggregation on the bucket key, output
    * bucket-count-sized. */
  def z4HilbertStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .select($"l_partkey", $"l_suppkey",
        hilbertKey($"l_partkey", $"l_suppkey").as("hkey"))
      .groupBy(shiftright($"hkey", 12).as("hbucket"))
      .agg(count(lit(1)).as("n"),
        min($"l_partkey").as("min_part"), max($"l_partkey").as("max_part"),
        min($"l_suppkey").as("min_supp"), max($"l_suppkey").as("max_supp"))
      .orderBy($"hbucket")
  }

  /** Z4 oracle: the Hilbert xy→d loop unrolled — one CTE per bit
    * level (21 steps), each replaying exactly the expression's
    * arithmetic: quadrant bits from the CURRENT (x, y), the s²-scaled
    * Gray-code increment, then the conditional reflect + swap. DuckDB
    * `xor` on the {0,1,3} operands ≡ the generated `^`. */
  private[graft] def z4OracleSql(): String = {
    val steps = (HilbertBits - 1 to 0 by -1).map { i =>
      val s = 1L << i
      s""",
         h_$i AS (
           SELECT l_partkey, l_suppkey,
             d + ${s * s} * xor(3 * rx, ry) AS d,
             CASE WHEN ry = 0
               THEN (CASE WHEN rx = 1 THEN ${s - 1} - y ELSE y END)
               ELSE x END AS x,
             CASE WHEN ry = 0
               THEN (CASE WHEN rx = 1 THEN ${s - 1} - x ELSE x END)
               ELSE y END AS y
           FROM (
             SELECT *,
               CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx,
               CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry
             FROM h_${i + 1}))"""
    }.mkString
    s"""WITH h_$HilbertBits AS (
           SELECT l_partkey, l_suppkey,
             CAST(l_partkey AS BIGINT) AS x,
             CAST(l_suppkey AS BIGINT) AS y,
             CAST(0 AS BIGINT) AS d
           FROM lineitem)$steps
         SELECT d >> 12 AS hbucket, count(*) AS n,
           min(l_partkey) AS min_part, max(l_partkey) AS max_part,
           min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
         FROM h_0 GROUP BY 1 ORDER BY 1"""
  }

  /** The z2 predicate box — a rectangular filter on BOTH interleaved
    * dimensions, the workload z-ordering exists for. */
  val Z2PartLo = 1000L; val Z2PartHi = 1500L
  val Z2SuppLo = 50L;   val Z2SuppHi = 120L

  /** Z2: zone-map pruning accounting — the skip-scan arithmetic a
    * lakehouse reader runs BEFORE touching data, made explicit as a
    * query. Treat z1's per-bucket bounding boxes as the file-level
    * min-max stats a parquet footer carries; for the fixed predicate
    * box, report how many buckets (files) survive the min-max overlap
    * test and the row-count upper bound they admit, next to the exact
    * match count from the data. The gap `candidate_rows − exact_rows`
    * is the false-positive cost of the layout, and
    * `n_buckets − n_candidate_buckets` is I/O that never happens — at
    * 100 TB the ratio IS the query's cost model. All counts and bounds
    * are exact integers (full SQL oracle); the spec additionally
    * proves soundness (scanning only candidate buckets loses no
    * matching row) and that pruning is real on this layout.
    *
    * Shape at scale: the zone map is bucket-cardinality-sized (a
    * bounded artifact), so the overlap test and both aggregates are
    * metadata-scale; only `exact_rows` touches data, with the
    * conjunctive predicate pushed to the scan. */
  def z2ZonemapPrune(s: SparkSession, dir: String,
      pLo: Long = Z2PartLo, pHi: Long = Z2PartHi,
      sLo: Long = Z2SuppLo, sHi: Long = Z2SuppHi): DataFrame = {
    import s.implicits._
    val zm = z1ZorderStats(s, dir)
    val tot = zm.agg(count(lit(1)).as("n_buckets"), sum($"n").as("n_rows"))
    val cand = zm.filter($"max_part" >= pLo && $"min_part" <= pHi &&
        $"max_supp" >= sLo && $"min_supp" <= sHi)
      .agg(count(lit(1)).as("n_candidate_buckets"),
        coalesce(sum($"n"), lit(0L)).as("candidate_rows"))
    val exact = Tables.lineitem(s, dir)
      .filter($"l_partkey".between(pLo, pHi) && $"l_suppkey".between(sLo, sHi))
      .agg(count(lit(1)).as("exact_rows"))
    tot.join(broadcast(cand)).join(broadcast(exact))
  }

  // ----------------------------------------------------------------
  // Z3: bloom-filter skip accounting for point lookups
  // ----------------------------------------------------------------

  /** z3 bloom geometry: k = 3 hash functions, m = 16^3 = 4096 slots
    * each (3 md5 hex chars), per z-bucket. */
  val Z3Hashes = 3
  val Z3HexChars = 3
  /** Point-lookup probes: the smallest distinct orderkeys. */
  val Z3Probes = 10

  /** Z3: BLOOM-FILTER skip accounting — z2's twin for the predicate
    * shape zone maps CANNOT serve: a point lookup on a column the
    * layout doesn't cluster by. The z1 layout orders by (part, supp),
    * so every z-bucket spans nearly the whole `l_orderkey` range and
    * the min-max test admits almost every bucket; a per-bucket BLOOM
    * of the orderkeys (what parquet bloom filters / Delta & Iceberg
    * column blooms store in the footer) prunes to nearly the exact
    * bucket set. For each probe key the output carries the whole
    * comparison: total buckets, zone-map candidates (+ admitted
    * rows), bloom candidates (+ admitted rows), and ground truth.
    *
    * The bloom is plain relational algebra, so the WHOLE path — build
    * and probe — replays in SQL: slot_i(key) = first 3 md5 hex chars
    * of "i:key" tagged by function id (k=3, m=4096 per function); a
    * bucket's filter is its DISTINCT slot set; a bucket is a
    * candidate iff all k probe slots are present. No false negatives
    * by construction (spec + both engines agree exactly).
    *
    * Shape at scale: the position set is the metadata artifact a
    * reader keeps per file — bounded by k·m per bucket regardless of
    * rows (saturation = honest fpp loss, never wrong skips); the
    * probe side is K-bounded (probes × k rows), so the candidate
    * test is a broadcast-scale join; only ground truth touches data,
    * with the key list pushed to the scan. */
  def z3BloomSkip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def slots(key: Column): Column = array((0 until Z3Hashes).map { i =>
      concat(lit(s"$i:"),
        substring(md5(concat(lit(s"$i:"), key.cast("string")).cast("binary")),
          1, Z3HexChars))
    }: _*)
    val rows = Tables.lineitem(s, dir)
      .select($"l_orderkey",
        shiftright(zorderKey($"l_partkey", $"l_suppkey"), 12).as("zbucket"))
    // The full position SET is what a lakehouse reader would PERSIST;
    // this query only ever probes it with Z3Probes × k slot values, so
    // the bucket-keyed DISTINCT that materialized the set (a rows×k
    // string exchange — the entry's dominant cost, r14 before-plan) is
    // dead weight: the probe join runs against the RAW slot stream and
    // `countDistinct(pos)` below dedupes the survivors (identical
    // candidate sets — a bucket matches iff all k probe slots occur).
    // Guide §2.3: the selective filter moves BELOW the exchange; what
    // crosses is probes-sized, not corpus-sized.
    val positions = rows
      .select($"zbucket", explode(slots($"l_orderkey")).as("pos"))
    val zm = rows.groupBy($"zbucket")
      .agg(count(lit(1)).as("n"),
        min($"l_orderkey").as("lo"), max($"l_orderkey").as("hi"))
    val tot = zm.agg(count(lit(1)).as("n_buckets"))
    val probes = rows.select($"l_orderkey").distinct()
      .orderBy($"l_orderkey").limit(Z3Probes)
    val probePos = probes
      .select($"l_orderkey", explode(slots($"l_orderkey")).as("pos"))
    val bloomCand = broadcast(probePos).join(positions, "pos")
      .groupBy($"l_orderkey", $"zbucket")
      .agg(countDistinct($"pos").as("nhit"))
      .filter($"nhit" === Z3Hashes)
      .join(zm.select($"zbucket", $"n"), "zbucket")
      .groupBy($"l_orderkey")
      .agg(count(lit(1)).as("bloom_buckets"), sum($"n").as("bloom_rows"))
    val zmCand = broadcast(probes)
      .join(zm, $"l_orderkey".between($"lo", $"hi"))
      .groupBy($"l_orderkey")
      .agg(count(lit(1)).as("zm_buckets"), sum($"n").as("zm_rows"))
    val exact = rows.join(broadcast(probes), "l_orderkey")
      .groupBy($"l_orderkey")
      .agg(countDistinct($"zbucket").as("exact_buckets"),
        count(lit(1)).as("exact_rows"))
    probes.crossJoin(broadcast(tot))
      .join(broadcast(zmCand), Seq("l_orderkey"), "left")
      .join(broadcast(bloomCand), Seq("l_orderkey"), "left")
      .join(broadcast(exact), Seq("l_orderkey"), "left")
      .select($"l_orderkey", $"n_buckets",
        coalesce($"zm_buckets", lit(0L)).as("zm_buckets"),
        coalesce($"zm_rows", lit(0L)).as("zm_rows"),
        coalesce($"bloom_buckets", lit(0L)).as("bloom_buckets"),
        coalesce($"bloom_rows", lit(0L)).as("bloom_rows"),
        coalesce($"exact_buckets", lit(0L)).as("exact_buckets"),
        coalesce($"exact_rows", lit(0L)).as("exact_rows"))
      .orderBy($"l_orderkey")
  }

  private[graft] def z3OracleSql(): String =
    s"""WITH b0 AS (
           SELECT l_orderkey, l_partkey & 2097151 AS a, l_suppkey & 2097151 AS b
           FROM lineitem),
         b1 AS (SELECT l_orderkey,
           (a | (a << 16)) & 281470681808895 AS a,
           (b | (b << 16)) & 281470681808895 AS b FROM b0),
         b2 AS (SELECT l_orderkey,
           (a | (a << 8)) & 71777214294589695 AS a,
           (b | (b << 8)) & 71777214294589695 AS b FROM b1),
         b3 AS (SELECT l_orderkey,
           (a | (a << 4)) & 1085102592571150095 AS a,
           (b | (b << 4)) & 1085102592571150095 AS b FROM b2),
         b4 AS (SELECT l_orderkey,
           (a | (a << 2)) & 3689348814741910323 AS a,
           (b | (b << 2)) & 3689348814741910323 AS b FROM b3),
         b5 AS (SELECT l_orderkey,
           (a | (a << 1)) & 6148914691236517205 AS a,
           (b | (b << 1)) & 6148914691236517205 AS b FROM b4),
         rws AS MATERIALIZED (
           SELECT l_orderkey, (a | (b << 1)) >> 12 AS zbucket FROM b5),
         h(i) AS (VALUES ('0'), ('1'), ('2')),
         pos AS MATERIALIZED (
           SELECT DISTINCT zbucket,
             h.i || ':' || substr(md5(h.i || ':' ||
               CAST(l_orderkey AS VARCHAR)), 1, $Z3HexChars) AS pos
           FROM rws CROSS JOIN h),
         zm AS MATERIALIZED (
           SELECT zbucket, count(*) AS n, min(l_orderkey) AS lo,
             max(l_orderkey) AS hi
           FROM rws GROUP BY 1),
         tot AS (SELECT count(*) AS n_buckets FROM zm),
         probes AS MATERIALIZED (
           SELECT DISTINCT l_orderkey FROM rws ORDER BY 1 LIMIT $Z3Probes),
         ppos AS (SELECT l_orderkey,
             h.i || ':' || substr(md5(h.i || ':' ||
               CAST(l_orderkey AS VARCHAR)), 1, $Z3HexChars) AS pos
           FROM probes CROSS JOIN h),
         bc AS (SELECT p.l_orderkey, x.zbucket
           FROM ppos p JOIN pos x ON p.pos = x.pos
           GROUP BY 1, 2 HAVING count(DISTINCT p.pos) = $Z3Hashes),
         bcn AS (SELECT bc.l_orderkey, count(*) AS bloom_buckets,
             CAST(sum(zm.n) AS BIGINT) AS bloom_rows
           FROM bc JOIN zm ON bc.zbucket = zm.zbucket GROUP BY 1),
         zc AS (SELECT p.l_orderkey, count(*) AS zm_buckets,
             CAST(sum(z.n) AS BIGINT) AS zm_rows
           FROM probes p JOIN zm z ON p.l_orderkey BETWEEN z.lo AND z.hi
           GROUP BY 1),
         ex AS (SELECT l_orderkey, count(DISTINCT zbucket) AS exact_buckets,
             count(*) AS exact_rows
           FROM rws WHERE l_orderkey IN (SELECT l_orderkey FROM probes)
           GROUP BY 1)
         SELECT p.l_orderkey, tot.n_buckets,
           coalesce(zc.zm_buckets, 0) AS zm_buckets,
           coalesce(zc.zm_rows, 0) AS zm_rows,
           coalesce(bcn.bloom_buckets, 0) AS bloom_buckets,
           coalesce(bcn.bloom_rows, 0) AS bloom_rows,
           coalesce(ex.exact_buckets, 0) AS exact_buckets,
           coalesce(ex.exact_rows, 0) AS exact_rows
         FROM probes p CROSS JOIN tot
         LEFT JOIN zc ON zc.l_orderkey = p.l_orderkey
         LEFT JOIN bcn ON bcn.l_orderkey = p.l_orderkey
         LEFT JOIN ex ON ex.l_orderkey = p.l_orderkey
         ORDER BY 1"""
}
