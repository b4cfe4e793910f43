package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Operators and models take no process-global switches: the only JVM
  * property or environment reads allowed under `operators/` and `ml/`
  * are the deployment paths below. Size gates and tuning knobs are
  * constants, scoped in code (`GraphLocal.withGates`) where a spec must
  * force a regime. */
class GlobalSwitchSpec extends AnyFunSuite {

  private val Allowed = Set("java.io.tmpdir", "SPARK_GRAFT_MODEL_DIR")

  private val Read =
    """(sys\.props|sys\.env|System\.(getProperty|setProperty|getenv))[^"\n]*("([^"]*)")?""".r

  private def sources(dir: String): Seq[Path] = {
    val root = Paths.get("src/main/scala/graft", dir)
    assert(Files.isDirectory(root), s"$root not found (run from the repo root)")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
  }

  test("operators and ml read no JVM property or env var but the deployment paths") {
    val files = sources("operators") ++ sources("ml")
    assert(files.nonEmpty)
    val offending = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      m <- Read.findAllMatchIn(line)
      if !Option(m.group(4)).exists(Allowed)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offending.isEmpty, offending.mkString("\n", "\n", ""))
  }

  // a 32-bit hashCode rendered as a path token: two datasets sharing a
  // temp dir can collide on it and serve each other's artifacts
  private val HashName =
    """toHexString\([^\n]*\.hashCode|\.hashCode\)?\.toHexString""".r

  test("on-disk artifacts are named by a source digest, never a 32-bit hashCode") {
    val files = sources("operators") ++ sources("ml") :+
      Paths.get("src/main/scala/graft/Tables.scala")
    val offending = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if HashName.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offending.isEmpty, offending.mkString("\n", "\n", ""))
  }

  // a module-private memo bypasses the build ledger and `Caches.evict`:
  // derived artifacts are memoized in `graft.Caches` only
  test("operators and ml keep no registry of their own") {
    val offending = for {
      f <- sources("operators") ++ sources("ml")
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("TrieMap")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offending.isEmpty, offending.mkString("\n", "\n", ""))
  }

  // the co-purchase graph is thresholded in one builder
  // (`Graph.copurchaseHalf`); a second copy can drift from it and from
  // the oracle's HAVING count(*) >= 2
  test("operators apply the co-purchase threshold in one place") {
    val hits = for {
      f <- sources("operators")
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("$\"n_orders\" >= 2")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.size <= 1, hits.mkString("\n", "\n", ""))
  }

  // the vector-search family ranks through one top-k slate
  // (`Similarity.slate`, a topk_agg) and builds one IVF centroid
  // literal; a window rank or a second literal is a second copy that
  // can drift from it. s12's fusion keeps the one window: it ranks
  // summed rank contributions, not a scored candidate stream.
  private val CentroidLiteral = """array\([^\n]*\.map\([^\n]*array\([^\n]*\.map\(lit\)""".r

  test("similarity keeps one window rank and one centroid literal") {
    val f = Paths.get("src/main/scala/graft/operators/Similarity.scala")
    val lines = Files.readAllLines(f).asScala.zipWithIndex
    def hits(p: String => Boolean) =
      lines.collect { case (line, i) if p(line) => s"$f:${i + 1}: ${line.trim}" }
    val windows = hits(_.contains("row_number().over"))
    assert(windows.size <= 1, windows.mkString("\n", "\n", ""))
    val literals = hits(CentroidLiteral.findFirstIn(_).isDefined)
    assert(literals.size <= 1, literals.mkString("\n", "\n", ""))
  }

  // a defaulted Boolean parameter is a mode switch that only callers
  // passing the non-default value ever reach; each kernel ships one
  // schedule, so a mode is an explicit argument at every call or gone
  private val DefaultedBoolean = """(^|[(,])\s*\w+\s*:\s*Boolean\s*=(?!>)""".r

  test("operators and ml declare no defaulted Boolean parameter") {
    val offending = for {
      f <- sources("operators") ++ sources("ml")
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if DefaultedBoolean.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offending.isEmpty, offending.mkString("\n", "\n", ""))
  }

  // a build's intermediates are kept in a `Caches.Scope`, which
  // releases them on success and on failure; a hand-kept list or a
  // straight-line unpersist leaks the frames when the kernel throws
  private val FrameList = """ListBuffer(\.empty)?\[[\w.]*DataFrame\]""".r

  // the `unpersist(` lines a Scope cannot own, each with its reason
  private val UnpersistAllowed = Map(
    ("operators/Layout.scala", "} finally rdd.unpersist(false)") ->
      "compactFrame persists an RDD, not a DataFrame, across its two passes")

  test("cached intermediates are released through a Caches scope") {
    val lists = for {
      f <- sources("")
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if FrameList.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(lists.isEmpty, lists.mkString("\n", "\n", ""))
    val root = Paths.get("src/main/scala/graft")
    val hits = for {
      f <- Seq("operators", "ml", "multimodal", "streaming").flatMap(sources)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("unpersist(")
    } yield (root.relativize(f).toString, line.trim, i + 1)
    val offending = hits.filterNot(h => UnpersistAllowed.contains((h._1, h._2)))
    assert(offending.isEmpty,
      offending.map(h => s"${h._1}:${h._3}: ${h._2}").mkString("\n", "\n", ""))
    val stale = UnpersistAllowed.keySet -- hits.map(h => (h._1, h._2))
    assert(stale.isEmpty, s"allow-list entries that match no line: $stale")
  }

  // a raw `.cache()` has no owner that releases it: a build's
  // intermediates go through `Scope.keep`, a loop state through
  // `localCheckpoint`. What is left are the frames a session artifact
  // returns, which `Caches.evict` unpersists; each may match one line.
  private val CacheAllowed = Map(
    ("operators/Similarity.scala",
      "val base = assigned.withColumn(\"nrm\", sqrt(dot($\"v\", $\"v\"))).cache()") ->
      "d5_index artifact: the normed IVF assignment it returns",
    ("operators/Similarity.scala",
      "val assigned = model.transform(emb).select($\"vec_id\", $\"v\", $\"cluster\").cache()") ->
      "ivf artifact: the IVF cluster assignment",
    ("operators/Similarity.scala", ".parquet(new java.io.File(root, \"edges\").getPath).cache()") ->
      "knn_graph artifact: s15's adjacency read back from its on-disk index",
    ("operators/Similarity.scala", ".cache()") ->
      "pq_index artifact: the packed PQ code blocks",
    ("operators/Dedup.scala",
      "val docIdx = s.read.parquet(new java.io.File(root, \"sigs\").getPath).cache()") ->
      "d11 index artifact: the signature table read back from disk",
    ("operators/Dedup.scala", ".select($\"old_id\", $\"band\", $\"bh\").cache()") ->
      "d11 index artifact: the band postings read back from disk",
    ("ml/Recommender.scala",
      "val assigned = km.transform(factors).select($\"id\", $\"v\", $\"nrm\", $\"cluster\").cache()") ->
      "item_ivf artifact: the ALS factors' cluster assignment",
    ("ml/Recommender.scala", ".cache()") ->
      "item_packed artifact: the packed inverted lists dot_topk scans")

  test("raw caches are session artifacts on the allow-list") {
    val root = Paths.get("src/main/scala/graft")
    val hits = for {
      f <- Seq("operators", "ml", "multimodal", "streaming").flatMap(sources)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains(".cache()")
    } yield (root.relativize(f).toString, line.trim, i + 1)
    val byKey = hits.groupBy(h => (h._1, h._2))
    val offending = byKey.collect {
      case (k, hs) if !CacheAllowed.contains(k) || hs.size > 1 => hs
    }.flatten.toSeq.sortBy(h => (h._1, h._3))
    assert(offending.isEmpty,
      offending.map(h => s"${h._1}:${h._3}: ${h._2}").mkString("\n", "\n", ""))
    val stale = CacheAllowed.keySet -- byKey.keySet
    assert(stale.isEmpty, s"allow-list entries that match no line: $stale")
  }
}
