package graft

/** Local BigInt references of the Louvain move schedule the engine
  * ships (`Graph.louvainMovesW`): classes ascending, community volumes
  * from the CURRENT labeling before every class step, within-class
  * simultaneous best strictly-positive-gain moves (ties → min label).
  * Every budgeted round runs — no early exit — which is what the
  * DuckDB oracle unrolls. */
object LouvainReference {

  /** Weighted form over a DIRECTED edge list (both directions
    * present): strengths in place of degrees, weight sums in place of
    * neighbor counts. */
  def movesW(wEdges: Seq[(Long, Long, Long)],
      strength: Map[Long, Long], m2w: BigInt, color: Map[Long, Int],
      init: Map[Long, Long], rounds: Int): Map[Long, Long] = {
    val adj = wEdges.groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3))).toMap
    val lbl = collection.mutable.Map(init.toSeq: _*)
    val nColors = if (color.isEmpty) 0 else color.values.max
    for (_ <- 1 to rounds; c <- 1 to nColors) {
      // iterator.map, NOT Set.map: mapping member nodes to strengths
      // through a Set DEDUPES equal values before the sum
      val tot = lbl.keys.groupBy(lbl).view
        .mapValues(vs => BigInt(vs.iterator.map(strength).sum)).toMap
      val upd = adj.keys.filter(color(_) == c).flatMap { v =>
        val cnt = adj(v).groupBy(t => lbl(t._1)).view
          .mapValues(ts => BigInt(ts.iterator.map(_._2).sum)).toMap
        val cur = lbl(v)
        val ka = cnt.getOrElse(cur, BigInt(0))
        val sv = BigInt(strength(v))
        val cand = cnt.keys.filter(_ != cur).map { nl =>
          (nl, m2w * (cnt(nl) - ka) - sv * (tot(nl) - tot(cur) + sv))
        }.filter(_._2 > 0)
        if (cand.isEmpty) None
        else Some(v -> cand.maxBy { case (nl, g) => (g, -nl) }._1)
      }.toSeq
      upd.foreach { case (v, l) => lbl(v) = l }
    }
    lbl.toMap
  }

  /** Phase 1 (`Graph.louvainMoves`) over an undirected pair list from
    * the singleton init: w = 1, strength = degree, 2m = the directed
    * edge count. */
  def moves(pairs: Seq[(Long, Long)], color: Map[Long, Int],
      rounds: Int): Map[Long, Long] = {
    val directed = pairs.flatMap(e => Seq(e, e.swap)).distinct
    val deg = directed.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    movesW(directed.map { case (a, b) => (a, b, 1L) }, deg,
      BigInt(directed.size), color, color.keys.map(v => v -> v).toMap,
      rounds)
  }
}
