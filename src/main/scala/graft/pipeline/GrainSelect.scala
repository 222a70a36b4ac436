package graft.pipeline

import graft.pipeline.VoronoiMesh.Facet

/** The reference's two-layer grain selection + taper shrink
  * (`GenerateColumnar.py:250-306`) re-specified deterministically. All of
  * it is bounded by grain count (≤10⁴), not particle count, so it runs as
  * plain Scala on the driver — SURVEY §7.3's documented exception:
  *
  *  - adjacency (J1/J2): grains sharing a node;
  *  - greedy independent set (G2): lowest id first. The reference's
  *    shuffled greedy is unseeded; ours is a deterministic total order, so
  *    properties (independence, size) are testable;
  *  - layer-2 pool exclusion (SO1): eligible − (layer1 ∪ neighbors(layer1));
  *  - taper shrink (F3/P6/A5): z-linear scale about the grain centroid with
  *    a clamped angle drawn by seeded weighted choice.
  */
object GrainSelect {

  /** J2 — grain adjacency via shared nodes: sorted pairs (a < b).
    * `elements` rows: (grain_id, pos, node_id).
    */
  def adjacency(elements: Seq[(Long, Int, Long)]): Seq[(Long, Long)] =
    elements.groupBy(_._3).values.flatMap { es =>
      val gs = es.map(_._1).distinct.sorted
      for (a <- gs; b <- gs if a < b) yield (a, b)
    }.toSeq.distinct.sorted

  /** G2 — deterministic greedy independent set: scan candidates in
    * ascending id, take a grain iff no neighbor is already taken, stop at
    * `k`.
    */
  def greedyIndependentSet(adjPairs: Seq[(Long, Long)], candidates: Seq[Long],
                           k: Int): Seq[Long] = {
    val nbrs = adjPairs.foldLeft(Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)) {
      case (m, (a, b)) => m.updated(a, m(a) + b).updated(b, m(b) + a)
    }
    val taken = scala.collection.mutable.LinkedHashSet.empty[Long]
    val it = candidates.sorted.iterator
    while (taken.size < k && it.hasNext) {
      val c = it.next()
      if (!nbrs(c).exists(taken.contains)) taken += c
    }
    taken.toSeq
  }

  /** SO1 — layer-2 pool: eligible − (selected ∪ neighbors(selected))
    * (`GenerateColumnar.py:285-289`).
    */
  def excludePool(eligible: Seq[Long], adj: Seq[(Long, Long)], selected: Seq[Long]): Seq[Long] = {
    val sel = selected.toSet
    val gone = sel ++ adj.collect { case (a, b) if sel(a) => b; case (a, b) if sel(b) => a }
    eligible.filterNot(gone)
  }

  private val Mults = Seq(0.5, 0.9, 1.1, 1.25)
  private val Cdf = Seq(0.45, 0.25, 0.20, 0.10).scanLeft(0.0)(_ + _).tail

  /** A5/F5 — seeded weighted choice of a grain's taper angle
    * (`GenerateColumnar.py:182-184`: angles [0.5,0.9,1.1,1.25]·base with
    * weights [0.45,0.25,0.20,0.10]) by inverse CDF on a draw of
    * (seed, grain id), clamped to [0.01, 15] degrees (P6).
    */
  def taperAngle(seed: Long, grainId: Long, baseAngleDeg: Double): Double = {
    val u = VoronoiMesh.uniform(seed, 4, grainId)
    val m = Mults.zip(Cdf).collectFirst { case (m, c) if u < c => m }.getOrElse(Mults.last)
    math.min(math.max(m * baseAngleDeg, 0.01), 15.0)
  }

  /** F3 — taper ("cone") shrink of one grain's quads about its centroid
    * (mean of x1, y1 — A1): the scale factor decreases linearly with z,
    * clamped at 0.01 (P6), so the top is narrower
    * (`GenerateColumnar.py:189-218`).
    */
  def taperShrink(quads: Seq[Facet], taperDeg: Double, extrusion: Double): Seq[Facet] = {
    val cx = quads.map(_.xyz(0)).sum / quads.size
    val cy = quads.map(_.xyz(1)).sum / quads.size
    val p = math.tan(math.toRadians(taperDeg)) // F1: shrink slope per unit z
    quads.map(f => f.copy(xyz = f.xyz.grouped(3).flatMap { v =>
      val s = math.max(1.0 - p * v(2) / extrusion, 0.01)
      Seq(cx + (v(0) - cx) * s, cy + (v(1) - cy) * s, v(2))
    }.toVector))
  }
}
