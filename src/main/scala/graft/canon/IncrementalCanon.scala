package graft.canon

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DELTA-AWARE dynamic canonicalization — the mined-canon path made
  * incremental (round-4 "what's missing" #1).
  *
  * The full dynamic pipeline re-mines alias edges and re-runs
  * connected components over the ENTIRE accumulated mention table on
  * every snapshot publish, so publish cost grows with total corpus,
  * not with the delta. This module maintains instead:
  *
  *  - a PAIR-REFCOUNT table `(k, entity, ndocs)`: how many CURRENT
  *    docs carry the distinct alias pair (normKey(surface), entity) —
  *    exactly the pairs [[AliasMining.mentionAliasEdges]] mines edges
  *    from, counted per doc so retraction is detectable;
  *  - the prior snapshot's canon map, which IS a star forest (every
  *    entity points at its component minimum).
  *
  * An ingest delta updates both ON THE DRIVER, from delta-sized rows
  * the publish collects: [[mergePairs]] merges the refcounts, [[seed]]
  * connects each ADDED pair to its key's hub, and [[relabel]] runs
  * [[UnionFind]] over the prior labels of the seed edges — a merged
  * component is labeled by the least of its prior labels, so the
  * relabeling maps prior ROOTS to new ones, and every entity a root
  * labels moves with it. Past [[ConnectedComponents.DriverSolveMaxEdges]]
  * collected rows the publish recomputes in full ([[oversize]]).
  *
  * Soundness: under pure alias ADDS the seeded graph has exactly the
  * full graph's components — the forest preserves every prior
  * connection (prior edges are a subset of current evidence when
  * nothing was retracted, dictionary edges are static and inside the
  * forest's components), and each added pair's entity is connected to
  * its key's hub (the prior min entity of the key, or the added min
  * for a novel key), which the prior forest already connects to every
  * other entity of that key. When any pair's refcount hits ZERO
  * (alias evidence RETRACTED — an edge removal can split a component,
  * which no seed-and-merge can express), the caller must fall back to
  * the full recompute; [[mergePairs]] surfaces that as
  * `removedCount`. Retraction requires a re-ingest that drops a
  * surface form's last occurrence — rare at corpus scale, and the
  * fallback is exactly the cost the non-incremental path paid on
  * EVERY publish.
  */
object IncrementalCanon {

  /** An alias pair (normalized surface key, entity). */
  type Pair = (String, String)

  /** Alias pairs (k, entity, docId) of a linked mention table, one row
    * per mention. Must match [[AliasMining.mentionAliasEdges]]'s pair
    * definition exactly (identifier mentions, normalized surface key),
    * or the incremental edge set drifts from the mined one. */
  def mentionPairs(linked: DataFrame): DataFrame =
    linked.filter(col("entType") === "identifier")
      .select(AliasMining.normKey(col("surface")).as("k"), col("entity"),
        col("docId"))

  /** Per-doc distinct alias pairs (k, entity, docId) — the unit the
    * refcounts count. */
  def docPairs(linked: DataFrame): DataFrame = mentionPairs(linked).distinct()

  /** Refcounts (k, entity, ndocs) over per-doc pairs. */
  def pairCounts(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("k"), col("entity"))
      .agg(count(lit(1)).as("ndocs"))

  /** (k, entity, inc, dec): distinct docs per alias pair among the pair
    * rows `inc` (newly ingested doc VERSIONS) and `dec` (the superseded
    * OLD versions of re-ingested docs). Set sizes count the docs behind
    * one shuffle; a distinct count would plan two. */
  def deltaCounts(inc: DataFrame, dec: DataFrame): DataFrame = {
    def docs(side: String) =
      size(collect_set(when(col("side") === side, col("docId")))).cast("long")
    inc.select(col("k"), col("entity"), col("docId"), lit("inc").as("side"))
      .unionByName(dec.select(col("k"), col("entity"), col("docId"),
        lit("dec").as("side")))
      .groupBy(col("k"), col("entity"))
      .agg(docs("inc").as("inc"), docs("dec").as("dec"))
  }

  /** `counts(p) = (prior ndocs, new ndocs)` for every pair merged. */
  final case class PairDelta(counts: Map[Pair, (Long, Long)]) {
    def merged: Map[Pair, Long] = counts.collect { case (p, (_, n)) if n > 0 => p -> n }
    /** Pairs absent before, present now. */
    def added: Set[Pair] =
      counts.iterator.collect { case (p, (0L, n)) if n > 0 => p }.toSet
    /** Rows whose count changed: the prior state overridden by these is
      * the new state, so the caller writes a delta-sized state. */
    def changed: Map[Pair, Long] =
      counts.collect { case (p, (o, n)) if n > 0 && n != o => p -> n }
    /** Pairs whose evidence vanished (> 0 => full fallback). */
    def removedCount: Long = counts.count { case (_, (o, n)) => o > 0 && n <= 0 }.toLong
  }

  /** Merge prior refcount rows `(k, entity, ndocs)` — at least every
    * prior row of the touched pairs — with [[deltaCounts]] rows. A net
    * count below zero means the caller decremented something never
    * counted — corrupted state — and fails loudly. */
  def mergePairs(prior: Iterable[(String, String, Long)],
      delta: Iterable[(String, String, Long, Long)]): PairDelta = {
    val before = prior.iterator.map(r => (r._1, r._2) -> r._3).toMap
    val d = delta.iterator.map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val counts = (before.keySet ++ d.keySet).iterator.map { p =>
      val o = before.getOrElse(p, 0L)
      val (inc, dec) = d.getOrElse(p, (0L, 0L))
      p -> ((o, o + inc - dec))
    }.toMap
    val negative = counts.count(_._2._2 < 0)
    require(negative == 0,
      s"pair-refcount state corrupted: $negative pairs went negative " +
        "(a decrement was never counted — state and accumulation diverged)")
    PairDelta(counts)
  }

  /** Seed edges of the added pairs and the nodes they touch. */
  final case class Seed(edges: Seq[(String, String)], nodes: Set[String])

  /** Valid ONLY when [[mergePairs]] reported zero removals. Each added
    * pair's entity gets one edge to its key's hub: the key's prior
    * minimum entity (`priorPairs` must hold EVERY prior pair of each
    * added key) or, for a novel key, its minimum ADDED entity. The
    * nodes are the added entities and the edge endpoints — a hub can
    * be a pair entity that was a SINGLETON for its key (absent from the
    * prior map), and it must relabel with its new neighbors. */
  def seed(priorPairs: Iterable[Pair], added: Set[Pair]): Seed = {
    def hubs(ps: Iterable[Pair]) = ps.groupMapReduce(_._1)(_._2)((a, b) =>
      if (a < b) a else b)
    val (priorHub, newHub) = (hubs(priorPairs), hubs(added))
    val edges = added.toSeq.flatMap { case (k, e) =>
      val h = priorHub.getOrElse(k, newHub(k))
      if (h == e) None else Some(h -> e)
    }
    Seed(edges, added.map(_._2) ++ edges.flatMap { case (a, b) => Seq(a, b) })
  }

  /** `roots`: prior label -> new label, for each label that changed;
    * `fresh`: the label of each seed node absent from the prior map,
    * self-labeled ones included (a full map lists every node). */
  final case class Relabel(roots: Map[String, String], fresh: Map[String, String]) {
    /** The new canon map, from the full `prior` map. */
    def apply(prior: Map[String, String]): Map[String, String] =
      prior.map { case (e, c) => e -> roots.getOrElse(c, c) } ++ fresh
  }

  /** Relabel by `s`, given `prior`: the prior label of each seed node
    * that has one. Union-find over the edges' prior labels gives the
    * labels CC over the prior forest plus the seed edges converges to. */
  def relabel(s: Seed, prior: Map[String, String]): Relabel = {
    def label(x: String) = prior.getOrElse(x, x)
    val root = UnionFind.minLabels(
      s.edges.iterator.map { case (a, b) => (label(a), label(b)) })
    Relabel(root.filter { case (r, l) => r != l }.toMap,
      s.nodes.filterNot(prior.contains).map(x => x -> root.getOrElse(x, x)).toMap)
  }

  /** None while `rows` collected rows fit the driver bound, else the
    * note of the full publish the overlay algebra takes instead. */
  def oversize(rows: Long): Option[String] =
    if (rows <= ConnectedComponents.DriverSolveMaxEdges) None
    else Some(s"delta algebra needs $rows driver rows, above the " +
      s"${ConnectedComponents.DriverSolveMaxEdges}-row driver bound — " +
      "full recanonicalization")
}
