package graft.canon

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge table via alternating
  * LARGE-STAR / SMALL-STAR DataFrame rounds — the canonicalization
  * stage (north-star: "connected-components over an alias similarity
  * graph ... iterative DataFrame joins with salted keys").
  *
  * Algorithm (the MapReduce CC of Kiveris et al., "Connected Components
  * in MapReduce and Beyond", SoCC'14 — public):
  *  - large-star: every node u links each strictly-larger neighbor to
  *    m = min(N(u) ∪ {u});
  *  - small-star: orienting edges large->small, every node u links its
  *    smaller neighbors and itself to m = min(N(u) ∪ {u}).
  * Alternating the two converges to per-component stars rooted at the
  * component minimum in O(log n) rounds in practice (O(log² n) worst
  * case) — versus O(diameter) for plain min-label propagation (the
  * round-1 implementation), which is the difference between 20 and
  * 10⁶ rounds on a web-scale alias chain. Convergence is asserted on a
  * chain graph in CanonSpec.
  *
  * Scale notes:
  *  - each round is two groupBy-min aggregations + joins on the node
  *    key — map-side partial aggregation applies, and AQE handles the
  *    skewed hub nodes that emerge as components contract (stars ARE
  *    the skew; salting is unnecessary because groupBy(min) partial-
  *    aggregates hub keys before the shuffle);
  *  - `localCheckpoint` cuts lineage every round (an iterative-join
  *    loop otherwise builds an exponentially deep plan);
  *  - the per-round fixpoint probe is ONE tiny aggregate job (count +
  *    xor checksum + independent sum checksum of the edge set).
  */
object ConnectedComponents {

  /** (labels, rounds): component label per node of `edges`, and the
    * number of large+small-star rounds until fixpoint.
    *
    * AQE is suspended for the duration of the loop: adaptive execution
    * materializes every shuffle as its own query stage and replans
    * between them — the right trade for big frames, pure added barrier
    * latency for this loop's (post-first-round) tiny star edge sets,
    * which sit on the SERIAL critical path of the dynamic-canon
    * pipeline. Static planning pipelines each round's shuffles
    * normally. Restored in a finally. */
  def runWithStats(edges: DataFrame, maxIter: Int = 50): (DataFrame, Int) = {
    val spark = edges.sparkSession
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      runWithStatsInner(edges, maxIter)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  /** Graphs at or below this edge count are solved ON THE DRIVER
    * (collect + union-find) instead of iterating distributed star
    * rounds: each round costs ~6 sequential stage barriers of pure
    * scheduler latency, which sits on the SERIAL critical path of the
    * dynamic-canon pipeline — a few hundred thousand collected edges
    * are cheaper than ONE round's barriers. Same size-adaptive
    * philosophy as the canon-map broadcast gate: solve tiny graphs
    * where they live, keep the O(log n) distributed loop for graphs
    * that need a cluster (the 10^6-edge chain test sits ABOVE the gate
    * and exercises the distributed path). Both paths produce the
    * identical component = min-member labeling (asserted in
    * CanonSpec). */
  val DriverSolveMaxEdges = 500000L

  /** Loop shuffle sizing: target edge rows per partition inside the
    * star rounds. The round-6 A/B on the 600k-edge chain measured the
    * loop 3.3x faster at 8 partitions than at the session's 64 (same
    * 21 rounds — the delta is pure tiny-task scheduling overhead,
    * guide §2.2 "fewer, larger partitions"); the loop therefore derives
    * its partition count from the MEASURED edge count (scale-adaptive,
    * never above the session's configured parallelism — at cluster
    * scale the session value wins unchanged). ~100k short string rows
    * is a few MB per task: far below memory pressure, far above
    * scheduling noise. */
  val LoopEdgesPerPartition = 100000L

  private def runWithStatsInner(edges: DataFrame,
      maxIter: Int): (DataFrame, Int) = {
    val spark = edges.sparkSession
    import spark.implicits._
    val eDist = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()

    // size gate, probed with ONE short-circuiting job: collect at most
    // gate+1 distinct edges. Below the gate this IS the edge set (the
    // old shape paid a localCheckpoint materialization + a checksum
    // job + a collect — three passes — before the driver solve);
    // above it only the probe's partial work is discarded, noise next
    // to the loop it gates.
    val probe = eDist.limit(DriverSolveMaxEdges.toInt + 1).collect()
    if (probe.length <= DriverSolveMaxEdges) {
      // union-find (see UnionFind): the component PARTITION is
      // independent of the collected edge order, and the label = min
      // member — the same labeling the star rounds converge to
      val label = UnionFind.minLabels(
        probe.iterator.map(r => (r.getString(0), r.getString(1))))
      // labels fully on the driver too: the node set (incl. self-loop
      // -only nodes the edge filter dropped) is the same size class as
      // the collected edges, so one more small collect replaces the
      // old distributed distinct + join against a driver-built table.
      // parallelize (an RDD-backed frame), NOT a LocalRelation: a
      // LocalRelation embeds every row in the logical plan, which the
      // caller's planner then carries around.
      val nodeArr = edges.select(col("src")).union(edges.select(col("dst")))
        .distinct().collect().map(_.getString(0))
      val rows = nodeArr.toSeq.map(n => (n, label.getOrElse(n, n)))
      val labels = spark.sparkContext
        .parallelize(rows, math.max(1, spark.sparkContext.defaultParallelism))
        .toDF("node", "component")
      return (labels, 0)
    }

    var e = eDist.localCheckpoint()
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()

    // fixpoint probe = THREE independent aggregates of the edge set:
    // row count, xor of xxhash64(src,dst), and xor of xxhash64(dst,src)
    // (reversed column order = an independent hash function — NOT a
    // sum, which overflows Long under ANSI mode). A single xor could —
    // astronomically rarely but silently — collide between distinct
    // edge sets and stop the loop with wrong labels; for the loop to
    // stop wrongly now, one edge-set change must simultaneously
    // preserve the count and BOTH independent xors.
    def checksum(d: DataFrame): (Long, Long, Long) = {
      val r = d.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(src, dst))"), lit(0L)),
        coalesce(expr("bit_xor(xxhash64(dst, src))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    var prev = checksum(e)
    // scale-adaptive loop parallelism (see LoopEdgesPerPartition): set
    // for the duration of the loop, restored before the labels frame
    // is returned (the caller's action plans under its own session
    // conf; the loop's own actions — checkpoint materializations and
    // checksums — plan inside the window)
    val partsBefore = spark.conf.get("spark.sql.shuffle.partitions")
    var iter = 0
    try {
      val loopParts = math.min(
        spark.sessionState.conf.numShufflePartitions.toLong,
        math.max(1L, (prev._1 + LoopEdgesPerPartition - 1) /
          LoopEdgesPerPartition)).toInt
      spark.conf.set("spark.sql.shuffle.partitions", loopParts)
      val wSrc = org.apache.spark.sql.expressions.Window.partitionBy("src")
      var converged = false
      while (!converged && iter < maxIter) {
        // large-star: (v, m) for v in N(u), v > u; m = min(N(u) ∪ {u}).
        // Per-src mins are attached by a WINDOW aggregate over the
        // symmetrized edges, not a groupBy + self-join: the join shape
        // shuffled sym TWICE (the aggregate subtree and the probe side
        // are different subtrees, so ReuseExchange cannot dedup them);
        // the window is one exchange + sort per star. NO intermediate
        // distincts: min is duplicate-insensitive and the round's
        // single distinct (on the small-star output, needed for the
        // set-valued fixpoint probe) dedups the final edge set. The
        // round is 3 exchanges total; every exchange a round drops is
        // serial critical-path latency (the CC loop is the Amdahl
        // section of the dynamic-canon pipeline). Hub-node skew is
        // unchanged by the rewrite: the join shape also co-located
        // every hub edge on one task for the probe side.
        val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        val symM = sym.withColumn("m",
          least(min(col("dst")).over(wSrc), col("src")))
        val large = symM.filter(col("dst") > col("src"))
          .select(col("dst").as("src"), col("m").as("dst"))
          .filter(col("src") =!= col("dst"))
        // small-star on large->small orientation: (v, m) for v in
        // N(u) ∪ {u}; m = min(N(u)). Both output branches — (dst, m)
        // per edge and (src, m) per src (duplicated per edge here,
        // collapsed by the round's distinct) — come out of ONE window
        // pass via a 2-element explode, so the window subtree is not
        // evaluated once per branch.
        val or = large.select(
          greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        val small = or.withColumn("m", min(col("dst")).over(wSrc))
          .select(explode(array(
            struct(col("dst").as("src"), col("m").as("dst")),
            struct(col("src").as("src"), col("m").as("dst")))).as("x"))
          .select(col("x.src").as("src"), col("x.dst").as("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct()
          .localCheckpoint()
        val cur = checksum(small)
        converged = cur == prev
        prev = cur
        e = small
        iter += 1
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", partsBefore)
    // at fixpoint e is a star (v -> component min); min() guards the
    // maxIter-capped case where a node still carries two pointers
    val labels = nodes.join(
      e.groupBy(col("src").as("node")).agg(min(col("dst")).as("comp")),
      Seq("node"), "left")
      .select(col("node"),
        coalesce(col("comp"), col("node")).as("component"))
    (labels, iter)
  }

  /** edges: DataFrame with string columns (src, dst). Returns
    * (node, component) where component = min node id in the component. */
  def run(edges: DataFrame, maxIter: Int = 50): DataFrame =
    runWithStats(edges, maxIter)._1

  /** Canonical map for the alias graph: entity -> canonical (min entity
    * in its shared-alias component). Input: (alias, entity) rows, plus
    * optional extra (src, dst) entity edges — e.g. mention-derived
    * surface-form aliases mined from the corpus (AliasMining), which
    * makes canonicalization a data-scale stage, not a dimension build. */
  def canonicalMap(aliasDf: DataFrame,
      extraEdges: Option[DataFrame] = None): DataFrame = {
    // entities sharing an alias are connected: edge = (min entity of the
    // alias group, each other entity) — star construction keeps the
    // edge count linear in dictionary size.
    val star = aliasDf.groupBy("alias")
      .agg(min(col("entity")).as("src"), collect_set(col("entity")).as("all"))
      .select(col("src"), explode(col("all")).as("dst"))
      .filter(col("src") =!= col("dst"))
    // BOTH union children get a uniform provably-non-null shape
    // (values are never null; coalesce flips only the nullability
    // flag): children with MISMATCHED nullability trip a Catalyst 4.1
    // constraint-rewrite bug inside the CC loop
    // (UnionBase.rewriteConstraints "key not found") — round 2 worked
    // around it with an RDD round-trip re-declaring the mined edges'
    // schema, which re-serialized the whole edge table; the coalesce is
    // free.
    def nn(df: DataFrame): DataFrame = df.select(
      coalesce(col("src"), lit("")).as("src"),
      coalesce(col("dst"), lit("")).as("dst"))
    val edges = extraEdges match {
      case Some(x) => nn(star).union(nn(x.select(col("src"), col("dst"))))
      case None => star
    }
    val singles = (extraEdges match {
      case Some(x) => aliasDf.select(col("entity").as("node"))
        .union(x.select(col("src").as("node")))
        .union(x.select(col("dst").as("node")))
      case None => aliasDf.select(col("entity").as("node"))
    }).distinct()
    val cc = run(edges)
    // entities with no edges keep themselves as canonical
    singles.join(cc, Seq("node"), "left")
      .select(col("node").as("entity"),
        coalesce(col("component"), col("node")).as("canonical"))
  }
}
