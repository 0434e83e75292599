package graft

import graft.canon.{AliasMining, ConnectedComponents}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Canonicalization at data scale: large/small-star CC convergence on
  * an adversarial chain, and mention-derived alias edges. */
class CanonSpec extends SparkSpec {

  test("large/small-star CC converges in O(log n) rounds on a 10^6-edge chain") {
    import spark.implicits._
    // worst case for label propagation: a single chain — diameter n.
    // Zero-padded ids so lexicographic order == numeric order.
    val n = 1000000
    val edges = spark.range(n - 1)
      .select(format_string("n%07d", col("id")).as("src"),
        format_string("n%07d", col("id") + 1).as("dst"))
    val (labels, rounds) = ConnectedComponents.runWithStats(edges)
    val bound = 2 * (math.ceil(math.log(n.toDouble) / math.log(2)) + 2).toInt
    assert(rounds <= bound, s"took $rounds rounds (bound $bound)")
    val bad = labels.filter(col("component") =!= lit("n0000000")).count()
    assert(bad == 0, s"$bad nodes not labeled with the chain minimum")
    assert(labels.count() == n)
  }

  test("small graphs take the driver-solve gate; labels match the star family") {
    import spark.implicits._
    // a 2k-edge chain sits far below DriverSolveMaxEdges -> driver
    // union-find (rounds == 0), same min-member labeling the star
    // rounds produce on the 10^6 chain above
    val n = 2000
    val edges = spark.range(n - 1)
      .select(format_string("n%07d", col("id")).as("src"),
        format_string("n%07d", col("id") + 1).as("dst"))
    val (labels, rounds) = ConnectedComponents.runWithStats(edges)
    assert(rounds == 0, s"expected the driver gate, got $rounds rounds")
    assert(labels.filter(col("component") =!= lit("n0000000")).count() == 0)
    assert(labels.count() == n)
  }

  test("star CC equals min-label result on the alias dictionary") {
    val got = ConnectedComponents.canonicalMap(graft.link.Linker.aliasDf(spark))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == graft.core.Vocab.canonicalOf)
  }

  test("mention-derived edges merge camel/snake surfaces beyond the dictionary") {
    import spark.implicits._
    // two surface forms of an entity the dictionary does not know
    val linked = Seq(
      ("d1", 0, 0, 1, "identifier", "quuxFrob", "quuxFrob"),
      ("d2", 0, 0, 1, "identifier", "quux_frob", "quux_frob"),
      ("d3", 0, 0, 1, "identifier", "other", "other"))
      .toDF("docId", "sentId", "start", "end", "entType", "surface", "entity")
    val edges = AliasMining.mentionAliasEdges(linked)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(edges == Set(("quuxFrob", "quux_frob")), s"edges: $edges")
    val canon = ConnectedComponents.canonicalMap(
      graft.link.Linker.aliasDf(spark), Some(AliasMining.mentionAliasEdges(linked)))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(canon("quux_frob") == canon("quuxFrob"))
    // edge-less non-dictionary entities are absent from the map — the
    // pipeline's left-join coalesce(entity) keeps them self-canonical
    assert(canon.getOrElse("other", "other") == "other")
    // dictionary entities keep their static canonical assignment
    graft.core.Vocab.canonicalOf.foreach { case (e, c) =>
      assert(canon(e) == c, s"dictionary canon drifted for $e")
    }
  }

  test("CC on an empty edge table returns empty labels (no NPE)") {
    import spark.implicits._
    val empty = Seq.empty[(String, String)].toDF("src", "dst")
    assert(ConnectedComponents.run(empty).count() == 0)
  }

  test("seeded canon connects a new pair to a SINGLETON-key hub") {
    // the key "zkey" had ONE pair entity "bbb" before — a singleton is
    // never an edge endpoint, so it is absent from the prior canon
    // map. When "aaa" arrives under the same key, the seeded map must
    // still relabel BOTH (node set includes edge endpoints, not just
    // prior-map entities): dropping the hub would leave "bbb"
    // self-canonical while "aaa" got the component minimum.
    val priorCanon = Map("dictA" -> "dictA", "dictB" -> "dictA")
    val priorPairs = Seq(("zkey", "bbb", 1L))
    val added = Set(("zkey", "aaa"))
    val ic = graft.canon.IncrementalCanon
    val seed = ic.seed(priorPairs.map(r => (r._1, r._2)), added)
    val m = ic.relabel(seed, priorCanon.filter(kv => seed.nodes(kv._1)))(priorCanon)
    assert(m("bbb") == "aaa" && m("aaa") == "aaa", m.toString)
    // the prior forest is preserved untouched
    assert(m("dictA") == "dictA" && m("dictB") == "dictA")
  }

  test("pair-refcount merge: adds, net-zero re-ingest, retraction, corruption") {
    import spark.implicits._
    val ic = graft.canon.IncrementalCanon
    val prior = Seq(("k1", "e1", 2L), ("k2", "e2", 1L))
      .toDF("k", "entity", "ndocs")
    // doc d9 re-ingested keeping (k1,e1): +1 here, -1 in dec = net zero;
    // (k3,e3) is brand new; (k2,e2) loses its only doc = RETRACTION
    val inc = Seq(("k1", "e1", "d9"), ("k3", "e3", "d9"))
      .toDF("k", "entity", "docId")
    val dec = Seq(("k1", "e1", "d9"), ("k2", "e2", "d2"))
      .toDF("k", "entity", "docId")
    // the driver merge reads what the publish collects: the prior rows
    // and the delta's aggregated (k, entity, inc, dec) counts
    def merge(inc: DataFrame, dec: DataFrame) = ic.mergePairs(
      prior.as[(String, String, Long)].collect().toSeq,
      ic.deltaCounts(inc, dec).as[(String, String, Long, Long)].collect().toSeq)
    val pd = merge(inc, dec)
    assert(pd.removedCount == 1L)
    assert(pd.merged == Map(("k1", "e1") -> 2L, ("k3", "e3") -> 1L))
    assert(pd.added == Set(("k3", "e3")))
    // a decrement that was never counted = corrupted state, fails loudly
    val badDec = Seq(("k9", "e9", "d1")).toDF("k", "entity", "docId")
    val bad = intercept[Exception](merge(inc.limit(0), badDec))
    assert(bad.getMessage.contains("refcount"), bad.getMessage)
  }

  test("overlay algebra size route: the driver bound holds, one row above it goes full") {
    val bound = ConnectedComponents.DriverSolveMaxEdges
    assert(graft.canon.IncrementalCanon.oversize(bound).isEmpty)
    val note = graft.canon.IncrementalCanon.oversize(bound + 1)
    assert(note.exists(n => n.contains(s"${bound + 1} driver rows") &&
      n.contains("full recanonicalization")), note)
  }

  test("randomized ingests: seeded incremental canon == plain-JVM union-find") {
    import spark.implicits._
    val m = graft.canon.IncrementalCanon

    // full-recompute mirror of the production alias path: star edges
    // per key (min-entity hub), CC, singles self-canonical
    def fullCanon(pairs: DataFrame): DataFrame = {
      val ents = pairs.select(col("k"), col("entity")).distinct()
      val edges = ents
        .withColumn("src", min(col("entity")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("k"))))
        .filter(col("src") =!= col("entity"))
        .select(col("src"), col("entity").as("dst"))
      val cc = ConnectedComponents.run(edges)
      ents.select(col("entity").as("node")).distinct()
        .join(cc, Seq("node"), "left")
        .select(col("node").as("entity"),
          coalesce(col("component"), col("node")).as("canonical"))
    }

    // independent ground truth with NO Spark in it: union-find where
    // the pairwise-min root rule makes every root its component's
    // minimum entity (induction over unions of singleton roots)
    def expectedCanon(pairs: Set[(String, String)]): Map[String, String] = {
      val parent = scala.collection.mutable.Map[String, String]()
      def find(x: String): String = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.groupBy(_._1).foreach { case (_, ps) =>
        val es = ps.map(_._2).toSeq.sorted
        es.tail.foreach { e =>
          val (ra, rb) = (find(es.head), find(e))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
      }
      pairs.map(_._2).map(e => e -> find(e)).toMap
    }

    def toMapDf(df: DataFrame): Map[String, String] =
      df.collect().map(r => r.getString(0) -> r.getString(1)).toMap

    var sawClean = false; var sawRetraction = false
    for (seed <- 0 until 8) {
      val rnd = new scala.util.Random(seed)
      val keys = (0 until 6).map(i => s"k$i")
      val ents = (0 until 18).map(i => f"e$i%02d")
      def randPairs(): Set[(String, String)] =
        (0 until (1 + rnd.nextInt(3))).map { _ =>
          // entities roam across keys, so components MERGE across keys
          // through a shared entity — the interesting incremental case
          (keys(rnd.nextInt(keys.size)), ents(rnd.nextInt(ents.size)))
        }.toSet
      val priorDocs = (0 until 12).map(i => s"d$i" -> randPairs()).toMap
      val newDocs = (12 until 17).map(i => s"d$i" -> randPairs()).toMap
      val reingested = priorDocs.keys.toSeq.sorted
        .filter(_ => rnd.nextBoolean()).take(3)
      // even seeds re-ingest SUPERSETS (append-mostly re-ingest: all
      // prior evidence survives -> the clean seeded branch); odd seeds
      // replace wholesale, which almost surely retracts something
      val reVersions = reingested.map(d => d ->
        (if (seed % 2 == 0) priorDocs(d) ++ randPairs() else randPairs()))
        .toMap

      def pairsDf(docs: Map[String, Set[(String, String)]]): DataFrame =
        docs.toSeq.flatMap { case (d, ps) =>
          ps.map { case (k, e) => (k, e, d) } }
          .toDF("k", "entity", "docId")

      val priorPairs = m.pairCounts(pairsDf(priorDocs))
      val inc = pairsDf(newDocs ++ reVersions)
      val dec = pairsDf(priorDocs.filter(kv => reingested.contains(kv._1)))
      val priorRows = priorPairs.as[(String, String, Long)].collect().toSeq
      val pd = m.mergePairs(priorRows,
        m.deltaCounts(inc, dec).as[(String, String, Long, Long)].collect().toSeq)

      // ground-truth current state entirely in plain Scala
      val current = (priorDocs -- reingested) ++ newDocs ++ reVersions
      val curPairs = current.values.flatten.toSet
      val priorSet = priorDocs.values.flatten.toSet
      val gotMerged = pd.merged
      val wantMerged = current.values.flatten.toSeq
        .groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
      assert(gotMerged == wantMerged, s"seed $seed: merged refcounts differ")
      val wantRemoved = (priorSet -- curPairs).size.toLong
      assert(pd.removedCount == wantRemoved,
        s"seed $seed: removedCount ${pd.removedCount} != $wantRemoved")
      assert(pd.added == curPairs -- priorSet, s"seed $seed: added set differs")

      val want = expectedCanon(curPairs)
      // the production full path agrees with the plain-JVM truth —
      // retraction or not (full recompute IS the retraction fallback)
      assert(toMapDf(fullCanon(m.pairCounts(pairsDf(current)))) == want,
        s"seed $seed: full Spark canon != union-find truth")
      if (pd.removedCount == 0) {
        sawClean = true
        // the driver algebra: seed edges from the prior rows, prior
        // labels of the seed nodes only, then the relabeled prior map
        val priorCanon = toMapDf(fullCanon(priorPairs))
        val sd = m.seed(priorRows.map(r => (r._1, r._2)), pd.added)
        val seeded = m.relabel(sd,
          priorCanon.filter(kv => sd.nodes(kv._1)))(priorCanon)
        assert(seeded == want,
          s"seed $seed: seeded incremental canon != union-find truth")
      } else sawRetraction = true
    }
    // the seed set must exercise BOTH branches or the property is weaker
    // than it claims — fails loudly if a generator change unbalances it
    assert(sawClean && sawRetraction,
      s"seed coverage degenerate: clean=$sawClean retraction=$sawRetraction")
  }
}
