package graft

import graft.canon.ConnectedComponents
import graft.core._
import graft.evalm.StrictMetric
import graft.extract.{Extract, ReferenceScorer}
import graft.link.Linker
import org.apache.spark.sql.functions._

/** Distributed end-to-end: extract parity vs the sequential twin,
  * CC vs driver union-find, triples vs closed-form gold. */
class PipelineSpec extends SparkSpec {

  val N = 150

  test("sha256 content invariant holds on the synthesized corpus") {
    val n = Extract.verifyIntegrity(Extract.corpus(spark, N))
    assert(n == N)
  }

  test("sha256 invariant violation is DETECTED (corrupted row fails fast)") {
    import spark.implicits._
    val bad = Extract.corpus(spark, 10)
      .map(f => if (f.path.contains("File3"))
        f.copy(content = f.content + " tampered") else f)
    intercept[IllegalArgumentException] {
      Extract.verifyIntegrity(bad)
    }
  }

  test("distributed mentions == sequential ReferenceScorer twin (P=R=1)") {
    import spark.implicits._
    val dist = Extract.run(spark, N).toDF()
    val twin = ReferenceScorer.mentions(0 until N).toDF()
    val m = StrictMetric.prf(dist, twin)
    assert(m.p == 1.0 && m.r == 1.0,
      s"parity broken: $m")
    // nestingJoin's strict-containment predicate diverges from the
    // reference's `j != i` ONLY for a same-span different-type mention
    // pair — assert the grammar never produces one, so the divergence
    // stays unreachable (see nestingJoin's scaladoc)
    val sameSpanDiffType = dist
      .groupBy("docId", "sentId", "start", "end")
      .agg(org.apache.spark.sql.functions.countDistinct("entType").as("nt"))
      .filter(org.apache.spark.sql.functions.col("nt") > 1)
      .count()
    assert(sameSpanDiffType == 0,
      s"$sameSpanDiffType same-span different-type mention groups")
  }

  test("distributed CC == driver union-find") {
    val got = ConnectedComponents.canonicalMap(Linker.aliasDf(spark))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Vocab.canonicalOf)
  }

  test("pipeline triples match closed-form gold (P/R >= 0.95)") {
    val st = Pipeline.run(spark, N)
    val gold = Pipeline.goldTriples(spark, N)
    val m = StrictMetric.triplePrf(st.triples, gold)
    assert(m.p >= 0.95 && m.r >= 0.95, s"triples off: $m")
    // and strict mention-level P/R vs gold mentions
    val gm = Pipeline.goldMentions(spark, N)
    val mm = StrictMetric.prf(st.mentions.toDF(), gm)
    assert(mm.p >= 0.95 && mm.r >= 0.95, s"mentions off: $mm")
  }

  test("dynamic (mention-derived) canonicalization preserves gold parity") {
    val stat = Pipeline.run(spark, 100).triples
      .select("subj", "pred", "obj", "docId").collect().map(_.toSeq).toSet
    val dyn = Pipeline.runDynamicCanon(spark, 100).triples
      .select("subj", "pred", "obj", "docId").collect().map(_.toSeq).toSet
    assert(dyn == stat && dyn.nonEmpty,
      s"dynamic-canon drift: +${(dyn -- stat).take(3)} -${(stat -- dyn).take(3)}")
  }

  test("fused triple emitter == relational 5-branch emitter") {
    val st = Pipeline.run(spark, 120)
    val a = st.triples
      .select("subj", "pred", "obj", "docId")
      .collect().map(_.toSeq).toSet
    val b = graft.triples.TripleEmit.emit(st.canonMentions)
      .select("subj", "pred", "obj", "docId")
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("frozen-encoding cache + keyed join-back == direct kernel path") {
    import graft.extract.{EncodingCache, Extract}
    val tmp = java.nio.file.Files.createTempDirectory("enc-cache").toString
    val sents = Extract.sentences(Extract.corpus(spark, 40))
    EncodingCache.write(sents, tmp)
    val cached = EncodingCache.mentions(sents, tmp)
      .collect().map(m => (m.docId, m.sentId, m.start, m.end, m.entType,
        m.score, m.surface, m.nextTok)).toSet
    val direct = Extract.mentions(sents)
      .collect().map(m => (m.docId, m.sentId, m.start, m.end, m.entType,
        m.score, m.surface, m.nextTok)).toSet
    assert(cached == direct && direct.nonEmpty)
    // warm RE-SCORE path: cache scan alone (no sentence table, no
    // join) must also be bit-identical to the direct kernel
    val warm = EncodingCache.mentionsFromCache(spark, tmp)
      .collect().map(m => (m.docId, m.sentId, m.start, m.end, m.entType,
        m.score, m.surface, m.nextTok)).toSet
    assert(warm == direct)
    // a STALE cache (sentences not present in it) must fail fast, not
    // silently drop the uncached sentences
    val more = Extract.sentences(Extract.corpus(spark, 50))
    val ex = intercept[org.apache.spark.SparkException] {
      EncodingCache.mentions(more, tmp).count()
    }
    assert(ex.getMessage.contains("stale cache") ||
      Option(ex.getCause).exists(_.getMessage.contains("stale cache")))
  }

  test("mentions are unique per span (no dedup shuffle needed)") {
    import spark.implicits._
    val m = graft.extract.Extract.run(spark, 100)
    val keys = Seq("docId", "sentId", "start", "end", "entType")
    assert(m.count() == m.dropDuplicates(keys).count())
  }

  test("kg_twohop == locally composed calls∘calls over the same triples") {
    val df = graft.queries.KgQueries.all("kg_twohop")(spark, "sf0.001-ish")
    val got = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
      .toSet
    val calls = Pipeline.run(spark, 150).triples
      .filter(col("pred") === "calls").collect()
      .map(r => (r.getAs[String]("subj"), r.getAs[String]("obj"),
        r.getAs[String]("docId")))
    val want = (for {
      (s1, o1, d1) <- calls; (s2, o2, d2) <- calls
      if o1 == s2 && d1 == d2
    } yield (s1, o1, o2, d1)).toSet
    assert(got == want && got.nonEmpty, s"got=${got.size} want=${want.size}")
  }

  test("linking resolves snake_case call-site aliases") {
    import spark.implicits._
    val st = Pipeline.run(spark, 60)
    val snakes = st.canonMentions
      .filter($"surface".contains("_") && $"entType" === "identifier")
    // the fixture is deterministic (~30% snake_case call sites at
    // N=60): a guard here would let an extraction regression skip the
    // whole assertion silently
    assert(snakes.count() > 0, "fixture must contain snake_case mentions")
    val unresolved = snakes.filter($"entity" === $"surface").count()
    assert(unresolved == 0,
      "snake_case surfaces must link to camelCase entities")
  }
}
