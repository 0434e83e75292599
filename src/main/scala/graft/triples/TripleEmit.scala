package graft.triples

import graft.core.Triple
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Triple materialization: canonical mentions -> (subj, pred, obj)
  * rows for the five predicates (BASELINE.json north_star):
  * defines_symbol, imports, calls, has_type, documented_as.
  *
  * All five are relational compositions over the mention table alone
  * (token-local features like nextTok were computed at extract time):
  *  - defines_symbol / imports: projections of function / api_symbol
  *    mentions;
  *  - has_type: ANCHORED on param_decl mentions (the kernel's
  *    K4-decided `ident : Type` pairs inside a def signature) — the
  *    identifier and type_ref mentions at the anchor's endpoints
  *    supply the canonical subject/object. A bare positional
  *    identifier-next-to-type join (round 2) would emit has_type for
  *    type-ASCRIBED call arguments too, which are not declarations;
  *  - calls: call-site identifiers (nextTok = `(`) joined to the
  *    nearest-PRECEDING function via window;
  *  - documented_as: nearest-FOLLOWING function via window.
  *
  * Scale notes: all joins are co-keyed on (docId) or
  * (docId, sentId) — the mention table is already partitioned by docId
  * hash coming out of the extract stage, so these are shuffles on the
  * same key family. The windows partition by docId, never global.
  * Output is deduplicated and bucketable by hash(canonical subj) for
  * the downstream graph table.
  */
object TripleEmit {

  /** canonMentions: LinkedMention columns + `canonical` (post-CC). */
  def emit(canonMentions: DataFrame): DataFrame = {
    val spark = canonMentions.sparkSession
    import spark.implicits._
    // localCheckpoint, not cache(): 5 branches read this table, and the
    // blocks are released when the plan becomes unreachable (a cache()
    // here would pin the table in executor storage for the session —
    // there is no safe place to unpersist a lazily-returned DataFrame)
    val m = canonMentions.localCheckpoint()

    val defines = m.filter($"entType" === "function")
      .select($"docId".as("subj"), lit("defines_symbol").as("pred"),
        $"canonical".as("obj"), $"docId", $"linkScore".as("score"))

    val imports = m.filter($"entType" === "api_symbol")
      .select($"docId".as("subj"), lit("imports").as("pred"),
        $"canonical".as("obj"), $"docId", $"linkScore".as("score"))

    // has_type: param_decl anchor at (s, e) joined to the identifier
    // STARTING at s and the type_ref ENDING at e, all in one sentence —
    // the anchor carries the is-a-declaration decision, the endpoint
    // mentions carry the canonicals. All three joins co-keyed on
    // (docId, sentId) + a position.
    val pds = m.filter($"entType" === "param_decl")
      .select($"docId".as("pdoc"), $"sentId".as("psent"),
        $"start".as("pstart"), $"end".as("pend"))
    val idents = m.filter($"entType" === "identifier")
      .select($"docId".as("idoc"), $"sentId".as("isent"),
        $"start".as("istart"), $"canonical".as("subjC"),
        $"linkScore".as("score"))
    val types = m.filter($"entType" === "type_ref")
      .select($"docId".as("tdoc"), $"sentId".as("tsent"),
        $"end".as("tend"), $"canonical".as("objC"))
    val hasType = pds
      .join(idents, $"pdoc" === $"idoc" && $"psent" === $"isent" &&
        $"istart" === $"pstart")
      .join(types, $"pdoc" === $"tdoc" && $"psent" === $"tsent" &&
        $"tend" === $"pend")
      .select($"subjC".as("subj"), lit("has_type").as("pred"),
        $"objC".as("obj"), $"pdoc".as("docId"), $"score")

    // function mentions per doc, by line — the "definition timeline".
    // fnStart rides along as a deterministic tiebreaker: two function
    // mentions can share a sentId, and the nearest-def windows must pick
    // the same one as emitFused's binary search.
    val funcs = m.filter($"entType" === "function")
      .select($"docId".as("fdoc"), $"sentId".as("fnSent"),
        $"start".as("fnStart"), $"canonical".as("fnC"))

    // calls: identifier whose next token is "(" -> nearest preceding
    // def. nextTok was computed at extract time (token-local feature),
    // so no join back to the sentence table is needed.
    val callees = m.filter($"entType" === "identifier" && $"nextTok" === "(")
      .select($"docId".as("cdoc"), $"sentId".as("csent"), $"start",
        $"canonical".as("calleeC"), $"linkScore".as("score"))
    val callJoin = callees.join(funcs,
      $"cdoc" === $"fdoc" && $"fnSent" < $"csent")
    // desc tiebreakers = the LAST element of emitFused's
    // (sentId, start, canonical)-sorted array with fnSent < csent
    val wPrev = Window.partitionBy($"cdoc", $"csent", $"start")
      .orderBy($"fnSent".desc, $"fnStart".desc, $"fnC".desc)
    val calls = callJoin.withColumn("rn", row_number().over(wPrev))
      .filter($"rn" === 1)
      .select($"fnC".as("subj"), lit("calls").as("pred"),
        $"calleeC".as("obj"), $"cdoc".as("docId"), $"score")

    // documented_as: doc_entity / annotation -> nearest following
    // function (an annotation line sits directly above its def)
    val docs = m.filter($"entType".isin("doc_entity", "annotation"))
      .select($"docId".as("ddoc"), $"sentId".as("dsent"), $"start",
        $"canonical".as("entC"), $"linkScore".as("score"))
    val docJoin = docs.join(funcs,
      $"ddoc" === $"fdoc" && $"fnSent" > $"dsent")
    // asc tiebreakers = the FIRST sorted element with fnSent > dsent
    val wNext = Window.partitionBy($"ddoc", $"dsent", $"start")
      .orderBy($"fnSent".asc, $"fnStart".asc, $"fnC".asc)
    val documented = docJoin.withColumn("rn", row_number().over(wNext))
      .filter($"rn" === 1)
      .select($"fnC".as("subj"), lit("documented_as").as("pred"),
        $"entC".as("obj"), $"ddoc".as("docId"), $"score")

    defines.union(imports).union(hasType).union(calls).union(documented)
      .groupBy($"subj", $"pred", $"obj", $"docId")
      .agg(max($"score").as("score"))
  }

  /** Canonical mention row (LinkedMention + post-CC canonical id). */
  final case class CanonMention(docId: String, sentId: Int, start: Int,
      end: Int, entType: String, surface: String, entity: String,
      linkScore: Double, nextTok: String, canonical: String)

  /** The SLIM shuffle row of [[emitFused]]: every column the per-doc
    * pass actually reads — `surface` and `entity` are dead weight at
    * this point (linking already resolved them into `canonical`), and
    * dropping them cuts ~30% off the one corpus-sized shuffle the emit
    * stage pays. */
  final case class EmitRow(docId: String, sentId: Int, start: Int,
      end: Int, entType: String, linkScore: Double, nextTok: String,
      canonical: String)

  /** Fused scale path: ONE shuffle (groupByKey on docId) + a per-doc
    * in-memory pass computing all five predicates — equivalent to
    * [[emit]] (asserted in tests) but consumes the mention stream once
    * with no cache and no 5-branch union, so throughput scales with
    * cores. A document's mentions always fit in memory (files are
    * line-bounded), which is what makes the per-group pass safe at
    * 100 TB. */
  def emitFused(canonMentions: Dataset[CanonMention]): Dataset[Triple] = {
    import canonMentions.sparkSession.implicits._
    // RELATIONAL projection before the shuffle: only EmitRow's columns
    // are decoded and cross the wire (a typed .map here would
    // deserialize the full 10-column row first)
    slimRows(canonMentions)
      .groupByKey(_.docId).flatMapGroups { (docId, it) =>
        emitDoc(docId, it.toArray)
      }
  }

  private def slimRows(canonMentions: Dataset[CanonMention])
      : Dataset[EmitRow] = {
    import canonMentions.sparkSession.implicits._
    canonMentions.toDF()
      .select(col("docId"), col("sentId"), col("start"), col("end"),
        col("entType"), col("linkScore"), col("nextTok"), col("canonical"))
      .as[EmitRow]
  }

  /** SHUFFLE-FREE variant of [[emitFused]] for inputs whose partitions
    * already contain every mention of each document (and each doc's
    * rows consecutively): the per-doc pass runs inside `mapPartitions`
    * over consecutive same-docId runs, so the corpus-sized mention
    * table never crosses an exchange — the ONLY remaining wide op in
    * the pipeline is the extract stage's skew-control repartition.
    *
    * `Pipeline.canonEmit` is the one caller: it picks this emitter
    * only where the invariant holds by construction (see its doc). The
    * `require` turns a violated invariant into a loud failure instead
    * of silently duplicated triples; memory is O(one document), same
    * contract as [[emitFused]]'s per-group pass. */
  def emitFusedLocal(canonMentions: Dataset[CanonMention]): Dataset[Triple] = {
    import canonMentions.sparkSession.implicits._
    slimRows(canonMentions).mapPartitions { it =>
      val seen = new java.util.HashSet[String]()
      // NOTE the name: inside the anonymous Iterator[Triple] below a
      // bare `buffered` would resolve to Iterator's own .buffered
      val rows = it.buffered
      new Iterator[Triple] {
        private var cur: Iterator[Triple] = Iterator.empty
        private def advance(): Unit = {
          while (!cur.hasNext && rows.hasNext) {
            val docId = rows.head.docId
            require(seen.add(docId),
              s"emitFusedLocal: docId $docId reappeared after its run " +
                "ended — input not doc-contiguous; use emitFused")
            val buf = scala.collection.mutable.ArrayBuffer.empty[EmitRow]
            while (rows.hasNext && rows.head.docId == docId)
              buf += rows.next()
            cur = emitDoc(docId, buf.toArray)
          }
        }
        def hasNext: Boolean = { advance(); cur.hasNext }
        def next(): Triple = { advance(); cur.next() }
      }
    }
  }

  /** The per-document five-predicate pass shared VERBATIM by
    * [[emitFused]] (grouped by shuffle) and [[emitFusedLocal]]
    * (grouped by partition-local runs) — one body, so the two can
    * never diverge. */
  private[triples] def emitDoc(docId: String,
      ms: Array[EmitRow]): Iterator[Triple] = {
      // total sort: (sentId, start, canonical) so the binary-search pick
      // at a shared sentId matches the relational windows' tiebreakers
      val funcs = ms.filter(_.entType == "function")
        .sortBy(f => (f.sentId, f.start, f.canonical))
      val fnSents = funcs.map(_.sentId)
      val acc = scala.collection.mutable.HashMap[(String, String, String), Double]()
      def add(s: String, p: String, o: String, sc: Double): Unit = {
        val k = (s, p, o)
        val old = acc.getOrElse(k, Double.NegativeInfinity)
        if (sc > old) acc(k) = sc
      }
      // nearest function strictly before/after a line (binary search)
      def fnBefore(sent: Int): Option[EmitRow] = {
        var lo = 0; var hi = fnSents.length - 1; var ans = -1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          if (fnSents(mid) < sent) { ans = mid; lo = mid + 1 } else hi = mid - 1
        }
        if (ans >= 0) Some(funcs(ans)) else None
      }
      def fnAfter(sent: Int): Option[EmitRow] = {
        var lo = 0; var hi = fnSents.length - 1; var ans = -1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          if (fnSents(mid) > sent) { ans = mid; hi = mid - 1 } else lo = mid + 1
        }
        if (ans >= 0) Some(funcs(ans)) else None
      }
      // identifier lookup by (sentId, start) and type_ref lookup by
      // (sentId, end) — ALL mentions at a key, in deterministic
      // (end/start, canonical) order: a plain toMap would keep one
      // arbitrary (iterator-order) element, diverging from emit()'s
      // relational join as soon as two share a key
      val identAt = ms.filter(_.entType == "identifier")
        .groupBy(i => i.sentId.toLong << 16 | i.start)
        .map { case (k, is) => k -> is.sortBy(i => (i.end, i.canonical)) }
      val typeEndAt = ms.filter(_.entType == "type_ref")
        .groupBy(t => t.sentId.toLong << 16 | t.end)
        .map { case (k, ts) => k -> ts.sortBy(t => (t.start, t.canonical)) }
      ms.foreach { m =>
        m.entType match {
          case "function" => add(docId, "defines_symbol", m.canonical, m.linkScore)
          case "api_symbol" => add(docId, "imports", m.canonical, m.linkScore)
          case "param_decl" =>
            // has_type anchored on the K4-decided declaration pair:
            // identifier at the anchor's start x type_ref at its end
            identAt.get(m.sentId.toLong << 16 | m.start).foreach(_.foreach { i =>
              typeEndAt.get(m.sentId.toLong << 16 | m.end).foreach(_.foreach { t =>
                add(i.canonical, "has_type", t.canonical, i.linkScore)
              })
            })
          case "identifier" =>
            if (m.nextTok == "(")
              fnBefore(m.sentId).foreach(f =>
                add(f.canonical, "calls", m.canonical, m.linkScore))
          case "doc_entity" | "annotation" =>
            fnAfter(m.sentId).foreach(f =>
              add(f.canonical, "documented_as", m.canonical, m.linkScore))
          case _ => ()
        }
      }
      acc.iterator.map { case ((s, p, o), sc) => Triple(s, p, o, docId, sc) }
  }
}
