package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, in increasing
  * sophistication: exact (hash groupBy), n-gram Jaccard (inverted-index
  * join), MinHash+LSH (banded signature join), SimHash (hamming-banded).
  *
  * Scale design:
  *  - exact: one shuffle on the fingerprint; map-side partial agg.
  *  - jaccard: candidate generation is an equi-join on shared shingles
  *    (inverted index), NEVER a cross join; hot shingles (stopword
  *    trigrams, boilerplate) are dropped from the index by a document-
  *    frequency cut (`dfCut`) BEFORE the self-join — without it one hot
  *    shingle produces a quadratic candidate set at 100 TB. Verification
  *    is always exact over each doc's FULL shingle set (the cut only
  *    bounds candidate generation).
  *  - minhash: signatures are NARROW per-row native expressions (one
  *    codegen'd pass over the doc's distinct shingles, HashSigs.scala)
  *    — ZERO shuffle; the only
  *    shuffle in the whole operator is the band-bucket equi-join,
  *    which carries 4 short rows per document. Verification joins the
  *    candidate id pairs back to the document table (AQE broadcasts
  *    the small candidate side) and computes exact Jaccard with
  *    `array_intersect` on the distinct-shingle arrays. No posting
  *    table, no df-cut: hot shingles cannot explode a band join, and
  *    the min-aggregate absorbs them — the df-cut is an inverted-index
  *    concern (see jaccard above), not a signature concern.
  *  - simhash: one 32-bit signature per doc, computed narrow like
  *    minhash; 4 bands x 8 bits (pigeonhole-complete for hamming<=3),
  *    verify by hamming distance (bit_count(xor)).
  *
  * All hash arithmetic is the portable md5-60bit + modular family
  * (a_i*x + b_i mod p) so the DuckDB oracles replicate results exactly.
  *
  * Caching contract: `jaccardPairs` (the one operator that builds a
  * posting table, read twice by `dfCut`) `cache()`s it and
  * returns a LAZY DataFrame, so it cannot unpersist it itself — the
  * CALLER owns cleanup (`spark.catalog.clearCache()` between unrelated
  * queries, as Verify and Bench do). cache() is chosen over
  * localCheckpoint deliberately: cached blocks are recomputable on
  * executor loss, a checkpoint's lineage cut is not — the right trade
  * on a real cluster. minhash/simhash build no posting table at all.
  */
object DedupOps {

  val P30 = 1073741789L   // prime < 2^30: keeps a*x + b within 2^35
  val PMOD = 1000000007L
  val NumHashes = 16
  val Bands = 4           // 4 bands x 4 rows: ~99.999% recall at j>=0.9
  val RowsPerBand = 4

  /** Exact dedup groups: fingerprint -> (representative = min id,
    * group size). */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(TextOps.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("n_docs"))

  /** Distinct (id, shingle) posting table. The shingle array comes
    * from the native one-pass kernel (`ngram_shingles`), not the HOF
    * `TextOps.ngrams` — value-identical (OpsSpec parity test), but the
    * HOF `transform` is CodegenFallback and pays an interpreted lambda
    * dispatch per n-gram. */
  def shingles(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    graft.functions.SigFunctions.register(docs.sparkSession)
    // widen: the explode multiplies rows ~100x, and a single-split
    // small table would build the whole posting table in one task
    // (no-op when the scan is already wide)
    Parallelism.widen(docs, idCol).select(col(idCol).as("doc"),
      explode(expr(s"ngram_shingles(`$textCol`, $n)")).as("ng"))
  }

  /** Posting table restricted to index-able shingles: document
    * frequency <= maxDf. At web scale one hot shingle (stop-trigram,
    * license boilerplate) otherwise produces a QUADRATIC candidate set
    * in the inverted-index self-join; the cut drops only shingles so
    * common they carry no near-dup signal. Verification always uses
    * each doc's FULL shingle set — the cut only bounds candidate
    * generation. */
  def dfCut(sh: DataFrame, maxDf: Long): DataFrame =
    if (maxDf == Long.MaxValue) sh
    else {
      val df = sh.groupBy(col("ng")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select(col("ng"))
      sh.join(df, "ng")
    }

  /** Candidate pairs sharing at least one indexed shingle. */
  def jaccardCandidates(shIdx: DataFrame): DataFrame =
    shIdx.as("a").join(shIdx.as("b"),
      col("a.ng") === col("b.ng") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("d1"), col("b.doc").as("d2"))
      .distinct()

  /** Exact n-gram Jaccard near-dup pairs — the COUNTING formulation.
    *
    * The round-5 shape built the candidate id-pair set with an
    * inverted-index self-join, dropped duplicates, and verified each
    * pair by joining both sides back to per-doc shingle ARRAYS and
    * intersecting them — at sf0.1 that is 1.13M candidate pairs
    * carrying two ~50-element arrays through two joins plus 1.13M
    * array intersections. But the pair generation itself already
    * touches every shared cut shingle exactly once, so |A∩B| over the
    * CUT postings is just `count(*)` per pair — the groupBy both
    * dedups the pairs (what the old `.distinct()` did) AND computes
    * the intersection size, with map-side partial aggregation (guide
    * §2.3 "aggregate before you shuffle"). The full intersection adds
    * the HOT-shingle overlap back: per-doc arrays of df>maxDf shingles
    * are small by construction (a doc has few boilerplate shingles),
    * so the correction is a cheap array intersect on two slim left
    * joins. |A| and |B| are narrow per-doc kernel sizes. Every integer
    * (c, n1, n2) is identical to the array formulation's, so the final
    * division is bit-identical to the oracle's.
    *
    * Pair generation happens AFTER the df cut and per shingle GROUP
    * (sorted array, ascending pairs), so per-group state is bounded by
    * maxDf and the hot-shingle quadratic blowup remains impossible.
    * With maxDf = MaxValue (tests only) the groups are unbounded —
    * the df cut IS the scale guard, same as round 5. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxDf: Long = Long.MaxValue): DataFrame = {
    graft.functions.SigFunctions.register(docs.sparkSession)
    // cached: read by the df aggregate, the cut join-back, and the
    // hot-side join-back (caller owns cleanup — see the class doc)
    val sh = shingles(docs, idCol, textCol).cache()
    val dfs = sh.groupBy(col("ng")).agg(count(lit(1)).as("df"))
    val cutNg = dfs.filter(col("df") >= 2 && col("df") <= maxDf)
      .select(col("ng"))
    val grouped = sh.join(cutNg, "ng")
      .groupBy(col("ng"))
      .agg(sort_array(collect_set(col("doc"))).as("ds"))
    val pairCounts = grouped
      .select(posexplode(col("ds")).as(Seq("i", "d1")), col("ds"))
      .select(col("d1"), explode(
        slice(col("ds"), col("i") + lit(2), size(col("ds")))).as("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("c_cut"))
    // full distinct-shingle count per doc: one narrow kernel pass
    val n = docs.select(col(idCol).as("doc"),
      size(expr(s"ngram_shingles(`$textCol`, 3)")).as("n"))
    // per-doc HOT shingles (df > maxDf) — empty when nothing is hot
    val hotNg = dfs.filter(col("df") > maxDf).select(col("ng"))
    val hotArr = sh.join(hotNg, "ng")
      .groupBy(col("doc")).agg(collect_set(col("ng")).as("hots"))
    pairCounts
      .join(n.as("n1t"), col("d1") === col("n1t.doc"))
      .join(n.as("n2t"), col("d2") === col("n2t.doc"))
      .join(hotArr.as("h1"), col("d1") === col("h1.doc"), "left")
      .join(hotArr.as("h2"), col("d2") === col("h2.doc"), "left")
      .select(col("d1"), col("d2"),
        // a doc with no hot shingle has no hotArr row: empty array, not
        // null — size(null) is -1 with ANSI off (null with it on)
        (col("c_cut") + size(array_intersect(
          coalesce(col("h1.hots"), array()),
          coalesce(col("h2.hots"), array()))).cast("long")).as("c"),
        col("n1t.n").as("n1"), col("n2t.n").as("n2"))
      .select(col("d1"), col("d2"),
        (col("c").cast("double") /
          (col("n1") + col("n2") - col("c")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash signature columns mh0..mh15, computed NARROW: all 16
    * minhashes come from ONE pass over the doc's distinct shingles in
    * a native codegen expression (`graft.functions.MinhashSigs`) — no
    * explode, no groupBy, no shuffle, and no interpreted lambda
    * higher-order functions (a `transform`-based formulation measured
    * 3x slower than the posting groupBy it replaced — see the HashSigs
    * scaladoc). Docs with < n tokens have no shingle and get no
    * signature row, matching the posting-table formulation where they
    * produce no postings. */
  def minhashSignatures(docs: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    graft.functions.SigFunctions.register(docs.sparkSession)
    // NOT widened (unlike simhash): the one-pass 16-minhash kernel is
    // cheap enough that the A/B measured the repartition's extra
    // stage costing more than the parallelism bought (0.76s -> 0.86s)
    docs
      // cheap pre-filter keeps the expensive expression out of any
      // pushed-down predicate (a filter on the signature column would
      // be substituted below the projection and evaluate it twice)
      .filter(size(TextOps.words(col(textCol))) >= n)
      .select(col(idCol).as("doc"),
        expr(s"minhash_sigs(`$textCol`, $n)").as("mhs"))
      .select(col("doc") +: (0 until NumHashes).map { i =>
        col("mhs").getItem(i).as(s"mh$i")
      }: _*)
  }

  /** LSH band rows (doc, band, sig) from signatures. */
  def lshBands(sigs: DataFrame): DataFrame =
    sigs.select(col("doc"),
      explode(array((0 until Bands).map { b =>
        struct(lit(b).as("band"),
          concat_ws(",", (0 until RowsPerBand)
            .map(r => col(s"mh${b * RowsPerBand + r}")): _*).as("sig"))
      }: _*)).as("bs"))
      .select(col("doc"), col("bs.band").as("band"), col("bs.sig").as("sig"))

  /** Exact-Jaccard verification of candidate id pairs directly against
    * the document table: each doc's distinct-shingle array is computed
    * ONCE (native kernel, narrow) and each pair side joins back to it —
    * AQE broadcasts the small candidate side, so the big doc table is
    * never shuffled. Per-DOC computation matters: candidate PAIRS are
    * the unbounded quantity (a hot inverted-index shingle yields
    * quadratically many), so computing shingles per pair after the
    * join — tried and reverted — multiplies the kernel by pair count
    * (measured 15s vs 1.1s on the sf0.1 jaccard query). Jaccard is
    * then a narrow `array_intersect` — |A∩B| / (|A|+|B|-|A∩B|) over
    * distinct shingles, identical arithmetic to the posting-count
    * formulation. */
  private def verifyJaccardArrays(cands: DataFrame, docs: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      n: Int = 3): DataFrame = {
    graft.functions.SigFunctions.register(docs.sparkSession)
    // no caching here: the one remaining caller (minhash) has a cheap
    // band join whose signature subtree Spark's exchange reuse already
    // dedups — a cache would only hide the ReusedExchange the plan
    // test pins. (jaccard, whose candidate generation WAS expensive
    // enough to cache, now verifies by counting — see jaccardPairs.)
    // restrict the doc table to docs that appear in some candidate
    // pair BEFORE running the shingle kernel: the two verify joins
    // below each scan `arr`, and without the semi-join each scan
    // re-runs the per-doc kernel over the ENTIRE table — including
    // the overwhelming majority of docs in no pair at all. The
    // candidate-id side is small (AQE broadcasts it), so the big doc
    // table is still never shuffled. `arr` itself is cached: it is
    // referenced by BOTH verify joins, which would otherwise each
    // re-run the shingle kernel and the semi-join.
    val ids = cands.select(col("d1").as("doc"))
      .union(cands.select(col("d2").as("doc"))).distinct()
    val arr = docs
      .join(ids, docs(idCol) === ids("doc"), "left_semi")
      .select(col(idCol).as("doc"),
        expr(s"ngram_shingles(`$textCol`, $n)").as("ngs"))
    cands
      .join(arr.as("g1"), col("d1") === col("g1.doc"))
      .join(arr.as("g2"), col("d2") === col("g2.doc"))
      .select(col("d1"), col("d2"),
        size(array_intersect(col("g1.ngs"), col("g2.ngs"))).as("c"),
        size(col("g1.ngs")).as("n1"), size(col("g2.ngs")).as("n2"))
      .select(col("d1"), col("d2"),
        (col("c").cast("double") /
          (col("n1") + col("n2") - col("c")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash LSH near-dup pairs: narrow signatures -> band-bucket
    * equi-join (the ONLY shuffle, 4 short rows per doc) -> exact
    * Jaccard verification of the candidate id pairs via array
    * intersection against the doc table. Rounds 1-3 built a cached
    * posting table and df-cut it before the signature groupBy; the
    * narrow formulation needs neither — signature min-aggs absorb hot
    * shingles, and a band join cannot explode on them. */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    // NOT cached (round-6 A/B): isolated, the band-candidate stage
    // halves with a signature cache (AQE broadcasts one side, whose
    // subtree re-runs the kernel) — but the FULL query measured
    // neutral across five quiet windows (cached 1.03-1.16s vs
    // uncached 0.96-1.33s at sf0.1): the duplicate kernel evaluation
    // overlaps other stages, while the cache adds a serial
    // materialization. At cluster scale both sides shuffle and
    // ReusedExchange dedups the kernel with no cache at all — so the
    // uncached shape is kept (unlike simhash, whose cache was a clear
    // measured win).
    val bandRows = lshBands(minhashSignatures(docs, idCol, textCol))
    val cands = bandRows.as("a").join(bandRows.as("b"),
      col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
        col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("d1"), col("b.doc").as("d2"))
      .distinct()
    verifyJaccardArrays(cands, docs, idCol, textCol, threshold)
  }

  /** 32-bit SimHash per doc from distinct-token 60-bit hashes,
    * computed NARROW in one pass per row (`graft.functions.SimhashSig`
    * native expression): bit k of the signature is set iff strictly
    * more token hashes have bit k set than unset — the same predicate
    * as the classic `sum(±1) > 0`, without the explode + groupBy
    * shuffle. Docs with no non-empty token get no row (the grouped
    * formulation had no group for them): `trim(text) != ''` is exactly
    * "some space-split token is non-empty" and keeps the expensive
    * expression out of the pushed-down predicate. */
  def simhashSignatures(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    graft.functions.SigFunctions.register(docs.sparkSession)
    // widen: same single-split concern as minhashSignatures
    Parallelism.widen(docs, idCol)
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol).as("doc"),
        expr(s"simhash_sig(`$textCol`)").as("simhash"))
  }

  /** Bands for the 32-bit simhash: `SimhashBands` x `SimhashBandBits`.
    * Pigeonhole guarantee: a pair within hamming distance h differs in
    * at most h bands, so with bands > h it SHARES at least one band —
    * every hamming<=maxHamming pair is a candidate (completeness
    * asserted vs an exact hamming self-join in OpsSpec). Round 2 used a
    * single top-16-bit band, which silently missed any near-dup whose
    * differing bits touched the top half. */
  val SimhashBands = 4
  val SimhashBandBits = 8
  val SimhashMaxHamming = SimhashBands - 1

  /** SimHash near-dup pairs: band-bucket candidate equi-join (each doc
    * posts one (band, 8-bit slice) key per band), verify
    * hamming(sig1, sig2) <= maxHamming on candidates. Complete for
    * maxHamming <= bands-1 = 3 by the pigeonhole bound above. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming <= SimhashMaxHamming,
      s"maxHamming $maxHamming needs > $SimhashMaxHamming bands for the " +
        "pigeonhole completeness guarantee")
    // cached: the band self-join references the signature table on
    // BOTH sides, and unlike minhash (whose band rows meet in one
    // shuffled exchange the second side reuses) the simhash join
    // broadcasts one side — a separate BroadcastExchange subtree that
    // re-ran the whole per-doc signature kernel (measured 2x kernel
    // in the round-6 probe plan). One materialization, both sides
    // read it; caller owns cleanup (see the class doc).
    val sigs = simhashSignatures(docs, idCol, textCol).cache()
    val bands = sigs.select(col("doc"), col("simhash"),
      explode(array((0 until SimhashBands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * SimhashBandBits)
            .bitwiseAND((1L << SimhashBandBits) - 1).as("slice"))
      }: _*)).as("bs"))
      .select(col("doc"), col("simhash"),
        col("bs.band").as("band"), col("bs.slice").as("slice"))
    // a pair sharing several bands appears once per band — dedup BEFORE
    // the (cheap) hamming verify so the output is a set of pairs
    bands.as("a").join(bands.as("b"),
      col("a.band") === col("b.band") && col("a.slice") === col("b.slice") &&
        col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("d1"), col("b.doc").as("d2"),
        col("a.simhash").as("s1"), col("b.simhash").as("s2"))
      .dropDuplicates("d1", "d2")
      .select(col("d1"), col("d2"),
        bit_count(col("s1").bitwiseXOR(col("s2"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
