package graft

import graft.ops.{DedupOps, Multimodal, SimilarityOps, TextOps}
import org.apache.spark.sql.functions._

/** Training-data ops: dedup recall properties, ANN recall vs brute
  * force, multimodal plumbing. Runs on the driver's sf0.001 tables. */
class OpsSpec extends SparkSpec {

  val dir = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$dir/documents.parquet").cache()
  lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet").cache()

  test("minhash LSH recall >= 0.9 vs exact jaccard at threshold 0.7") {
    val exact = DedupOps.jaccardPairs(docs, "doc_id", "text", 0.7)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupOps.minhashLshPairs(docs, "doc_id", "text", 0.7)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH pairs must be verified-exact subset")
    // deterministic fixture: a guard here would let a regression that
    // empties jaccardPairs pass with both sets vacuously empty
    assert(exact.nonEmpty, "fixture must contain exact near-dup pairs")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall (${lsh.size}/${exact.size})")
  }

  test("jaccard pairs are symmetric-free and within [0.7, 1]") {
    val rows = DedupOps.jaccardPairs(docs, "doc_id", "text", 0.7).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      val j = r.getDouble(2)
      assert(j >= 0.7 && j <= 1.0)
    }
  }

  test("df-cut bounds hot-shingle candidate explosion, keeps real near-dups") {
    import spark.implicits._
    // 100 docs all sharing one boilerplate trigram, otherwise disjoint
    val hot = "license header boilerplate"
    val d = (0 until 100).map(i =>
      (i.toLong, s"$hot unique$i word$i token$i extra$i more$i"))
      .toDF("doc_id", "text")
    val sh = DedupOps.shingles(d, "doc_id", "text").cache()
    val all = DedupOps.jaccardCandidates(sh).count()
    val cut = DedupOps.jaccardCandidates(DedupOps.dfCut(sh, 50)).count()
    assert(all >= 4950, s"hot shingle should explode candidates: $all")
    assert(cut == 0, s"df-cut must drop hot-shingle-only candidates: $cut")
    // a genuine near-dup still surfaces through its low-df shingles
    val twin = d.union(Seq(
      (1000L, s"$hot unique1 word1 token1 extra1 more1"))
      .toDF("doc_id", "text"))
    val pairs = DedupOps.jaccardPairs(twin, "doc_id", "text", 0.7, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 1000L)), s"missing near-dup: $pairs")
    sh.unpersist()
  }

  test("jaccardPairs does not depend on ANSI mode (pairs with no hot shingle)") {
    import spark.implicits._
    // the hot-shingle fixture of the df-cut case, plus one near-dup:
    // with maxDf = 50 the boilerplate trigram is hot, so docs carry hot
    // shingles there; on the sf0.001 documents nothing is hot
    val hot = "license header boilerplate"
    val twin = ((0 until 100).map(i =>
      (i.toLong, s"$hot unique$i word$i token$i extra$i more$i")) :+
      ((1000L, s"$hot unique1 word1 token1 extra1 more1")))
      .toDF("doc_id", "text")
    def pairs(ansi: Boolean): Set[(Long, Long, Double)] = {
      val before = spark.conf.get("spark.sql.ansi.enabled")
      try {
        spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
        (DedupOps.jaccardPairs(docs, "doc_id", "text", 0.5).collect() ++
          DedupOps.jaccardPairs(twin, "doc_id", "text", 0.5, 50).collect())
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      } finally spark.conf.set("spark.sql.ansi.enabled", before)
    }
    val on = pairs(ansi = true)
    assert(on.nonEmpty, "fixture must contain near-dup pairs")
    val off = pairs(ansi = false)
    assert(off == on, s"ANSI off drifts: +${(off -- on).take(3)} -${(on -- off).take(3)}")
  }

  test("exact dedup groups partition the corpus") {
    val total = docs.count()
    val sum = DedupOps.exactGroups(docs, "doc_id", "text")
      .agg(org.apache.spark.sql.functions.sum("n_docs")).head().getLong(0)
    assert(sum == total)
  }

  test("simhash: identical docs get identical signatures; near-dups close") {
    import spark.implicits._
    val twin = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "alpha beta gamma delta epsilon eta"),
      (4L, "totally different words here entirely now"))
      .toDF("doc_id", "text")
    val sigs = DedupOps.simhashSignatures(twin, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    val near = java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))
    val far = java.lang.Long.bitCount(sigs(1L) ^ sigs(4L))
    assert(near < far, s"near=$near far=$far")
  }

  test("simhash banding is COMPLETE for hamming<=3 (pigeonhole: 4 bands x 8 bits)") {
    import spark.implicits._
    // planted corpus: pairs of docs differing in few tokens, spread so
    // differing simhash bits land in BOTH halves of the signature —
    // round 2's single top-16-bit band missed any pair whose
    // differing bits touched the top half
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val d = (0 until 40).flatMap { i =>
      Seq((i * 10L, s"$base uniq$i"), (i * 10L + 1, s"$base uniq$i var$i"))
    }.toDF("doc_id", "text")
    // exact hamming<=3 self-join over signatures (ground truth)
    val sigs = DedupOps.simhashSignatures(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      if java.lang.Long.bitCount(sigs(a) ^ sigs(b)) <= 3
    } yield (a, b)).toSet
    val banded = DedupOps.simhashPairs(d, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture must contain hamming<=3 pairs")
    assert(banded == exact,
      s"banding must be candidate-complete for h<=3: missed " +
        s"${(exact -- banded).take(5)}, extra ${(banded -- exact).take(5)}")
  }

  test("ivfTrain bounds its per-cell buffer via the deterministic sample") {
    import spark.implicits._
    // one dominant cluster: 1M near-identical vectors — round 2's
    // trainer buffered the WHOLE cell on one reducer; the sampled
    // trainer holds <= maxTrainSample vectors total
    val big = spark.range(1000000L).select(col("id").as("vec_id"),
      array(col("id").cast("double") % 7 / 1000.0,
        lit(1.0), lit(2.0)).as("embedding"))
    val c1 = SimilarityOps.ivfTrain(big, nCells = 4, iters = 2,
      maxTrainSample = 1000L)
    val c2 = SimilarityOps.ivfTrain(big, nCells = 4, iters = 2,
      maxTrainSample = 1000L)
    assert(c1.length == 4 && c1.forall(_.length == 3))
    // deterministic across invocations (id-ordered sample summation)
    c1.zip(c2).foreach { case (a, b) => assert(a.sameElements(b)) }
    // small corpora (n <= maxTrainSample) train on everything —
    // bit-identical to the unsampled round-2 path for the sf oracles
    val small = SimilarityOps.ivfTrain(emb, nCells = 8, iters = 5)
    val smallAgain = SimilarityOps.ivfTrain(emb, nCells = 8, iters = 5)
    small.zip(smallAgain).foreach { case (a, b) => assert(a.sameElements(b)) }
  }

  test("signature kernels reject wrong-typed SQL arguments at analysis") {
    graft.functions.SigFunctions.register(spark)
    def msgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
    // wrong column type -> clean analysis error, not a Janino compile
    // failure + per-row ClassCastException in the interpreted fallback
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_sigs(42)").collect()
    }
    assert(msgs(e).contains("minhash_sigs expects a string argument"),
      msgs(e))
    // wrong literal type for the n argument -> clear message
    val e2 = intercept[Exception] {
      spark.sql("SELECT ngram_shingles('a b c d', 3L)").collect()
    }
    assert(msgs(e2).contains("literal INT"), msgs(e2))
  }

  test("narrow signatures == classic posting-table formulation") {
    // the round-4 narrow rewrite must be a pure plan change: recompute
    // both signature families the explode+groupBy way and assert
    // per-doc equality on the real corpus table
    val sh = DedupOps.shingles(docs, "doc_id", "text")
      .select(col("doc"), pmod(TextOps.md5h60(col("ng")),
        lit(DedupOps.P30)).as("x"))
    val mhAggs = (0 until DedupOps.NumHashes).map { i =>
      min((col("x") * (2 * i + 1) + (97 + 31 * i)) % DedupOps.PMOD)
        .as(s"mh$i")
    }
    val mhOld = sh.groupBy(col("doc")).agg(mhAggs.head, mhAggs.tail: _*)
      .collect().map(r => r.getLong(0) ->
        (1 to DedupOps.NumHashes).map(r.getLong).toVector).toMap
    val mhNew = DedupOps.minhashSignatures(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (1 to DedupOps.NumHashes).map(r.getLong).toVector).toMap
    assert(mhNew == mhOld)

    val tok = docs.select(col("doc_id").as("doc"),
      explode(array_distinct(TextOps.words(col("text")))).as("w"))
      .filter(length(col("w")) > 0)
      .select(col("doc"), TextOps.md5h60(col("w")).as("h"))
    val bitSums = (0 until 32).map { k =>
      sum(when(shiftright(col("h"), k).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"b$k")
    }
    val shOld = tok.groupBy(col("doc")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc"),
        (0 until 32).map(k =>
          when(col(s"b$k") > 0, lit(1L << k)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val shNew = DedupOps.simhashSignatures(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shNew == shOld)

    // winnowing: one-pass expression == the classic per-doc window
    // formulation (explode positions -> bounded window min -> distinct)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow, 3)
    val wfOld = docs
      .select(col("doc_id").as("doc"), (length(col("text")) - 7).as("n"),
        explode(when(length(col("text")) - 7 >= 1,
          sequence(lit(1), length(col("text")) - 7))
          .otherwise(array().cast("array<int>"))).as("pos"),
        col("text"))
      .select(col("doc"), col("n"), col("pos"),
        TextOps.md5h60(col("text").substr(col("pos"), lit(8))).as("h"))
      .withColumn("fp", min(col("h")).over(w))
      .filter(col("pos") <= col("n") - 3)
      .select(col("doc"), col("fp")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wfNew = TextOps.winnowFingerprints(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wfNew == wfOld)

    // native ngram_shingles == HOF TextOps.ngrams, ELEMENT-WISE (the
    // kernel must preserve first-occurrence distinct order, not just
    // the set) — plus the short-doc empty-array case
    graft.functions.SigFunctions.register(spark)
    val shingleRows = docs
      .select(col("doc_id"),
        TextOps.ngrams(col("text"), 3).as("hof"),
        expr("ngram_shingles(`text`, 3)").as("native"))
      .collect()
    assert(shingleRows.nonEmpty)
    shingleRows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"shingle mismatch for doc ${r.getLong(0)}")
    }
    val shortDoc = spark.range(1).select(lit("a b").as("text"))
      .select(TextOps.ngrams(col("text"), 3).as("hof"),
        expr("ngram_shingles(`text`, 3)").as("native"))
      .head()
    assert(shortDoc.getSeq[String](0).isEmpty &&
      shortDoc.getSeq[String](1).isEmpty)
  }

  test("LSH index rows are id-only (no embedding arrays in the cached index)") {
    // both ANN consumers cache() the index and self-join it — since the
    // id-pair refactor no consumer reads the vector from the index, and
    // carrying it would pin nTables duplicate arrays per vector in
    // executor storage (round-3 finding)
    val idx = SimilarityOps.lshIndex(emb, SimilarityOps.defaultTables())
    assert(idx.columns.toSeq == Seq("vec_id", "tbl", "bucket"))
    assert(!idx.schema.exists(
      _.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
      s"index schema must carry no array column: ${idx.schema}")
  }

  test("LSH ANN recall@5 >= 0.3 vs brute force, and is a valid top-k") {
    val bf = SimilarityOps.bruteForceTopK(emb, col("vec_id") < 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = SimilarityOps.lshTopK(emb, col("vec_id") < 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (bf & lsh).size.toDouble / bf.size
    assert(recall >= 0.3, s"ANN recall $recall")
  }

  test("IVF ANN recall@5 >= 0.3 vs brute force (nProbe=2 of 8 cells)") {
    val bf = SimilarityOps.bruteForceTopK(emb, col("vec_id") < 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = SimilarityOps.ivfTopK(emb, col("vec_id") < 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    assert(recall >= 0.3, s"IVF recall $recall")
    // deterministic across invocations
    val ivf2 = SimilarityOps.ivfTopK(emb, col("vec_id") < 10, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ivf == ivf2)
  }

  test("native fused cosine == HOF formulation, bit-exact on real embeddings") {
    graft.functions.VecFunctions.register(spark)
    val rows = emb.alias("a").join(emb.alias("b"),
        col("a.vec_id") < col("b.vec_id") && col("b.vec_id") < 40)
      .select(
        SimilarityOps.cosine(col("a.embedding").cast("array<double>"),
          col("b.embedding").cast("array<double>")).as("native"),
        SimilarityOps.cosineHof(col("a.embedding").cast("array<double>"),
          col("b.embedding").cast("array<double>")).as("hof"))
      .collect()
    assert(rows.nonEmpty)
    // bit-exact, not approx: both accumulate left-to-right in double
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    // null parity with zip_with: length mismatch and null element
    val edge = spark.sql(
      """SELECT cosine_sim(array(1.0d, 2.0d), array(1.0d)) AS mismatch,
        |       cosine_sim(array(1.0d, NULL), array(1.0d, 2.0d)) AS nullelem,
        |       cosine_sim(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS nullvec
        |""".stripMargin).head()
    assert(edge.isNullAt(0) && edge.isNullAt(1) && edge.isNullAt(2))
  }

  test("cosine near-dup pairs: verified subset of all-pairs threshold, deterministic") {
    val exact = emb.alias("a").join(emb.alias("b"),
        col("a.vec_id") < col("b.vec_id"))
      .filter(SimilarityOps.cosineHof(
        col("a.embedding").cast("array<double>"),
        col("b.embedding").cast("array<double>")) >= 0.3)
      .select(col("a.vec_id"), col("b.vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SimilarityOps.cosineNearDupPairs(emb, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "every emitted pair must pass the exact threshold")
    assert(exact.nonEmpty && lsh.nonEmpty, s"exact=${exact.size} lsh=${lsh.size}")
    val again = SimilarityOps.cosineNearDupPairs(emb, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == again)
  }

  test("brute-force top-k is the true top-k (spot check vs local compute)") {
    val vecs = emb.collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray
    }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val got = SimilarityOps.bruteForceTopK(emb, col("vec_id") === 0, 5)
      .orderBy("rank").collect().map(_.getLong(2)).toVector
    val want = vecs.keys.filter(_ != 0L).toVector
      .map(id => (id, cos(vecs(0L), vecs(id))))
      .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
    assert(got == want)
  }

  test("multimodal decode: batched stub is deterministic and schema-stable") {
    val media = Multimodal.mediaTable(docs.limit(50))
    val f1 = Multimodal.decodeFeatures(media).collect().sortBy(_.media_id)
    val f2 = Multimodal.decodeFeatures(media.repartition(7)).collect()
      .sortBy(_.media_id)
    assert(f1.length == 50)
    f1.zip(f2).foreach { case (a, b) =>
      assert(a.media_id == b.media_id && a.checksum == b.checksum &&
        a.features.sameElements(b.features))
    }
    assert(f1.forall(_.features.length == 8))
  }

  test("winnowing guarantee: shared substring >= k+win-1 chars -> shared fingerprint") {
    import spark.implicits._
    val d = Seq(
      (1L, "xxxx SHARED-SEGMENT-HERE yyyy"),
      (2L, "aaaaaa SHARED-SEGMENT-HERE bb"),
      (3L, "completely unrelated text zzz"))
      .toDF("doc_id", "text")
    val fp = TextOps.winnowFingerprints(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def of(id: Long) = fp.filter(_._1 == id).map(_._2).toSet
    assert((of(1) & of(2)).nonEmpty, "shared segment must share a fingerprint")
    assert((of(1) & of(3)).isEmpty)
  }

  test("lang_id ties break lexicographically and 'und' when no hits") {
    import spark.implicits._
    val d = Seq((1L, "the der"), (2L, "xyzzy qwerty"))
      .toDF("doc_id", "text")
    val out = d.select(col("doc_id"),
      TextOps.langIdCols(col("text")).last._2.as("lang_pred"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "de") // tie de/en -> lexicographically first
    assert(out(2L) == "und")
  }

  test("bundle mainName mirrors (F10): column == pure, pinned vs reference") {
    import spark.implicits._
    import graft.core.BundleNames
    // expected values computed by running the reference's main_name /
    // main_name_list (train_utils.py:19-34) on these inputs — pins the
    // branch order (kebio override first, ONE trailing slash, last
    // path segment, table lookup, identity fallback)
    val pinned = Map(
      "biobert_v1.1" -> "biobert",
      "models/biobert_v1.1/" -> "biobert",
      "/opt/encoders/scibert_scivocab_uncased" -> "scibert",
      "custom/path/unknown-enc/" -> "unknown-enc",
      "KeBioLM" -> "kebio",
      "hub/KEBIO-large" -> "kebio",
      "default" -> "default",
      "models/pubmedbert_abs/,kebio/x,ema" -> "pubmedbert,kebio,ema")
    pinned.foreach { case (in, exp) =>
      assert(BundleNames.mainNameList(in) == exp, in)
    }
    // the codegen'd Column mirrors agree with the pure mirrors on the
    // whole demo roster (every Abbrev key + every branch + lists)
    val out = BundleNames.demoNames.toDF("name")
      .select(col("name"),
        BundleNames.mainNameCol(col("name")).as("mn"),
        BundleNames.mainNameListCol(col("name")).as("mnl"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(out.length == BundleNames.demoNames.length)
    out.foreach { case (n, mn, mnl) =>
      assert(mn == BundleNames.mainName(n), s"mainName($n)")
      assert(mnl == BundleNames.mainNameList(n), s"mainNameList($n)")
    }
  }

  test("weight schedule (F8): pinned vs reference, boundaries, monotone") {
    import graft.kernel.Weights.weightSchedule
    // expected values computed by running the reference's
    // weight_scheduler (train_utils.py:228-234) on these inputs
    // (python `(e/t) ** 2` vs scala `r * r`: identical on all pins)
    val pinned = Seq(
      (0, 30) -> 1.0,
      (3, 7) -> 0.8163265306122449,
      (10, 30) -> 0.8888888888888888,
      (29, 30) -> 0.06555555555555559,
      (30, 30) -> 0.0,
      (7, 10) -> 0.51)
    pinned.foreach { case ((e, t), exp) =>
      assert(weightSchedule(e, t) == exp, s"weightSchedule($e, $t)")
    }
    // strictly decreasing over a full epoch range
    val ws = (0 to 50).map(weightSchedule(_, 50))
    assert(ws.zip(ws.tail).forall { case (a, b) => a > b })
    // the reference raises NotImplementedError for any other method
    intercept[IllegalArgumentException](weightSchedule(1, 10, "linear"))
    intercept[IllegalArgumentException](weightSchedule(1, 0))
  }

  test("ptbClean/removeSpace match the reference chain bit-for-bit") {
    import spark.implicits._
    // expected strings computed by running the reference's clean()/
    // remove_space() (align_input.py:7-15) on these inputs — pins the
    // ORDER of the replacement chain (e.g. '&amp;T' before '&', 'A'
    // removed only after '-LRB-A-RRB-' became '(A)')
    val cases = Seq(
      ("a-LRB-b-RRB- c.d 'e' -LSB-f-RSB- &amp;Tag M-A <UNK>h {i}",
        "a(b) cd e [f] ag  h i", "a(b)cde[f]aghi"),
      ("AT&amp;T -LCB-x-RCB- \tMr. O'Malley & co-op \"q\" &AMP; -LRB-A-RRB-",
        "T x r Oalley  coop q  ()", "TxrOalleycoopq()"),
      ("Map<UNK>.Entry -- A.M. {lambda}",
        "apEntry   lambda", "apEntrylambda"))
    val out = cases.zipWithIndex.map { case ((t, _, _), i) => (i, t) }
      .toDF("i", "text")
      .select(col("i"), TextOps.ptbClean(col("text")).as("c"),
        TextOps.removeSpace(col("text")).as("r"))
      .collect().map(r => r.getInt(0) -> (r.getString(1), r.getString(2)))
      .toMap
    cases.zipWithIndex.foreach { case ((_, c, r), i) =>
      assert(out(i) == (c, r), s"case $i")
    }
  }
}
