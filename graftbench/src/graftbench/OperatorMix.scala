package graftbench

import graft.SparkEntry
import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

/** The training-data user's query mix, run in the traced `build` run: a
  * fixed set of graded queries (dedup, ANN, negative sampling, losses, KG
  * eval, window and containment joins, an aggregate) over the bench's copy
  * of the sf0.01 tables, in a seed-permuted order. Each result's row count
  * and order-independent hash must equal the DuckDB oracle's
  * (`oracle/expected.json`). */
object OperatorMix {
  val Queries = Seq("dedup_minhash", "dedup_jaccard", "dedup_simhash", "ann_topk", "ann_lsh",
    "neg_sample", "loss_cells", "kg_eval", "topk_window", "containment_join", "q1_agg")

  private def expected(path: String): Map[String, (Long, String)] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    Queries.map(q => q -> (node.get(q).get("rows").asLong, node.get(q).get("hash").asText)).toMap
  }

  /** One traced pass: per-query seconds, jobs, shuffle bytes and GC
    * seconds. There is no warm-up pass (the run budget has no room for
    * one), so the times include each query's first-run JIT and codegen. */
  def run(spark: SparkSession, o: Opts, t: LayerListener, out: Outcome): Unit = {
    val data = s"${o.data}/data/sf0.01"
    val gold = expected(s"${o.data}/oracle/expected.json")
    val order = new scala.util.Random(o.seed).shuffle(Queries)
    val sc = spark.sparkContext
    def pass(): Map[String, Double] = order.map { q =>
      val df = SparkEntry.queries(q)(spark, data)
      val (rows, sec) = Trace.span(sc, s"operators.q.$q")(df.collect())
      val got = RowHash.of(df.columns.toSeq, rows)
      out.check(got == gold(q), s"$q: (rows, hash) $got != oracle ${gold(q)}")
      spark.catalog.clearCache()
      q -> sec
    }.toMap
    BenchBus.drain(sc)
    t.reset()
    val gc0 = Trace.gcSeconds()
    val secs = pass()
    val gc = Trace.gcSeconds() - gc0
    BenchBus.drain(sc)
    val s = t.total(_.startsWith("operators."))
    Queries.foreach(q => out.put(s"operators.q.${q}_s", secs(q)))
    out.put("operators.jobs", s.jobs.toDouble)
    out.put("operators.shuffle_bytes", s.shuffleBytes.toDouble)
    out.put("operators.gc_s", gc)
  }
}
