package graftbench

import graft.core.{DocId, SourceFileHashed}
import graft.extract.Tokenizer
import graft.kernel.{TriaffineScorer, Weights}

/** Single-thread driver loop of tokenize + kernel over a workload's files:
  * CPU and allocation per file from `ThreadMXBean`, plus the top-k cascade
  * counts (spans enumerated, top-k survivors, decoded mentions) derived
  * from sentence lengths and `Weights.default`. The cascade counts repeat
  * exactly; allocation per file moves by a few percent between runs, with
  * whatever the JIT compiled while the Spark operations ran. */
object KernelLoop {
  val WarmPasses = 3
  val MeasuredPasses = 3

  def run(files: Seq[SourceFileHashed], out: Outcome): Unit = {
    val w = Weights.default
    def sents(f: SourceFileHashed) = Tokenizer.sentences(DocId.of(f.repo, f.path), f.content)
    def tokenize(): Unit = files.foreach(sents)
    def full(): Unit = files.foreach(f => TriaffineScorer.mentionsForFile(sents(f), w))
    (0 until WarmPasses).foreach(_ => full())
    val tok = Seq.fill(MeasuredPasses)(Trace.threadCost(tokenize()))
    val ker = Seq.fill(MeasuredPasses)(Trace.threadCost(full()))
    def per(xs: Seq[Long]) = BenchMain.median(xs.map(_.toDouble)) / files.size
    out.put("kernel.cpu_us_per_file", per(ker.map(_._1)) / 1e3)
    out.put("kernel.alloc_bytes_per_file", per(ker.map(_._2)))
    out.put("extract.tokenize_cpu_us_per_file", per(tok.map(_._1)) / 1e3)
    out.put("extract.tokenize_alloc_bytes_per_file", per(tok.map(_._2)))
    var spans = 0L
    var survivors = 0L
    var mentions = 0L
    files.foreach { f =>
      val ss = sents(f)
      ss.foreach { s =>
        val n = math.min(s.tokens.length, Tokenizer.maxSentLen)
        val sp = (1 to math.min(n, w.maxSpanLen)).map(l => (n - l + 1).toLong).sum
        spans += sp
        survivors += math.min(sp, w.topK.toLong)
      }
      mentions += TriaffineScorer.mentionsForFile(ss, w).size
    }
    out.put("kernel.spans", spans.toDouble)
    out.put("kernel.topk_survivors", survivors.toDouble)
    out.put("kernel.mentions", mentions.toDouble)
    out.put("kernel.yield", mentions.toDouble / spans)
  }
}
