package graft.perfbench

import java.nio.file.Paths

import graft.corpus.CorpusGen
import graft.index.{BuildReport, IndexBuilder, IndexConf}
import graft.query.QueryEngine

/** `build`: the reference's bulk ingest. The client builds one seeded
  * corpus, stored as parquet during set-up, again and again, each time
  * into a fresh index dir, until the window ends. Extraction, the
  * tokenizer, docId ranking, the encode shuffle and the parquet writes do
  * the work; no query layer runs inside the window.
  */
final class BuildWorkload(c: Ctx) {
  import Common._
  val Docs = 5000
  private val conf = IndexConf(numBuckets = Buckets)
  private val spark = c.spark

  def measure(): Result = {
    c.phase("start")
    val corpus = c.tracer.span("corpus")(storedCorpus(spark, Docs, c.seed, c.dir("corpus")))
    c.phase("corpus stored")
    // set-up: builds of the same corpus compile and warm every build plan
    // before timing
    val setupS = c.repeatedSetup { i =>
      val d = c.dir(s"build-warm-$i")
      IndexBuilder.build(spark, corpus, d, conf)
      Proc.deleteTree(Paths.get(d))
    }
    val liveAfterSetup = Proc.liveMb
    c.phase("set-up done")

    val builds = new Timing("build")
    val reports = scala.collection.mutable.ArrayBuffer.empty[BuildReport]
    var last: String = null
    val before = Window.open()
    c.tracer.span("window") {
      val deadline = System.nanoTime() + c.seconds * 1000000000L
      var i = 0
      while (System.nanoTime() < deadline) {
        val d = c.dir(s"build-$i")
        c.op(builds, "IndexBuilder.build", i) {
          IndexBuilder.build(spark, corpus, d, conf)
        }.foreach(reports += _)
        if (last != null) Proc.deleteTree(Paths.get(last))
        last = d
        i += 1
      }
    }
    val win = Window.close(before)
    val liveMb = math.max(liveAfterSetup, Proc.liveMb)
    c.phase("window done")

    // correctness gate: one seed, one index. The query-path gate runs in
    // `search`, over an index IndexBuilder wrote in its set-up.
    c.check(reports.map(r => (r.docs, r.terms, r.postings, r.segments, r.buckets)).distinct.size == 1,
      s"BuildReport counts differ between builds of one seed: $reports")
    c.check(reports.forall(_.docs == Docs), s"a build indexed other than $Docs docs: $reports")
    val textBytes = CorpusGen.generateLocal(Docs, c.seed)
      .map(_.text.getBytes("UTF-8").length.toLong).sum
    val bytesPerText = Proc.treeBytes(Paths.get(last)).toDouble / textBytes
    val docsPerS = 1000.0 * Docs * builds.n / builds.sum

    val layers = if (!c.tracer.enabled) Nil else c.tracer.span("layers") {
      Layers.micro(c, last, new QueryEngine(spark, last, conf.numBuckets),
        Inputs.pool(c.seed)) ++
        Layers.queryStreams(c) ++ Layers.window(c, win) ++
        IngestProbe.run(c, last, Docs, conf) ++
        Seq(Metric("trace.op_p50_ms", builds.p50, "ms"),
          Metric("trace.throughput_per_s", docsPerS, "1/s"))
    }
    System.err.println(s"[perfbench] ${builds.describe}")
    Result(
      endToEnd = Seq(
        Metric("setup_s", setupS, "s"),
        Metric("live_mb", liveMb, "MB"),
        Metric("op_p50_ms", builds.p50, "ms"),
        Metric("throughput_per_s", docsPerS, "1/s"),
        Metric("index_bytes_per_text_byte", bytesPerText, "ratio")),
      perLayer = layers,
      report = Seq(
        Metric("docs", Docs, "count"),
        Metric("builds", builds.n, "count"),
        Metric("build_docs_per_s", docsPerS, "docs/s"),
        Metric("build_p50_s", builds.p50 / 1000.0, "s"),
        Metric("build_tail_s", builds.tail / 1000.0, "s"),
        Metric("build_tail_pct", builds.tailPct, "pct"),
        Metric("postings", reports.head.postings, "count")))
  }
}
