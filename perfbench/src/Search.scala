package graft.perfbench

import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.corpus.{CorpusGen, Extractor, WebDoc}
import graft.index.{BuildReport, IndexBuilder, IndexConf}
import graft.oracle.{OracleDoc, SeqOracle}
import graft.query.QueryEngine

/** Helpers shared by both workloads. */
object Common {
  val K = 10
  /** Timed set-up passes, after one untimed pass (see [[Ctx.repeatedSetup]]). */
  val SetupReps = 3
  /** Term-hash buckets of every benchmark index: the layout scales with the
    * vocabulary, and these indexes hold 2.5k to 15k docs.
    */
  val Buckets = 8

  /** Writes a seeded corpus as parquet under `path` and returns a reader
    * over it: builds read stored pages, as the reference reads its stored
    * files, and generating them stays out of every timed build.
    */
  def storedCorpus(spark: SparkSession, n: Long, seed: Long, path: String): Dataset[WebDoc] = {
    import spark.implicits._
    CorpusGen.generate(spark, n, seed).write.parquet(path)
    spark.read.parquet(path).as[WebDoc]
  }

  def run(engine: QueryEngine, q: Query): Seq[(Long, Double)] =
    engine.search(q.q, K, "text", None, q.fq, "OR", q.qf, q.tie).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  def exhaustive(engine: QueryEngine, q: Query): Seq[(Long, Double)] =
    engine.searchExhaustive(q.q, K, "text", None, q.fq, "OR", q.qf, q.tie)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** Runs `tasks` on at most `threads` client threads. */
  def parallel[T](threads: Int, tasks: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(threads)
    try pool.invokeAll(tasks.map(t => new Callable[T] { def call(): T = t() }).asJava)
      .asScala.map(_.get()).toSeq
    finally pool.shutdown()
  }
}

/** `search`: one closed-loop client queries a resident index built during
  * set-up. The stream mixes every golden query shape, drawn by Zipf rank
  * from a seeded pool larger than the 256-entry segment cache; one request
  * in twenty is a stopword-heavy query sent to a second engine whose driver
  * threshold is 0 (the distributed windowed path).
  */
final class SearchWorkload(c: Ctx) {
  import Common._
  val Docs = 2500
  private val conf = IndexConf(numBuckets = Buckets)
  private val spark = c.spark
  private var dir: String = _
  private var report: BuildReport = _
  private var engine: QueryEngine = _
  private var engineDist: QueryEngine = _

  private def open(d: String): Unit = {
    engine = new QueryEngine(spark, d, conf.numBuckets)
    engineDist = new QueryEngine(spark, d, conf.numBuckets, driverWandMaxSegments = 0)
  }

  /** The requests of the pool's Zipf head: set-up runs them once, as a
    * resident engine's caches would already hold its popular requests.
    */
  val WarmHead = 32

  /** Fills the caches with the stream's Zipf head and compiles the
    * distributed plans before timing.
    */
  private def warm(): Unit = {
    Inputs.pool(c.seed).take(WarmHead).foreach(run(engine, _))
    Inputs.gateSample(c.seed ^ 0x77a9L).filter(_.dist).foreach(run(engineDist, _))
  }

  def measure(): Result = {
    c.phase("start")
    val corpus = c.tracer.span("corpus")(storedCorpus(spark, Docs, c.seed, c.dir("corpus")))
    c.phase("corpus stored")
    val setupS = c.repeatedSetup { i =>
      val d = c.dir(s"search-ix-$i")
      report = IndexBuilder.build(spark, corpus, d, conf)
      open(d)
      if (dir != null) Proc.deleteTree(java.nio.file.Paths.get(dir))
      dir = d
    }
    c.phase("indexed")
    c.tracer.span("warm")(warm())
    val liveAfterSetup = Proc.liveMb

    val all = new Timing("query")
    // requests the client sent before (or set-up sent): the popular
    // requests whose results a resident engine keeps in its caches
    val repeated = new Timing("repeated")
    val seen = mutable.HashSet.empty[Query] ++ Inputs.pool(c.seed).take(WarmHead)
    val driver = new Timing("topk")
    val dist = new Timing("dist")
    val stream = Inputs.stream(c.seed, withDist = true)
    c.phase("set-up done")
    val before = Window.open()
    c.tracer.span("window") {
      val deadline = System.nanoTime() + c.seconds * 1000000000L
      var i = 0L
      while (System.nanoTime() < deadline) {
        val q = stream.next()
        val t0 = System.nanoTime()
        val ok = c.op(if (q.dist) dist else driver,
          if (q.dist) "query.dist" else "query.driver", i) {
          run(if (q.dist) engineDist else engine, q)
        }
        if (ok.isDefined) {
          val ms = (System.nanoTime() - t0) / 1e6
          all.add(ms)
          if (!q.dist && !seen.add(q)) repeated.add(ms)
        }
        i += 1
      }
    }
    val win = Window.close(before)
    val liveMb = math.max(liveAfterSetup, Proc.liveMb)

    c.phase("window done")
    c.tracer.span("gate")(gate())
    c.phase("gate done")
    val ixBytes = Proc.treeBytes(java.nio.file.Paths.get(dir))
    val textBytes = CorpusGen.generateLocal(Docs, c.seed)
      .map(_.text.getBytes("UTF-8").length.toLong).sum
    val bytesPerText = ixBytes.toDouble / textBytes

    val layers = if (!c.tracer.enabled) Nil else c.tracer.span("layers") {
      Layers.micro(c, dir, engine, Inputs.pool(c.seed)) ++
        Layers.queryStreams(c) ++ Layers.window(c, win) ++
        IngestProbe.notRun ++
        Seq(Metric("trace.op_p50_ms", repeated.p50, "ms"),
          Metric("trace.throughput_per_s", 1000.0 * all.n / all.sum, "1/s"))
    }
    Seq(all, repeated, driver, dist).foreach(t => System.err.println(s"[perfbench] ${t.describe}"))
    Result(
      endToEnd = Seq(
        Metric("setup_s", setupS, "s"),
        Metric("live_mb", liveMb, "MB"),
        Metric("op_p50_ms", repeated.p50, "ms"),
        Metric("throughput_per_s", 1000.0 * all.n / all.sum, "1/s"),
        Metric("index_bytes_per_text_byte", bytesPerText, "ratio")),
      perLayer = layers,
      report = Seq(
        Metric("docs", Docs, "count"),
        Metric("postings", report.postings, "count"),
        Metric("topk_p50_ms", driver.p50, "ms"),
        Metric("topk_tail_ms", driver.tail, "ms"),
        Metric("topk_tail_pct", driver.tailPct, "pct"),
        Metric("topk_n", driver.n, "count"),
        Metric("dist_p50_ms", dist.p50, "ms"),
        Metric("dist_tail_ms", dist.tail, "ms"),
        Metric("dist_tail_pct", dist.tailPct, "pct"),
        Metric("dist_n", dist.n, "count"),
        Metric("query_tail_ms", all.tail, "ms"),
        Metric("query_tail_pct", all.tailPct, "pct"),
        Metric("query_n", all.n, "count"),
        Metric("query_p50_ms", all.p50, "ms"),
        Metric("repeated_share", repeated.n.toDouble / driver.n, "ratio")))
  }

  /** Correctness gate, outside the timed window: for one seeded request of
    * every class, the driver WAND, the distributed WAND and the exhaustive
    * Catalyst path must return the same docIds with bit-identical scores,
    * and so must the sequential oracle over the same corpus.
    */
  private def gate(): Unit = {
    val corpus = CorpusGen.generateLocal(Docs, c.seed)
    val oracle = new SeqOracle(corpus.sortBy(_.url).zipWithIndex.map {
      case (d, i) => OracleDoc(i.toLong, d.text, d.lang, d.url,
        d.warc_ts.getTime, Extractor.extractTitle(d.html))
    })
    val sample = Inputs.gateSample(c.seed)
    val results = parallel(c.cores, sample.map(q => () =>
      (q, run(engine, q), run(engineDist, q), exhaustive(engine, q))))
    results.foreach { case (q, drv, dst, exh) =>
      val orc = oracle.topK(q.q, K, "text", None, q.fq, "OR", q.qf, q.tie)
      c.check(drv == dst, s"${q.cls} '${q.q}' fq=${q.fq}: driver $drv != distributed $dst")
      c.check(drv == exh, s"${q.cls} '${q.q}' fq=${q.fq}: driver $drv != exhaustive $exh")
      c.check(drv == orc, s"${q.cls} '${q.q}' fq=${q.fq}: driver $drv != oracle $orc")
    }
    c.check(results.exists(_._2.nonEmpty), "every gate query came back empty")
  }
}
