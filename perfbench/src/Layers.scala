package graft.perfbench

import scala.collection.mutable

import graft.corpus.{CorpusGen, Extractor}
import graft.index.{Analysis, IndexBuilder, IndexConf, IndexLayout, ManifestRow,
  PostingCodec, PostingSegment}
import graft.query.{QueryEngine, QueryParser, QueryResolve, Wand}

/** Process readings taken around a measured window. */
final case class WindowStats(startMs: Long, endMs: Long, cpuS: Double, gcS: Double)

object Window {
  final case class Open(ms: Long, cpuS: Double, gcS: Double)
  def open(): Open = Open(System.currentTimeMillis(), Proc.cpuS, Proc.gcS)
  def close(o: Open): WindowStats =
    WindowStats(o.ms, System.currentTimeMillis(), Proc.cpuS - o.cpuS, Proc.gcS - o.gcS)
}

/** Per-layer metrics of the traced run. Each is measured from outside the
  * program, by timing calls into the layer's public functions, or read
  * from the spans and Spark jobs of the measured window.
  */
object Layers {

  /** Calls `f` until at least `minMs` have passed; mean ns per call. */
  private def perCallNs(minMs: Double)(f: => Unit): Double = {
    var calls = 0L
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e6 < minMs || calls == 0) { f; calls += 1 }
    (System.nanoTime() - t0).toDouble / calls
  }

  private def taskSkew(st: StageRec): Double = {
    val d = st.tasks.map(_.durationMs.toDouble).toSeq
    if (d.isEmpty) Double.NaN else d.max / math.max(1.0, Stats.median(d))
  }

  private def widest(stages: Seq[StageRec]): Option[StageRec] =
    if (stages.isEmpty) None else Some(stages.maxBy(_.tasks.size))

  private def medianOrNaN(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else Stats.median(xs)

  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Microbenchmarks of the corpus, analysis, codec, IndexBuilder, layout,
    * parser, scan and WAND layers on seeded inputs.
    */
  def micro(c: Ctx, dir: String, engine: QueryEngine, pool: Seq[Query]): Seq[Metric] = {
    val spark = c.spark
    val docs = CorpusGen.generateLocal(1000, c.seed ^ 0x1a7eL)
    val htmlMb = docs.map(_.html.length.toLong).sum / 1e6
    val extractNs = c.tracer.span("Extractor.extract") {
      perCallNs(300)(docs.foreach(d => Extractor.extract(d.html)))
    }
    val texts = docs.map(_.text)
    val textMb = texts.map(_.getBytes("UTF-8").length.toLong).sum / 1e6
    val tokNs = c.tracer.span("Analysis.tokenize") {
      perCallNs(300)(texts.foreach(Analysis.tokenize))
    }

    // postings of the sample docs, in IndexBuilder's packed layout
    val byTerm = mutable.TreeMap.empty[String, mutable.ArrayBuffer[(Long, Long, Long, Array[Byte])]]
    texts.zipWithIndex.foreach { case (t, id) =>
      val toks = Analysis.tokenize(t)
      toks.zipWithIndex.groupBy(_._1).foreach { case (term, occ) =>
        byTerm.getOrElseUpdate(term, mutable.ArrayBuffer.empty) +=
          ((id.toLong, occ.length.toLong, toks.length.toLong,
            PostingCodec.packPositions(occ.map(_._2).sorted)))
      }
    }
    val lists = byTerm.toSeq
    val nPostings = lists.map(_._2.size).sum
    def encodeAll(): Seq[PostingSegment] = lists.map { case (term, ps) =>
      PostingCodec.encodePacked(term, IndexBuilder.bucketOf(term, Common.Buckets), 0,
        ps.map(_._1).toArray, ps.map(_._2).toArray, ps.map(_._3).toArray,
        ps.map(_._4).toArray)
    }
    val encNs = c.tracer.span("PostingCodec.encodePacked")(perCallNs(300)(encodeAll()))
    val segs = encodeAll()
    val decNs = c.tracer.span("PostingCodec.decodeAll") {
      perCallNs(300)(segs.foreach(PostingCodec.decodeAll))
    }

    engine.invalidateCache() // the view and stats of the published index
    val live = IndexLayout.current(spark, dir).getOrElse(Nil)
    val tombstoneFree = IndexLayout.tombstonePaths(spark, dir, live).isEmpty
    val manifest = {
      import spark.implicits._
      live.flatMap(sd => spark.read.parquet(s"$dir/$sd/manifest").as[ManifestRow].collect())
    }
    val bytesPerPosting = manifest.map(_.bytes).sum.toDouble / manifest.map(_.rowCount).sum
    val currentNs = c.tracer.span("IndexLayout.current") {
      perCallNs(200)(IndexLayout.current(spark, dir))
    }

    // IndexBuilder phases on a seeded corpus of one ingest batch's size
    val conf = IndexConf(numBuckets = Common.Buckets)
    val bdocs = Common.storedCorpus(spark, Inputs.BatchDocs, c.seed ^ 0xb17dL,
      c.dir("layers-corpus"))
    val (assignS, (idDocs, unpersist, stats)) = timedS(
      c.tracer.span("IndexBuilder.assignDocIds")(IndexBuilder.assignDocIds(spark, bdocs)))
    val (hotS, _) = timedS(c.tracer.span("IndexBuilder.hotTerms")(
      IndexBuilder.hotTerms(idDocs, stats.n, conf)))
    val (tfS, _) = timedS(c.tracer.span("IndexBuilder.tfRowsOf")(
      IndexBuilder.tfRowsOf(idDocs).count()))
    unpersist()
    val (buildS, _) = timedS(c.tracer.span("IndexBuilder.build")(
      IndexBuilder.build(spark, bdocs, c.dir("layers-build"), conf)))
    c.tracer.drain()
    val buildSpan = c.tracer.named("IndexBuilder.build").last
    val bJobs = c.tracer.jobsUnder(buildSpan)
    val bStages = c.tracer.stagesOf(bJobs)
    def stageMb(f: TaskRec => Long): Double = bStages.flatMap(_.tasks).map(f).sum / 1e6

    // parser, resolve, postings scan and WAND on the stream's own requests
    val dict = {
      import spark.implicits._
      live.flatMap(sd => spark.read.parquet(s"$dir/$sd/postings").select($"term")
        .distinct().as[String].collect()).distinct
    }
    val expander = QueryResolve.dictExpander(dict)
    val sample = pool.take(400).filterNot(_.q == "*:*")
    val asts = sample.map(q => QueryParser.parse(q.q, "text", "OR", q.qf, q.tie))
    val parseNs = c.tracer.span("QueryParser.parse") {
      perCallNs(300)(sample.foreach(q => QueryParser.parse(q.q, "text", "OR", q.qf, q.tie)))
    } / sample.size
    val resolveNs = c.tracer.span("QueryResolve.resolve") {
      perCallNs(300)(asts.foreach(a => QueryResolve.resolve(a, expander)))
    } / asts.size
    val plain = Set("term", "or", "and", "not", "phrase", "slop", "boost")
    val wandCases = sample.filter(q => plain(q.cls) && q.fq.isEmpty).distinct.take(40)
    val st = engine.stats
    val avgdls = Wand.FieldAvgdl(st.avgdl, st.titleAvgdl)
    val scanMs = mutable.ArrayBuffer.empty[Double]
    val wandUs = mutable.ArrayBuffer.empty[Double]
    val postingsPerQuery = mutable.ArrayBuffer.empty[Double]
    wandCases.foreach { q =>
      val rq = QueryResolve.resolve(QueryParser.parse(q.q), expander)
      val terms = (rq.scoringTerms ++ rq.clauses.flatMap(_.notTerms)).distinct
      val t0 = System.nanoTime()
      val got = c.tracer.span("QueryEngine.postingsFor")(engine.postingsFor(terms).collect())
      scanMs += (System.nanoTime() - t0) / 1e6
      val segsBy = got.toSeq.groupBy(_.term)
      val df = segsBy.map { case (t, ss) => t -> ss.map(_.count.toLong).sum }
      postingsPerQuery += got.map(_.count.toDouble).sum
      def topK() = Wand.topK(segsBy, df, rq.scoringTerms, rq.clauses, st.n, avgdls,
        Common.K, 0L, Long.MaxValue, None, rq.boosts, None, rq.groups, rq.tie)
      wandUs += c.tracer.span("Wand.topK")(perCallNs(20)(topK())) / 1e3
      if (tombstoneFree) {
        val direct = topK().map(s => (s.docId, s.score)).toSeq
        c.check(direct == Common.run(engine, q),
          s"Wand.topK on collected segments != engine for '${q.q}'")
      }
    }

    Seq(
      Metric("corpus.extract_mb_per_s", htmlMb / (extractNs / 1e9), "MB/s"),
      Metric("analysis.tokenize_mb_per_s", textMb / (tokNs / 1e9), "MB/s"),
      Metric("codec.encode_ns_per_posting", encNs / nPostings, "ns"),
      Metric("codec.decode_ns_per_posting", decNs / nPostings, "ns"),
      Metric("codec.bytes_per_posting", bytesPerPosting, "B"),
      Metric("builder.assign_docids_s", assignS, "s"),
      Metric("builder.hot_terms_s", hotS, "s"),
      Metric("builder.tf_rows_s", tfS, "s"),
      Metric("builder.build_s", buildS, "s"),
      Metric("builder.jobs", bJobs.size, "count"),
      Metric("builder.shuffle_write_mb", stageMb(_.shuffleWrite), "MB"),
      Metric("builder.shuffle_read_mb", stageMb(_.shuffleRead), "MB"),
      Metric("builder.spill_mb", stageMb(_.spill), "MB"),
      Metric("builder.task_skew", widest(bStages).map(taskSkew).getOrElse(Double.NaN), "ratio"),
      Metric("layout.current_us", currentNs / 1e3, "us"),
      Metric("parser.parse_us", parseNs / 1e3, "us"),
      Metric("parser.resolve_us", resolveNs / 1e3, "us"),
      Metric("engine.scan_ms", medianOrNaN(scanMs.toSeq), "ms"),
      Metric("wand.topk_us", medianOrNaN(wandUs.toSeq), "us"),
      Metric("wand.postings_per_query", mean(postingsPerQuery.toSeq), "count"))
  }

  private def timedS[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Jobs, stages and shuffle of the measured query streams. */
  def queryStreams(c: Ctx): Seq[Metric] = {
    c.tracer.drain()
    val tr = c.tracer
    val driverSpans = tr.named("query.driver") ++ tr.named("query.reader")
    val driverJobs = driverSpans.map(s => tr.jobsUnder(s).size.toDouble)
    val distSpans = tr.named("query.dist")
    val perDist = distSpans.map { s =>
      val js = tr.jobsUnder(s).sortBy(_.id)
      val stages = tr.stagesOf(js)
      val durs = js.map(j => (j.endMs - j.startMs).toDouble)
      (js.size.toDouble, stages.size.toDouble,
        stages.flatMap(_.tasks).map(_.shuffleWrite).sum / 1024.0,
        durs.headOption.getOrElse(Double.NaN),
        if (durs.size > 1) durs.tail.max else Double.NaN,
        widest(stages).map(taskSkew).getOrElse(Double.NaN))
    }
    Seq(
      Metric("engine.zero_job_share",
        if (driverJobs.isEmpty) Double.NaN
        else driverJobs.count(_ == 0).toDouble / driverJobs.size, "ratio"),
      Metric("engine.jobs_per_topk", mean(driverJobs), "count"),
      Metric("dist.jobs_per_query", mean(perDist.map(_._1)), "count"),
      Metric("dist.stages_per_query", mean(perDist.map(_._2)), "count"),
      Metric("dist.shuffle_kb_per_query", mean(perDist.map(_._3)), "KB"),
      Metric("dist.first_job_ms", medianOrNaN(perDist.map(_._4).filterNot(_.isNaN)), "ms"),
      Metric("dist.window_job_ms", medianOrNaN(perDist.map(_._5).filterNot(_.isNaN)), "ms"),
      Metric("dist.task_skew", medianOrNaN(perDist.map(_._6).filterNot(_.isNaN)), "ratio"))
  }

  /** Scheduler wait, failed tasks, GC and CPU over the measured window. */
  def window(c: Ctx, w: WindowStats): Seq[Metric] = {
    c.tracer.drain()
    val jobs = c.tracer.synchronized(c.tracer.jobs.filter(j =>
      j.startMs >= w.startMs && j.startMs <= w.endMs).toList)
    val stages = c.tracer.stagesOf(jobs)
    val waits = stages.filter(_.submitMs >= 0).flatMap(s =>
      s.tasks.map(t => (t.launchMs - s.submitMs).toDouble))
    Seq(
      Metric("spark.task_wait_ms", mean(waits), "ms"),
      Metric("spark.failed_tasks", stages.flatMap(_.tasks).count(_.failed), "count"),
      Metric("jvm.gc_s", w.gcS, "s"),
      Metric("jvm.cpu_s", w.cpuS, "s"))
  }
}
