package graft.perfbench

import java.nio.file.Paths

import scala.collection.mutable

import graft.corpus.CorpusGen
import graft.index.{IndexBuilder, IndexConf, IndexLayout}
import graft.query.{Deletes, QueryEngine}

/** The incremental-ingest layers, probed in the traced run of `build`: the
  * writer appends 2,500-doc batches (the reference's `solrc.add` chunk) to
  * the built index, each re-adding a seeded share of live urls with new
  * text (upserts) and deleting a few live docs, and a reader queries after
  * every append. Auto-compaction runs at G=2 rather than the default 8, so
  * the probe's few appends include compaction cycles.
  */
object IngestProbe {
  val Batches = 4

  /** The probe's metrics and units; a workload that does not run the probe
    * reports each as 0.
    */
  val Units: Seq[(String, String)] = Seq("layout.live_generations" -> "count",
    "compaction.runs" -> "count", "compaction.append_s" -> "s",
    "compaction.rewritten_mb" -> "MB", "deletes.delete_ms" -> "ms",
    "ingest.append_p50_s" -> "s", "engine.first_topk_after_flip_ms" -> "ms")
  def notRun: Seq[Metric] = Units.map { case (n, u) => Metric(n, 0.0, u) }

  def run(c: Ctx, dir: String, baseDocs: Int, buildConf: IndexConf): Seq[Metric] = {
    val spark = c.spark
    import spark.implicits._
    val conf = buildConf.copy(autoCompactGenerations = 2)
    val reader = new QueryEngine(spark, dir, conf.numBuckets)
    val gateEngine = new QueryEngine(spark, dir, conf.numBuckets)
    def gens(): Seq[String] = IndexLayout.current(spark, dir).getOrElse(Nil)
    def rtg(url: String): Seq[(Long, Long)] =
      gateEngine.realtimeGet(url).select($"docId", $"warc_ts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime)).toSeq
    def searchUrl(url: String): Seq[Long] =
      gateEngine.search("*:*", Common.K, "text", None,
        Seq("url:" + url.substring(url.indexOf("/p/") + 3)))
        .collect().map(_.getLong(0)).toSeq

    val live = mutable.LinkedHashSet.empty[String]
    CorpusGen.generateLocal(baseDocs, c.seed).foreach(d => live += d.url)
    val segsAtStart = Proc.listSegDirs(dir).toSet
    val appendT = new Timing("append")
    val deleteT = new Timing("delete")
    val afterFlip = new Timing("first_after_flip")
    val compactingS = mutable.ArrayBuffer.empty[Double]
    val liveGens = mutable.ArrayBuffer.empty[Double]
    val stream = Inputs.stream(c.seed ^ 0x2eadL, withDist = false)
    (0 until Batches).foreach { b =>
      val batch = Inputs.batch(c.seed, b, baseDocs, live.toIndexedSeq)
      val n0 = gens().size
      val t0 = System.nanoTime()
      val ok = c.op(appendT, "IndexBuilder.append", b) {
        IndexBuilder.append(spark, spark.createDataset(batch.docs), dir, conf)
      }.isDefined
      val n1 = gens().size
      if (ok && n1 <= n0) compactingS += (System.nanoTime() - t0) / 1e9
      liveGens += n1
      batch.docs.foreach(d => live += d.url)
      c.op(afterFlip, "query.reader", b)(Common.run(reader, stream.next()))
      val ids = c.tracer.span("resolve-deletes")(batch.deleteUrls.flatMap(rtg).map(_._1))
      if (c.op(deleteT, "Deletes.delete", b)(Deletes.delete(spark, dir, ids)).isDefined)
        live --= batch.deleteUrls
      c.tracer.span("gate") {
        // the upsert reads back as its new version, by get and by search,
        // so the superseded version is invisible; a deleted doc is gone
        batch.upsertUrls.headOption.foreach { u =>
          val got = rtg(u)
          c.check(got.map(_._2) == Seq(Inputs.versionTs(b).getTime),
            s"batch $b: real-time get of upserted $u returned $got")
          c.check(searchUrl(u) == got.map(_._1),
            s"batch $b: search for upserted $u did not return only ${got.map(_._1)}")
        }
        batch.deleteUrls.headOption.foreach { u =>
          c.check(rtg(u).isEmpty, s"batch $b: deleted $u is still visible to get")
          c.check(searchUrl(u).isEmpty, s"batch $b: deleted $u is still found")
        }
      }
    }
    val rewritten = Proc.listSegDirs(dir).filterNot(segsAtStart)
      .filter(sd => IndexLayout.readJobDescriptor(spark, s"$dir/$sd").exists(_.kind == "compaction"))
      .map(sd => Proc.treeBytes(Paths.get(dir, sd))).sum
    val values = Seq(liveGens.sum / liveGens.size, compactingS.size.toDouble,
      if (compactingS.isEmpty) Double.NaN else Stats.median(compactingS.toSeq),
      rewritten / 1e6, deleteT.p50, appendT.p50 / 1000.0, afterFlip.p50)
    Units.zip(values).map { case ((n, u), v) => Metric(n, v, u) }
  }
}
