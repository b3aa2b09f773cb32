package graft.perfbench

import graft.corpus.CorpusGen

/** Self-tests of the benchmark itself (no Spark session):
  * `python3 perfbench/run.py --selftest`. Exits 1 on any failure.
  */
object SelfTest {
  private var failures = 0

  private def expect(ok: Boolean, what: String): Unit = {
    println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    // the tail rule: the highest ladder percentile with >= 10 samples beyond
    expect(Stats.tailPercentile(19).isEmpty, "19 samples: no percentile has 10 beyond")
    expect(Stats.tailPercentile(20).contains(50.0), "20 samples: p50")
    expect(Stats.tailPercentile(99).contains(75.0), "99 samples: p75")
    expect(Stats.tailPercentile(100).contains(90.0), "100 samples: p90")
    expect(Stats.tailPercentile(200).contains(95.0), "200 samples: p95")
    expect(Stats.tailPercentile(999).contains(95.0), "999 samples: p95")
    expect(Stats.tailPercentile(1000).contains(99.0), "1000 samples: p99")
    expect(Stats.tailPercentile(10000).contains(99.9), "10000 samples: p99.9")
    val xs = (1 to 100).map(_.toDouble)
    expect(Stats.percentile(xs, 90) == 90.0 && Stats.beyond(100, 90) == 10,
      "nearest-rank p90 of 1..100 is 90 with 10 beyond")
    val t = new Timing("t")
    (1 to 99).foreach(i => t.add(i))
    expect(t.tailPct == 75.0 && t.tail == 75.0, "a timing of 99 samples reports p75")
    t.add(100)
    expect(t.tailPct == 90.0 && t.tail == 90.0, "a timing of 100 samples reports p90")
    val short = new Timing("short")
    (1 to 5).foreach(i => short.add(i))
    expect(short.tailPct == 100.0 && short.tail == 5.0, "a short timing reports its maximum")

    // one seed, one input; two seeds, two inputs
    def streamOf(seed: Long) = Inputs.stream(seed, withDist = true).take(2000).toList
    expect(streamOf(7) == streamOf(7), "same seed, same query stream")
    expect(streamOf(7) != streamOf(8), "different seeds, different query streams")
    val s7 = streamOf(7)
    expect(s7.count(_.dist) == 2000 / Inputs.DistEvery, "exact distributed share")
    expect(s7.map(_.cls).toSet == (Inputs.DriverClasses :+ "dist").toSet,
      "the stream covers every query class")
    expect(Inputs.pool(7).map(q => (q.q, q.fq, q.qf, q.tie)).distinct.size > 256,
      "the pool's distinct requests outnumber the 256-entry segment cache")
    val head = s7.filterNot(_.dist).take(200)
    val repeats = head.size - head.distinct.size
    expect(repeats > 100 && repeats < 180, s"the Zipf head repeats ($repeats of 200)")
    expect(Inputs.gateSample(7) == Inputs.gateSample(7) &&
      Inputs.gateSample(7) != Inputs.gateSample(8), "gate sample follows the seed")
    val live = CorpusGen.generateLocal(3000, 7).map(_.url).toIndexedSeq
    def batchOf(seed: Long) = Inputs.batch(seed, 0, 3000, live)
    def content(b: Inputs.Batch) =
      (b.docs.map(d => (d.url, d.text, d.warc_ts, d.html.toSeq)), b.upsertUrls, b.deleteUrls)
    val b7 = batchOf(7)
    expect(content(b7) == content(batchOf(7)), "same seed, same ingest batch")
    expect(b7.docs.map(_.url) != batchOf(8).docs.map(_.url),
      "different seeds, different ingest batches")

    // upsert batches reuse earlier urls, with a new version
    val liveSet = live.toSet
    val reused = b7.docs.filter(d => liveSet.contains(d.url))
    expect(b7.docs.size == Inputs.BatchDocs, "a batch holds the reference's 2,500 docs")
    expect(reused.size == (Inputs.BatchDocs * Inputs.UpsertShare).toInt &&
      reused.map(_.url).toSet == b7.upsertUrls.toSet,
      "the upsert share of a batch re-adds earlier urls")
    expect(reused.forall(_.warc_ts == Inputs.versionTs(0)), "upserts carry the batch's version")
    expect(b7.docs.map(_.url).distinct.size == b7.docs.size, "no url twice in a batch")
    expect(b7.deleteUrls.forall(liveSet) && b7.deleteUrls.forall(u => !b7.upsertUrls.contains(u)),
      "deletes name live urls the batch does not upsert")

    // fail_frac counts thrown ops, which are never timed
    val c = new Ctx(null, new Tracer(false, null), java.nio.file.Paths.get("."), 7L, 1, 1)
    val timing = new Timing("ops")
    c.op(timing, "ok", 0)(1)
    c.op(timing, "throws", 1)(throw new IllegalStateException("boom"))
    expect(c.attempted.get == 2 && c.failed.get == 1, "a thrown op counts as attempted and failed")
    expect(timing.n == 1, "a thrown op adds no timing sample")

    println(s"[selftest] ${if (failures == 0) "all passed" else s"$failures failed"}")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
