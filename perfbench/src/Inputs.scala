package graft.perfbench

import java.sql.Timestamp

import graft.corpus.CorpusGen
import graft.corpus.CorpusGen.SplitMix64
import graft.corpus.WebDoc

/** One request of the query stream. `dist` requests go to the engine whose
  * driver threshold is 0, the path large indexes take.
  */
final case class Query(cls: String, q: String, fq: Seq[String] = Nil,
    qf: Seq[(String, Double)] = Nil, tie: Double = 0.0, dist: Boolean = false)

/** Every input of a run is a pure function of the run's seed. */
object Inputs {

  private def rng(seed: Long, salt: Long): SplitMix64 =
    new SplitMix64(CorpusGen.mix(seed, salt))

  private def below(r: SplitMix64, n: Int): Int =
    ((r.nextLong() >>> 1) % n).toInt

  /** The vocabulary term at quantile `u` of a log-uniform spread over
    * ranks 200..19999: common and rare terms both appear, as in user
    * queries. The commonest vocabulary terms are left to the stopword-heavy
    * requests, so the cost of one cached request, and with it a run's
    * median, varies little between seeds.
    */
  private def term(u: Double): String =
    f"w${math.min(19999, (200 * math.exp(u * math.log(100.0))).toInt)}%05d"

  private def term(r: SplitMix64): String = term(r.nextDouble())

  /** Term quantile of pool rank `i`: a low-discrepancy sequence fixed per
    * rank, moved by a seeded jitter of at most 1/32 either way (stratified
    * sampling). Every seed gives each Zipf rank different terms of about
    * the same frequency, so the spread between seeds comes from the
    * program, not from whether a seed drew rare or common terms for the
    * few ranks that carry most of the traffic.
    */
  private def rankQuantile(i: Int, alpha: Double, r: SplitMix64): Double =
    math.min(0.999999, math.max(0.0, (i + 1) * alpha % 1.0 + (r.nextDouble() - 0.5) / 16))

  private def stop(r: SplitMix64): String =
    CorpusGen.Stopwords(below(r, 8))

  /** Driver-path query classes, one per shape of the golden query set. */
  val DriverClasses: Seq[String] = Seq("term", "or", "and", "not", "phrase",
    "slop", "prefix", "fuzzy", "wildcard", "range", "title", "boost", "qf",
    "fq_term", "fq_stored", "matchall_fq")

  /** A request of class `cls` whose two main terms sit at quantiles `ua`
    * and `ub` (see [[term]]).
    */
  def driverQuery(cls: String, r: SplitMix64, ua: Double, ub: Double): Query = {
    val a = term(ua)
    val b = term(ub)
    cls match {
      case "term"     => Query(cls, a)
      case "or"       => Query(cls, s"$a $b")
      case "and"      => Query(cls, s"$a AND $b")
      case "not"      => Query(cls, s"$a NOT $b")
      case "phrase"   => Query(cls, "\"" + stop(r) + " " + a + "\"")
      case "slop"     => Query(cls, "\"" + a + " " + stop(r) + "\"~2")
      case "prefix"   => Query(cls, a.dropRight(1) + "*")
      case "fuzzy"    => Query(cls, a + "~1")
      case "wildcard" => Query(cls, a.dropRight(1) + "?")
      case "range"    =>
        val hi = f"w${(a.drop(1).toInt + 1 + below(r, 4)).min(99999)}%05d"
        Query(cls, s"text:[$a TO $hi]")
      case "title"    => Query(cls, s"title:${below(r, 10000)} $a")
      case "boost"    =>
        if (below(r, 2) == 0) Query(cls, s"$a^2 OR $b")
        else Query(cls, s"${stop(r)}^0.1 $a")
      case "qf"       =>
        Query(cls, s"$a ${below(r, 10000)}",
          qf = Seq("text" -> 1.0, "title" -> 3.0),
          tie = Seq(0.0, 0.3, 1.0)(below(r, 3)))
      case "fq_term"   => Query(cls, s"$a $b", fq = Seq(term(r)))
      case "fq_stored" => Query(cls, a, fq = Seq(Seq("lang:no", "lang:de")(below(r, 2))))
      case "matchall_fq" => Query(cls, "*:*",
        fq = Seq(if (below(r, 2) == 0) "lang:no" else s"$a OR $b"))
    }
  }

  /** Stopword-heavy queries of shape `shape` (0 to 3): their postings
    * exceed any driver threshold at scale, so they take the distributed
    * windowed path.
    */
  def distQuery(r: SplitMix64, shape: Int): Query = shape % 4 match {
    case 0 => Query("dist", stop(r), dist = true)
    case 1 => Query("dist", s"${stop(r)} ${stop(r)} ${stop(r)}", dist = true)
    case 2 => Query("dist", s"${stop(r)} AND ${stop(r)}", dist = true)
    case _ => Query("dist", s"${term(r)} ${stop(r)}", dist = true)
  }

  val PoolSize = 300
  val ZipfS = 1.0
  /** One request in twenty goes to the distributed engine, at a seeded
    * place inside each block of twenty, so the share is exact in every run.
    */
  val DistEvery = 20

  /** The seeded pool of distinct driver-path requests, more than the
    * 256-entry segment cache holds; the stream draws from it by Zipf rank.
    * The class at each rank is fixed (rank mod 16), so every seed gives the
    * head the same mix of shapes and only the terms change.
    */
  def pool(seed: Long): IndexedSeq[Query] = {
    val r = rng(seed, 1L)
    (0 until PoolSize).map(i =>
      driverQuery(DriverClasses(i % DriverClasses.size), r,
        rankQuantile(i, 0.6180339887, r), rankQuantile(i, 0.7548776662, r)))
  }

  private lazy val zipfCum: Array[Double] = {
    val c = new Array[Double](PoolSize)
    var acc = 0.0
    var i = 0
    while (i < PoolSize) {
      acc += 1.0 / math.pow(i + 1.0, ZipfS); c(i) = acc; i += 1
    }
    c
  }

  private def zipfRank(r: SplitMix64): Int = {
    val u = r.nextDouble() * zipfCum(PoolSize - 1)
    val i = java.util.Arrays.binarySearch(zipfCum, u)
    math.min(PoolSize - 1, if (i >= 0) i else -(i + 1))
  }

  /** The search workload's request stream (endless, seeded). With
    * `withDist` false every request takes the driver path; otherwise block
    * `b` of twenty holds one distributed request, of shape `b` mod 4, so
    * every run sends the shapes in the same proportions.
    */
  def stream(seed: Long, withDist: Boolean): Iterator[Query] = {
    val p = pool(seed)
    val r = rng(seed, 2L)
    val slots = rng(seed, 4L)
    var slot = 0
    Iterator.from(0).map { i =>
      if (withDist && i % DistEvery == 0) slot = below(slots, DistEvery)
      if (withDist && i % DistEvery == slot) distQuery(r, i / DistEvery)
      else p(zipfRank(r))
    }
  }

  /** The seeded sample the correctness gate checks: one request of each
    * driver class plus distributed ones.
    */
  def gateSample(seed: Long): Seq[Query] = {
    val r = rng(seed, 3L)
    DriverClasses.map(c => driverQuery(c, r, r.nextDouble(), r.nextDouble())) ++
      (1 to 3).map(_ => distQuery(r, below(r, 4)))
  }

  // ------------------------------------------------------------- ingest

  val BatchDocs = 2500
  val UpsertShare = 0.2
  val DeletesPerBatch = 2

  /** Doc `i` of the ingest corpus; base docs are i < baseDocs, new batch
    * docs continue the index space, so every url is distinct.
    */
  def ingestDoc(seed: Long, i: Long): WebDoc = CorpusGen.doc(seed, i, 0L)

  /** A new version of the page at `url`: fresh text, newer timestamp. */
  def upsertDoc(seed: Long, url: String, batch: Int, j: Int): WebDoc = {
    val d = CorpusGen.doc(seed ^ 0x5bd1e995L, batch.toLong * BatchDocs + j, 0L)
    d.copy(url = url, warc_ts = versionTs(batch))
  }

  /** Upsert versions of batch `b` carry this timestamp, which the gate
    * reads back to tell the new version from the old.
    */
  def versionTs(batch: Int): Timestamp =
    new Timestamp(1893456000000L + batch * 1000L) // 2030-01-01 + b s

  final case class Batch(index: Int, docs: Seq[WebDoc], upsertUrls: Seq[String],
      deleteUrls: Seq[String])

  /** Ingest batch `b`: `UpsertShare` of its docs re-add urls that are live
    * in `liveUrls`, the rest are new; it also names `DeletesPerBatch` live
    * urls to delete, none of them upserted by the same batch.
    */
  def batch(seed: Long, b: Int, baseDocs: Long,
      liveUrls: scala.collection.IndexedSeq[String]): Batch = {
    val r = rng(seed, 100L + b)
    val nUp = (BatchDocs * UpsertShare).toInt
    val up = scala.collection.mutable.LinkedHashSet.empty[String]
    while (up.size < nUp) up += liveUrls(below(r, liveUrls.size))
    val fresh = (0 until BatchDocs - nUp).map(j =>
      ingestDoc(seed, baseDocs + b.toLong * BatchDocs + j))
    val ups = up.toSeq.zipWithIndex.map { case (u, j) => upsertDoc(seed, u, b, j) }
    val del = scala.collection.mutable.LinkedHashSet.empty[String]
    while (del.size < DeletesPerBatch) {
      val u = liveUrls(below(r, liveUrls.size))
      if (!up.contains(u)) del += u
    }
    Batch(b, fresh ++ ups, up.toSeq, del.toSeq)
  }
}
