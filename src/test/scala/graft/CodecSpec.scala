package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

import graft.index.{VByte, PostingCodec, BM25, SegCursor, TermCursor, IndexConf}

/** Property-style tests with seeded generators (FIXTURES.md §5). */
class CodecSpec extends AnyFunSuite {

  private def sortedIds(rng: Random, n: Int): Array[Long] = {
    var cur = rng.nextLong(1L << 40)
    Array.fill(n) {
      cur += (rng.nextInt(3) match {
        case 0 => 1L + rng.nextInt(10)
        case 1 => 1L + rng.nextLong(1L << 20)
        case 2 => 1L + rng.nextLong(1L << 40)
      })
      cur
    }
  }

  /** Random ascending position list of length tf (token offsets). */
  private def mkPositions(rng: Random, tf: Int): Array[Int] = {
    var cur = rng.nextInt(5)
    Array.fill(tf) { val v = cur; cur += 1 + rng.nextInt(20); v }
  }

  /** Positions 0 until tf for each posting (cursor tests that ignore them). */
  private def seqPositions(tfs: Array[Long]): Array[Array[Int]] =
    tfs.map(tf => Array.range(0, tf.toInt))

  test("VByte plain round-trip") {
    val rng = new Random(1)
    for (_ <- 1 to 200) {
      val arr = Array.fill(rng.nextInt(500))(rng.nextLong(Long.MaxValue / 2))
      assert(VByte.decode(VByte.encode(arr), arr.length).toSeq == arr.toSeq)
    }
  }

  test("VByte delta-gap round-trip on sorted sequences") {
    val rng = new Random(2)
    for (_ <- 1 to 200) {
      val ids = sortedIds(rng, 1 + rng.nextInt(2000))
      assert(VByte.decodeDeltas(VByte.encodeDeltas(ids), ids.length).toSeq
        == ids.toSeq)
    }
  }

  test("segment encode/decode round-trip + avgdl-independent block-max invariant") {
    val rng = new Random(3)
    for (_ <- 1 to 60) {
      val ids = sortedIds(rng, 1 + rng.nextInt(1500))
      val tfs = ids.map(i => (i % 7) + 1)
      val dls = ids.map(i => (i % 500) + 8)
      val poss = ids.indices.map(i => mkPositions(rng, tfs(i).toInt)).toArray
      val seg = PostingCodec.encode("t", 0, 0, ids, tfs, dls, poss)
      assert(seg.count == ids.length)
      assert(seg.cf == tfs.sum) // segment-local collection frequency
      val (dIds, dTfs, dDls) = PostingCodec.decodeAll(seg)
      assert(dIds.toSeq == ids.toSeq)
      assert(dTfs.toSeq == tfs.toSeq)
      assert(dDls.toSeq == dls.toSeq)
      val dPos = PostingCodec.decodePositions(seg)
      ids.indices.foreach(i => assert(dPos(i).toSeq == poss(i).toSeq))
      // the (maxTf, minDl) bound must hold for ANY avgdl — the property that
      // makes incremental append sound (stored bounds never go stale)
      Seq(10.0, 200.0, 5000.0).foreach { avgdl =>
        ids.indices.foreach { i =>
          val s = BM25.tfNorm(tfs(i), dls(i), avgdl)
          val b = i / IndexConf.BlockSize
          val bound = BM25.tfNorm(seg.blockMaxTf(b), seg.blockMinDl(b), avgdl)
          assert(bound >= s, s"block bound $bound < tfNorm $s at $i avgdl=$avgdl")
        }
      }
      assert(seg.firstDocId == ids.head && seg.lastDocId == ids.last)
      assert(seg.blockLastDocId.last == ids.last)
    }
  }

  test("positions round-trip through the lazy cursor too") {
    val rng = new Random(9)
    for (_ <- 1 to 40) {
      val ids = sortedIds(rng, 1 + rng.nextInt(600))
      val tfs = ids.map(i => (i % 5) + 1)
      val dls = ids.map(_ => 100L)
      val poss = ids.indices.map(i => mkPositions(rng, tfs(i).toInt)).toArray
      val seg = PostingCodec.encode("t", 0, 0, ids, tfs, dls, poss)
      val cur = new SegCursor(seg, 1.0, 100.0)
      cur.init()
      var i = 0
      while (!cur.exhausted) {
        assert(cur.curDoc == ids(i))
        assert(cur.curPositions.toSeq == poss(i).toSeq, s"at $i")
        cur.next()
        i += 1
      }
      assert(i == ids.length)
    }
  }

  test("mixed positioned/position-free postings reject at encode") {
    // decode attributes posVb runs to postings by count — a non-empty
    // stream missing runs would misalign every later posting's positions
    intercept[IllegalArgumentException] {
      PostingCodec.encode("t", 0, 0, Array(1L, 5L, 9L),
        Array(2L, 1L, 3L), Array(10L, 10L, 10L),
        Array(Array(0, 4), Array.empty[Int], Array(1, 2, 3)))
    }
    // positions-free input rejects too: every posting carries positions
    intercept[IllegalArgumentException] {
      PostingCodec.encodePacked("t", 0, 0, Array(1L), Array(1L), Array(10L),
        Array.empty[Array[Byte]])
    }
  }

  test("SegCursor advanceTo lands on first docId >= target (block skipping)") {
    val rng = new Random(4)
    for (_ <- 1 to 100) {
      val ids = sortedIds(rng, 1 + rng.nextInt(1000))
      val tfs = ids.map(_ => 1L)
      val seg = PostingCodec.encode("t", 0, 0,
        ids, tfs, ids.map(_ => 100L), seqPositions(tfs))
      for (_ <- 1 to 20) {
        val target = rng.nextLong(1L << 41)
        val cur = new SegCursor(seg, 1.0, 100.0)
        cur.init()
        cur.advanceTo(target)
        ids.find(_ >= target) match {
          case Some(d) => assert(!cur.exhausted && cur.curDoc == d)
          case None    => assert(cur.exhausted)
        }
      }
      // monotone advanceTo sequence on a single cursor
      val cur = new SegCursor(seg, 1.0, 100.0)
      cur.init()
      val targets = Array.fill(30)(rng.nextLong(1L << 41)).sorted
      targets.foreach { t =>
        if (!cur.exhausted) {
          cur.advanceTo(t)
          ids.find(_ >= t) match {
            case Some(d) => assert(cur.exhausted || cur.curDoc == d ||
              cur.curDoc >= t)
            case None => assert(cur.exhausted)
          }
        }
      }
    }
  }

  test("TermCursor full iteration over multiple segments equals union") {
    val rng = new Random(5)
    for (_ <- 1 to 100) {
      val ids = sortedIds(rng, 1 + rng.nextInt(1200)).distinct.sorted
      val third = math.max(1, ids.length / 3)
      val parts = ids.grouped(third).toSeq.filter(_.nonEmpty)
      val segs = parts.zipWithIndex.map { case (p, i) =>
        val tfs = p.map(_ => 1L)
        PostingCodec.encode("t", 0, i, p, tfs, p.map(_ => 100L),
          seqPositions(tfs))
      }
      val cur = new TermCursor("t", segs, 1.0, 100.0, 0L, Long.MaxValue)
      val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (!cur.exhausted) { seen += cur.curDoc; cur.next() }
      assert(seen.toSeq == ids.toSeq)
    }
  }

  test("sliceForWindow: slices decode to exactly the original postings; bytes scale with blocks, not span") {
    val rng = new Random(11)
    for (trial <- 1 to 40) {
      val n = 1 + rng.nextInt(1500)
      val ids = sortedIds(rng, n).distinct.sorted
      val tfs = ids.map(i => (i % 5) + 1)
      val dls = ids.map(i => (i % 300) + 10)
      val poss = ids.indices.map(i => mkPositions(rng, tfs(i).toInt)).toArray
      val seg = PostingCodec.encode("t", 0, 0, ids, tfs, dls, poss)
      val span = seg.lastDocId - seg.firstDocId + 1
      val rangeLen = math.max(1L, span / (1 + rng.nextInt(12)))
      val windows = (seg.firstDocId / rangeLen) to (seg.lastDocId / rangeLen)

      def bytes(s: graft.index.PostingSegment): Long =
        s.docIdsVb.length.toLong + s.tfsVb.length + s.dlsVb.length +
          s.posVb.length
      var sliceBytes = 0L
      val got = windows.flatMap { r =>
        val lo = r * rangeLen
        val hi = lo + rangeLen
        PostingCodec.sliceForWindow(seg, lo, hi).toSeq.flatMap { sl =>
          sliceBytes += bytes(sl)
          val (i2, t2, d2) = PostingCodec.decodeAll(sl)
          val p2 = PostingCodec.decodePositions(sl)
          // cursor semantics: only postings inside the window count
          i2.indices.filter(j => i2(j) >= lo && i2(j) < hi)
            .map(j => (i2(j), t2(j), d2(j), p2(j).toSeq))
        }
      }
      val expect = {
        val (i1, t1, d1) = PostingCodec.decodeAll(seg)
        val p1 = PostingCodec.decodePositions(seg)
        i1.indices.map(j => (i1(j), t1(j), d1(j), p1(j).toSeq))
      }
      assert(got == expect, s"trial=$trial rangeLen=$rangeLen")

      // interval-crossing bound: (block, window) incidences ≤ nBlocks +
      // nWindows, so total sliced bytes ≤ original + nWindows × maxBlock
      // (+9 bytes VByte rebase per slice) — NOT original × nWindows,
      // which is what the pre-r4 full-segment replication shipped
      val nBlocks = seg.blockLastDocId.length
      val maxBlockBytes = (0 until nBlocks).map { b =>
        def w(off: Array[Int], len: Int) =
          (if (b + 1 < nBlocks) off(b + 1) else len) - off(b)
        w(seg.blockDocOff, seg.docIdsVb.length).toLong +
          w(seg.blockTfOff, seg.tfsVb.length) +
          w(seg.blockDlOff, seg.dlsVb.length) +
          w(seg.blockPosOff, seg.posVb.length)
      }.max
      // ×2: the conservative blockFirst lower bound may include one extra
      // boundary block per window edge
      assert(sliceBytes <= bytes(seg) + windows.size * (2 * maxBlockBytes + 9),
        s"trial=$trial sliced=$sliceBytes orig=${bytes(seg)} " +
          s"windows=${windows.size}")
    }
  }

  test("sliceForWindow: non-overlap returns None, full overlap returns the original") {
    val ids = Array(100L, 200L, 300L)
    val seg = PostingCodec.encode("t", 0, 0, ids,
      Array(1L, 1L, 1L), Array(10L, 10L, 10L), seqPositions(Array(1L, 1L, 1L)))
    assert(PostingCodec.sliceForWindow(seg, 0L, 100L).isEmpty)
    assert(PostingCodec.sliceForWindow(seg, 301L, 500L).isEmpty)
    assert(PostingCodec.sliceForWindow(seg, 0L, 1000L).exists(_ eq seg))
    // a TermCursor over a slice scores identically to one over the original
    val rng = new Random(12)
    val bigIds = sortedIds(rng, 700).distinct.sorted
    val bigTfs = bigIds.map(i => (i % 4) + 1)
    val big = PostingCodec.encode("t", 0, 0, bigIds,
      bigTfs, bigIds.map(_ => 120L), seqPositions(bigTfs))
    val lo = bigIds(bigIds.length / 3)
    val hi = bigIds(2 * bigIds.length / 3)
    val slice = PostingCodec.sliceForWindow(big, lo, hi).get
    def collect(s: graft.index.PostingSegment): Seq[(Long, Double)] = {
      val c = new TermCursor("t", Seq(s), 1.7, 120.0, lo, hi)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
      while (!c.exhausted) { out += ((c.curDoc, c.curScore)); c.next() }
      out.toSeq
    }
    assert(collect(slice) == collect(big))
  }

  test("TermCursor respects [lo, hi) window") {
    val rng = new Random(6)
    for (_ <- 1 to 100) {
      val ids = sortedIds(rng, 1 + rng.nextInt(500)).distinct.sorted
      val tfs = ids.map(_ => 1L)
      val seg = PostingCodec.encode("t", 0, 0,
        ids, tfs, ids.map(_ => 100L), seqPositions(tfs))
      val lo = rng.nextLong(1L << 41)
      val hi = lo + rng.nextLong(1L << 40)
      val cur = new TermCursor("t", Seq(seg), 1.0, 100.0, lo, hi)
      val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (!cur.exhausted) { seen += cur.curDoc; cur.next() }
      assert(seen.toSeq == ids.filter(d => d >= lo && d < hi).toSeq)
    }
  }
}
