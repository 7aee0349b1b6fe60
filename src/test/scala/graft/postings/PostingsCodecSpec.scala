package graft.postings

import org.scalatest.funsuite.AnyFunSuite

/** Round-trip property tests, BasePostingsFormatTestCase pattern
  * (reference: /root/reference/src/Lucene.Net.TestFramework/Index/
  * BasePostingsFormatTestCase.cs): random posting universes with doc counts
  * chosen to hit FOR-block and VInt-tail boundaries. */
class PostingsCodecSpec extends AnyFunSuite {

  private def roundTrip(docIds: Array[Long], tfs: Array[Int], norms: Array[Int]): Unit = {
    val blocks = PostingsCodec.encodeBlocks(docIds, tfs, norms)
    // block metadata invariants
    assert(blocks.map(_.numDocs).sum == docIds.length)
    blocks.foreach { b =>
      assert(b.numDocs <= PostingsCodec.BlockSize)
      assert(b.firstDocId <= b.lastDocId)
    }
    val decoded = blocks.flatMap { b =>
      val (ds, ts, ns) = PostingsCodec.decodeBlock(b.firstDocId, b.numDocs, b.bytes)
      assert(ds.last == b.lastDocId)
      assert(ts.max == b.maxTf)
      assert(ns.max == b.maxNorm)
      ds.indices.map(i => (ds(i), ts(i), ns(i)))
    }
    assert(decoded.map(_._1).toSeq == docIds.toSeq, "docIds")
    assert(decoded.map(_._2).toSeq == tfs.toSeq, "tfs")
    assert(decoded.map(_._3).toSeq == norms.toSeq, "norms")
  }

  private def norms(n: Int): Array[Int] = Array.tabulate(n)(i => (i * 37) % 256)

  test("boundary doc counts: 1, 127, 128, 129, 256, 300") {
    for (n <- Seq(1, 127, 128, 129, 256, 300)) {
      val docIds = Array.tabulate(n)(i => i.toLong * 3 + 7)
      val tfs = Array.tabulate(n)(i => 1 + (i % 5))
      roundTrip(docIds, tfs, norms(n))
    }
  }

  test("all-equal gaps hit the 0-bit special case and stay tiny") {
    val docIds = Array.tabulate(128)(i => 100L + i * 4) // constant gap 4
    val tfs = Array.fill(128)(2)                        // constant tf
    val nrm = Array.fill(128)(124)                      // constant norm
    val blocks = PostingsCodec.encodeBlocks(docIds, tfs, nrm)
    assert(blocks.size == 1)
    assert(blocks.head.bytes.length < 16, s"got ${blocks.head.bytes.length} bytes")
    roundTrip(docIds, tfs, nrm)
  }

  test("tail freq-folding: tf==1 runs encode to ~2 bytes per posting") {
    val docIds = Array.tabulate(64)(i => i.toLong * 2)
    val tfs = Array.fill(64)(1)
    val blocks = PostingsCodec.encodeBlocks(docIds, tfs, norms(64))
    assert(blocks.head.bytes.length <= 1 + 2 * 64) // kind + (vlong + norm) each
    roundTrip(docIds, tfs, norms(64))
  }

  test("64-bit doc space: huge docIds and gaps survive") {
    val base = 1L << 41 // ~10^12 doc space
    val docIds = Array(base, base + 1, base + (1L << 40), base + (1L << 40) + 5)
    val tfs = Array(1, 7, 1, 1 << 20)
    roundTrip(docIds, tfs, Array(0, 255, 17, 200))
    // a full FOR block with a huge gap in it
    val wide = Array.tabulate(128)(i => base + i.toLong * (1L << 33))
    roundTrip(wide, Array.fill(128)(3), norms(128))
  }

  test("property: encode∘decode == identity on random universes (seeded)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 200) {
      val n = 1 + rnd.nextInt(600)
      val start = math.abs(rnd.nextLong()) % (1L << 40)
      var cur = start
      val docIds = Array.fill(n) { cur += 1 + rnd.nextInt(100000); cur }
      val tfs = Array.fill(n)(1 + rnd.nextInt(1000))
      val nrm = Array.fill(n)(rnd.nextInt(256))
      roundTrip(docIds, tfs, nrm)
    }
  }

  test("encoding is deterministic (stable bytes for manifests)") {
    val docIds = Array.tabulate(300)(i => i.toLong * i + 11)
    val tfs = Array.tabulate(300)(i => 1 + i % 9)
    val a = PostingsCodec.encodeBlocks(docIds, tfs, norms(300)).map(_.bytes.toSeq)
    val b = PostingsCodec.encodeBlocks(docIds, tfs, norms(300)).map(_.bytes.toSeq)
    assert(a == b)
  }

  test("offsets blocks round-trip (pairs, deltas, empty lists)") {
    val rnd = new scala.util.Random(42)
    for (n <- Seq(1, 5, 128, 200)) {
      val offLists = Array.tabulate(n) { i =>
        val pairs = i % 7 // includes empty lists
        var start = 0
        val out = new Array[Int](pairs * 2)
        var j = 0
        while (j < pairs) {
          start += 1 + rnd.nextInt(50)
          out(2 * j) = start
          out(2 * j + 1) = start + 1 + rnd.nextInt(20)
          j += 1
        }
        out
      }
      val bytes = PostingsCodec.encodeOffsetsBlock(offLists)
      val back = PostingsCodec.decodeOffsetsBlock(n, bytes)
      assert(back.map(_.toSeq).toSeq === offLists.map(_.toSeq).toSeq)
    }
  }

  test("Posting.block decodes every subset of blobs like the per-blob decoders") {
    val rnd = new scala.util.Random(7)
    for (n <- Seq(1, 5, 128, 200)) {
      var cur = rnd.nextInt(1000).toLong
      val docIds = Array.fill(n) { cur += 1 + rnd.nextInt(50); cur }
      val tfs = Array.fill(n)(1 + rnd.nextInt(4))
      val nrm = Array.fill(n)(rnd.nextInt(256))
      val poss = tfs.map(tf => Array.tabulate(tf)(j => j * 3 + rnd.nextInt(3)))
      val offs = poss.map(_.flatMap(p => Array(p * 10, p * 10 + 1 + rnd.nextInt(9))))
      val pays = tfs.map(tf => Array.fill(tf)(Array.fill(rnd.nextInt(5))(rnd.nextInt(256).toByte)))
      var from = 0
      PostingsCodec.encodeBlocks(docIds, tfs, nrm).foreach { b =>
        def slice[T](xs: Array[T]) = xs.slice(from, from + b.numDocs)
        val posBytes = PostingsCodec.encodePositionsBlock(slice(poss))
        val offBytes = PostingsCodec.encodeOffsetsBlock(slice(offs))
        val payBytes = PostingsCodec.encodePayloadsBlock(slice(pays))
        val (ids, ts, ns) = PostingsCodec.decodeBlock(b.firstDocId, b.numDocs, b.bytes)
        val ps = PostingsCodec.decodePositionsBlock(b.numDocs, posBytes)
        val os = PostingsCodec.decodeOffsetsBlock(b.numDocs, offBytes)
        val ys = PostingsCodec.decodePayloadsBlock(b.numDocs, payBytes)
        for (subset <- 0 until 8) {
          val (withPos, withOff, withPay) = ((subset & 1) != 0, (subset & 2) != 0, (subset & 4) != 0)
          val got = graft.build.Posting.block("t", b.firstDocId, b.numDocs, b.bytes,
            if (withPos) posBytes else null, if (withOff) offBytes else null,
            if (withPay) payBytes else null).toArray
          assert(got.length === b.numDocs, s"n=$n subset=$subset")
          got.indices.foreach { i =>
            val p = got(i)
            assert((p.term, p.docId, p.tf, p.norm) === (("t", ids(i), ts(i), ns(i))))
            if (withPos) assert(p.positions.toSeq === ps(i).toSeq) else assert(p.positions === null)
            if (withOff) assert(p.offsets.toSeq === os(i).toSeq) else assert(p.offsets === null)
            if (withPay) assert(p.payloads.map(_.toSeq).toSeq === ys(i).map(_.toSeq).toSeq)
            else assert(p.payloads === null)
          }
        }
        from += b.numDocs
      }
    }
  }
}
