package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Round-14 archive gates: gzip member geometry (the offset/length a
  * CDX index records) proven by slice consumption, and its hostile
  * arms. The q_warc_cdx oracle covers the full index at three scales;
  * these pin the member-span parser itself. */
class Round14ArchivesSpec extends AnyFunSuite {

  private def gz(b: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(b); g.close()
    bos.toByteArray
  }

  test("member spans tile a multi-member file exactly, in order") {
    val parts = Seq("first member", "second, rather longer member " * 9,
      "third").map(s => gz(s.getBytes("UTF-8")))
    val all = parts.fold(Array.emptyByteArray)(_ ++ _)
    val spans = Archives.gzipMemberSpans(all)
    assert(spans.length == 3)
    // exact tiling: each span is each part, offsets cumulative
    var at = 0
    for ((p, (off, len)) <- parts.zip(spans)) {
      assert(off == at && len == p.length)
      at += len
    }
    assert(at == all.length)
  }

  test("each slice decompresses independently to its own member") {
    val parts = Seq("alpha", "beta", "gamma")
    val file = parts.map(s => gz(s.getBytes("UTF-8")))
      .fold(Array.emptyByteArray)(_ ++ _)
    for (((off, len), want) <- Archives.gzipMemberSpans(file).zip(parts)) {
      val slice = java.util.Arrays.copyOfRange(file, off, off + len)
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(slice))
      val got = new String(in.readAllBytes(), "UTF-8")
      assert(got == want)
    }
  }

  test("FNAME/FCOMMENT/FEXTRA/FHCRC header fields are skipped") {
    // build a member with FNAME by hand: header flg=8 + name + raw
    // deflate + trailer
    val payload = "named member".getBytes("UTF-8")
    val d = new java.util.zip.Deflater(-1, true)
    d.setInput(payload); d.finish()
    val buf = new Array[Byte](256)
    val n = d.deflate(buf)
    d.end()
    val crc = new java.util.zip.CRC32()
    crc.update(payload)
    val bb = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(crc.getValue.toInt).putInt(payload.length)
    val member = Array[Byte](0x1f, 0x8b.toByte, 8, 8, 0, 0, 0, 0, 0, 0) ++
      "a.txt".getBytes("UTF-8") ++ Array[Byte](0) ++
      buf.take(n) ++ bb.array()
    val file = member ++ gz("plain".getBytes("UTF-8"))
    val spans = Archives.gzipMemberSpans(file)
    assert(spans.length == 2)
    assert(spans.head == ((0, member.length)))
  }

  test("hostile inputs end the walk with members found so far, never " +
    "throw or hang") {
    val good = gz("ok".getBytes("UTF-8"))
    // truncations at every length
    for (cut <- 0 until good.length)
      Archives.gzipMemberSpans(java.util.Arrays.copyOf(good, cut))
    // good member followed by garbage: keeps the good one
    val tail = Array.fill[Byte](37)(0x55)
    assert(Archives.gzipMemberSpans(good ++ tail).length == 1)
    // bit flips
    val rnd = new scala.util.Random(14)
    for (_ <- 0 until 200) {
      val m = (good ++ good).clone()
      val at = rnd.nextInt(m.length)
      m(at) = (m(at) ^ (1 << rnd.nextInt(8))).toByte
      Archives.gzipMemberSpans(m) // must return, whatever it found
    }
  }

  test("surtKey law: SURT of the canonical URL family used by the CDX " +
    "fixture") {
    val spark = graft.core.Sessions.local(4, appName = "surt-spec")
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      "HTTP://WWW.Example3.COM:80/doc/9?utm_source=x&b=2&a=1#frag" ->
        "com,example3)/doc/9?a=1&b=2",
      "http://www.example0.com:8080/doc/5?b=2&a=1" ->
        "com,example0:8080)/doc/5?a=1&b=2",
      "https://sub.host.org:443/x/y" -> "org,host,sub)/x/y",
      "http://example.com" -> "com,example)/")
    val got = rows.map(_._1).toDF("url")
      .select(UrlOps.surtKey(col("url")).as("k")).as[String].collect()
    assert(got.toSeq == rows.map(_._2))
  }
}
