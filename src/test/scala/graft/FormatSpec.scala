package graft

import graft.store._
import graft.codec.PType
import org.scalatest.funsuite.AnyFunSuite

/** Binary metadata round trips (test_schema.py analogue: construction,
  * defaults, per-column resolution — here exact serialization equality).
  */
class FormatSpec extends AnyFunSuite {
  import SparkTestBase.{assertUnsupported, tmpDir}

  test("createOut sidecar is Hadoop-ChecksumFileSystem compatible (verify + corruption)") {
    val base = s"/tmp/graft-crc-${java.util.UUID.randomUUID().toString.take(8)}"
    FsIO.mkdirs(base)
    val rnd = new java.util.Random(31)
    // sizes around the 512-byte block boundary and a multi-block payload
    for (n <- Seq(1, 511, 512, 513, 4096, 70000)) {
      val path = s"$base/f$n.bin"
      val data = new Array[Byte](n)
      rnd.nextBytes(data)
      val out = FsIO.createOut(path)
      try out.write(data) finally out.close()
      // read through the CHECKSUMMED Hadoop local fs: must verify clean
      val in = FsIO.fs(path).open(new org.apache.hadoop.fs.Path(path))
      val back = new Array[Byte](n)
      try in.readFully(0, back) finally in.close()
      assert(java.util.Arrays.equals(back, data), s"n=$n")
      // flip one byte in the DATA file: the hadoop read must now fail on
      // OUR sidecar — proving the sidecar actually guards the bytes
      val raf = new java.io.RandomAccessFile(path, "rw")
      try {
        val pos = n / 2
        raf.seek(pos)
        val b = raf.read()
        raf.seek(pos)
        raf.write(b ^ 0x40)
      } finally raf.close()
      val in2 = FsIO.fs(path).open(new org.apache.hadoop.fs.Path(path))
      try {
        intercept[org.apache.hadoop.fs.ChecksumException] {
          in2.readFully(0, new Array[Byte](n))
        }
      } finally in2.close()
    }
    FsIO.delete(base, recursive = true)
  }

  test("TableSpec round trip with fills, widths, added-at") {
    val spec = TableSpec(Seq(
      ColumnSpec("a", PType.I64.id),
      ColumnSpec("b", PType.STR.id, fixedWidth = 5, fill = Some("-")),
      ColumnSpec("c", PType.F32.id, fill = Some("9.5"), addedAtSegment = 3L),
      ColumnSpec("d", PType.I32LIST.id)),
      targetChunkBytes = 123456L, chunkRows = 789)
    assert(BinCodec.readTableSpec(BinCodec.writeTableSpec(spec), "spec") == spec)
  }

  test("PartManifest round trip incl. chunk stats") {
    val m = PartManifest(2L, 7, 1000L, 123456789L, "parquet:x", 3, Seq(
      ChunkMeta("a", 0, 0L, 500, 4, 1, "p7.a.bin", 0L, 999L, 4000L, 0xdeadL, 1, -5L, 42L),
      ChunkMeta("a", 1, 500L, 500, 9, 0, "p7.a.c1.v3.bin", 0L, 1L, 2L, 3L, 2,
        java.lang.Double.doubleToLongBits(-1.5), java.lang.Double.doubleToLongBits(2.5))))
    assert(BinCodec.readPartManifest(BinCodec.writePartManifest(m), "m") == m)
  }

  test("PartManifest v4 round trip incl. membership-filter location") {
    val m = PartManifest(1L, 0, 100L, 7L, "x", 0, Seq(
      ChunkMeta("k", 0, 0L, 100, 2, 1, "p0.k.bin", 0L, 50L, 400L, 0x1L,
        3, 11L, 22L, 0, 0L, filterKind = 1, filterOffset = 50L, filterBytes = 130L)))
    assert(BinCodec.readPartManifest(BinCodec.writePartManifest(m), "m") == m)
  }

  /** A hand-written manifest of an older layout: v3 (magic, version 3,
    * chunks without the filter triple) or v2 (no magic/version header).
    */
  private def oldManifest(ver: Int): Array[Byte] = {
    import graft.codec.Bytes
    val w = new Bytes.Writer()
    def wStr(s: String): Unit = {
      val b = s.getBytes("UTF-8"); w.writeVar(b.length.toLong); w.writeBytes(b)
    }
    if (ver == 3) { w.writeVar(0x67726674aaL); w.writeVar(3L) }
    w.writeVar(2L); w.writeVar(7L); w.writeVar(1000L)
    w.writeLE64(5L); wStr("lineage"); w.writeVar(0L)
    w.writeVar(1L) // one chunk
    wStr("a"); w.writeVar(0L); w.writeVar(0L); w.writeVar(500L)
    w.writeVar(4L); w.writeVar(1L); wStr("p7.a.bin"); w.writeVar(0L)
    w.writeVar(999L); w.writeVar(4000L); w.writeLE64(0xdeadL)
    w.writeVar(1L); w.writeLE64(-5L); w.writeLE64(42L)
    if (ver == 3) { w.writeVar(1L); w.writeLE64(12345L) } // v3 sum
    w.result()
  }

  test("part manifest v2/v3 fails with unsupported graft format version") {
    assertUnsupported("seg2/p7.manifest.bin") {
      BinCodec.readPartManifest(oldManifest(3), "seg2/p7.manifest.bin")
    }
    assertUnsupported("seg2/p7.manifest.bin") {
      BinCodec.readPartManifest(oldManifest(2), "seg2/p7.manifest.bin")
    }
    val seg = BinCodec.writeSegManifest(Seq(oldManifest(3)))
    assertUnsupported("seg2/_manifest.bin") {
      BinCodec.readSegManifest(seg, "seg2/_manifest.bin")
    }
  }

  test("segment commit v1 fails with unsupported graft format version") {
    // v1: no magic/version header, no marker byte
    val w = new graft.codec.Bytes.Writer()
    w.writeVar(5L); w.writeVar(1L); w.writeVar(10L)
    val lin = "x".getBytes("UTF-8")
    w.writeVar(lin.length.toLong); w.writeBytes(lin)
    assertUnsupported("seg5/_commit.bin") {
      BinCodec.readSegmentCommit(w.result(), "seg5/_commit.bin")
    }
  }

  test("local writeAtomic creates missing parent directories") {
    val base = tmpDir("graft-wa")
    val path = s"$base/a/b/f.bin"
    FsIO.writeAtomic(path, Array[Byte](1, 2, 3))
    assert(FsIO.readAll(path).toSeq == Seq[Byte](1, 2, 3))
    FsIO.delete(base, recursive = true)
  }

  test("SegmentCommit and Meta round trip") {
    val c = SegmentCommit(5L, Seq(10L, 0L, 33L), "stream-batch:9")
    val bytes = BinCodec.writeSegmentCommit(c)
    assert(BinCodec.readSegmentCommit(bytes, "c") == c)
    assert(bytes.last == 1, "commit records keep their trailing published byte")
    val meta = JObj("名前" -> JStr("value with\nnewline\"quotes\"bell"),
      "" -> JStr(""), "k" -> Json.arr(Json.num(-12L), Json.num(3.5),
        JNull, JBool(false), JObj("nested" -> Json.num(Long.MaxValue))))
    assert(Json.parse(Json.render(meta)) == meta)
    // numbers round-trip exactly (BigDecimal, no double coercion)
    assert(Json.parse("9223372036854775807") == Json.num(Long.MaxValue))
  }
}
