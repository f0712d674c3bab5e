package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Hdf5Classic, NetcdfClassic}
import graft.sources.NetcdfClassic.{NcAttr, NcDim}

/** The dependency-free NetCDF-4/HDF5 path (the last fidelity gap named
  * by the round-11 verdict): a byte-level golden fixture assembled by
  * hand straight from the HDF Group's public file-format spec
  * (independent of the writer), writer↔parser round-trips incl. the
  * DIMENSION_LIST dimension-scale machinery through the global heap,
  * named rejections for every out-of-scope feature (so an unsupported
  * file can NEVER be read wrong silently), and the distributed loader
  * end-to-end into the climate ops — mirroring NetcdfSpec. */
class Hdf5Spec extends AnyFunSuite with SparkSuite {
  // ---- hand-assembled spec-literal fixture --------------------------
  // One dataset "v" in the root group; datatype / layout / data bytes
  // are injectable so the same skeleton covers f64-contiguous,
  // int16-BE, and compact-layout cases. Every section offset below is
  // computed per the spec: superblock v0 (96 B) → root OH (40 B) →
  // B-tree leaf (48 B) → local heap (32 B hdr + 16 B data) → SNOD
  // (48 B) → dataset OH → raw data.
  /** Superblock v0 (96 B), root object header @96. */
  private def superblock(eof: Int, sbVer: Int = 0): Array[Byte] = {
    val s = if (sbVer == 1) 4 else 0 // v1: indexed-K + reserved after flags
    val out = ByteBuffer.allocate(96 + s).order(ByteOrder.LITTLE_ENDIAN)
    out.put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    out.put(Array[Byte](sbVer.toByte, 0, 0, 0, 0, 8, 8, 0)) // versions + offset/length sizes
    out.putShort(4); out.putShort(16); out.putInt(0) // K's + flags
    if (sbVer == 1) out.putInt(0) // indexed storage internal K + reserved
    out.putLong(0L); out.putLong(-1L); out.putLong(eof.toLong); out.putLong(-1L)
    out.putLong(0L); out.putLong(96L + s) // root STE: name offset, OH addr
    out.putInt(0); out.putInt(0); out.put(new Array[Byte](16))
    out.array()
  }

  /** Superblock + root-group machinery for ONE root dataset named "v"
    * whose object header starts at 280(+4 for sb v1): root OH (symtab)
    * @96 → B-tree @136 → local heap @184 (data @216) → SNOD @232. */
  private def commonPrefix(eof: Int, sbVer: Int = 0): Array[Byte] = {
    val s = if (sbVer == 1) 4 else 0
    val out = ByteBuffer.allocate(280 + s).order(ByteOrder.LITTLE_ENDIAN)
    out.put(superblock(eof, sbVer))
    // root OH: one symbol-table message
    out.put(1.toByte); out.put(0.toByte); out.putShort(1)
    out.putInt(1); out.putInt(24); out.putInt(0)
    out.putShort(0x0011); out.putShort(16); out.putInt(0)
    out.putLong(136L + s); out.putLong(184L + s) // btree, heap
    assert(out.position() == 136 + s)
    // B-tree v1 leaf: 1 child SNOD
    out.put("TREE".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.put(0.toByte); out.putShort(1)
    out.putLong(-1L); out.putLong(-1L)
    out.putLong(0L); out.putLong(232L + s); out.putLong(8L)
    assert(out.position() == 184 + s)
    // local heap: data @216 = 8 reserved zeros + "v" NUL-padded
    out.put("HEAP".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.put(new Array[Byte](3))
    out.putLong(16L); out.putLong(-1L); out.putLong(216L + s)
    out.put(new Array[Byte](8)); out.put('v'.toByte); out.put(new Array[Byte](7))
    assert(out.position() == 232 + s)
    // SNOD: one symbol ("v" @ heap offset 8 → OH 280)
    out.put("SNOD".getBytes(StandardCharsets.US_ASCII))
    out.put(1.toByte); out.put(0.toByte); out.putShort(1)
    out.putLong(8L); out.putLong(280L + s)
    out.putInt(0); out.putInt(0); out.put(new Array[Byte](16))
    out.array()
  }

  /** v1 attribute message body: units = "m" (8-padded sections). */
  private val unitsAttrBody: Array[Byte] = {
    val b = ByteBuffer.allocate(40).order(ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte); b.put(0.toByte)
    b.putShort(6); b.putShort(8); b.putShort(8) // name/dt/ds sizes
    b.put("units".getBytes); b.put(0.toByte); b.position(16)
    b.put(0x13.toByte); b.put(0.toByte); b.putShort(0); b.putInt(2) // string[2]
    b.position(24)
    b.put(1.toByte); b.put(0.toByte); b.put(0.toByte) // scalar dataspace v1
    b.put(new Array[Byte](5)); b.position(32)
    b.put('m'.toByte); b.put(0.toByte)
    b.array()
  }

  private def handFile(dtBody: Array[Byte], layoutBody: Array[Byte],
                       data: Array[Byte], rank1Len: Long,
                       sbVer: Int = 0): Array[Byte] = {
    def pad8(n: Int) = (n + 7) & ~7
    // dataset OH messages: dataspace(16) + datatype + layout + units attr
    val dsBody = {
      val b = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte); b.put(1.toByte); b.put(0.toByte)
      b.put(new Array[Byte](5)); b.putLong(rank1Len); b.array()
    }
    val msgs = Seq((0x0001, dsBody), (0x0003, dtBody),
      (0x0008, layoutBody), (0x000C, unitsAttrBody))
    val msgBytes = msgs.map(m => 8 + pad8(m._2.length)).sum
    val dsOhAt = 280 + (if (sbVer == 1) 4 else 0)
    val dataAt = dsOhAt + 16 + msgBytes
    val eof = dataAt + data.length

    val out = ByteBuffer.allocate(eof).order(ByteOrder.LITTLE_ENDIAN)
    out.put(commonPrefix(eof, sbVer))
    assert(out.position() == dsOhAt)
    // dataset OH
    out.put(1.toByte); out.put(0.toByte); out.putShort(msgs.length.toShort)
    out.putInt(1); out.putInt(msgBytes); out.putInt(0)
    msgs.foreach { case (typ, body) =>
      out.putShort(typ.toShort); out.putShort(pad8(body.length).toShort)
      out.putInt(0)
      val at = out.position(); out.put(body); out.position(at + pad8(body.length))
    }
    assert(out.position() == dataAt)
    out.put(data)
    out.array()
  }

  private val f64Dt: Array[Byte] = {
    val b = ByteBuffer.allocate(20).order(ByteOrder.LITTLE_ENDIAN)
    b.put(0x11.toByte); b.put(0x20.toByte); b.put(0x3f.toByte); b.put(0.toByte)
    b.putInt(8); b.putShort(0); b.putShort(64)
    b.put(52.toByte); b.put(11.toByte); b.put(0.toByte); b.put(52.toByte)
    b.putInt(1023); b.array()
  }
  private def contiguousLayout(at: Long, size: Long): Array[Byte] = {
    val b = ByteBuffer.allocate(18).order(ByteOrder.LITTLE_ENDIAN)
    b.put(3.toByte); b.put(1.toByte); b.putLong(at); b.putLong(size); b.array()
  }

  test("parser reads a hand-assembled spec-literal file (f64 contiguous)") {
    val data = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
    data.putDouble(1.5); data.putDouble(2.5); data.putDouble(-3.0)
    // dataset OH: 16 + (24 + 32 + 32 + 48) = 152 → data at 280+152 = 432
    val bytes = handFile(f64Dt, contiguousLayout(432L, 24L), data.array(), 3L)
    val h5 = Hdf5Classic.parse(bytes)
    assert(h5.vars.map(_.name) == Seq("v"))
    val v = h5.variable("v")
    assert(v.shape == Seq(3L))
    assert(v.attrs == Seq(NcAttr("units", "m")))
    assert(h5.read("v").toSeq == Seq(1.5, 2.5, -3.0))
  }

  test("int16 big-endian + compact layout read through the same skeleton") {
    val dt = { // fixed-point, size 2, BIG-endian, signed
      val b = ByteBuffer.allocate(12).order(ByteOrder.LITTLE_ENDIAN)
      b.put(0x10.toByte); b.put(0x09.toByte) // class 0 v1; BE bit + signed bit
      b.putShort(0); b.putInt(2); b.putShort(0); b.putShort(16); b.array()
    }
    val data = ByteBuffer.allocate(6).order(ByteOrder.BIG_ENDIAN)
    data.putShort(7); data.putShort(-2); data.putShort(300)
    val layout = { // compact: the 6 data bytes live inside the message
      val b = ByteBuffer.allocate(10).order(ByteOrder.LITTLE_ENDIAN)
      b.put(3.toByte); b.put(0.toByte); b.putShort(6); b.put(data.array()); b.array()
    }
    val bytes = handFile(dt, layout, Array.emptyByteArray, 3L)
    val h5 = Hdf5Classic.parse(bytes)
    assert(h5.read("v").toSeq == Seq(7.0, -2.0, 300.0))
  }

  test("superblock v1 (indexed-K variant, +4 B header) reads end-to-end") {
    // identical skeleton to the v0 contiguous test, every address +4:
    // dataset OH at 284, data at 436 (16 + 24+32+32+48 message bytes)
    val data = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
    data.putDouble(1.5); data.putDouble(2.5); data.putDouble(-3.0)
    val bytes =
      handFile(f64Dt, contiguousLayout(436L, 24L), data.array(), 3L, sbVer = 1)
    val h5 = Hdf5Classic.parse(bytes)
    val v = h5.variable("v")
    assert(v.shape == Seq(3L))
    assert(v.attrs == Seq(NcAttr("units", "m")))
    assert(h5.read("v").toSeq == Seq(1.5, 2.5, -3.0))
  }

  test("every out-of-scope feature is rejected by NAME, never read wrong") {
    val data = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
    (1 to 3).foreach(i => data.putDouble(i))
    val good = handFile(f64Dt, contiguousLayout(432L, 24L), data.array(), 3L)
    def mutated(f: Array[Byte] => Unit): Array[Byte] = {
      val b = good.clone(); f(b); b
    }
    val sbV4 = intercept[IllegalArgumentException](Hdf5Classic.parse(
      mutated(_(8) = 4)))
    assert(sbV4.getMessage.contains("superblock version 4"))
    val ohdr = intercept[IllegalArgumentException](Hdf5Classic.parse(
      mutated { b => b(96) = 'O'; b(97) = 'H'; b(98) = 'D'; b(99) = 'R' }))
    assert(ohdr.getMessage.contains("OHDR")) // garbage version byte named
    // (chunked layout is SUPPORTED since r12 — its filtered-pipeline
    // rejection has its own named-error test below)
    val notH5 = intercept[IllegalArgumentException](Hdf5Classic.parse(
      "CDFgarbage-not-hdf5-but-long-enough".getBytes ++ new Array[Byte](96)))
    assert(notH5.getMessage.contains("NetCDF-3 classic starts 'CDF'"))
    // and the classic parser names HDF5 in ITS magic error (cross-hint)
    val notNc = intercept[IllegalArgumentException](NetcdfClassic.parse(good))
    assert(notNc.getMessage.contains("HDF"))
  }

  test("continuation blocks: messages split across two header blocks") {
    // dataset OH at 280 carries [dataspace, datatype, CONTINUATION] in
    // its first block (80 B); the continuation block at 376 carries
    // [layout, units attr] (80 B); data at 456. nmsgs=5 counts the
    // continuation message itself, per the spec.
    val dataAt = 456
    val out = ByteBuffer.allocate(dataAt + 24).order(ByteOrder.LITTLE_ENDIAN)
    out.put(commonPrefix(eof = dataAt + 24)) // superblock..SNOD, OH @280
    assert(out.position() == 280)
    out.put(1.toByte); out.put(0.toByte); out.putShort(5)
    out.putInt(1); out.putInt(80); out.putInt(0)
    def msg(typ: Int, body: Array[Byte]): Unit = {
      val pad = (body.length + 7) & ~7
      out.putShort(typ.toShort); out.putShort(pad.toShort); out.putInt(0)
      val at = out.position(); out.put(body); out.position(at + pad)
    }
    val dsBody = {
      val b = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte); b.put(1.toByte); b.put(0.toByte)
      b.put(new Array[Byte](5)); b.putLong(3L); b.array()
    }
    msg(0x0001, dsBody)
    msg(0x0003, f64Dt)
    msg(0x0010, { // continuation → block @376, 80 bytes
      val b = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      b.putLong(376L); b.putLong(80L); b.array()
    })
    assert(out.position() == 376)
    msg(0x0008, contiguousLayout(dataAt.toLong, 24L))
    msg(0x000C, unitsAttrBody)
    assert(out.position() == dataAt)
    out.putDouble(4.5); out.putDouble(5.5); out.putDouble(6.5)
    val h5 = Hdf5Classic.parse(out.array())
    assert(h5.variable("v").attrs == Seq(NcAttr("units", "m")))
    assert(h5.read("v").toSeq == Seq(4.5, 5.5, 6.5))
  }

  test("vlen string attribute resolves through the global heap") {
    // attr "title" is a SCALAR vlen-string whose bytes live in a GCOL
    // collection after the data — exactly how netCDF-4 stores
    // NC_STRING attributes.
    val dataAt = 280 + 16 + (24 + 32 + 32 + 64) // OH prefix + 4 messages
    val gheapAt = dataAt + 24
    val out = ByteBuffer.allocate(gheapAt + 64).order(ByteOrder.LITTLE_ENDIAN)
    out.put(commonPrefix(eof = gheapAt + 64))
    assert(out.position() == 280)
    out.put(1.toByte); out.put(0.toByte); out.putShort(4)
    out.putInt(1); out.putInt(24 + 32 + 32 + 64); out.putInt(0)
    def msg(typ: Int, body: Array[Byte]): Unit = {
      val pad = (body.length + 7) & ~7
      out.putShort(typ.toShort); out.putShort(pad.toShort); out.putInt(0)
      val at = out.position(); out.put(body); out.position(at + pad)
    }
    val dsBody = {
      val b = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte); b.put(1.toByte); b.put(0.toByte)
      b.put(new Array[Byte](5)); b.putLong(3L); b.array()
    }
    msg(0x0001, dsBody)
    msg(0x0003, f64Dt)
    msg(0x0008, contiguousLayout(dataAt.toLong, 24L))
    msg(0x000C, { // v1 attr: vlen-string scalar "title"
      val b = ByteBuffer.allocate(56).order(ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte); b.put(0.toByte)
      b.putShort(6); b.putShort(16); b.putShort(8)
      b.put("title".getBytes); b.put(0.toByte); b.position(16)
      b.put(0x19.toByte); b.put(0x01.toByte); b.putShort(0); b.putInt(16) // vlen str
      b.put(0x13.toByte); b.put(0.toByte); b.putShort(0); b.putInt(1)     // base str
      b.position(32)
      b.put(1.toByte); b.put(0.toByte); b.put(0.toByte) // scalar dataspace
      b.put(new Array[Byte](5)); b.position(40)
      b.putInt(12); b.putLong(gheapAt.toLong); b.putInt(1) // len, GCOL, index
      b.array()
    })
    assert(out.position() == dataAt)
    out.putDouble(1.0); out.putDouble(2.0); out.putDouble(3.0)
    // global heap: one 12-byte string object + free-space terminator
    out.put("GCOL".getBytes(StandardCharsets.US_ASCII))
    out.put(1.toByte); out.put(new Array[Byte](3)); out.putLong(64L)
    out.putShort(1); out.putShort(1); out.putInt(0); out.putLong(12L)
    out.put("hello world!".getBytes); out.position(gheapAt + 48)
    out.putShort(0); out.putShort(0); out.putInt(0); out.putLong(16L)
    val h5 = Hdf5Classic.parse(out.array())
    assert(h5.variable("v").attrStr("title").contains("hello world!"))
    assert(h5.read("v").toSeq == Seq(1.0, 2.0, 3.0))
  }

  test("multi-element vlen-string attribute decodes to Array[String]; non-numeric vlen base rejects by name (r14 pin)") {
    // (a) rank-1 vlen-string attr with TWO elements — each element is a
    // (len, GCOL addr, index) descriptor; the decode must return the
    // array, never a joined/munged single string
    val msgBytes = 24 + 32 + 32 + 88
    val dataAt = 280 + 16 + msgBytes
    val gheapAt = dataAt + 24
    val out = ByteBuffer.allocate(gheapAt + 80).order(ByteOrder.LITTLE_ENDIAN)
    out.put(commonPrefix(eof = gheapAt + 80))
    out.put(1.toByte); out.put(0.toByte); out.putShort(4)
    out.putInt(1); out.putInt(msgBytes); out.putInt(0)
    def msg(typ: Int, body: Array[Byte]): Unit = {
      val pad = (body.length + 7) & ~7
      out.putShort(typ.toShort); out.putShort(pad.toShort); out.putInt(0)
      val at = out.position(); out.put(body); out.position(at + pad)
    }
    msg(0x0001, {
      val b = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte); b.put(1.toByte); b.put(0.toByte)
      b.put(new Array[Byte](5)); b.putLong(3L); b.array()
    })
    msg(0x0003, f64Dt)
    msg(0x0008, contiguousLayout(dataAt.toLong, 24L))
    msg(0x000C, { // v1 attr "names": vlen-string, rank-1 [2]
      val b = ByteBuffer.allocate(80).order(ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte); b.put(0.toByte)
      b.putShort(6); b.putShort(16); b.putShort(16)
      b.put("names".getBytes); b.put(0.toByte); b.position(16)
      b.put(0x19.toByte); b.put(0x01.toByte); b.putShort(0); b.putInt(16) // vlen str
      b.put(0x13.toByte); b.put(0.toByte); b.putShort(0); b.putInt(1)     // base str
      b.position(32)
      b.put(1.toByte); b.put(1.toByte); b.put(0.toByte) // rank-1 dataspace
      b.put(new Array[Byte](5)); b.putLong(2L)
      b.putInt(5); b.putLong(gheapAt.toLong); b.putInt(1) // "alpha"
      b.putInt(4); b.putLong(gheapAt.toLong); b.putInt(2) // "beta"
      b.array()
    })
    assert(out.position() == dataAt)
    out.putDouble(1.0); out.putDouble(2.0); out.putDouble(3.0)
    out.put("GCOL".getBytes(StandardCharsets.US_ASCII))
    out.put(1.toByte); out.put(new Array[Byte](3)); out.putLong(80L)
    out.putShort(1); out.putShort(1); out.putInt(0); out.putLong(5L)
    out.put("alpha".getBytes); out.position(gheapAt + 40)
    out.putShort(2); out.putShort(1); out.putInt(0); out.putLong(4L)
    out.put("beta".getBytes); out.position(gheapAt + 64)
    out.putShort(0); out.putShort(0); out.putInt(0); out.putLong(16L)
    val h5 = Hdf5Classic.parse(out.array())
    val names = h5.variable("v").attrs
      .collectFirst { case NcAttr("names", v) => v }.get
    assert(names.isInstanceOf[Array[String]] &&
      names.asInstanceOf[Array[String]].toSeq == Seq("alpha", "beta"),
      s"multi-element vlen-string must decode to the ARRAY, got $names")
    assert(h5.read("v").toSeq == Seq(1.0, 2.0, 3.0))

    // (b) vlen SEQUENCE with a STRING base — non-numeric, must reject
    // by NAME (a silent empty Double array was the hazard class)
    val msgBytes2 = 24 + 32 + 32 + 64
    val dataAt2 = 280 + 16 + msgBytes2
    val gh2 = dataAt2 + 24
    val o2 = ByteBuffer.allocate(gh2 + 56).order(ByteOrder.LITTLE_ENDIAN)
    o2.put(commonPrefix(eof = gh2 + 56))
    o2.put(1.toByte); o2.put(0.toByte); o2.putShort(4)
    o2.putInt(1); o2.putInt(msgBytes2); o2.putInt(0)
    def msg2(typ: Int, body: Array[Byte]): Unit = {
      val pad = (body.length + 7) & ~7
      o2.putShort(typ.toShort); o2.putShort(pad.toShort); o2.putInt(0)
      val at = o2.position(); o2.put(body); o2.position(at + pad)
    }
    msg2(0x0001, {
      val b = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte); b.put(1.toByte); b.put(0.toByte)
      b.put(new Array[Byte](5)); b.putLong(3L); b.array()
    })
    msg2(0x0003, f64Dt)
    msg2(0x0008, contiguousLayout(dataAt2.toLong, 24L))
    msg2(0x000C, { // v1 attr "odd": vlen SEQUENCE of strings, scalar
      val b = ByteBuffer.allocate(56).order(ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte); b.put(0.toByte)
      b.putShort(4); b.putShort(16); b.putShort(8)
      b.put("odd".getBytes); b.put(0.toByte); b.position(16)
      b.put(0x19.toByte); b.put(0x00.toByte); b.putShort(0); b.putInt(16) // vlen SEQ
      b.put(0x13.toByte); b.put(0.toByte); b.putShort(0); b.putInt(1)     // base str
      b.position(32)
      b.put(1.toByte); b.put(0.toByte); b.put(0.toByte)
      b.put(new Array[Byte](5)); b.position(40)
      b.putInt(2); b.putLong(gh2.toLong); b.putInt(1)
      b.array()
    })
    assert(o2.position() == dataAt2)
    o2.putDouble(1.0); o2.putDouble(2.0); o2.putDouble(3.0)
    o2.put("GCOL".getBytes(StandardCharsets.US_ASCII))
    o2.put(1.toByte); o2.put(new Array[Byte](3)); o2.putLong(56L)
    o2.putShort(1); o2.putShort(1); o2.putInt(0); o2.putLong(2L)
    o2.put("xy".getBytes); o2.position(gh2 + 40)
    o2.putShort(0); o2.putShort(0); o2.putInt(0); o2.putLong(16L)
    val e = intercept[IllegalArgumentException](Hdf5Classic.parse(o2.array()))
    assert(e.getMessage.contains("vlen sequence with unsupported base class"),
      s"named rejection expected, got: ${e.getMessage}")
  }

  test("subgroup traversal: nested group datasets get '/'-joined names") {
    // root group holds subgroup "g"; "g" holds dataset "v" — the
    // netCDF-4 group layout. Two full symbol-table levels by hand.
    val out = ByteBuffer.allocate(592).order(ByteOrder.LITTLE_ENDIAN)
    out.put(superblock(eof = 592))
    // root OH @96: symtab(btree 136, heap 184)
    out.put(1.toByte); out.put(0.toByte); out.putShort(1)
    out.putInt(1); out.putInt(24); out.putInt(0)
    out.putShort(0x0011); out.putShort(16); out.putInt(0)
    out.putLong(136L); out.putLong(184L)
    // root btree @136 → SNOD 232
    out.put("TREE".getBytes); out.put(0.toByte); out.put(0.toByte); out.putShort(1)
    out.putLong(-1L); out.putLong(-1L)
    out.putLong(0L); out.putLong(232L); out.putLong(8L)
    // root heap @184, data @216: "g"
    out.put("HEAP".getBytes); out.put(0.toByte); out.put(new Array[Byte](3))
    out.putLong(16L); out.putLong(-1L); out.putLong(216L)
    out.put(new Array[Byte](8)); out.put('g'.toByte); out.put(new Array[Byte](7))
    // root SNOD @232: ("g" → OH 280)
    out.put("SNOD".getBytes); out.put(1.toByte); out.put(0.toByte); out.putShort(1)
    out.putLong(8L); out.putLong(280L)
    out.putInt(0); out.putInt(0); out.put(new Array[Byte](16))
    assert(out.position() == 280)
    // group g OH @280: symtab(btree 320, heap 368)
    out.put(1.toByte); out.put(0.toByte); out.putShort(1)
    out.putInt(1); out.putInt(24); out.putInt(0)
    out.putShort(0x0011); out.putShort(16); out.putInt(0)
    out.putLong(320L); out.putLong(368L)
    // g btree @320 → SNOD 416
    out.put("TREE".getBytes); out.put(0.toByte); out.put(0.toByte); out.putShort(1)
    out.putLong(-1L); out.putLong(-1L)
    out.putLong(0L); out.putLong(416L); out.putLong(8L)
    // g heap @368, data @400: "v"
    out.put("HEAP".getBytes); out.put(0.toByte); out.put(new Array[Byte](3))
    out.putLong(16L); out.putLong(-1L); out.putLong(400L)
    out.put(new Array[Byte](8)); out.put('v'.toByte); out.put(new Array[Byte](7))
    // g SNOD @416: ("v" → OH 464)
    out.put("SNOD".getBytes); out.put(1.toByte); out.put(0.toByte); out.putShort(1)
    out.putLong(8L); out.putLong(464L)
    out.putInt(0); out.putInt(0); out.put(new Array[Byte](16))
    assert(out.position() == 464)
    // dataset v OH @464: ds(24) + dt(32) + layout(32) → data @568
    out.put(1.toByte); out.put(0.toByte); out.putShort(3)
    out.putInt(1); out.putInt(88); out.putInt(0)
    def msg(typ: Int, body: Array[Byte]): Unit = {
      val pad = (body.length + 7) & ~7
      out.putShort(typ.toShort); out.putShort(pad.toShort); out.putInt(0)
      val at = out.position(); out.put(body); out.position(at + pad)
    }
    val dsBody = {
      val b = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte); b.put(1.toByte); b.put(0.toByte)
      b.put(new Array[Byte](5)); b.putLong(3L); b.array()
    }
    msg(0x0001, dsBody); msg(0x0003, f64Dt)
    msg(0x0008, contiguousLayout(568L, 24L))
    assert(out.position() == 568)
    out.putDouble(9.0); out.putDouble(8.0); out.putDouble(7.0)
    val h5 = Hdf5Classic.parse(out.array())
    assert(h5.vars.map(_.name) == Seq("g/v"))
    assert(h5.read("g/v").toSeq == Seq(9.0, 8.0, 7.0))
  }

  // 3×3 f64 dataset "v" in 2×2 chunks (4 chunks, edge-padded on disk)
  // behind a level-0 raw-data-chunk B-tree — the layout netCDF-4 gives
  // any record (unlimited-time) variable. withFilter adds a filter-
  // pipeline message; an unsupported filter id (szip here) must be
  // rejected by name (deflate/shuffle/fletcher32 read fine since r12).
  private def chunkedFile(filterId: Option[Int]): Array[Byte] = {
    val withFilter = filterId.isDefined
    val nMsgs = if (withFilter) 4 else 3
    val msgBytes = 32 + 32 + 32 + (if (withFilter) 24 else 0)
    val btAt = 280 + 16 + msgBytes
    val chunksAt = btAt + 24 + 5 * 32 + 4 * 8 // hdr + 5 keys + 4 children
    val eof = chunksAt + 4 * 32
    val out = ByteBuffer.allocate(eof).order(ByteOrder.LITTLE_ENDIAN)
    out.put(commonPrefix(eof))
    out.put(1.toByte); out.put(0.toByte); out.putShort(nMsgs.toShort)
    out.putInt(1); out.putInt(msgBytes); out.putInt(0)
    def msg(typ: Int, body: Array[Byte]): Unit = {
      val pad = (body.length + 7) & ~7
      out.putShort(typ.toShort); out.putShort(pad.toShort); out.putInt(0)
      val at = out.position(); out.put(body); out.position(at + pad)
    }
    msg(0x0001, { // dataspace rank 2: [3, 3]
      val b = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte); b.put(2.toByte); b.put(0.toByte)
      b.put(new Array[Byte](5)); b.putLong(3L); b.putLong(3L); b.array()
    })
    msg(0x0003, f64Dt)
    filterId.foreach(id => msg(0x000B, { // filter pipeline v1: 1 filter
      val b = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte); b.put(1.toByte); b.put(new Array[Byte](6))
      b.putShort(id.toShort); b.putShort(0) // id, name length
      b.putShort(0); b.putShort(0)          // flags, n client data
      b.array()
    }))
    msg(0x0008, { // layout v3 class 2: dimensionality 3 = rank+1
      val b = ByteBuffer.allocate(23).order(ByteOrder.LITTLE_ENDIAN)
      b.put(3.toByte); b.put(2.toByte); b.put(3.toByte)
      b.putLong(btAt.toLong)
      b.putInt(2); b.putInt(2); b.putInt(8) // chunk 2×2, elem size 8
      b.array()
    })
    assert(out.position() == btAt)
    // raw-data-chunk B-tree: level 0, 4 entries; key = (size, mask,
    // 3×8-byte offsets incl. the trailing elem-size 0)
    out.put("TREE".getBytes(StandardCharsets.US_ASCII))
    out.put(1.toByte); out.put(0.toByte); out.putShort(4)
    out.putLong(-1L); out.putLong(-1L)
    val offsets = Seq((0L, 0L), (0L, 2L), (2L, 0L), (2L, 2L))
    offsets.zipWithIndex.foreach { case ((r, c), i) =>
      out.putInt(32); out.putInt(0)
      out.putLong(r); out.putLong(c); out.putLong(0L)
      out.putLong(chunksAt + i * 32L)
    }
    out.putInt(32); out.putInt(0) // trailing key N (past-the-end)
    out.putLong(4L); out.putLong(4L); out.putLong(0L)
    assert(out.position() == chunksAt)
    // chunk slabs, edge cells padded with -99 (must be clipped away)
    val P = -99.0
    Seq(Seq(1.0, 2, 4, 5), Seq(3.0, P, 6, P), Seq(7.0, 8, P, P), Seq(9.0, P, P, P))
      .foreach(_.foreach(out.putDouble))
    out.array()
  }

  test("uncompressed chunked layout reads through the chunk B-tree") {
    val h5 = Hdf5Classic.parse(chunkedFile(filterId = None))
    assert(h5.variable("v").shape == Seq(3L, 3L))
    assert(h5.read("v").toSeq == (1 to 9).map(_.toDouble),
      "edge-padded chunks must scatter-clip into the dense row-major array")
  }

  test("unknown filters are rejected by name; malformed szip rejects at read") {
    // id 7 is past the registered standard set — parse rejects upfront
    val ex = intercept[IllegalArgumentException](
      Hdf5Classic.parse(chunkedFile(filterId = Some(7))))
    assert(ex.getMessage.contains("filter id 7"))
    // szip (id 4, r16) parses, but an entry with NO client data — or
    // on an 8-byte datatype, which the szip filter never applies to —
    // rejects by name when the chunk is read, never a silent wrong read
    val h5 = Hdf5Classic.parse(chunkedFile(filterId = Some(4)))
    val ex2 = intercept[IllegalArgumentException](h5.read("v"))
    assert(ex2.getMessage.contains("szip"))
  }

  // 1-D [4] f64 in chunks of [2] behind the given filter pipeline; the
  // test supplies each chunk's STORED bytes (already filtered), so the
  // reader's inverse pipeline is checked against independently-built
  // payloads. Chunk 1 carries `mask1` (set bit i = filter i skipped).
  private def filteredFile(pipeline: Seq[(Int, Seq[Int])],
                           chunk0: Array[Byte], chunk1: Array[Byte],
                           mask1: Int): Array[Byte] = {
    def pad8(x: Int) = (x + 7) & ~7
    val filterBody = {
      val cdvLen = pipeline.map(f => f._2.length * 4 + (f._2.length % 2) * 4).sum
      val b = ByteBuffer.allocate(8 + pipeline.length * 8 + cdvLen)
        .order(ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte); b.put(pipeline.length.toByte); b.put(new Array[Byte](6))
      pipeline.foreach { case (id, cdv) =>
        b.putShort(id.toShort); b.putShort(0); b.putShort(0)
        b.putShort(cdv.length.toShort)
        cdv.foreach(b.putInt)
        if (cdv.length % 2 == 1) b.putInt(0)
      }
      b.array()
    }
    val msgBytes = 24 + 32 + (8 + pad8(filterBody.length)) + 32
    val btAt = 280 + 16 + msgBytes
    val c0At = btAt + 24 + 3 * 24 + 2 * 8 // hdr + 3 keys + 2 children
    val c1At = c0At + chunk0.length
    val eof = c1At + chunk1.length
    val out = ByteBuffer.allocate(eof).order(ByteOrder.LITTLE_ENDIAN)
    out.put(commonPrefix(eof))
    out.put(1.toByte); out.put(0.toByte); out.putShort(4)
    out.putInt(1); out.putInt(msgBytes); out.putInt(0)
    def msg(typ: Int, body: Array[Byte]): Unit = {
      val pad = pad8(body.length)
      out.putShort(typ.toShort); out.putShort(pad.toShort); out.putInt(0)
      val at = out.position(); out.put(body); out.position(at + pad)
    }
    msg(0x0001, {
      val b = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte); b.put(1.toByte); b.put(0.toByte)
      b.put(new Array[Byte](5)); b.putLong(4L); b.array()
    })
    msg(0x0003, f64Dt)
    msg(0x000B, filterBody)
    msg(0x0008, {
      val b = ByteBuffer.allocate(19).order(ByteOrder.LITTLE_ENDIAN)
      b.put(3.toByte); b.put(2.toByte); b.put(2.toByte)
      b.putLong(btAt.toLong)
      b.putInt(2); b.putInt(8)
      b.array()
    })
    assert(out.position() == btAt)
    out.put("TREE".getBytes(StandardCharsets.US_ASCII))
    out.put(1.toByte); out.put(0.toByte); out.putShort(2)
    out.putLong(-1L); out.putLong(-1L)
    out.putInt(chunk0.length); out.putInt(0)       // key0: stored size, mask
    out.putLong(0L); out.putLong(0L)
    out.putLong(c0At.toLong)
    out.putInt(chunk1.length); out.putInt(mask1)   // key1
    out.putLong(2L); out.putLong(0L)
    out.putLong(c1At.toLong)
    out.putInt(0); out.putInt(0)                   // keyN (past-the-end)
    out.putLong(4L); out.putLong(0L)
    assert(out.position() == c0At)
    out.put(chunk0); out.put(chunk1)
    out.array()
  }

  private def le64(ds: Double*): Array[Byte] = {
    val b = ByteBuffer.allocate(ds.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    ds.foreach(b.putDouble); b.array()
  }
  private def deflate(in: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(in); d.finish()
    val buf = new Array[Byte](in.length * 2 + 64)
    val n = d.deflate(buf); d.end()
    java.util.Arrays.copyOfRange(buf, 0, n)
  }
  private def shuffle(in: Array[Byte], elemSize: Int): Array[Byte] = {
    val n = in.length / elemSize
    val out = new Array[Byte](in.length)
    for (i <- 0 until n; b <- 0 until elemSize)
      out(b * n + i) = in(i * elemSize + b)
    // trailing length % elemSize bytes stay in place (the real filter's
    // remainder rule — matters for the size-changing r14 pipelines)
    for (i <- n * elemSize until in.length) out(i) = in(i)
    out
  }

  test("DEFLATE chunks inflate via the JDK; per-chunk filter masks honored") {
    // pipeline [deflate]; chunk 0 stored compressed, chunk 1 carries
    // mask bit 0 (deflate SKIPPED for that chunk) and is stored raw
    val bytes = filteredFile(Seq((1, Seq(6))),
      chunk0 = deflate(le64(1.0, 2.0)),
      chunk1 = le64(3.0, 4.0), mask1 = 1)
    assert(Hdf5Classic.parse(bytes).read("v").toSeq == Seq(1.0, 2.0, 3.0, 4.0))
  }

  test("SHUFFLE+DEFLATE pipeline (the netCDF-4 default) inverts in order") {
    // write order [shuffle(8), deflate] → stored = deflate(shuffle(raw));
    // the reader must inflate FIRST, then unshuffle
    val bytes = filteredFile(Seq((2, Seq(8)), (1, Seq(6))),
      chunk0 = deflate(shuffle(le64(1.5, -2.5), 8)),
      chunk1 = deflate(shuffle(le64(3.5, 4.5), 8)), mask1 = 0)
    assert(Hdf5Classic.parse(bytes).read("v").toSeq == Seq(1.5, -2.5, 3.5, 4.5))
  }

  test("FLETCHER32 checksum filter: the 4 trailing bytes are dropped") {
    // pipeline [fletcher32]: stored = raw ++ 4 checksum bytes
    val bytes = filteredFile(Seq((3, Nil)),
      chunk0 = le64(7.0, 8.0) ++ Array[Byte](1, 2, 3, 4),
      chunk1 = le64(9.0, 10.0) ++ Array[Byte](5, 6, 7, 8), mask1 = 0)
    assert(Hdf5Classic.parse(bytes).read("v").toSeq == Seq(7.0, 8.0, 9.0, 10.0))
  }

  // ---- NBIT / SCALEOFFSET (r14) ------------------------------------
  // Mirror ENCODERS for the two bit-manipulation filters, built from
  // the same public H5Znbit.c / H5Zscaleoffset.c layouts the decoder
  // cites — fixtures are hand-packed here and must invert exactly.

  /** MSB-first bit stream packer (the shared nbit/scaleoffset layout):
    * each value contributes its low `bits` bits, most significant
    * first, packed contiguously across byte boundaries. */
  private def packBits(values: Seq[Long], bits: Int): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate((values.length * bits + 7) / 8)
    var acc = 0L; var accBits = 0
    values.foreach { v =>
      var left = bits
      while (left > 0) {
        val k = math.min(left, 8 - accBits)
        val chunk = (v >>> (left - k)) & ((1L << k) - 1)
        acc = (acc << k) | chunk
        accBits += k; left -= k
        if (accBits == 8) { out.put(acc.toByte); acc = 0; accBits = 0 }
      }
    }
    if (accBits > 0) out.put((acc << (8 - accBits)).toByte)
    out.array()
  }

  /** nbit-encode: each element's `prec`-bit field, MSB-first — the
    * stream layout is offset-independent (the offset only places the
    * field within the element, which the stream never materializes). */
  private def nbitPack(raw: Seq[Long], prec: Int): Array[Byte] =
    packBits(raw.map(_ & (if (prec == 64) -1L else (1L << prec) - 1)), prec)

  /** scaleoffset-encode: 13-byte header (LE minbits, minval size 8,
    * LE minval) + the packed (v - minval) stream. */
  private def soPack(packed: Seq[Long], minbits: Int, minval: Long): Array[Byte] = {
    val hdr = java.nio.ByteBuffer.allocate(13)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hdr.putInt(minbits); hdr.put(8.toByte); hdr.putLong(minval)
    hdr.array() ++ (if (minbits == 0) Array.empty[Byte]
                    else packBits(packed, minbits))
  }

  /** Fixed-point datatype message body: class 0, LE, optional sign,
    * with the declared (bit offset, precision) the nbit data carries. */
  private def fixedDt(size: Int, signed: Boolean, prec: Int, off: Int): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(12).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put(0x10.toByte)                                  // version 1, class 0
    b.put((if (signed) 0x08 else 0x00).toByte)          // bf0: LE, sign bit 3
    b.put(0.toByte); b.put(0.toByte)
    b.putInt(size)
    b.putShort(off.toShort); b.putShort(prec.toShort)
    b.array()
  }

  /** filteredFile generalized over the datatype: 1-D [2*chunkElems] in
    * chunks of [chunkElems] behind `pipeline`, element size from the
    * dt (default 2-element chunks — the r14 nbit/scaleoffset shape). */
  private def filteredFileDt(dtBody: Array[Byte], elemSize: Int,
                             pipeline: Seq[(Int, Seq[Int])],
                             chunk0: Array[Byte], chunk1: Array[Byte],
                             mask1: Int = 0,
                             chunkElems: Int = 2): Array[Byte] = {
    def pad8(x: Int) = (x + 7) & ~7
    val filterBody = {
      val cdvLen = pipeline.map(f => f._2.length * 4 + (f._2.length % 2) * 4).sum
      val b = java.nio.ByteBuffer.allocate(8 + pipeline.length * 8 + cdvLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte); b.put(pipeline.length.toByte); b.put(new Array[Byte](6))
      pipeline.foreach { case (id, cdv) =>
        b.putShort(id.toShort); b.putShort(0); b.putShort(0)
        b.putShort(cdv.length.toShort)
        cdv.foreach(b.putInt)
        if (cdv.length % 2 == 1) b.putInt(0)
      }
      b.array()
    }
    val msgBytes = 24 + (8 + pad8(dtBody.length)) +
      (8 + pad8(filterBody.length)) + 32
    val btAt = 280 + 16 + msgBytes
    val c0At = btAt + 24 + 3 * 24 + 2 * 8
    val c1At = c0At + chunk0.length
    val eof = c1At + chunk1.length
    val out = java.nio.ByteBuffer.allocate(eof)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put(commonPrefix(eof))
    out.put(1.toByte); out.put(0.toByte); out.putShort(4)
    out.putInt(1); out.putInt(msgBytes); out.putInt(0)
    def msg(typ: Int, body: Array[Byte]): Unit = {
      val pad = pad8(body.length)
      out.putShort(typ.toShort); out.putShort(pad.toShort); out.putInt(0)
      val at = out.position(); out.put(body); out.position(at + pad)
    }
    msg(0x0001, {
      val b = java.nio.ByteBuffer.allocate(16).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte); b.put(1.toByte); b.put(0.toByte)
      b.put(new Array[Byte](5)); b.putLong(2L * chunkElems); b.array()
    })
    msg(0x0003, dtBody)
    msg(0x000B, filterBody)
    msg(0x0008, {
      val b = java.nio.ByteBuffer.allocate(19).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(3.toByte); b.put(2.toByte); b.put(2.toByte)
      b.putLong(btAt.toLong)
      b.putInt(chunkElems); b.putInt(elemSize)
      b.array()
    })
    assert(out.position() == btAt)
    out.put("TREE".getBytes(StandardCharsets.US_ASCII))
    out.put(1.toByte); out.put(0.toByte); out.putShort(2)
    out.putLong(-1L); out.putLong(-1L)
    out.putInt(chunk0.length); out.putInt(0)
    out.putLong(0L); out.putLong(0L)
    out.putLong(c0At.toLong)
    out.putInt(chunk1.length); out.putInt(mask1)
    out.putLong(chunkElems.toLong); out.putLong(0L)
    out.putLong(c1At.toLong)
    out.putInt(0); out.putInt(0)
    out.putLong(2L * chunkElems); out.putLong(0L)
    assert(out.position() == c0At)
    out.put(chunk0); out.put(chunk1)
    out.array()
  }

  test("NBIT filter: signed bitfields unpack and sign-extend (r14)") {
    // int16, precision 9, offset 3: values in [-256, 255]
    val vals = Seq(-200L, 17L, 255L, -1L)
    def enc(vs: Seq[Long]) = nbitPack(vs, prec = 9)
    // nbit atomic cd: [nparms, skipFlag, nelmts, class, size, order,
    //                  precision, offset]
    val cdv = Seq(8, 0, 2, 1, 2, 0, 9, 3)
    val bytes = filteredFileDt(fixedDt(2, signed = true, 9, 3), 2,
      Seq((5, cdv)), enc(vals.take(2)), enc(vals.drop(2)))
    assert(Hdf5Classic.parse(bytes).read("v").toSeq == vals.map(_.toDouble))
  }

  test("NBIT filter: unsigned field, byte-straddling precision (r14)") {
    // uint32, precision 19, offset 0 — elements straddle stream bytes
    val vals = Seq(0L, 524287L, 123456L, 1L)
    def enc(vs: Seq[Long]) = nbitPack(vs, prec = 19)
    val cdv = Seq(8, 0, 2, 1, 4, 0, 19, 0)
    val bytes = filteredFileDt(fixedDt(4, signed = false, 19, 0), 4,
      Seq((5, cdv)), enc(vals.take(2)), enc(vals.drop(2)))
    assert(Hdf5Classic.parse(bytes).read("v").toSeq == vals.map(_.toDouble))
  }

  test("NBIT + SCALEOFFSET over BIG-ENDIAN datatypes (r14): the stream is order-free") {
    // the packed stream carries integer fields MSB-first regardless of
    // element layout — only the emitted element byte order changes
    val beDt = {
      val b = java.nio.ByteBuffer.allocate(12).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(0x10.toByte); b.put(0x09.toByte) // bf0: BE (bit0) + signed (bit3)
      b.put(0.toByte); b.put(0.toByte)
      b.putInt(4); b.putShort(0); b.putShort(13); b.array()
    }
    val vals = Seq(-4096L, 4095L, -1L, 777L)
    def enc(vs: Seq[Long]) = nbitPack(vs, prec = 13)
    val nb = filteredFileDt(beDt, 4,
      Seq((5, Seq(8, 0, 2, 1, 4, 1, 13, 0))), enc(vals.take(2)), enc(vals.drop(2)))
    assert(Hdf5Classic.parse(nb).read("v").toSeq == vals.map(_.toDouble))
    val so = Seq[Int](2, 0, 2, 0, 4, 1, 1, 0) // scale type INT, order BE
    def encS(vs: Seq[Long]) = soPack(vs.map(_ - -9L), 5, -9L)
    val sf = filteredFileDt(beDt, 4,
      Seq((6, so)), encS(Seq(-9L, 8L)), encS(Seq(0L, 20L)))
    assert(Hdf5Classic.parse(sf).read("v").toSeq == Seq(-9.0, 8.0, 0.0, 20.0))
    // a client/datatype order DISAGREEMENT rejects by name
    val bad = filteredFileDt(beDt, 4,
      Seq((5, Seq(8, 0, 2, 1, 4, 0, 13, 0))), enc(vals.take(2)), enc(vals.drop(2)))
    val e = intercept[IllegalArgumentException](Hdf5Classic.parse(bad).read("v"))
    assert(e.getMessage.contains("disagrees"))
  }

  test("SCALEOFFSET full precision over a BIG-ENDIAN datatype (r15): stored stream is LE") {
    // minbits == size*8: H5Zscaleoffset stores the raw values LITTLE-
    // endian and byte-swaps to the datatype's order only after the
    // decompress memcpy — so a BE int32 chunk's stored stream is LE,
    // and the reader must emit BE elements (was a silent byte-swap)
    val beDt = {
      val b = java.nio.ByteBuffer.allocate(12).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(0x10.toByte); b.put(0x09.toByte) // bf0: BE (bit0) + signed (bit3)
      b.put(0.toByte); b.put(0.toByte)
      b.putInt(4); b.putShort(0); b.putShort(32); b.array()
    }
    def encFP(vs: Seq[Long]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(13 + vs.length * 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putInt(32); b.put(8.toByte); b.putLong(0L) // minbits=32: raw values
      vs.foreach(v => b.putInt(v.toInt))
      b.array()
    }
    val so = Seq[Int](2, 0, 2, 0, 4, 1, 1, 0) // scale type INT, order BE
    val vals = Seq(-4096L, 4095L, -1L, 0x01020304L)
    val sf = filteredFileDt(beDt, 4,
      Seq((6, so)), encFP(vals.take(2)), encFP(vals.drop(2)))
    assert(Hdf5Classic.parse(sf).read("v").toSeq == vals.map(_.toDouble))
  }

  test("NBIT filter: skip flag passes raw chunks through; rejections are named (r14)") {
    // cd[1] = 1 (datatype needs no compression) → chunk stored raw
    val raw0 = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(7).putInt(-9).array()
    val raw1 = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(100).putInt(0).array()
    val bytes = filteredFileDt(fixedDt(4, signed = true, 32, 0), 4,
      Seq((5, Seq(8, 1, 2, 1, 4, 0, 32, 0))), raw0, raw1)
    assert(Hdf5Classic.parse(bytes).read("v").toSeq == Seq(7.0, -9.0, 100.0, 0.0))
    // an order disagreement and a compound class reject by NAME
    val be = filteredFileDt(fixedDt(4, signed = true, 9, 0), 4,
      Seq((5, Seq(8, 0, 2, 1, 4, 1, 9, 0))), raw0, raw1)
    val e1 = intercept[IllegalArgumentException](Hdf5Classic.parse(be).read("v"))
    assert(e1.getMessage.contains("disagrees"))
    val comp = filteredFileDt(fixedDt(4, signed = true, 9, 0), 4,
      Seq((5, Seq(8, 0, 2, 3, 4, 0, 9, 0))), raw0, raw1)
    val e2 = intercept[IllegalArgumentException](Hdf5Classic.parse(comp).read("v"))
    assert(e2.getMessage.contains("class"))
  }

  test("SCALEOFFSET integer: minval offsetting, fill sentinel, minbits boundaries (r14)") {
    // int32, values min=-50: packed = v - (-50); minbits 7 holds span;
    // fill value -999 rides cd[8] and the all-ones sentinel
    val so = Seq[Long](2, 0, 2, 0, 4, 1, 0, 1, -999 & 0xffffffffL, 0)
    def enc(vs: Seq[Long]) = soPack(vs.map(_ - (-50L)), 7, -50L)
    val c0 = enc(Seq(-50L, 40L))
    val c1 = soPack(Seq((1L << 7) - 1, 60L - (-50L)), 7, -50L) // elem0 = fill sentinel
    val bytes = filteredFileDt(fixedDt(4, signed = true, 32, 0), 4,
      Seq((6, so.map(_.toInt))), c0, c1)
    assert(Hdf5Classic.parse(bytes).read("v").toSeq ==
      Seq(-50.0, 40.0, -999.0, 60.0))
    // minbits == 0: every element is minval
    val soNoFill = Seq[Long](2, 0, 2, 0, 4, 1, 0, 0)
    val allEq = filteredFileDt(fixedDt(4, signed = true, 32, 0), 4,
      Seq((6, soNoFill.map(_.toInt))), soPack(Nil, 0, 123L), soPack(Nil, 0, 123L))
    assert(Hdf5Classic.parse(allEq).read("v").toSeq == Seq.fill(4)(123.0))
    // minbits == size*8: raw LE values after the header
    val rawVals0 = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(-7).putInt(2000000000).array()
    val rawVals1 = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(0).putInt(-2000000000).array()
    val hdr = java.nio.ByteBuffer.allocate(13).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(32).put(8.toByte).putLong(0L).array()
    val full = filteredFileDt(fixedDt(4, signed = true, 32, 0), 4,
      Seq((6, soNoFill.map(_.toInt))), hdr ++ rawVals0, hdr ++ rawVals1)
    assert(Hdf5Classic.parse(full).read("v").toSeq ==
      Seq(-7.0, 2.0e9, 0.0, -2.0e9))
  }

  test("SCALEOFFSET float D-scaling: v/10^s + min, IEEE-bits minval (r14)") {
    // float64, scale 2 decimals: packed = llround(v*100 - min*100)
    val vals = Seq(1.25, 4.5, -2.75, 0.0)
    val min = vals.min
    val e10 = 100.0
    def packOne(v: Double): Long = math.round(v * e10 - min * e10)
    val minbits = 11
    val minvalBits = java.lang.Double.doubleToRawLongBits(min)
    val so = Seq[Long](0, 2, 2, 1, 8, 0, 0, 0)
    val c0 = soPack(vals.take(2).map(packOne), minbits, minvalBits)
    val c1 = soPack(vals.drop(2).map(packOne), minbits, minvalBits)
    val bytes = filteredFileDt(f64Dt, 8, Seq((6, so.map(_.toInt))), c0, c1)
    // decode = packed/100 + min with the same double ops → exact
    assert(Hdf5Classic.parse(bytes).read("v").toSeq ==
      vals.map(v => packOne(v).toDouble / e10 + min))
    // E-scaling rejects by name (unimplemented in the HDF5 library itself)
    val esc = filteredFileDt(f64Dt, 8,
      Seq((6, Seq[Int](1, 2, 2, 1, 8, 0, 0, 0))), c0, c1)
    val e = intercept[IllegalArgumentException](Hdf5Classic.parse(esc).read("v"))
    assert(e.getMessage.contains("E-scaling"))
  }

  test("NBIT/SCALEOFFSET round-trip property: seeded random fields and spans (r14)") {
    val rnd = new scala.util.Random(41)
    for (_ <- 1 to 6) {
      // nbit: random precision/offset inside int32
      val prec = 1 + rnd.nextInt(24)
      val off = rnd.nextInt(32 - prec)
      val signed = rnd.nextBoolean()
      val lo = if (signed) -(1L << (prec - 1)) else 0L
      val hi = (if (signed) (1L << (prec - 1)) else (1L << prec)) - 1
      val vals = Seq.fill(4)(lo + (math.abs(rnd.nextLong()) % (hi - lo + 1)))
      val cdv = Seq(8, 0, 2, 1, 4, 0, prec, off)
      def enc(vs: Seq[Long]) = nbitPack(vs, prec)
      val nb = filteredFileDt(fixedDt(4, signed, prec, off), 4,
        Seq((5, cdv)), enc(vals.take(2)), enc(vals.drop(2)))
      assert(Hdf5Classic.parse(nb).read("v").toSeq == vals.map(_.toDouble),
        s"nbit prec=$prec off=$off signed=$signed vals=$vals")
      // scaleoffset: random span over int32
      val minV = rnd.nextInt(2000) - 1000L
      val span = 1 + rnd.nextInt(500)
      val svals = Seq.fill(4)(minV + rnd.nextInt(span + 1).toLong)
      val minbits = 64 - java.lang.Long.numberOfLeadingZeros(span.toLong + 1L)
      val so = Seq[Int](2, 0, 2, 0, 4, 1, 0, 0)
      def encS(vs: Seq[Long]) = soPack(vs.map(_ - minV), minbits, minV)
      val sf = filteredFileDt(fixedDt(4, signed = true, 32, 0), 4,
        Seq((6, so)), encS(svals.take(2)), encS(svals.drop(2)))
      assert(Hdf5Classic.parse(sf).read("v").toSeq == svals.map(_.toDouble),
        s"scaleoffset min=$minV span=$span minbits=$minbits vals=$svals")
    }
  }

  test("SHUFFLE+DEFLATE over SCALEOFFSET composes (the pipeline runs in reverse) (r14)") {
    // write order [scaleoffset, shuffle, deflate] — the reader must
    // inflate, unshuffle, then scaleoffset-decode
    val so = Seq[Int](2, 0, 2, 0, 4, 1, 0, 0)
    def enc(vs: Seq[Long]) = soPack(vs.map(_ - 5L), 4, 5L)
    val bytes = filteredFileDt(fixedDt(4, signed = true, 32, 0), 4,
      Seq((6, so), (2, Seq(4)), (1, Seq(6))),
      deflate(shuffle(enc(Seq(5L, 9L)), 4)),
      deflate(shuffle(enc(Seq(12L, 7L)), 4)))
    assert(Hdf5Classic.parse(bytes).read("v").toSeq ==
      Seq(5.0, 9.0, 12.0, 7.0))
  }

  // ---- SZIP / CCSDS-121 (r16) --------------------------------------
  // Mirror ENCODER for the adaptive entropy coder, hand-built from the
  // public CCSDS 121.0-B standard (the same document the decoder
  // cites) — every option is exercised through hand-packed bitstreams
  // that must invert exactly through the full file path.

  /** MSB-first mixed-width bit writer + FS (unary) codes. */
  private final class SzBitW {
    private val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    private var acc = 0L; private var nb = 0
    def put(v: Long, bits: Int): Unit = {
      var left = bits
      while (left > 0) {
        val k = math.min(left, 8 - nb)
        acc = (acc << k) | ((v >>> (left - k)) & ((1L << k) - 1))
        nb += k; left -= k
        if (nb == 8) { out += acc.toByte; acc = 0; nb = 0 }
      }
    }
    def fs(v: Long): Unit = { var i = 0L; while (i < v) { put(0, 1); i += 1 }; put(1, 1) }
    def bytes: Array[Byte] =
      (out ++ (if (nb > 0) Seq(((acc << (8 - nb)) & 0xff).toByte) else Nil)).toArray
  }

  /** CCSDS prediction-residual mapping (the decoder's inverse). */
  private def szMap(pred: Long, x: Long, xmax: Long): Long = {
    val d = x - pred; val th = math.min(pred, xmax - pred)
    if (d >= 0 && d <= th) 2 * d
    else if (d < 0 && -d <= th) -2 * d - 1
    else th + math.abs(d)
  }

  /** Split-option block: id = k+1, J FS high parts, then J k-bit LSBs. */
  private def szSplit(w: SzBitW, idLen: Int, k: Int, mapped: Seq[Long]): Unit = {
    w.put(k + 1L, idLen)
    mapped.foreach(m => w.fs(m >>> k))
    if (k > 0) mapped.foreach(m => w.put(m & ((1L << k) - 1), k))
  }

  test("SZIP EC mode: split-k and uncompressed blocks invert bit-exactly (r16)") {
    // uint8, J=8, one 16-pixel scanline per chunk; options = EC|LSB
    val cdv = Seq(4 | 8, 8, 8, 16)
    val c0 = Seq[Long](0, 1, 2, 3, 4, 5, 6, 7, 250, 7, 128, 255, 0, 1, 99, 200)
    val c1 = Seq[Long](9, 8, 11, 10, 13, 12, 15, 14, 42, 42, 42, 42, 17, 0, 255, 128)
    def enc(vals: Seq[Long]): Array[Byte] = {
      val w = new SzBitW
      szSplit(w, 3, 2, vals.take(8))      // id=3 → k=2
      w.put(7, 3); vals.drop(8).foreach(v => w.put(v, 8)) // uncompressed
      w.bytes
    }
    val bytes = filteredFileDt(fixedDt(1, signed = false, 8, 0), 1,
      Seq((4, cdv)), enc(c0), enc(c1), chunkElems = 16)
    assert(Hdf5Classic.parse(bytes).read("v").toSeq == (c0 ++ c1).map(_.toDouble))
  }

  test("SZIP NN mode: reference samples, overflow mapping, zero-blocks and ROS (r16)") {
    // uint8, J=4, ppl=8 → two 8-pixel scanlines per 16-pixel chunk
    val cdv = Seq(32 | 8, 8, 4, 8)
    // scanline A: ref 2, then +5 (OVERFLOW: θ=2 < |δ|), -1, constant
    val lineA = Seq[Long](2, 7, 6, 6, 6, 6, 6, 6)
    // scanline B: constant 9 — ONE zero-run via ROS covers both blocks
    val lineB = Seq.fill(8)(9L)
    def mapped(line: Seq[Long]): Seq[Long] =
      line.zip(line.head +: line.init).map { case (x, p) => szMap(p, x, 255) }
    val w = new SzBitW
    // A block0: split k=1 with reference (ref raw after the id)
    val mA = mapped(lineA)
    w.put(2, 3) // id=2 → k=1
    w.put(lineA.head, 8)
    mA.slice(1, 4).foreach(m => w.fs(m >>> 1))
    mA.slice(1, 4).foreach(m => w.put(m & 1, 1))
    // A block1: all-zero residuals → zero-block, run f+1 = 1
    w.put(0, 3); w.put(0, 1); w.fs(0)
    // B block0: zero-run with reference + ROS (f=4 → rest of segment)
    w.put(0, 3); w.put(0, 1); w.put(lineB.head, 8); w.fs(4)
    val enc = w.bytes
    val bytes = filteredFileDt(fixedDt(1, signed = false, 8, 0), 1,
      Seq((4, cdv)), enc, enc, chunkElems = 16)
    assert(Hdf5Classic.parse(bytes).read("v").toSeq ==
      ((lineA ++ lineB) ++ (lineA ++ lineB)).map(_.toDouble))
  }

  test("SZIP second extension: pair transform, and the reference phantom pair (r16)") {
    val xmax = 255L
    // EC chunk: J=4, ppl=8, C=8; γ = (d0+d1)(d0+d1+1)/2 + d1
    def gamma(d0: Long, d1: Long): Long = (d0 + d1) * (d0 + d1 + 1) / 2 + d1
    val ec = Seq[Long](1, 0, 2, 1, 0, 0, 3, 0)
    val wEc = new SzBitW
    wEc.put(0, 3); wEc.put(1, 1); wEc.fs(gamma(1, 0)); wEc.fs(gamma(2, 1))
    wEc.put(0, 3); wEc.put(1, 1); wEc.fs(gamma(0, 0)); wEc.fs(gamma(3, 0))
    // NN chunk: scanlines of 4, ref block under SE — the first γ pairs
    // a phantom zero with sample 1 (only d1 is used by the decoder)
    val lineN = Seq[Long](10, 11, 11, 12)
    val mN = lineN.zip(lineN.head +: lineN.init)
      .map { case (x, p) => szMap(p, x, xmax) }
    val wNn = new SzBitW
    (0 until 2).foreach { _ => // same scanline twice = one 8-pixel chunk
      wNn.put(0, 3); wNn.put(1, 1); wNn.put(lineN.head, 8)
      wNn.fs(gamma(0, mN(1))); wNn.fs(gamma(mN(2), mN(3)))
    }
    val ecBytes = filteredFileDt(fixedDt(1, signed = false, 8, 0), 1,
      Seq((4, Seq(4 | 8, 8, 4, 8))), wEc.bytes, wEc.bytes, chunkElems = 8)
    assert(Hdf5Classic.parse(ecBytes).read("v").toSeq ==
      (ec ++ ec).map(_.toDouble))
    val nnBytes = filteredFileDt(fixedDt(1, signed = false, 8, 0), 1,
      Seq((4, Seq(32 | 8, 8, 4, 4))), wNn.bytes, wNn.bytes, chunkElems = 8)
    assert(Hdf5Classic.parse(nnBytes).read("v").toSeq ==
      ((lineN ++ lineN) ++ (lineN ++ lineN)).map(_.toDouble))
  }

  test("SZIP 16-bit samples: 4-bit option ids, wide split, LE repack (r16)") {
    // uint16 → idLen=4, maxId=15; split k=9 (id=10) + uncompressed
    val cdv = Seq(4 | 8, 16, 4, 8)
    val c0 = Seq[Long](0x1234, 0x0007, 0x01ff, 0x8000, 65535, 0, 1, 513)
    def enc(vals: Seq[Long]): Array[Byte] = {
      val w = new SzBitW
      szSplit(w, 4, 9, vals.take(4))
      w.put(15, 4); vals.drop(4).foreach(v => w.put(v, 16))
      w.bytes
    }
    val bytes = filteredFileDt(fixedDt(2, signed = false, 16, 0), 2,
      Seq((4, cdv)), enc(c0), enc(c0), chunkElems = 8)
    assert(Hdf5Classic.parse(bytes).read("v").toSeq ==
      (c0 ++ c0).map(_.toDouble))
  }

  test("SZIP partial last block: encoder padding is truncated, not emitted (r16)") {
    // ppl=10 = one 8-block + one 2-real/6-pad block per scanline chunk
    val cdv = Seq(4 | 8, 8, 8, 10)
    val vals = Seq[Long](5, 4, 3, 2, 1, 0, 7, 6, 200, 100)
    def enc(): Array[Byte] = {
      val w = new SzBitW
      w.put(7, 3); vals.take(8).foreach(v => w.put(v, 8))
      w.put(7, 3); (vals.drop(8) ++ Seq.fill(6)(100L)).foreach(v => w.put(v, 8))
      w.bytes
    }
    val bytes = filteredFileDt(fixedDt(1, signed = false, 8, 0), 1,
      Seq((4, cdv)), enc(), enc(), chunkElems = 10)
    assert(Hdf5Classic.parse(bytes).read("v").toSeq ==
      (vals ++ vals).map(_.toDouble))
  }

  test("SZIP round-trip property: seeded random scanlines, NN and EC, mixed options (r16)") {
    val rnd = new scala.util.Random(43)
    for (trial <- 1 to 10) {
      val nn = rnd.nextBoolean()
      val j = Seq(4, 8, 16)(rnd.nextInt(3))
      val nblocks = 1 + rnd.nextInt(3)
      val ppl = j * nblocks - (if (rnd.nextBoolean()) rnd.nextInt(j - 1) else 0)
      val c = ppl * (1 + rnd.nextInt(2))
      val vals = IndexedSeq.fill(2 * c)(rnd.nextInt(256).toLong)
      def encChunk(chunk: Seq[Long]): Array[Byte] = {
        val w = new SzBitW
        chunk.grouped(ppl).foreach { line =>
          val blocks = (line.length + j - 1) / j
          val padded = (line ++ Seq.fill(blocks * j - line.length)(line.last))
            .toIndexedSeq
          // mv(0) of an NN scanline is the raw reference; the rest are
          // mapped residuals against the previous ORIGINAL value
          // (reconstruction equals original, so the chain matches)
          val mv = padded.zipWithIndex.map { case (x, i) =>
            if (!nn) x
            else if (i == 0) x
            else szMap(padded(i - 1), x, 255)
          }
          (0 until blocks).foreach { bi =>
            val ref = nn && bi == 0
            val blk = mv.slice(bi * j, bi * j + j)
            if (rnd.nextBoolean()) { // uncompressed (ref raw in place)
              w.put(7, 3); blk.foreach(v => w.put(v, 8))
            } else { // split k
              val k = rnd.nextInt(6)
              w.put(k + 1L, 3)
              if (ref) w.put(blk.head, 8)
              val rest = if (ref) blk.tail else blk
              rest.foreach(m => w.fs(m >>> k))
              if (k > 0) rest.foreach(m => w.put(m & ((1L << k) - 1), k))
            }
          }
        }
        w.bytes
      }
      val opts = (if (nn) 32 else 4) | 8
      val bytes = filteredFileDt(fixedDt(1, signed = false, 8, 0), 1,
        Seq((4, Seq(opts, 8, j, ppl))),
        encChunk(vals.take(c)), encChunk(vals.drop(c)), chunkElems = c)
      assert(Hdf5Classic.parse(bytes).read("v").toSeq == vals.map(_.toDouble),
        s"trial=$trial nn=$nn j=$j ppl=$ppl c=$c")
    }
  }

  test("hyperslab readSlab prunes non-intersecting chunks (r13)") {
    val h5 = Hdf5Classic.parse(chunkedFile(filterId = None))
    // 3×3 in 2×2 chunks at (0,0),(0,2),(2,0),(2,2); values 1..9
    // corner slab [0,2)×[0,2) intersects ONLY chunk (0,0)
    val (corner, t1, n1) = h5.readSlabCounted("v", Seq(0L, 0L), Seq(2L, 2L))
    assert(corner.toSeq == Seq(1.0, 2.0, 4.0, 5.0))
    assert(t1 == 1 && n1 == 4, s"corner slab must defilter 1 of 4 chunks, got $t1/$n1")
    // center slab [1,3)×[1,3) intersects all four
    val (center, t4, _) = h5.readSlabCounted("v", Seq(1L, 1L), Seq(2L, 2L))
    assert(center.toSeq == Seq(5.0, 6.0, 8.0, 9.0))
    assert(t4 == 4)
    // exhaustive law: EVERY rectangle equals the full read's slice
    val full = h5.read("v")
    for {
      r0 <- 0 to 2; c0 <- 0 to 2
      nr <- 0 to (3 - r0); nc <- 0 to (3 - c0)
    } {
      val slab = h5.readSlab("v", Seq(r0.toLong, c0.toLong),
        Seq(nr.toLong, nc.toLong))
      val expect = for (r <- r0 until r0 + nr; c <- c0 until c0 + nc)
        yield full(r * 3 + c)
      assert(slab.toSeq == expect,
        s"slab ($r0,$c0)+($nr,$nc) diverged from read-then-slice")
    }
    // out-of-bounds slabs reject by name
    val e = intercept[IllegalArgumentException](
      h5.readSlab("v", Seq(2L, 0L), Seq(2L, 1L)))
    assert(e.getMessage.contains("out of bounds"))
  }

  test("pruned chunks are never defiltered: corrupt deflate outside the slab is invisible") {
    // chunk 0 stores GARBAGE that fails to inflate; chunk 1 is valid.
    // The full read must throw — and a slab covering only chunk 1 must
    // succeed, proving the filter pipeline genuinely never ran on the
    // pruned chunk (the 100-TB win is skipping that inflate).
    val bytes = filteredFile(Seq((1, Seq(6))),
      chunk0 = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8),
      chunk1 = deflate(le64(3.0, 4.0)), mask1 = 0)
    val h5 = Hdf5Classic.parse(bytes)
    intercept[Exception](h5.read("v"))
    val (slab, touched, total) = h5.readSlabCounted("v", Seq(2L), Seq(2L))
    assert(slab.toSeq == Seq(3.0, 4.0))
    assert(touched == 1 && total == 2)
  }

  test("readSlab on contiguous layout gathers the exact sub-grid (no chunks to count)") {
    val bytes = Hdf5Classic.write(
      dims = Seq(NetcdfClassic.NcDim("lat", 2), NetcdfClassic.NcDim("lon", 3)),
      vars = Seq(
        ("lat", Seq(0), Nil, Array(0.0, 10.0)),
        ("lon", Seq(1), Nil, Array(100.0, 110.0, 120.0)),
        ("v", Seq(0, 1), Nil, Array(1.0, 2, 3, 4, 5, 6))))
    val h5 = Hdf5Classic.parse(bytes)
    val (slab, touched, total) = h5.readSlabCounted("v", Seq(0L, 1L), Seq(2L, 2L))
    assert(slab.toSeq == Seq(2.0, 3.0, 5.0, 6.0))
    assert(touched == 0 && total == 0)
  }

  test("libver=latest: superblock v3, OHDR headers, compact link group") {
    // the 'latest' on-disk form by hand: 48-byte v3 superblock → root
    // OHDR whose single hard-link MESSAGE names dataset "v" → dataset
    // OHDR with dataspace v2 / f64 / contiguous layout. Checksums are
    // zeroed (the parser skips, never verifies).
    val out = ByteBuffer.allocate(172).order(ByteOrder.LITTLE_ENDIAN)
    out.put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    out.put(3.toByte); out.put(8.toByte); out.put(8.toByte); out.put(0.toByte)
    out.putLong(0L); out.putLong(-1L)   // base, extension
    out.putLong(172L); out.putLong(48L) // eof, root OHDR
    out.putInt(0)                       // superblock checksum (unverified)
    assert(out.position() == 48)
    // root OHDR: flags 0 → 1-byte chunk-0 size; one link message
    out.put("OHDR".getBytes(StandardCharsets.US_ASCII))
    out.put(2.toByte); out.put(0.toByte); out.put(16.toByte)
    out.put(0x06.toByte); out.putShort(12); out.put(0.toByte) // link msg hdr
    out.put(1.toByte); out.put(0.toByte)  // link ver, flags (1-byte name len)
    out.put(1.toByte); out.put('v'.toByte)
    out.putLong(75L)                      // hard link → dataset OHDR
    out.putInt(0)                         // chunk-0 checksum
    assert(out.position() == 75)
    // dataset OHDR: dataspace v2 (16) + datatype (24) + layout (22)
    out.put("OHDR".getBytes(StandardCharsets.US_ASCII))
    out.put(2.toByte); out.put(0.toByte); out.put(62.toByte)
    out.put(0x01.toByte); out.putShort(12); out.put(0.toByte)
    out.put(2.toByte); out.put(1.toByte); out.put(0.toByte) // dataspace v2
    out.put(1.toByte)                                       // type: simple
    out.putLong(3L)
    out.put(0x03.toByte); out.putShort(20); out.put(0.toByte)
    out.put(f64Dt)
    out.put(0x08.toByte); out.putShort(18); out.put(0.toByte)
    out.put(contiguousLayout(148L, 24L))
    out.putInt(0) // chunk-0 checksum
    assert(out.position() == 148)
    out.putDouble(10.5); out.putDouble(20.5); out.putDouble(30.5)
    val h5 = Hdf5Classic.parse(out.array())
    assert(h5.vars.map(_.name) == Seq("v"))
    assert(h5.variable("v").shape == Seq(3L))
    assert(h5.read("v").toSeq == Seq(10.5, 20.5, 30.5))
  }

  test("multi-SNOD B-tree: two leaf children, both symbol nodes walked") {
    // root btree (entries used = 2) → SNOD("a") @256 and SNOD("z")
    // @304; two one-double datasets. A reader that only follows the
    // first child loses "z" silently — this pins the iteration.
    val out = ByteBuffer.allocate(576).order(ByteOrder.LITTLE_ENDIAN)
    out.put(superblock(eof = 576))
    // root OH @96
    out.put(1.toByte); out.put(0.toByte); out.putShort(1)
    out.putInt(1); out.putInt(24); out.putInt(0)
    out.putShort(0x0011); out.putShort(16); out.putInt(0)
    out.putLong(136L); out.putLong(200L)
    // btree @136: 24 hdr + key0 child0 key1 child1 key2 = 64 B
    out.put("TREE".getBytes); out.put(0.toByte); out.put(0.toByte); out.putShort(2)
    out.putLong(-1L); out.putLong(-1L)
    out.putLong(0L); out.putLong(256L)   // key0, SNOD(a)
    out.putLong(16L); out.putLong(304L)  // key1 ("z"), SNOD(z)
    out.putLong(16L)                     // keyN
    assert(out.position() == 200)
    // heap @200, data @232: "a"@8, "z"@16
    out.put("HEAP".getBytes); out.put(0.toByte); out.put(new Array[Byte](3))
    out.putLong(24L); out.putLong(-1L); out.putLong(232L)
    out.put(new Array[Byte](8))
    out.put('a'.toByte); out.put(new Array[Byte](7))
    out.put('z'.toByte); out.put(new Array[Byte](7))
    // SNODs @256 and @304
    out.put("SNOD".getBytes); out.put(1.toByte); out.put(0.toByte); out.putShort(1)
    out.putLong(8L); out.putLong(352L)
    out.putInt(0); out.putInt(0); out.put(new Array[Byte](16))
    out.put("SNOD".getBytes); out.put(1.toByte); out.put(0.toByte); out.putShort(1)
    out.putLong(16L); out.putLong(456L)
    out.putInt(0); out.putInt(0); out.put(new Array[Byte](16))
    assert(out.position() == 352)
    // two dataset OHs: rank-1 [1], f64, contiguous
    def dataset(ohAt: Int, dataAt: Long): Unit = {
      assert(out.position() == ohAt)
      out.put(1.toByte); out.put(0.toByte); out.putShort(3)
      out.putInt(1); out.putInt(88); out.putInt(0)
      def msg(typ: Int, body: Array[Byte]): Unit = {
        val pad = (body.length + 7) & ~7
        out.putShort(typ.toShort); out.putShort(pad.toShort); out.putInt(0)
        val at = out.position(); out.put(body); out.position(at + pad)
      }
      val dsBody = {
        val b = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
        b.put(1.toByte); b.put(1.toByte); b.put(0.toByte)
        b.put(new Array[Byte](5)); b.putLong(1L); b.array()
      }
      msg(0x0001, dsBody); msg(0x0003, f64Dt)
      msg(0x0008, contiguousLayout(dataAt, 8L))
    }
    dataset(352, 560L)
    dataset(456, 568L)
    assert(out.position() == 560)
    out.putDouble(111.0); out.putDouble(999.0)
    val h5 = Hdf5Classic.parse(out.array())
    assert(h5.vars.map(_.name).sorted == Seq("a", "z"))
    assert(h5.read("a").toSeq == Seq(111.0) && h5.read("z").toSeq == Seq(999.0))
  }

  test("unallocated chunks read as the dataset FILL value, not zero") {
    // r12 review find: a partially-written chunked variable has B-tree
    // entries only for written chunks; the missing cells must hold the
    // fill-value message's value (netCDF-4 default ≈9.97e36), never a
    // fabricated 0.0. 1-D [4] in chunks of 2; only chunk (0) allocated.
    val msgBytes = 24 + 32 + 24 + 32 // dataspace + datatype + fill + layout
    val btAt = 280 + 16 + msgBytes
    val chunkAt = btAt + 24 + 2 * 24 + 8 // hdr + 2 keys + 1 child
    val eof = chunkAt + 16
    val out = ByteBuffer.allocate(eof).order(ByteOrder.LITTLE_ENDIAN)
    out.put(commonPrefix(eof))
    out.put(1.toByte); out.put(0.toByte); out.putShort(4)
    out.putInt(1); out.putInt(msgBytes); out.putInt(0)
    def msg(typ: Int, body: Array[Byte]): Unit = {
      val pad = (body.length + 7) & ~7
      out.putShort(typ.toShort); out.putShort(pad.toShort); out.putInt(0)
      val at = out.position(); out.put(body); out.position(at + pad)
    }
    msg(0x0001, {
      val b = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte); b.put(1.toByte); b.put(0.toByte)
      b.put(new Array[Byte](5)); b.putLong(4L); b.array()
    })
    msg(0x0003, f64Dt)
    msg(0x0005, { // fill value v2, defined, f64 -7.5
      val b = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      b.put(2.toByte); b.put(2.toByte); b.put(0.toByte); b.put(1.toByte)
      b.putInt(8); b.putDouble(-7.5); b.array()
    })
    msg(0x0008, { // layout v3 chunked: rank+1 = 2, chunk [2]
      val b = ByteBuffer.allocate(19).order(ByteOrder.LITTLE_ENDIAN)
      b.put(3.toByte); b.put(2.toByte); b.put(2.toByte)
      b.putLong(btAt.toLong)
      b.putInt(2); b.putInt(8)
      b.array()
    })
    assert(out.position() == btAt)
    out.put("TREE".getBytes(StandardCharsets.US_ASCII))
    out.put(1.toByte); out.put(0.toByte); out.putShort(1)
    out.putLong(-1L); out.putLong(-1L)
    out.putInt(16); out.putInt(0); out.putLong(0L); out.putLong(0L) // key0: chunk (0)
    out.putLong(chunkAt.toLong)
    out.putInt(16); out.putInt(0); out.putLong(4L); out.putLong(0L) // keyN
    assert(out.position() == chunkAt)
    out.putDouble(1.0); out.putDouble(2.0)
    val h5 = Hdf5Classic.parse(out.array())
    assert(h5.read("v").toSeq == Seq(1.0, 2.0, -7.5, -7.5))
  }

  test("SHARED messages (committed datatype / SOHM) are rejected by name") {
    // flag bit 1 on a datatype message means its body is a shared
    // RECORD, not an inline datatype — parsing it inline would
    // garbage-decode (r12 review find)
    val data = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
    (1 to 3).foreach(i => data.putDouble(i))
    val b = handFile(f64Dt, contiguousLayout(432L, 24L), data.array(), 3L).clone()
    b(280 + 16 + 24 + 4) = 2 // datatype message header's flags byte
    val ex = intercept[IllegalArgumentException](Hdf5Classic.parse(b))
    assert(ex.getMessage.contains("SHARED"))
  }

  test("internal (level-1) group B-tree nodes recurse to their leaves") {
    // the level>0 walk had no fixture: root btree is an INTERNAL node
    // whose child is a LEAF node whose child is the SNOD
    val out = ByteBuffer.allocate(504).order(ByteOrder.LITTLE_ENDIAN)
    out.put(superblock(eof = 504))
    out.put(1.toByte); out.put(0.toByte); out.putShort(1) // root OH @96
    out.putInt(1); out.putInt(24); out.putInt(0)
    out.putShort(0x0011); out.putShort(16); out.putInt(0)
    out.putLong(136L); out.putLong(232L) // btree, heap
    // internal TREE @136 (level 1) → leaf TREE @184
    out.put("TREE".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.put(1.toByte); out.putShort(1)
    out.putLong(-1L); out.putLong(-1L)
    out.putLong(0L); out.putLong(184L); out.putLong(8L)
    // leaf TREE @184 (level 0) → SNOD @280
    out.put("TREE".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.put(0.toByte); out.putShort(1)
    out.putLong(-1L); out.putLong(-1L)
    out.putLong(0L); out.putLong(280L); out.putLong(8L)
    // heap @232, data @264: "v"
    out.put("HEAP".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.put(new Array[Byte](3))
    out.putLong(16L); out.putLong(-1L); out.putLong(264L)
    out.put(new Array[Byte](8)); out.put('v'.toByte); out.put(new Array[Byte](7))
    // SNOD @280 → dataset OH @328
    out.put("SNOD".getBytes(StandardCharsets.US_ASCII))
    out.put(1.toByte); out.put(0.toByte); out.putShort(1)
    out.putLong(8L); out.putLong(328L)
    out.putInt(0); out.putInt(0); out.put(new Array[Byte](16))
    assert(out.position() == 328)
    // dataset OH: ds(24) + dt(32) + layout(32) + units attr(48) → data @480
    out.put(1.toByte); out.put(0.toByte); out.putShort(4)
    out.putInt(1); out.putInt(136); out.putInt(0)
    def msg(typ: Int, body: Array[Byte]): Unit = {
      val pad = (body.length + 7) & ~7
      out.putShort(typ.toShort); out.putShort(pad.toShort); out.putInt(0)
      val at = out.position(); out.put(body); out.position(at + pad)
    }
    msg(0x0001, {
      val b = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte); b.put(1.toByte); b.put(0.toByte)
      b.put(new Array[Byte](5)); b.putLong(3L); b.array()
    })
    msg(0x0003, f64Dt)
    msg(0x0008, contiguousLayout(480L, 24L))
    msg(0x000C, unitsAttrBody)
    assert(out.position() == 480)
    out.putDouble(42.0); out.putDouble(43.0); out.putDouble(44.0)
    val h5 = Hdf5Classic.parse(out.array())
    assert(h5.vars.map(_.name) == Seq("v"))
    assert(h5.read("v").toSeq == Seq(42.0, 43.0, 44.0))
  }

  test("internal (level-1) chunk B-tree nodes recurse to their leaves") {
    // 1-D [4] in chunks of 2; the chunk tree has an INTERNAL node over
    // one LEAF carrying both chunks
    val msgBytes = 24 + 32 + 32 // dataspace + datatype + layout
    val internalAt = 280 + 16 + msgBytes
    val keySize = 8 + 8 * 2 // rank+1 = 2
    val internalSize = 24 + 2 * keySize + 8
    val leafAt = internalAt + internalSize
    val leafSize = 24 + 3 * keySize + 2 * 8
    val chunksAt = leafAt + leafSize
    val eof = chunksAt + 4 * 8
    val out = ByteBuffer.allocate(eof).order(ByteOrder.LITTLE_ENDIAN)
    out.put(commonPrefix(eof))
    out.put(1.toByte); out.put(0.toByte); out.putShort(3)
    out.putInt(1); out.putInt(msgBytes); out.putInt(0)
    def msg(typ: Int, body: Array[Byte]): Unit = {
      val pad = (body.length + 7) & ~7
      out.putShort(typ.toShort); out.putShort(pad.toShort); out.putInt(0)
      val at = out.position(); out.put(body); out.position(at + pad)
    }
    msg(0x0001, {
      val b = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      b.put(1.toByte); b.put(1.toByte); b.put(0.toByte)
      b.put(new Array[Byte](5)); b.putLong(4L); b.array()
    })
    msg(0x0003, f64Dt)
    msg(0x0008, {
      val b = ByteBuffer.allocate(19).order(ByteOrder.LITTLE_ENDIAN)
      b.put(3.toByte); b.put(2.toByte); b.put(2.toByte)
      b.putLong(internalAt.toLong)
      b.putInt(2); b.putInt(8)
      b.array()
    })
    assert(out.position() == internalAt)
    // internal node (level 1): one child = the leaf
    out.put("TREE".getBytes(StandardCharsets.US_ASCII))
    out.put(1.toByte); out.put(1.toByte); out.putShort(1)
    out.putLong(-1L); out.putLong(-1L)
    out.putInt(16); out.putInt(0); out.putLong(0L); out.putLong(0L)
    out.putLong(leafAt.toLong)
    out.putInt(16); out.putInt(0); out.putLong(4L); out.putLong(0L)
    assert(out.position() == leafAt)
    // leaf node (level 0): chunks (0) and (2)
    out.put("TREE".getBytes(StandardCharsets.US_ASCII))
    out.put(1.toByte); out.put(0.toByte); out.putShort(2)
    out.putLong(-1L); out.putLong(-1L)
    out.putInt(16); out.putInt(0); out.putLong(0L); out.putLong(0L)
    out.putLong(chunksAt.toLong)
    out.putInt(16); out.putInt(0); out.putLong(2L); out.putLong(0L)
    out.putLong(chunksAt + 16L)
    out.putInt(16); out.putInt(0); out.putLong(4L); out.putLong(0L)
    assert(out.position() == chunksAt)
    Seq(1.0, 2.0, 3.0, 4.0).foreach(out.putDouble)
    val h5 = Hdf5Classic.parse(out.array())
    assert(h5.read("v").toSeq == Seq(1.0, 2.0, 3.0, 4.0))
  }

  test("cyclic B-tree pointers throw the depth guard, never hang") {
    // one corrupt file at 100 TB ingest must throw, not spin or
    // stack-overflow an executor: point the root group B-tree's child
    // back at the B-tree itself and mark it an internal node
    val data = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
    (1 to 3).foreach(i => data.putDouble(i))
    val b = handFile(f64Dt, contiguousLayout(432L, 24L), data.array(), 3L).clone()
    b(136 + 5) = 1 // B-tree @136: level byte → internal
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    bb.putLong(136 + 24 + 8, 136L) // child0 → the node itself
    val ex = intercept[IllegalArgumentException](Hdf5Classic.parse(b))
    assert(ex.getMessage.contains("cyclic"))
  }

  // ---- dense (fractal-heap) link/attribute storage (r13) -------------

  /** 146-byte fractal heap header at the buffer's current position:
    * width 4, starting block 512, max direct 64 KiB, 32-bit heap
    * space (offBytes=4), unfiltered, no huge/tiny objects. */
  private def putFrhp(out: ByteBuffer, idLen: Int, rootAddr: Long,
                      curRows: Int, nHuge: Long = 0L,
                      nManaged: Long = 2L, nTiny: Long = 0L,
                      hugeBt: Long = -1L): Unit = {
    out.put("FRHP".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte)                       // version
    out.putShort(idLen.toShort); out.putShort(0)  // id len, filter len
    out.put(0.toByte)                       // flags: no block checksums
    out.putInt(4096)                        // max managed object size
    out.putLong(nHuge); out.putLong(hugeBt) // next huge id, huge btree
    out.putLong(0L); out.putLong(-1L)       // free space, fs manager
    out.putLong(0L); out.putLong(0L); out.putLong(0L) // managed/alloc/iter
    out.putLong(nManaged)                   // number of managed objects
    out.putLong(0L); out.putLong(nHuge)     // huge size / count
    out.putLong(if (nTiny > 0) 12L else 0L); out.putLong(nTiny) // tiny size / count
    out.putShort(4); out.putLong(512L); out.putLong(65536L)
    out.putShort(32)                        // max heap size (bits)
    out.putShort(1)                         // starting rows
    out.putLong(rootAddr); out.putShort(curRows.toShort)
    out.putInt(0)                           // checksum (unverified)
  }

  /** 17-byte unfiltered direct-block header (flags=0: no checksum). */
  private def putFhdb(out: ByteBuffer, heapHdrAddr: Long, blockOff: Int): Unit = {
    out.put("FHDB".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.putLong(heapHdrAddr)
    out.putInt(blockOff)                    // block offset (offBytes=4)
  }

  /** Managed heap ID for the 32-bit-offset heaps above: flag byte +
    * 4-byte offset + 2-byte length (idLen 7). */
  private def heapId7(off: Int, len: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(7).order(ByteOrder.LITTLE_ENDIAN)
    b.put(0.toByte); b.putInt(off); b.putShort(len.toShort); b.array()
  }

  /** Hard-link message body (version 1, 1-byte name length). */
  private def linkMsg(name: String, ohAddr: Long): Array[Byte] = {
    val nm = name.getBytes(StandardCharsets.UTF_8)
    val b = ByteBuffer.allocate(3 + nm.length + 8).order(ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte); b.put(0.toByte); b.put(nm.length.toByte)
    b.put(nm); b.putLong(ohAddr); b.array()
  }

  /** 73-byte dataset OHDR (v2): dataspace v2 rank-1 + f64 + contiguous. */
  private def putDatasetOhdr(out: ByteBuffer, n: Long, dataAt: Long): Unit = {
    out.put("OHDR".getBytes(StandardCharsets.US_ASCII))
    out.put(2.toByte); out.put(0.toByte); out.put(62.toByte)
    out.put(0x01.toByte); out.putShort(12); out.put(0.toByte)
    out.put(2.toByte); out.put(1.toByte); out.put(0.toByte); out.put(1.toByte)
    out.putLong(n)
    out.put(0x03.toByte); out.putShort(20); out.put(0.toByte)
    out.put(f64Dt)
    out.put(0x08.toByte); out.putShort(18); out.put(0.toByte)
    out.put(contiguousLayout(dataAt, n * 8))
    out.putInt(0)
  }

  /** Dense-LINK group file: root OHDR carries ONLY a Link Info message
    * (no link messages) whose fractal heap holds two hard-link
    * messages, enumerated via a depth-0 type-5 name-index v2 B-tree —
    * the shape h5py/libver=latest produces past the compact limit.
    * Datasets "a" (3 doubles) and "b" (2 doubles) hang off the links.
    * Returns the file bytes; `hugeCount`/`idType` poison the heap for
    * the named-rejection tests. */
  private def denseLinkFile(hugeCount: Long = 0L, idType: Int = 0): Array[Byte] = {
    val out = ByteBuffer.allocate(560).order(ByteOrder.LITTLE_ENDIAN)
    out.put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    out.put(3.toByte); out.put(8.toByte); out.put(8.toByte); out.put(0.toByte)
    out.putLong(0L); out.putLong(-1L)
    out.putLong(560L); out.putLong(48L); out.putInt(0)
    assert(out.position() == 48)
    // root OHDR: one Link Info message (ver 0, flags 0, fheap, name bt)
    out.put("OHDR".getBytes(StandardCharsets.US_ASCII))
    out.put(2.toByte); out.put(0.toByte); out.put(22.toByte)
    out.put(0x02.toByte); out.putShort(18); out.put(0.toByte)
    out.put(0.toByte); out.put(0.toByte)
    out.putLong(81L)                        // fractal heap header
    out.putLong(268L)                       // type-5 name-index B-tree
    out.putInt(0)
    assert(out.position() == 81)
    putFrhp(out, idLen = 7, rootAddr = 227L, curRows = 0, nHuge = hugeCount)
    assert(out.position() == 227)
    putFhdb(out, 81L, 0)                    // root IS the direct block
    assert(out.position() == 244)           // heap offset 17
    out.put(linkMsg("a", 338L))             // 12 bytes → offset 17
    out.put(linkMsg("b", 435L))             // 12 bytes → offset 29
    assert(out.position() == 268)
    out.put("BTHD".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.put(5.toByte)    // version, type 5 (link name)
    out.putInt(512); out.putShort(11)       // node size, record size 4+7
    out.putShort(0)                         // depth 0: root is a leaf
    out.put(100.toByte); out.put(40.toByte) // split/merge percent
    out.putLong(306L); out.putShort(2)      // root leaf, 2 records
    out.putLong(2L); out.putInt(0)
    assert(out.position() == 306)
    out.put("BTLF".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.put(5.toByte)
    out.putInt(0)                           // hash of "a" (unverified)
    val id1 = heapId7(17, 12); id1(0) = (idType << 4).toByte; out.put(id1)
    out.putInt(0)                           // hash of "b"
    out.put(heapId7(29, 12))
    out.putInt(0)                           // leaf checksum
    assert(out.position() == 338)
    putDatasetOhdr(out, 3L, 411L)
    assert(out.position() == 411)
    out.putDouble(1.5); out.putDouble(2.5); out.putDouble(3.5)
    assert(out.position() == 435)
    putDatasetOhdr(out, 2L, 508L)
    assert(out.position() == 508)
    out.putDouble(9.0); out.putDouble(8.0)
    assert(out.position() == 524)
    out.array()
  }

  /** Dense-link group where link "a" is a MANAGED heap object and link
    * "b" is a TINY heap ID (the 12-byte link message packed into the
    * 13-byte ID itself, normal sub-variant: type 2, length-1 in the
    * flag byte's low nibble). The managed ID is zero-padded to the
    * 13-byte slot like libhdf5 pads type-8 attribute IDs. */
  private def denseTinyLinkFile(): Array[Byte] = {
    val out = ByteBuffer.allocate(524).order(ByteOrder.LITTLE_ENDIAN)
    out.put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    out.put(3.toByte); out.put(8.toByte); out.put(8.toByte); out.put(0.toByte)
    out.putLong(0L); out.putLong(-1L)
    out.putLong(524L); out.putLong(48L); out.putInt(0)
    assert(out.position() == 48)
    out.put("OHDR".getBytes(StandardCharsets.US_ASCII))
    out.put(2.toByte); out.put(0.toByte); out.put(22.toByte)
    out.put(0x02.toByte); out.putShort(18); out.put(0.toByte)
    out.put(0.toByte); out.put(0.toByte)
    out.putLong(81L)                        // fractal heap header
    out.putLong(256L)                       // type-5 name-index B-tree
    out.putInt(0)
    assert(out.position() == 81)
    putFrhp(out, idLen = 13, rootAddr = 227L, curRows = 0,
      nManaged = 1L, nTiny = 1L)
    assert(out.position() == 227)
    putFhdb(out, 81L, 0)                    // root IS the direct block
    assert(out.position() == 244)           // heap offset 17
    out.put(linkMsg("a", 338L))             // managed object at offset 17
    assert(out.position() == 256)
    out.put("BTHD".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.put(5.toByte)    // version, type 5 (link name)
    out.putInt(512); out.putShort(17)       // node size, record 4+13
    out.putShort(0)                         // depth 0: root is a leaf
    out.put(100.toByte); out.put(40.toByte)
    out.putLong(294L); out.putShort(2)      // root leaf, 2 records
    out.putLong(2L); out.putInt(0)
    assert(out.position() == 294)
    out.put("BTLF".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.put(5.toByte)
    out.putInt(0)                           // hash of "a" (unverified)
    out.put(0.toByte); out.putInt(17); out.putShort(12)  // managed id
    out.put(new Array[Byte](6))             // zero pad to the 13-byte slot
    out.putInt(0)                           // hash of "b"
    out.put(((2 << 4) | 11).toByte)         // TINY, length-1 = 11
    out.put(linkMsg("b", 435L))             // the 12 message bytes ARE the ID
    out.putInt(0)                           // leaf checksum
    assert(out.position() == 338)
    putDatasetOhdr(out, 3L, 411L)
    assert(out.position() == 411)
    out.putDouble(1.5); out.putDouble(2.5); out.putDouble(3.5)
    assert(out.position() == 435)
    putDatasetOhdr(out, 2L, 508L)
    assert(out.position() == 508)
    out.putDouble(9.0); out.putDouble(8.0)
    assert(out.position() == 524)
    out.array()
  }

  test("TINY fractal-heap IDs read: the link message lives in the ID itself (r13)") {
    val h5 = Hdf5Classic.parse(denseTinyLinkFile())
    assert(h5.vars.map(_.name).sorted == Seq("a", "b"))
    assert(h5.read("a").toSeq == Seq(1.5, 2.5, 3.5))
    assert(h5.read("b").toSeq == Seq(9.0, 8.0),
      "the tiny-ID link must resolve to dataset b")
  }

  /** EXTENDED tiny heap IDs (r17): a dense group with WIDENED 20-byte
    * heap ID slots (idLen > 18 switches tiny objects to the extended
    * sub-variant — low nibble of the flag byte = bits 8-11 of a
    * 12-bit length-1, the next byte = bits 0-7). Link "a" stays a
    * managed object in the wide slot (15-byte length field); "b" is
    * the extended tiny ID. The LAST named rejection in heap-ID
    * dispatch, now read. */
  private def denseExtendedTinyLinkFile(): Array[Byte] = {
    val out = ByteBuffer.allocate(538).order(ByteOrder.LITTLE_ENDIAN)
    out.put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    out.put(3.toByte); out.put(8.toByte); out.put(8.toByte); out.put(0.toByte)
    out.putLong(0L); out.putLong(-1L)
    out.putLong(538L); out.putLong(48L); out.putInt(0)
    assert(out.position() == 48)
    out.put("OHDR".getBytes(StandardCharsets.US_ASCII))
    out.put(2.toByte); out.put(0.toByte); out.put(22.toByte)
    out.put(0x02.toByte); out.putShort(18); out.put(0.toByte)
    out.put(0.toByte); out.put(0.toByte)
    out.putLong(81L)                        // fractal heap header
    out.putLong(256L)                       // type-5 name-index B-tree
    out.putInt(0)
    assert(out.position() == 81)
    putFrhp(out, idLen = 20, rootAddr = 227L, curRows = 0,
      nManaged = 1L, nTiny = 1L)
    assert(out.position() == 227)
    putFhdb(out, 81L, 0)                    // root IS the direct block
    assert(out.position() == 244)           // heap offset 17
    out.put(linkMsg("a", 352L))             // managed object at offset 17
    assert(out.position() == 256)
    out.put("BTHD".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.put(5.toByte)    // version, type 5 (link name)
    out.putInt(512); out.putShort(24)       // node size, record 4+20
    out.putShort(0)                         // depth 0: root is a leaf
    out.put(100.toByte); out.put(40.toByte)
    out.putLong(294L); out.putShort(2)      // root leaf, 2 records
    out.putLong(2L); out.putInt(0)
    assert(out.position() == 294)
    out.put("BTLF".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.put(5.toByte)
    out.putInt(0)                           // hash of "a" (unverified)
    // managed id in the WIDE slot: flag, 4-byte offset, 15-byte length
    out.put(0.toByte); out.putInt(17); out.put(12.toByte)
    out.put(new Array[Byte](14))
    out.putInt(0)                           // hash of "b"
    // EXTENDED tiny: len-1 = 11 → flag nibble 0 (bits 8-11), byte 11
    out.put((2 << 4).toByte)
    out.put(11.toByte)
    out.put(linkMsg("b", 449L))             // the 12 message bytes
    out.put(new Array[Byte](6))             // zero pad to the 20-byte slot
    out.putInt(0)                           // leaf checksum
    assert(out.position() == 352)
    putDatasetOhdr(out, 3L, 425L)
    assert(out.position() == 425)
    out.putDouble(1.5); out.putDouble(2.5); out.putDouble(3.5)
    assert(out.position() == 449)
    putDatasetOhdr(out, 2L, 522L)
    assert(out.position() == 522)
    out.putDouble(9.0); out.putDouble(8.0)
    assert(out.position() == 538)
    out.array()
  }

  test("EXTENDED tiny heap IDs read: the 12-bit two-byte length form in " +
    "widened ID slots (r17 — zero named rejections left in heap-ID dispatch)") {
    val h5 = Hdf5Classic.parse(denseExtendedTinyLinkFile())
    assert(h5.vars.map(_.name).sorted == Seq("a", "b"))
    assert(h5.read("a").toSeq == Seq(1.5, 2.5, 3.5))
    assert(h5.read("b").toSeq == Seq(9.0, 8.0),
      "the extended-tiny-ID link must resolve to dataset b")
  }

  test("dense link storage: fractal heap + type-5 v2 B-tree enumerate") {
    val h5 = Hdf5Classic.parse(denseLinkFile())
    assert(h5.vars.map(_.name).sorted == Seq("a", "b"))
    assert(h5.read("a").toSeq == Seq(1.5, 2.5, 3.5))
    assert(h5.read("b").toSeq == Seq(9.0, 8.0))
  }

  test("fractal-heap poisons reject by name: huge ID sans B-tree") {
    // a HUGE heap ID in a heap whose header has no huge-object B-tree
    // (address undefined) is corrupt — named error, never a wrong read
    val exT = intercept[IllegalArgumentException](
      Hdf5Classic.parse(denseLinkFile(idType = 1)))
    assert(exT.getMessage.contains("huge"))
    // a header that merely COUNTS huge objects parses fine when every
    // referenced ID is managed/tiny (the count is bookkeeping; reads
    // only fail on an actual unresolvable huge ID)
    assert(Hdf5Classic.parse(denseLinkFile(hugeCount = 1L))
      .vars.map(_.name).sorted == Seq("a", "b"))
  }

  /** zlib-deflate helper shared with the filtered-chunk tests. */
  private def deflateBytes(in: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(in); d.finish()
    val buf = new Array[Byte](in.length + 64)
    val n = d.deflate(buf); d.end()
    java.util.Arrays.copyOf(buf, n)
  }

  /** Dense-link group over a FILTERED fractal heap (r16): the root
    * direct block — FHDB header + both link messages, zero-padded to
    * the 512-byte managed space — is stored DEFLATED; the heap header
    * carries the stored size, filter mask, and a version-2 filter
    * pipeline body. `hugeB`: link "b" moves out of the block into a
    * filtered HUGE object resolved through a type-2 (filtered
    * indirect) huge-object v2 B-tree. */
  private def denseLinkFileFiltered(hugeB: Boolean): Array[Byte] = {
    val heapAddr = 81L
    // logical root direct block: 17-byte FHDB header + link messages
    val logical = java.nio.ByteBuffer.allocate(512)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // dataset addresses depend on downstream sizes — computed below,
    // so build the block LAST; first lay out sizes symbolically
    val pipeBody = {
      val b = java.nio.ByteBuffer.allocate(12)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(2.toByte); b.put(1.toByte)        // pipeline v2, 1 filter
      b.putShort(1); b.putShort(0); b.putShort(1) // deflate, flags, ncdv
      b.putInt(6)                             // level
      b.array()
    }
    val frhpLen = 146 + 8 + 4 + pipeBody.length // filtered-root extras
    val blockAt = 81 + frhpLen
    // sizes of the trailing fixed parts
    val bthd5Len = 38
    val btlf5Len = 6 + 2 * (4 + 7) + 4
    val dsLen = 73
    // the deflated sizes depend on the link-target addresses, which
    // depend on the deflated sizes — iterate the fixed point (the
    // layout is varint-free, so it converges in one or two passes)
    var dz = 64 // root-block stored-size guess
    var hz = 20 // huge-object stored-size guess
    var bytesOut: Array[Byte] = null
    var iter = 0
    while (iter < 16 && bytesOut == null) {
      val bt5At = blockAt + dz
      val leaf5At = bt5At + bthd5Len
      val afterLeaf = leaf5At + btlf5Len
      // huge variant appends: deflated link-b object + BTHD2 + BTLF2
      val (hugeAt, bt2At, leaf2At, dsAAt) =
        if (hugeB)
          (afterLeaf, afterLeaf + hz, afterLeaf + hz + bthd5Len,
            afterLeaf + hz + bthd5Len + (6 + 36 + 4))
        else (0, 0, 0, afterLeaf)
      val dataAAt = dsAAt + dsLen
      val dsBAt = dataAAt + 24
      val dataBAt = dsBAt + dsLen
      val eof = dataBAt + 16
      // now build the REAL logical block with final addresses
      val lb = java.nio.ByteBuffer.allocate(512)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      lb.put("FHDB".getBytes(StandardCharsets.US_ASCII))
      lb.put(0.toByte); lb.putLong(heapAddr); lb.putInt(0)
      lb.put(linkMsg("a", dsAAt))             // heap offset 17
      if (!hugeB) lb.put(linkMsg("b", dsBAt)) // heap offset 29
      val stored = deflateBytes(lb.array())
      val hugeStoredBytes =
        if (hugeB) deflateBytes(linkMsg("b", dsBAt)) else Array.empty[Byte]
      if (stored.length != dz || (hugeB && hugeStoredBytes.length != hz)) {
        dz = stored.length
        if (hugeB) hz = hugeStoredBytes.length
        iter += 1
      } else {
        val out = java.nio.ByteBuffer.allocate(eof)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        out.put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
        out.put(3.toByte); out.put(8.toByte); out.put(8.toByte); out.put(0.toByte)
        out.putLong(0L); out.putLong(-1L)
        out.putLong(eof.toLong); out.putLong(48L); out.putInt(0)
        assert(out.position() == 48)
        out.put("OHDR".getBytes(StandardCharsets.US_ASCII))
        out.put(2.toByte); out.put(0.toByte); out.put(22.toByte)
        out.put(0x02.toByte); out.putShort(18); out.put(0.toByte)
        out.put(0.toByte); out.put(0.toByte)
        out.putLong(heapAddr)
        out.putLong(bt5At.toLong)
        out.putInt(0)
        assert(out.position() == 81)
        // FRHP with filters
        out.put("FRHP".getBytes(StandardCharsets.US_ASCII))
        out.put(0.toByte)
        out.putShort(7); out.putShort(pipeBody.length.toShort)
        out.put(0.toByte)
        out.putInt(4096)
        out.putLong(if (hugeB) 2L else 0L)      // next huge id
        out.putLong(if (hugeB) bt2At.toLong else -1L)
        out.putLong(0L); out.putLong(-1L)       // free space, fs mgr
        out.putLong(512L); out.putLong(512L); out.putLong(41L) // managed/alloc/iter
        out.putLong(if (hugeB) 1L else 2L)      // managed objects
        out.putLong(if (hugeB) 12L else 0L); out.putLong(if (hugeB) 1L else 0L)
        out.putLong(0L); out.putLong(0L)        // tiny size / count
        out.putShort(4); out.putLong(512L); out.putLong(65536L)
        out.putShort(32); out.putShort(1)
        out.putLong(blockAt.toLong); out.putShort(0) // root direct, 0 rows
        out.putLong(stored.length.toLong)       // filtered root size
        out.putInt(0)                           // root filter mask
        out.put(pipeBody)
        out.putInt(0)                           // checksum (unverified)
        assert(out.position() == blockAt, s"${out.position()} != $blockAt")
        out.put(stored)
        assert(out.position() == bt5At)
        out.put("BTHD".getBytes(StandardCharsets.US_ASCII))
        out.put(0.toByte); out.put(5.toByte)
        out.putInt(512); out.putShort(11)
        out.putShort(0)
        out.put(100.toByte); out.put(40.toByte)
        out.putLong(leaf5At.toLong); out.putShort(2)
        out.putLong(2L); out.putInt(0)
        assert(out.position() == leaf5At)
        out.put("BTLF".getBytes(StandardCharsets.US_ASCII))
        out.put(0.toByte); out.put(5.toByte)
        out.putInt(0)
        out.put(heapId7(17, 12))                // link "a": managed
        out.putInt(0)
        if (hugeB) {
          out.put((1 << 4).toByte)              // HUGE id, number 1
          out.put(Array[Byte](1, 0, 0, 0, 0, 0))
        } else out.put(heapId7(29, 12))
        out.putInt(0)
        if (hugeB) {
          assert(out.position() == hugeAt, s"${out.position()} != $hugeAt")
          out.put(hugeStoredBytes)
          assert(out.position() == bt2At)
          out.put("BTHD".getBytes(StandardCharsets.US_ASCII))
          out.put(0.toByte); out.put(2.toByte)  // type 2: filtered huge
          out.putInt(512); out.putShort(36)
          out.putShort(0)
          out.put(100.toByte); out.put(40.toByte)
          out.putLong(leaf2At.toLong); out.putShort(1)
          out.putLong(1L); out.putInt(0)
          assert(out.position() == leaf2At)
          out.put("BTLF".getBytes(StandardCharsets.US_ASCII))
          out.put(0.toByte); out.put(2.toByte)
          out.putLong(hugeAt.toLong)            // address
          out.putLong(hugeStoredBytes.length.toLong) // stored length
          out.putInt(0)                         // filter mask
          out.putLong(12L)                      // memory (defiltered) size
          out.putLong(1L)                       // huge object id
          out.putInt(0)                         // checksum
        }
        assert(out.position() == dsAAt)
        putDatasetOhdr(out, 3L, dataAAt.toLong)
        assert(out.position() == dataAAt)
        out.putDouble(1.5); out.putDouble(2.5); out.putDouble(3.5)
        assert(out.position() == dsBAt)
        putDatasetOhdr(out, 2L, dataBAt.toLong)
        assert(out.position() == dataBAt)
        out.putDouble(9.0); out.putDouble(8.0)
        bytesOut = out.array()
      }
    }
    assert(bytesOut != null, "filtered-heap fixture did not converge")
    bytesOut
  }

  test("FILTERED fractal heap: deflated root direct block reads (r16)") {
    val h5 = Hdf5Classic.parse(denseLinkFileFiltered(hugeB = false))
    assert(h5.vars.map(_.name).sorted == Seq("a", "b"))
    assert(h5.read("a").toSeq == Seq(1.5, 2.5, 3.5))
    assert(h5.read("b").toSeq == Seq(9.0, 8.0))
  }

  test("FILTERED huge heap objects resolve through the type-2 B-tree (r16)") {
    val h5 = Hdf5Classic.parse(denseLinkFileFiltered(hugeB = true))
    assert(h5.vars.map(_.name).sorted == Seq("a", "b"))
    assert(h5.read("a").toSeq == Seq(1.5, 2.5, 3.5))
    assert(h5.read("b").toSeq == Seq(9.0, 8.0),
      "link b must arrive through the deflated huge object")
  }

  /** Dense-link group over a FILTERED fractal heap whose root is an
    * INDIRECT block (r17 advice): per the spec, the header's 12 bytes
    * of (Size of Filtered Root Direct Block, I/O Filter Mask) are
    * present — zeroed, not omitted — whenever the pipeline is
    * declared, and the indirect block's entries widen to
    * (address, stored size, filter mask) triples. Three links across
    * two deflated 512-byte direct blocks; "c" sits in the SECOND
    * block so its heap offset (529) exercises the per-entry stored
    * size + block-offset subtraction on the defiltered bytes. */
  private def denseLinkFileFilteredIndirect(): Array[Byte] = {
    val heapAddr = 81L
    val pipeBody = {
      val b = java.nio.ByteBuffer.allocate(12)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(2.toByte); b.put(1.toByte)        // pipeline v2, 1 filter
      b.putShort(1); b.putShort(0); b.putShort(1) // deflate, flags, ncdv
      b.putInt(6)                             // level
      b.array()
    }
    val frhpLen = 146 + 8 + 4 + pipeBody.length // zeroed root extras + pipe
    val fhibAt = 81 + frhpLen                   // root INDIRECT block
    val fhibLen = 4 + 1 + 8 + 4 + 4 * (8 + 8 + 4) + 4 // widened entries
    val blk0At = fhibAt + fhibLen
    val bthd5Len = 38
    val btlf5Len = 6 + 3 * (4 + 7) + 4
    val dsLen = 73
    // deflated block sizes depend on the link-target addresses, which
    // depend on the deflated sizes — iterate the fixed point
    var dz0 = 64; var dz1 = 40
    var bytesOut: Array[Byte] = null
    var iter = 0
    while (iter < 16 && bytesOut == null) {
      val blk1At = blk0At + dz0
      val bt5At = blk1At + dz1
      val leaf5At = bt5At + bthd5Len
      val dsAAt = leaf5At + btlf5Len
      val dataAAt = dsAAt + dsLen
      val dsBAt = dataAAt + 8
      val dataBAt = dsBAt + dsLen
      val dsCAt = dataBAt + 8
      val dataCAt = dsCAt + dsLen
      val eof = dataCAt + 8
      // logical block 0: FHDB + links "a" (off 17) and "b" (off 29)
      val lb0 = java.nio.ByteBuffer.allocate(512)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      lb0.put("FHDB".getBytes(StandardCharsets.US_ASCII))
      lb0.put(0.toByte); lb0.putLong(heapAddr); lb0.putInt(0)
      lb0.put(linkMsg("a", dsAAt))
      lb0.put(linkMsg("b", dsBAt))
      // logical block 1: heap space [512, 1024) — "c" at heap off 529
      val lb1 = java.nio.ByteBuffer.allocate(512)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      lb1.put("FHDB".getBytes(StandardCharsets.US_ASCII))
      lb1.put(0.toByte); lb1.putLong(heapAddr); lb1.putInt(512)
      lb1.put(linkMsg("c", dsCAt))
      val st0 = deflateBytes(lb0.array())
      val st1 = deflateBytes(lb1.array())
      if (st0.length != dz0 || st1.length != dz1) {
        dz0 = st0.length; dz1 = st1.length; iter += 1
      } else {
        val out = java.nio.ByteBuffer.allocate(eof)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        out.put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
        out.put(3.toByte); out.put(8.toByte); out.put(8.toByte); out.put(0.toByte)
        out.putLong(0L); out.putLong(-1L)
        out.putLong(eof.toLong); out.putLong(48L); out.putInt(0)
        assert(out.position() == 48)
        out.put("OHDR".getBytes(StandardCharsets.US_ASCII))
        out.put(2.toByte); out.put(0.toByte); out.put(22.toByte)
        out.put(0x02.toByte); out.putShort(18); out.put(0.toByte)
        out.put(0.toByte); out.put(0.toByte)
        out.putLong(heapAddr)
        out.putLong(bt5At.toLong)
        out.putInt(0)
        assert(out.position() == 81)
        // FRHP: filtered, root INDIRECT (curRows = 1)
        out.put("FRHP".getBytes(StandardCharsets.US_ASCII))
        out.put(0.toByte)
        out.putShort(7); out.putShort(pipeBody.length.toShort)
        out.put(0.toByte)
        out.putInt(4096)
        out.putLong(0L); out.putLong(-1L)       // next huge id, huge bt
        out.putLong(0L); out.putLong(-1L)       // free space, fs mgr
        out.putLong(1024L); out.putLong(1024L); out.putLong(541L)
        out.putLong(3L)                         // managed objects
        out.putLong(0L); out.putLong(0L)        // huge size / count
        out.putLong(0L); out.putLong(0L)        // tiny size / count
        out.putShort(4); out.putLong(512L); out.putLong(65536L)
        out.putShort(32); out.putShort(1)
        out.putLong(fhibAt.toLong); out.putShort(1) // root FHIB, 1 row
        // the spec point under test: these 12 bytes are PRESENT and
        // ZERO for an indirect root — libhdf5 writes them whenever
        // the pipeline is declared
        out.putLong(0L)                         // filtered root size: 0
        out.putInt(0)                           // root filter mask: 0
        out.put(pipeBody)
        out.putInt(0)                           // checksum (unverified)
        assert(out.position() == fhibAt, s"${out.position()} != $fhibAt")
        out.put("FHIB".getBytes(StandardCharsets.US_ASCII))
        out.put(0.toByte); out.putLong(heapAddr); out.putInt(0)
        out.putLong(blk0At.toLong); out.putLong(st0.length.toLong); out.putInt(0)
        out.putLong(blk1At.toLong); out.putLong(st1.length.toLong); out.putInt(0)
        out.putLong(-1L); out.putLong(0L); out.putInt(0)
        out.putLong(-1L); out.putLong(0L); out.putInt(0)
        out.putInt(0)                           // checksum
        assert(out.position() == blk0At, s"${out.position()} != $blk0At")
        out.put(st0)
        assert(out.position() == blk1At)
        out.put(st1)
        assert(out.position() == bt5At)
        out.put("BTHD".getBytes(StandardCharsets.US_ASCII))
        out.put(0.toByte); out.put(5.toByte)
        out.putInt(512); out.putShort(11)
        out.putShort(0)
        out.put(100.toByte); out.put(40.toByte)
        out.putLong(leaf5At.toLong); out.putShort(3)
        out.putLong(3L); out.putInt(0)
        assert(out.position() == leaf5At)
        out.put("BTLF".getBytes(StandardCharsets.US_ASCII))
        out.put(0.toByte); out.put(5.toByte)
        out.putInt(0); out.put(heapId7(17, 12))   // "a"
        out.putInt(0); out.put(heapId7(29, 12))   // "b"
        out.putInt(0); out.put(heapId7(529, 12))  // "c": SECOND block
        out.putInt(0)
        assert(out.position() == dsAAt)
        putDatasetOhdr(out, 1L, dataAAt.toLong)
        assert(out.position() == dataAAt)
        out.putDouble(1.0)
        assert(out.position() == dsBAt)
        putDatasetOhdr(out, 1L, dataBAt.toLong)
        assert(out.position() == dataBAt)
        out.putDouble(2.0)
        assert(out.position() == dsCAt)
        putDatasetOhdr(out, 1L, dataCAt.toLong)
        assert(out.position() == dataCAt)
        out.putDouble(3.0)
        bytesOut = out.array()
      }
    }
    assert(bytesOut != null, "filtered root-indirect fixture did not converge")
    bytesOut
  }

  test("FILTERED fractal heap with a ROOT INDIRECT block: the header's " +
    "zeroed filtered-root fields parse and widened entries defilter (r17)") {
    val h5 = Hdf5Classic.parse(denseLinkFileFilteredIndirect())
    assert(h5.vars.map(_.name) == Seq("a", "b", "c"))
    assert(h5.read("a").toSeq == Seq(1.0))
    assert(h5.read("b").toSeq == Seq(2.0))
    assert(h5.read("c").toSeq == Seq(3.0),
      "link c must arrive through the SECOND deflated direct block")
  }

  /** Dense-link group (unfiltered) whose link "b" rides a DIRECT huge
    * heap ID: idLen 17 embeds (address, stored length) in the ID
    * itself — no huge-object B-tree at all. Link "a" is managed with
    * the same wide ID layout (offBytes 4, lenBytes 12). */
  private def denseLinkFileDirectHuge(): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(544)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    out.put(3.toByte); out.put(8.toByte); out.put(8.toByte); out.put(0.toByte)
    out.putLong(0L); out.putLong(-1L)
    out.putLong(544L); out.putLong(48L); out.putInt(0)
    assert(out.position() == 48)
    out.put("OHDR".getBytes(StandardCharsets.US_ASCII))
    out.put(2.toByte); out.put(0.toByte); out.put(22.toByte)
    out.put(0x02.toByte); out.putShort(18); out.put(0.toByte)
    out.put(0.toByte); out.put(0.toByte)
    out.putLong(81L)                        // fractal heap header
    out.putLong(256L)                       // type-5 name-index B-tree
    out.putInt(0)
    assert(out.position() == 81)
    putFrhp(out, idLen = 17, rootAddr = 227L, curRows = 0,
      nHuge = 1L, nManaged = 1L)
    assert(out.position() == 227)
    putFhdb(out, 81L, 0)                    // root IS the direct block
    assert(out.position() == 244)           // heap offset 17
    out.put(linkMsg("a", 358L))             // managed object at offset 17
    assert(out.position() == 256)
    out.put("BTHD".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.put(5.toByte)
    out.putInt(512); out.putShort(21)       // record = hash(4) + id(17)
    out.putShort(0)
    out.put(100.toByte); out.put(40.toByte)
    out.putLong(294L); out.putShort(2)
    out.putLong(2L); out.putInt(0)
    assert(out.position() == 294)
    out.put("BTLF".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.put(5.toByte)
    out.putInt(0)                           // hash of "a"
    out.put(0.toByte); out.putInt(17)       // managed: flag + offset(4)
    // lenBytes = idLen-1-offBytes = 12: length 12, little-endian
    out.put(12.toByte); out.put(Array.fill[Byte](11)(0))
    out.putInt(0)                           // hash of "b"
    out.put((1 << 4).toByte)                // DIRECT huge ID
    out.putLong(346L)                       // address of the raw object
    out.putLong(12L)                        // stored length
    out.putInt(0)                           // leaf checksum
    assert(out.position() == 346)
    out.put(linkMsg("b", 455L))             // the huge object bytes (raw)
    assert(out.position() == 358)
    putDatasetOhdr(out, 3L, 431L)
    assert(out.position() == 431)
    out.putDouble(1.5); out.putDouble(2.5); out.putDouble(3.5)
    assert(out.position() == 455)
    putDatasetOhdr(out, 2L, 528L)
    assert(out.position() == 528)
    out.putDouble(9.0); out.putDouble(8.0)
    assert(out.position() == 544)
    out.array()
  }

  test("DIRECT huge heap IDs: extent embedded in the ID, no B-tree walk (r16)") {
    val h5 = Hdf5Classic.parse(denseLinkFileDirectHuge())
    assert(h5.vars.map(_.name).sorted == Seq("a", "b"))
    assert(h5.read("a").toSeq == Seq(1.5, 2.5, 3.5))
    assert(h5.read("b").toSeq == Seq(9.0, 8.0),
      "link b must arrive through the direct huge ID")
  }

  test("HUGE heap objects resolve through the type-1 huge-object v2 B-tree") {
    // link "a" is an ordinary managed object; link "b" is HUGE: its
    // heap ID carries huge-object number 1, resolved via the heap's
    // own v2 B-tree (record: address 8, length 8, id 8) to a
    // standalone extent holding the link message — the shape libhdf5
    // produces for a dense object past the max-managed size (most
    // realistically a >4 KiB attribute value)
    val out = ByteBuffer.allocate(620).order(ByteOrder.LITTLE_ENDIAN)
    out.put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    out.put(3.toByte); out.put(8.toByte); out.put(8.toByte); out.put(0.toByte)
    out.putLong(0L); out.putLong(-1L)
    out.putLong(620L); out.putLong(48L); out.putInt(0)
    assert(out.position() == 48)
    out.put("OHDR".getBytes(StandardCharsets.US_ASCII))
    out.put(2.toByte); out.put(0.toByte); out.put(22.toByte)
    out.put(0x02.toByte); out.putShort(18); out.put(0.toByte)
    out.put(0.toByte); out.put(0.toByte)
    out.putLong(81L)                        // fractal heap header
    out.putLong(256L)                       // type-5 name-index B-tree
    out.putInt(0)
    assert(out.position() == 81)
    putFrhp(out, idLen = 7, rootAddr = 227L, curRows = 0,
      nManaged = 1L, nHuge = 1L, hugeBt = 326L)
    assert(out.position() == 227)
    putFhdb(out, 81L, 0)                    // root direct block
    out.put(linkMsg("a", 398L))             // managed, heap offset 17
    assert(out.position() == 256)
    out.put("BTHD".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.put(5.toByte)    // name index, type 5
    out.putInt(512); out.putShort(11)       // record = hash 4 + id 7
    out.putShort(0)
    out.put(100.toByte); out.put(40.toByte)
    out.putLong(294L); out.putShort(2)
    out.putLong(2L); out.putInt(0)
    assert(out.position() == 294)
    out.put("BTLF".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.put(5.toByte)
    out.putInt(0); out.put(heapId7(17, 12)) // "a": managed
    out.putInt(0)                           // hash of "b"
    out.put(0x10.toByte)                    // HUGE heap ID, number 1
    out.put(1.toByte); out.put(new Array[Byte](5))
    out.putInt(0)                           // leaf checksum
    assert(out.position() == 326)
    out.put("BTHD".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.put(1.toByte)    // HUGE index: type 1
    out.putInt(512); out.putShort(24)       // record = addr 8+len 8+id 8
    out.putShort(0)
    out.put(100.toByte); out.put(40.toByte)
    out.putLong(364L); out.putShort(1)
    out.putLong(1L); out.putInt(0)
    assert(out.position() == 364)
    out.put("BTLF".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.put(1.toByte)
    out.putLong(608L); out.putLong(12L); out.putLong(1L) // extent + id
    out.putInt(0)
    assert(out.position() == 398)
    putDatasetOhdr(out, 3L, 471L)
    assert(out.position() == 471)
    out.putDouble(1.5); out.putDouble(2.5); out.putDouble(3.5)
    assert(out.position() == 495)
    putDatasetOhdr(out, 2L, 568L)
    assert(out.position() == 568)
    out.putDouble(9.0); out.putDouble(8.0)
    assert(out.position() == 584)
    // huge object extent at 608: the 12-byte link message for "b",
    // padded to land PAST every heap block (proving the read comes
    // from the B-tree extent, not heap-offset arithmetic)
    out.put(new Array[Byte](24))
    assert(out.position() == 608)
    out.put(linkMsg("b", 495L))
    assert(out.position() == 620)
    val h5 = Hdf5Classic.parse(out.array())
    assert(h5.vars.map(_.name).sorted == Seq("a", "b"))
    assert(h5.read("a").toSeq == Seq(1.5, 2.5, 3.5))
    assert(h5.read("b").toSeq == Seq(9.0, 8.0),
      "the huge-ID link must resolve through the type-1 B-tree")
    // an ID the huge B-tree does not hold is a named error
    val poison = out.array().clone()
    poison(294 + 6 + 11 + 4 + 1) = 9 // leaf: "b" record's huge number → 9
    val ex = intercept[IllegalArgumentException](
      Hdf5Classic.parse(poison))
    assert(ex.getMessage.contains("huge object id 9"))
  }

  test("root-indirect heap + depth-1 type-5 B-tree: both recursions walked") {
    // two direct blocks behind a root INDIRECT block (the doubling
    // table's row-0 columns) and a depth-1 B-tree (internal BTIN root,
    // two BTLF leaves) — the paths a dense group grows into; link "c"
    // lives in the SECOND block, so its heap offset (529) exercises
    // the block-offset subtraction
    val out = ByteBuffer.allocate(712).order(ByteOrder.LITTLE_ENDIAN)
    out.put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    out.put(3.toByte); out.put(8.toByte); out.put(8.toByte); out.put(0.toByte)
    out.putLong(0L); out.putLong(-1L)
    out.putLong(712L); out.putLong(48L); out.putInt(0)
    assert(out.position() == 48)
    out.put("OHDR".getBytes(StandardCharsets.US_ASCII))
    out.put(2.toByte); out.put(0.toByte); out.put(22.toByte)
    out.put(0x02.toByte); out.putShort(18); out.put(0.toByte)
    out.put(0.toByte); out.put(0.toByte)
    out.putLong(81L); out.putLong(350L)
    out.putInt(0)
    assert(out.position() == 81)
    putFrhp(out, idLen = 7, rootAddr = 227L, curRows = 1)
    assert(out.position() == 227)
    // root indirect block: 1 row × width 4 entries (2 used)
    out.put("FHIB".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.putLong(81L); out.putInt(0) // block offset 0
    out.putLong(280L); out.putLong(321L)
    out.putLong(-1L); out.putLong(-1L)
    out.putInt(0)
    assert(out.position() == 280)
    putFhdb(out, 81L, 0)                    // block 0: heap [0, 512)
    out.put(linkMsg("a", 469L))             // heap offset 17
    out.put(linkMsg("b", 550L))             // heap offset 29
    assert(out.position() == 321)
    putFhdb(out, 81L, 512)                  // block 1: heap [512, 1024)
    out.put(linkMsg("c", 631L))             // heap offset 512+17 = 529
    assert(out.position() == 350)
    out.put("BTHD".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.put(5.toByte)
    out.putInt(512); out.putShort(11)
    out.putShort(1)                         // depth 1: internal root
    out.put(100.toByte); out.put(40.toByte)
    out.putLong(388L); out.putShort(1)      // root BTIN, 1 record
    out.putLong(3L); out.putInt(0)
    assert(out.position() == 388)
    // BTIN: 1 record, then 2 child pointers (addr + 1-byte nrec —
    // max 45 records per 512-byte leaf fits one byte)
    out.put("BTIN".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.put(5.toByte)
    out.putInt(0); out.put(heapId7(29, 12)) // record: "b"
    out.putLong(427L); out.put(1.toByte)    // child 0 → leaf("a")
    out.putLong(448L); out.put(1.toByte)    // child 1 → leaf("c")
    out.putInt(0)
    assert(out.position() == 427)
    out.put("BTLF".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.put(5.toByte)
    out.putInt(0); out.put(heapId7(17, 12))
    out.putInt(0)
    assert(out.position() == 448)
    out.put("BTLF".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.put(5.toByte)
    out.putInt(0); out.put(heapId7(529, 12))
    out.putInt(0)
    assert(out.position() == 469)
    putDatasetOhdr(out, 1L, 542L)
    assert(out.position() == 542)
    out.putDouble(1.0)
    putDatasetOhdr(out, 1L, 623L)
    assert(out.position() == 623)
    out.putDouble(2.0)
    putDatasetOhdr(out, 1L, 704L)
    assert(out.position() == 704)
    out.putDouble(3.0)
    assert(out.position() == 712)
    val h5 = Hdf5Classic.parse(out.array())
    assert(h5.vars.map(_.name) == Seq("a", "b", "c")) // denseLinks sorts
    assert(h5.read("a").toSeq == Seq(1.0))
    assert(h5.read("b").toSeq == Seq(2.0))
    assert(h5.read("c").toSeq == Seq(3.0))
  }

  test("depth-2 type-5 v2 B-tree: the recursive walk sizes per-level pointers") {
    // root BTIN (depth 2, pointers carry addr + nrec(1B) + subtree
    // total(2B — bytesFor(cum(1)=1149))) → two depth-1 BTINs (pointers
    // addr + nrec only) → four BTLFs; 7 links total, alternating
    // between two shared dataset targets (hard links may alias)
    val out = ByteBuffer.allocate(757).order(ByteOrder.LITTLE_ENDIAN)
    out.put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    out.put(3.toByte); out.put(8.toByte); out.put(8.toByte); out.put(0.toByte)
    out.putLong(0L); out.putLong(-1L)
    out.putLong(757L); out.putLong(48L); out.putInt(0)
    assert(out.position() == 48)
    out.put("OHDR".getBytes(StandardCharsets.US_ASCII))
    out.put(2.toByte); out.put(0.toByte); out.put(22.toByte)
    out.put(0x02.toByte); out.putShort(18); out.put(0.toByte)
    out.put(0.toByte); out.put(0.toByte)
    out.putLong(81L)                        // fractal heap header
    out.putLong(328L)                       // type-5 name-index B-tree
    out.putInt(0)
    assert(out.position() == 81)
    putFrhp(out, idLen = 7, rootAddr = 227L, curRows = 0, nManaged = 7L)
    assert(out.position() == 227)
    putFhdb(out, 81L, 0)
    assert(out.position() == 244)           // heap offsets 17,29,…,89
    val X = 571L; val Y = 668L
    for ((n, t) <- Seq("a" -> X, "b" -> Y, "c" -> X, "d" -> Y,
                       "e" -> X, "f" -> Y, "g" -> X))
      out.put(linkMsg(n, t))
    assert(out.position() == 328)
    out.put("BTHD".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.put(5.toByte)
    out.putInt(512); out.putShort(11)
    out.putShort(2)                         // depth 2
    out.put(100.toByte); out.put(40.toByte)
    out.putLong(366L); out.putShort(1)      // root BTIN, 1 record
    out.putLong(7L); out.putInt(0)
    assert(out.position() == 366)
    // root BTIN (depth 2): record "d", children = the two depth-1 BTINs
    out.put("BTIN".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.put(5.toByte)
    out.putInt(0); out.put(heapId7(53, 12)) // record: "d"
    out.putLong(409L); out.put(1.toByte); out.putShort(3) // nrec, subtree total
    out.putLong(448L); out.put(1.toByte); out.putShort(3)
    out.putInt(0)
    assert(out.position() == 409)
    // depth-1 BTIN #1: record "b", leaf children "a" / "c"
    out.put("BTIN".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.put(5.toByte)
    out.putInt(0); out.put(heapId7(29, 12))
    out.putLong(487L); out.put(1.toByte)
    out.putLong(508L); out.put(1.toByte)
    out.putInt(0)
    assert(out.position() == 448)
    // depth-1 BTIN #2: record "f", leaf children "e" / "g"
    out.put("BTIN".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.put(5.toByte)
    out.putInt(0); out.put(heapId7(77, 12))
    out.putLong(529L); out.put(1.toByte)
    out.putLong(550L); out.put(1.toByte)
    out.putInt(0)
    assert(out.position() == 487)
    for (off <- Seq(17, 41, 65, 89)) {      // leaves: a, c, e, g
      out.put("BTLF".getBytes(StandardCharsets.US_ASCII))
      out.put(0.toByte); out.put(5.toByte)
      out.putInt(0); out.put(heapId7(off, 12))
      out.putInt(0)
    }
    assert(out.position() == 571)
    putDatasetOhdr(out, 3L, 644L)
    assert(out.position() == 644)
    out.putDouble(1.5); out.putDouble(2.5); out.putDouble(3.5)
    assert(out.position() == 668)
    putDatasetOhdr(out, 2L, 741L)
    assert(out.position() == 741)
    out.putDouble(9.0); out.putDouble(8.0)
    assert(out.position() == 757)
    val h5 = Hdf5Classic.parse(out.array())
    assert(h5.vars.map(_.name) == Seq("a", "b", "c", "d", "e", "f", "g"))
    for (n <- Seq("a", "c", "e", "g"))
      assert(h5.read(n).toSeq == Seq(1.5, 2.5, 3.5), s"link $n")
    for (n <- Seq("b", "d", "f"))
      assert(h5.read(n).toSeq == Seq(9.0, 8.0), s"link $n")
  }

  /** Attribute message body, version 3 (no 8-byte padding). */
  private def attrMsgV3(name: String, value: Double): Array[Byte] = {
    val nm = (name + "\u0000").getBytes(StandardCharsets.UTF_8)
    val b = ByteBuffer.allocate(9 + nm.length + 20 + 4 + 8)
      .order(ByteOrder.LITTLE_ENDIAN)
    b.put(3.toByte); b.put(0.toByte)
    b.putShort(nm.length.toShort); b.putShort(20); b.putShort(4)
    b.put(0.toByte)                         // name charset
    b.put(nm); b.put(f64Dt)
    b.put(2.toByte); b.put(0.toByte); b.put(0.toByte); b.put(0.toByte) // scalar
    b.putDouble(value); b.array()
  }

  test("dense attribute storage: type-8 B-tree records resolve heap objects") {
    // dataset with an Attribute Info message (no compact 0x000C attrs);
    // the heap holds two v3 scalar f64 attribute messages. Type-8
    // records pad the 7-byte heap ID to the fixed 8-byte slot.
    val a1 = attrMsgV3("alpha", 1.5)        // 47 bytes → heap offset 17
    val a2 = attrMsgV3("beta", 2.5)         // 46 bytes → heap offset 64
    assert(a1.length == 47 && a2.length == 46)
    val out = ByteBuffer.allocate(524).order(ByteOrder.LITTLE_ENDIAN)
    out.put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    out.put(3.toByte); out.put(8.toByte); out.put(8.toByte); out.put(0.toByte)
    out.putLong(0L); out.putLong(-1L)
    out.putLong(524L); out.putLong(48L); out.putInt(0)
    assert(out.position() == 48)
    // root OHDR: one compact hard link "v" → dataset at 75
    out.put("OHDR".getBytes(StandardCharsets.US_ASCII))
    out.put(2.toByte); out.put(0.toByte); out.put(16.toByte)
    out.put(0x06.toByte); out.putShort(12); out.put(0.toByte)
    out.put(linkMsg("v", 75L))
    out.putInt(0)
    assert(out.position() == 75)
    // dataset OHDR: dataspace + datatype + layout + ATTRIBUTE INFO
    out.put("OHDR".getBytes(StandardCharsets.US_ASCII))
    out.put(2.toByte); out.put(0.toByte); out.put(84.toByte)
    out.put(0x01.toByte); out.putShort(12); out.put(0.toByte)
    out.put(2.toByte); out.put(1.toByte); out.put(0.toByte); out.put(1.toByte)
    out.putLong(2L)
    out.put(0x03.toByte); out.putShort(20); out.put(0.toByte)
    out.put(f64Dt)
    out.put(0x08.toByte); out.putShort(18); out.put(0.toByte)
    out.put(contiguousLayout(508L, 16L))
    out.put(0x15.toByte); out.putShort(18); out.put(0.toByte)
    out.put(0.toByte); out.put(0.toByte)    // version, flags
    out.putLong(170L)                       // fractal heap
    out.putLong(426L)                       // type-8 name-index B-tree
    out.putInt(0)
    assert(out.position() == 170)
    putFrhp(out, idLen = 7, rootAddr = 316L, curRows = 0)
    assert(out.position() == 316)
    putFhdb(out, 170L, 0)
    assert(out.position() == 333)           // heap offset 17
    out.put(a1); out.put(a2)                // offsets 17 and 64
    assert(out.position() == 426)
    out.put("BTHD".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.put(8.toByte)    // version, type 8 (attr name)
    out.putInt(512); out.putShort(17)       // node size, record size
    out.putShort(0)                         // depth 0
    out.put(100.toByte); out.put(40.toByte)
    out.putLong(464L); out.putShort(2)
    out.putLong(2L); out.putInt(0)
    assert(out.position() == 464)
    out.put("BTLF".getBytes(StandardCharsets.US_ASCII))
    out.put(0.toByte); out.put(8.toByte)
    // record: heap ID (8-byte slot: 7 used + 1 pad), flags, corder, hash
    out.put(heapId7(17, 47)); out.put(0.toByte)
    out.put(0.toByte); out.putInt(0); out.putInt(0)
    out.put(heapId7(64, 46)); out.put(0.toByte)
    out.put(0.toByte); out.putInt(1); out.putInt(0)
    out.putInt(0)                           // leaf checksum
    assert(out.position() == 508)
    out.putDouble(5.0); out.putDouble(6.0)
    assert(out.position() == 524)
    val h5 = Hdf5Classic.parse(out.array())
    assert(h5.read("v").toSeq == Seq(5.0, 6.0))
    val attrs = h5.variable("v").attrs
    assert(attrs.map(_.name) == Seq("alpha", "beta"))
    assert(attrs.map(_.values.asInstanceOf[Array[Double]].head) == Seq(1.5, 2.5))
  }

  // ---- writer ↔ parser round-trips ----------------------------------
  private def writeGridFile(path: String, nt: Int, bias: Double): Unit = {
    val lats = Array(0.0, 10.0)
    val lons = Array(100.0, 110.0, 120.0)
    val times = Array.tabulate(nt)(_.toDouble)
    val data = Array.tabulate(nt * 2 * 3) { i => bias + i.toDouble }
    val bytes = Hdf5Classic.write(
      dims = Seq(NcDim("time", nt), NcDim("lat", 2), NcDim("lon", 3)),
      vars = Seq(
        ("time", Seq(0), Seq(NcAttr("units", "days since 2000-01-01")), times),
        ("lat", Seq(1), Seq(NcAttr("units", "degrees_north")), lats),
        ("lon", Seq(2), Seq(NcAttr("units", "degrees_east")), lons),
        ("tas", Seq(0, 1, 2), Seq(NcAttr("units", "K")), data)))
    Files.write(Paths.get(path), bytes)
  }

  test("writer ↔ parser round-trip: dims, scales, attrs, values") {
    val tmp = Files.createTempDirectory("h5").toString
    writeGridFile(s"$tmp/m1.h5", nt = 2, bias = 100.0)
    val raw = Files.readAllBytes(Paths.get(s"$tmp/m1.h5"))
    // byte-level artifact checks straight off the spec: signature,
    // superblock v0, 8-byte offsets — mutation-style guards that the
    // writer can never drift to an unparseable-by-libhdf5 shape
    assert(raw.take(8).toSeq == Seq[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    assert(raw(8) == 0 && raw(13) == 8 && raw(14) == 8)
    val h5 = Hdf5Classic.parse(raw)
    assert(h5.vars.map(_.name).sorted == Seq("lat", "lon", "tas", "time"))
    // dimension scales: coordinate vars carry CLASS/NAME, the data var
    // resolves its axes THROUGH the DIMENSION_LIST references
    assert(h5.variable("lat").isDimScale && h5.variable("time").isDimScale)
    assert(h5.variable("tas").attrStr("units").contains("K"))
    assert(h5.dimNames("tas") == Seq("time", "lat", "lon"))
    assert(h5.variable("tas").dimRefs.isDefined,
      "axis resolution must come from DIMENSION_LIST, not shape fallback")
    assert(h5.read("lat").toSeq == Seq(0.0, 10.0))
    assert(h5.read("tas").length == 12)
    assert(h5.read("tas")(0) == 100.0 && h5.read("tas")(11) == 111.0)
    // double-array attr round-trip too
    val b2 = Hdf5Classic.write(
      dims = Seq(NcDim("x", 2)),
      vars = Seq(("x", Seq(0), Seq(NcAttr("valid_range", Array(-1.0, 1.0))), Array(0.5, 0.6))))
    val p2 = Hdf5Classic.parse(b2)
    assert(p2.variable("x").attrs.collectFirst {
      case NcAttr("valid_range", a: Array[Double]) => a.toSeq
    }.contains(Seq(-1.0, 1.0)))
  }

  test("shape-matching fallback names axes when DIMENSION_LIST is absent") {
    // plain-HDF5 grid (no netCDF-4 scales): strip the DIMENSION_LIST
    // by writing lat/lon coords with DISTINCT lengths and a data var
    // that never declares refs — here, via the hand skeleton is
    // overkill; instead parse a written file and drop the attr.
    val bytes = Hdf5Classic.write(
      dims = Seq(NcDim("lat", 2), NcDim("lon", 3)),
      vars = Seq(
        ("lat", Seq(0), Nil, Array(0.0, 10.0)),
        ("lon", Seq(1), Nil, Array(1.0, 2.0, 3.0)),
        ("tas", Seq(0, 1), Nil, Array.tabulate(6)(_.toDouble))))
    val h5 = Hdf5Classic.parse(bytes)
    val noRefs = h5.copy(vars = h5.vars.map(v =>
      v.copy(attrs = v.attrs.filterNot(_.name == "DIMENSION_LIST"))))
    assert(noRefs.dimNames("tas") == Seq("lat", "lon"))
    // ambiguity (two same-length 1-D candidates) must throw, not guess
    val ambiguous = Hdf5Classic.parse(Hdf5Classic.write(
      dims = Seq(NcDim("lat", 2), NcDim("lon", 2)),
      vars = Seq(
        ("lat", Seq(0), Nil, Array(0.0, 10.0)),
        ("lon", Seq(1), Nil, Array(1.0, 2.0)),
        ("tas", Seq(0, 1), Nil, Array.tabulate(4)(_.toDouble)))))
    val strip = ambiguous.copy(vars = ambiguous.vars.map(v =>
      v.copy(attrs = v.attrs.filterNot(_.name == "DIMENSION_LIST"))))
    val ex = intercept[IllegalArgumentException](strip.dimNames("tas"))
    assert(ex.getMessage.contains("ambiguous"))
  }

  test("compressed write: deflate+shuffle chunks round-trip through the " +
    "filter-pipeline reader and actually shrink the file (r17)") {
    val nt = 8; val nla = 20; val nlo = 30
    // a quantized field (what instruments store) compresses well;
    // include NaN (the fill) and negative values so the shuffle
    // byte-transpose is exercised on full-range sign/exponent bytes
    val data = Array.tabulate(nt * nla * nlo) { i =>
      if (i % 37 == 0) Double.NaN
      else math.round(math.sin(i / 10.0) * 4.0) * 25.0 - 50.0
    }
    val dims = Seq(NcDim("time", nt), NcDim("lat", nla), NcDim("lon", nlo))
    val vars = Seq(
      ("time", Seq(0), Seq(NcAttr("units", "days since 2000-01-01")),
        Array.tabulate(nt)(_.toDouble)),
      ("lat", Seq(1), Nil, Array.tabulate(nla)(_ * 10.0)),
      ("lon", Seq(2), Nil, Array.tabulate(nlo)(_ * 10.0)),
      ("tas", Seq(0, 1, 2), Nil, data))
    val raw = Hdf5Classic.write(dims, vars)
    val comp = Hdf5Classic.write(dims, vars, compress = true)
    assert(comp.length < raw.length,
      s"compressed file (${comp.length}) not smaller than raw (${raw.length})")
    val h5 = Hdf5Classic.parse(comp)
    // the data var is CHUNKED one time-slice per chunk with the
    // shuffle+deflate pipeline; coordinate vars stay contiguous
    val tas = h5.vars.find(_.name == "tas").get
    tas.data match {
      case Hdf5Classic.H5Chunked(_, cdims, filters) =>
        assert(cdims == Seq(1, nla, nlo), s"chunk dims $cdims")
        assert(filters.map(_._1) == Seq(2, 1), s"pipeline $filters")
      case other => fail(s"tas not chunked: $other")
    }
    assert(h5.vars.find(_.name == "lat").get.data
      .isInstanceOf[Hdf5Classic.H5Contiguous])
    // byte-exact round-trip, NaN fill included
    val back = h5.read("tas")
    assert(back.length == data.length)
    data.indices.foreach { i =>
      assert(java.lang.Double.doubleToLongBits(back(i)) ==
        java.lang.Double.doubleToLongBits(data(i)), s"cell $i differs")
    }
    // and the hyperslab path prunes + decodes compressed chunks: a
    // 2-timestep bounded read returns exactly those slices
    val sliced = h5.readSlab("tas", Seq(2L, 0L, 0L),
      Seq(2L, nla.toLong, nlo.toLong))
    assert(sliced.length == 2 * nla * nlo)
    (0 until sliced.length).foreach { k =>
      val src = 2 * nla * nlo + k
      assert(java.lang.Double.doubleToLongBits(sliced(k)) ==
        java.lang.Double.doubleToLongBits(data(src)), s"slab cell $k")
    }
  }

  test("compressed write survives an INCOMPRESSIBLE large chunk " +
    "(deflate stored-block worst case, r17 self-review)") {
    // one 400 KiB random slice: deflate emits stored blocks BIGGER
    // than the input — the writer's output buffer must absorb that
    val rnd = new scala.util.Random(41)
    val nla = 200; val nlo = 256
    val data = Array.fill(nla * nlo)(
      java.lang.Double.longBitsToDouble(rnd.nextLong()))
      .map(v => if (v.isNaN) 0.5 else v) // NaN bit patterns canonicalize
    val dims = Seq(NcDim("lat", nla), NcDim("lon", nlo))
    val vars = Seq(
      ("lat", Seq(0), Nil, Array.tabulate(nla)(_ * 1.0)),
      ("lon", Seq(1), Nil, Array.tabulate(nlo)(_ * 1.0)),
      ("tas", Seq(0, 1), Nil, data))
    val h5 = Hdf5Classic.parse(Hdf5Classic.write(dims, vars, compress = true))
    val back = h5.read("tas")
    assert(back.length == data.length)
    data.indices.foreach(i => assert(back(i) == data(i), s"cell $i"))
  }

  // ---- distributed loader end-to-end --------------------------------
  test("readHdf5 loads a 2-file ensemble into the long form, CF times decoded") {
    val tmp = Files.createTempDirectory("h5ens").toString
    writeGridFile(s"$tmp/modelA.h5", nt = 2, bias = 0.0)
    writeGridFile(s"$tmp/modelB.h5", nt = 2, bias = 1000.0)
    val df = spark.read.format("netcdf").option("vars", "tas").load(s"$tmp/*.h5")
    assert(df.count() == 2 * 2 * 2 * 3)
    assert(df.select("dataset").distinct().count() == 2)
    val t1 = df.filter(col("dataset") === "modelA.h5"
        && col("lat") === 0.0 && col("lon") === 100.0)
      .orderBy(col("time")).select(date_format(col("time"), "yyyy-MM-dd"), col("value"))
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(t1 == Seq(("2000-01-01", 0.0), ("2000-01-02", 6.0)))
    val binned = ops.ClimateOps.regridBin(
      df.select(col("dataset"), col("time"), col("lat"), col("lon"), col("value")),
      latRes = 20.0, lonRes = 30.0)
    assert(binned.count() > 0)
  }

  test("readGridVars loads several variables from one parse per file") {
    val tmp = Files.createTempDirectory("h5multi").toString
    val lats = Array(0.0, 10.0); val lons = Array(100.0, 110.0, 120.0)
    Files.write(Paths.get(s"$tmp/m.h5"), Hdf5Classic.write(
      dims = Seq(NcDim("time", 1), NcDim("lat", 2), NcDim("lon", 3)),
      vars = Seq(
        ("time", Seq(0), Seq(NcAttr("units", "days since 2000-01-01")), Array(0.0)),
        ("lat", Seq(1), Nil, lats), ("lon", Seq(2), Nil, lons),
        ("tas", Seq(0, 1, 2), Nil, Array.tabulate(6)(_.toDouble)),
        ("pr", Seq(0, 1, 2), Nil, Array.tabulate(6)(i => 100.0 + i)))))
    val df = spark.read.format("netcdf").option("vars", "tas,pr").load(s"$tmp/m.h5")
    assert(df.count() == 12)
    val byVar = df.groupBy("variable").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byVar == Map("tas" -> 6L, "pr" -> 6L))
    // same cell, two variables, the right values
    val cell = df.filter(col("lat") === 0.0 && col("lon") === 110.0)
      .select("variable", "value").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(cell == Map("tas" -> 1.0, "pr" -> 101.0))
  }

  test("to_netcdf export: writeGrid → loadGrid is the identity, both formats") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("export").toString
    val rows = for {
      m <- Seq("mA", "mB"); t <- 0 to 1; la <- Seq(0.0, 10.0); lo <- Seq(100.0, 110.0)
    } yield (m, java.sql.Timestamp.valueOf(s"2024-01-0${t + 1} 00:00:00"),
      la, lo, m.hashCode % 13 + t * 100.0 + la + lo)
    val df = rows.toDF("dataset", "time", "lat", "lon", "value")
    for (h5 <- Seq(false, true)) {
      val dir = s"$tmp/${if (h5) "h5" else "nc"}"
      Ensemble.of(df).toNetcdf(dir, varName = "tas", hdf5 = h5)
      val names = new java.io.File(dir).list().sorted.toSeq
      assert(names == Seq("mA", "mB").map(m => s"$m.${if (h5) "h5" else "nc"}"))
      val back = Ensemble.loadGrid(spark, s"$dir/*", "tas").df
        .select(regexp_replace(col("dataset"), "\\.(nc|h5)$", "").as("dataset"),
          col("time"), col("lat"), col("lon"), col("value"))
      assert(back.count() == rows.length)
      assert(back.exceptAll(df).count() == 0 && df.exceptAll(back).count() == 0,
        s"toNetcdf(hdf5=$h5) round-trip must be the identity")
    }
  }

  test("CF µs time units: sub-second timestamps past 2041 round-trip exactly (r14 law)") {
    // the r13 move to CF "microseconds since 1970-01-01" made every
    // epoch-µs below 2^53 an integral double — this pins the exact
    // case the old seconds-with-fraction encoding lost (±1 µs drift
    // past ~2041): far-future stamps with odd microsecond tails
    import spark.implicits._
    val tmp = Files.createTempDirectory("cfmicros").toString
    val stamps = Seq(
      "2071-06-15 12:34:56.123456", // post-2041, sub-second
      "2199-12-31 23:59:59.999999", // near the 2^53 horizon comment
      "2041-01-01 00:00:00.000001", // the old drift boundary itself
      "1969-12-31 23:59:59.987654") // negative epoch, sub-second
      .map(java.sql.Timestamp.valueOf)
    val df = stamps.zipWithIndex.map { case (ts, i) =>
      ("m", ts, 0.0, 100.0 + i * 10.0, i.toDouble)
    }.toDF("dataset", "time", "lat", "lon", "value")
    for (h5 <- Seq(false, true)) {
      val dir = s"$tmp/${if (h5) "h5" else "nc"}"
      Ensemble.of(df).toNetcdf(dir, varName = "tas", hdf5 = h5)
      val back = Ensemble.loadGrid(spark, s"$dir/*", "tas").df
        .select(col("time"), col("value")).collect()
        .map(r => r.getDouble(1).toInt -> r.getTimestamp(0)).toMap
      stamps.zipWithIndex.foreach { case (ts, i) =>
        assert(back(i) == ts,
          s"hdf5=$h5: stamp $ts came back as ${back(i)} — µs drift")
      }
    }
  }

  test("mask-and-scale: _FillValue cells emit NO row; packed data unpacks") {
    // xarray open_dataset defaults (mask_and_scale=True): raw -999 is
    // missing, everything else unpacks as raw*scale + offset
    val tmp = Files.createTempDirectory("mask").toString
    Files.write(Paths.get(s"$tmp/m.h5"), Hdf5Classic.write(
      dims = Seq(NcDim("lat", 2), NcDim("lon", 2)),
      vars = Seq(
        ("lat", Seq(0), Nil, Array(0.0, 10.0)),
        ("lon", Seq(1), Nil, Array(100.0, 110.0)),
        ("tas", Seq(0, 1), Seq(
          NcAttr("scale_factor", Array(0.5)),
          NcAttr("add_offset", Array(100.0)),
          NcAttr("_FillValue", Array(-999.0))),
          Array(2.0, -999.0, 4.0, -999.0)))))
    val df = spark.read.format("netcdf").option("vars", "tas").load(s"$tmp/m.h5")
    assert(df.count() == 2, "both fill cells must be ABSENT, not NaN rows")
    val vals = df.orderBy("lat").select("value").collect().map(_.getDouble(0)).toSeq
    assert(vals == Seq(2.0 * 0.5 + 100.0, 4.0 * 0.5 + 100.0))
    // legacy missing_value alias honored too (classic-format member)
    Files.write(Paths.get(s"$tmp/m2.nc"), NetcdfClassic.write(
      dims = Seq(NcDim("lat", 1), NcDim("lon", 2)),
      vars = Seq(
        ("lat", Seq(0), Nil, Array(0.0)),
        ("lon", Seq(1), Nil, Array(100.0, 110.0)),
        ("tas", Seq(0, 1), Seq(NcAttr("missing_value", Array(-1.0))),
          Array(-1.0, 7.0)))))
    val df2 = spark.read.format("netcdf").option("vars", "tas").load(s"$tmp/m2.nc")
    assert(df2.count() == 1 &&
      df2.select("value").head().getDouble(0) == 7.0)
  }

  test("2-D (lat, lon) members export and re-load; mixed times reject by name") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("static").toString
    // static field: every time is null (the (lat, lon) layout the
    // reader produces) — r12 review find: this used to NPE on export
    val static = Seq(
      ("oro", null.asInstanceOf[java.sql.Timestamp], 0.0, 100.0, 5.0),
      ("oro", null.asInstanceOf[java.sql.Timestamp], 10.0, 100.0, 6.0))
      .toDF("dataset", "time", "lat", "lon", "value")
    for (h5 <- Seq(false, true)) {
      val dir = s"$tmp/${if (h5) "h5" else "nc"}"
      Ensemble.of(static).toNetcdf(dir, varName = "orog", hdf5 = h5)
      val back = Ensemble.loadGrid(spark, s"$dir/*", "orog").df
      assert(back.count() == 2 && back.filter(col("time").isNotNull).count() == 0)
      assert(back.orderBy("lat").select("value").collect().map(_.getDouble(0))
        .toSeq == Seq(5.0, 6.0), s"hdf5=$h5")
    }
    // one member mixing null and real times is a caller error, by name
    val mixed = Seq(
      ("m", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 0.0, 100.0, 1.0),
      ("m", null.asInstanceOf[java.sql.Timestamp], 0.0, 110.0, 2.0))
      .toDF("dataset", "time", "lat", "lon", "value")
    val ex = intercept[org.apache.spark.SparkException](
      Ensemble.of(mixed).toNetcdf(s"$tmp/bad", varName = "x"))
    assert(ex.getMessage.contains("mixes null and non-null times") ||
      Option(ex.getCause).exists(_.getMessage.contains("mixes null and non-null")))
  }

  test("duplicate (time,lat,lon) cells reject by name — no last-write-wins") {
    import spark.implicits._
    // a multi-variable frame exported under ONE variable name must not
    // silently lose one variable (r12 review find)
    val tmp = Files.createTempDirectory("dup").toString
    val twoVars = Seq(
      ("m", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 0.0, 100.0, 1.0),
      ("m", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 0.0, 100.0, 2.0))
      .toDF("dataset", "time", "lat", "lon", "value")
    val ex = intercept[org.apache.spark.SparkException](
      Ensemble.of(twoVars).toNetcdf(tmp, varName = "x"))
    assert(ex.getMessage.contains("duplicate rows") ||
      Option(ex.getCause).exists(_.getMessage.contains("duplicate rows")))
  }

  test("fallback axis naming prefers declared DIMENSION_SCALEs over aux 1-D vars") {
    // r12 review find: an auxiliary 1-D dataset (station labels, bounds)
    // of the same length as an axis must neither shadow a real
    // coordinate nor make it spuriously ambiguous
    val h5 = Hdf5Classic.parse(Hdf5Classic.write(
      dims = Seq(NcDim("lat", 2), NcDim("lon", 3)),
      vars = Seq(
        ("lat", Seq(0), Nil, Array(0.0, 10.0)),
        ("lon", Seq(1), Nil, Array(1.0, 2.0, 3.0)),
        ("stations", Seq(1), Nil, Array(7.0, 8.0, 9.0)), // aux, same len as lon
        ("tas", Seq(0, 1), Nil, Array.tabulate(6)(_.toDouble)))))
    val strip = h5.copy(vars = h5.vars.map(v =>
      v.copy(attrs = v.attrs.filterNot(_.name == "DIMENSION_LIST"))))
    // lat/lon kept their CLASS="DIMENSION_SCALE"; stations has none →
    // the scale-filtered fallback resolves cleanly despite the clash
    assert(strip.dimNames("tas") == Seq("lat", "lon"))
  }

  test("sparse grids round-trip: writeGrid NaN-fills, readGrid masks back") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("sparse").toString
    // an INCOMPLETE grid: member mA is missing one (time,lat,lon) cell
    val rows = Seq(
      ("mA", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 0.0, 100.0, 1.0),
      ("mA", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 10.0, 110.0, 2.0),
      ("mA", java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 0.0, 110.0, 3.0))
    val df = rows.toDF("dataset", "time", "lat", "lon", "value")
    for (h5 <- Seq(false, true)) {
      val dir = s"$tmp/${if (h5) "h5" else "nc"}"
      Ensemble.of(df).toNetcdf(dir, varName = "tas", hdf5 = h5)
      val back = Ensemble.loadGrid(spark, s"$dir/*", "tas").df
        .select(regexp_replace(col("dataset"), "\\.(nc|h5)$", "").as("dataset"),
          col("time"), col("lat"), col("lon"), col("value"))
      assert(back.count() == rows.length,
        s"hdf5=$h5: NaN-filled absent cells must be masked back OUT on read")
      assert(back.exceptAll(df).count() == 0 && df.exceptAll(back).count() == 0)
    }
  }

  test("readGrid auto-detects NetCDF-3 and HDF5 members in ONE mixed archive") {
    val tmp = Files.createTempDirectory("mixed").toString
    // classic member via the NetCDF-3 writer, HDF5 member via this one
    val lats = Array(0.0, 10.0); val lons = Array(100.0, 110.0, 120.0)
    Files.write(Paths.get(s"$tmp/old.nc"), NetcdfClassic.write(
      dims = Seq(NcDim("time", 1), NcDim("lat", 2), NcDim("lon", 3)),
      vars = Seq(
        ("time", Seq(0), Seq(NcAttr("units", "days since 2000-01-01")), Array(0.0)),
        ("lat", Seq(1), Nil, lats), ("lon", Seq(2), Nil, lons),
        ("tas", Seq(0, 1, 2), Nil, Array.tabulate(6)(_.toDouble)))))
    writeGridFile(s"$tmp/new.h5", nt = 1, bias = 50.0)
    val df = spark.read.format("netcdf").option("vars", "tas").load(s"$tmp/*")
    assert(df.count() == 12)
    assert(df.select("dataset").distinct().collect().map(_.getString(0)).sorted
      .toSeq == Seq("new.h5", "old.nc"))
    // both members land on the SAME time axis after CF decode
    assert(df.select("time").distinct().count() == 1)
  }
}
