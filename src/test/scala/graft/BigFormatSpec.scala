package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import graft.sources.{BigFormat, SSTableBinaryV2, SSTableDumpBridge}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The big-format codec in isolation: vint edges, header round-trip
  * through the Statistics.db layout (checksums verified), and
  * partition round-trips covering every atom shape the decoder
  * supports — rows with liveness/TTL inheritance, tombstones at
  * partition/row/cell granularity, range-tombstone bounds AND
  * boundaries, null/empty clustering values, fixed-length types. */
class BigFormatSpec extends AnyFunSuite {

  private val header = BigFormat.Header(
    minTimestampUs = 1609459200L * 1000000L,
    minLocalDeletionTimeS = 1609459200,
    minTtlS = 0,
    keyType = BigFormat.Utf8Type,
    clusteringTypes = Seq(BigFormat.Utf8Type, BigFormat.Int32Type),
    staticColumns = Nil,
    regularColumns = Seq(
      "a" -> BigFormat.Utf8Type,
      "b" -> BigFormat.LongType,
      "c" -> BigFormat.Utf8Type))

  private def roundTripVInt(v: Long): Unit = {
    val bos = new ByteArrayOutputStream()
    BigFormat.writeUnsignedVInt(v, new DataOutputStream(bos))
    val got = BigFormat.readUnsignedVInt(
      new DataInputStream(new ByteArrayInputStream(bos.toByteArray)))
    assert(got === v, s"unsigned vint $v")
  }

  test("vint coding round-trips every byte-length boundary") {
    // the 7-bit ladder: each step adds one leading-one flag bit
    val edges = Seq(0L, 1L, 127L, 128L, 16383L, 16384L,
      (1L << 21) - 1, 1L << 21, (1L << 28) - 1, 1L << 28,
      (1L << 35) - 1, 1L << 35, (1L << 42) - 1, 1L << 42,
      (1L << 49) - 1, 1L << 49, (1L << 56) - 1, 1L << 56,
      Long.MaxValue, -1L, Long.MinValue)
    edges.foreach(roundTripVInt)
    // sizes match VIntCoding.computeUnsignedVIntSize
    assert(BigFormat.unsignedVIntSize(0) === 1)
    assert(BigFormat.unsignedVIntSize(127) === 1)
    assert(BigFormat.unsignedVIntSize(128) === 2)
    assert(BigFormat.unsignedVIntSize(16383) === 2)
    assert(BigFormat.unsignedVIntSize(16384) === 3)
    assert(BigFormat.unsignedVIntSize(-1L) === 9)
  }

  test("signed vint zigzags") {
    val bos = new ByteArrayOutputStream()
    val d = new DataOutputStream(bos)
    Seq(0L, -1L, 1L, -64L, 64L, Long.MinValue, Long.MaxValue)
      .foreach(BigFormat.writeVInt(_, d))
    val in = new DataInputStream(new ByteArrayInputStream(bos.toByteArray))
    Seq(0L, -1L, 1L, -64L, 64L, Long.MinValue, Long.MaxValue)
      .foreach(v => assert(BigFormat.readVInt(in) === v))
  }

  test("Statistics.db header survives the TOC + checksum layout") {
    val bytes = BigFormat.writeStats(header)
    val back = BigFormat.readStats(bytes)
    assert(back === header)
    // corruption is detected, not silently misread
    val corrupt = bytes.clone()
    corrupt(corrupt.length - 6) = (corrupt(corrupt.length - 6) ^ 0x1).toByte
    intercept[IllegalArgumentException](BigFormat.readStats(corrupt))
  }

  private def roundTrip(p: BigFormat.PartitionData): BigFormat.PartitionData = {
    val bytes = BigFormat.writeDataFile(Seq(p), header)
    val got = BigFormat.partitions(header,
      new ByteArrayInputStream(bytes), "test").toSeq
    assert(got.size === 1)
    got.head
  }

  test("live row round-trips with row-liveness inheritance and overrides") {
    val ts = 1609459300L * 1000000L
    val row = BigFormat.RowAtom(
      clustering = Seq(Some("ck"), Some("42")),
      livenessTsUs = Some(ts), livenessTtlS = Some(600),
      livenessLdtS = Some(1609459900), deletionUs = None,
      cells = Seq(
        // inherits row ts AND row ttl → USE_ROW_TIMESTAMP|USE_ROW_TTL
        BigFormat.CellAtom("a", ts, Some(600), Some(1609459900),
          Some("hello"), deleted = false),
        // own timestamp, no ttl, fixed-length long value
        BigFormat.CellAtom("b", ts + 5000000L, None, None,
          Some("-9000000000"), deleted = false),
        // cell tombstone: no value, carries its own deletion second
        BigFormat.CellAtom("c", ts + 9000000L, None, Some(1609459309),
          None, deleted = true)))
    val got = roundTrip(BigFormat.PartitionData("pk1", None, Seq(row)))
    assert(got.key === "pk1")
    assert(got.deletionUs === None)
    assert(got.atoms === Seq(row))
  }

  test("partition, row and empty-value shapes round-trip") {
    val del = 1609459400L * 1000000L
    val partDel = BigFormat.PartitionData("gone", Some(del), Seq.empty)
    assert(roundTrip(partDel) === partDel)

    val rowDel = BigFormat.PartitionData("p2", None, Seq(
      BigFormat.RowAtom(Seq(Some("x"), None), None, None, None,
        Some(del + 1), Nil)))
    assert(roundTrip(rowDel) === rowDel)

    // pk-only insert + empty-string and null clustering values + empty value
    val pkOnly = BigFormat.PartitionData("p3", None, Seq(
      BigFormat.RowAtom(Seq(Some(""), Some("7")), Some(del + 2), None,
        None, None, Nil),
      BigFormat.RowAtom(Seq(Some("y"), Some("8")), Some(del + 3), None,
        None, None, Seq(
          BigFormat.CellAtom("a", del + 3, None, None, Some(""),
            deleted = false)))))
    assert(roundTrip(pkOnly) === pkOnly)
  }

  test("range-tombstone bounds and boundaries round-trip") {
    val del = 1609459500L * 1000000L
    val p = BigFormat.PartitionData("rt", None, Seq(
      BigFormat.MarkerAtom(BigFormat.Kind.InclStartBound,
        Seq(Some("m1")), Seq(del)),
      BigFormat.MarkerAtom(BigFormat.Kind.ExclEndInclStartBoundary,
        Seq(Some("m2")), Seq(del + 1, del + 2)),
      BigFormat.MarkerAtom(BigFormat.Kind.ExclEndBound,
        Seq(Some("m3")), Seq(del + 3))))
    assert(roundTrip(p) === p)
  }

  test("multi-partition files stream in order with one-partition memory") {
    val ps = (0 until 100).map { i =>
      BigFormat.PartitionData(s"k$i", None, Seq(
        BigFormat.RowAtom(Seq(Some(s"c$i"), Some(i.toString)),
          Some(1609459200L * 1000000L + i), None, None, None, Nil)))
    }
    val bytes = BigFormat.writeDataFile(ps, header)
    val it = BigFormat.partitions(header,
      new ByteArrayInputStream(bytes), "test")
    // the file lays partitions out in token order; the stream decodes
    // them lazily in exactly that order
    val tokenOrder = (0 until 100).map(i => s"k$i")
      .sortBy(k => BigFormat.murmur3Token(k.getBytes("UTF-8")))
    assert(it.next().key === tokenOrder.head)
    assert(it.next().key === tokenOrder(1))
    assert(it.toSeq.map(_.key) === tokenOrder.drop(2))
  }

  test("m-series (3.x) metadata is checksumless and round-trips; eras decode identically") {
    val plain = BigFormat.writeStats(header, "me")
    val summed = BigFormat.writeStats(header, "nb")
    // the m-series layout is the n-series stream minus 3 CRC words
    assert(summed.length === plain.length + 12)
    assert(BigFormat.readStats(plain, checksummed = false) === header)
    assert(!BigFormat.versionHasMetadataChecksum("me"))
    assert(!BigFormat.versionHasMetadataChecksum("md"))
    assert(BigFormat.versionHasMetadataChecksum("na"))
    assert(BigFormat.versionHasMetadataChecksum("nb"))
  }

  test("murmur3 tokens match Cassandra's published partitioner values") {
    // known answers for the hash3_x64_128 port (signed-tail quirk
    // included): 'jim' and 'hello' are the published `token()` values
    // from the Cassandra/DataStax docs and release blogs; all five are
    // additionally cross-checked against an independent from-spec
    // reimplementation
    val expected = Map(
      "jim" -> 2680261686609811218L,
      "carol" -> -3169904368870211108L,
      "johnny" -> -2876970619340914070L,
      "suzy" -> 4113135677556563029L,
      "hello" -> -3758069500696749310L)
    expected.foreach { case (k, tok) =>
      assert(BigFormat.murmur3Token(k.getBytes("UTF-8")) === tok, k)
    }
    // multi-block + tail coverage across the 16-byte block boundary,
    // high-bit bytes included (the signed-tail path): known answers
    // from the same independent reimplementation
    // a pure high-bit 15-byte tail exercises every signed read
    assert(BigFormat.murmur3Token(
      Array.tabulate(15)(i => (0x80 + i).toByte)) === 63099782945186636L)
    assert(BigFormat.murmur3Token(("a" * 16).getBytes("UTF-8")) ===
      -954455200256842034L)
    assert(BigFormat.murmur3Token(("a" * 17).getBytes("UTF-8")) ===
      8030503933958084248L)
    assert(BigFormat.murmur3Token(("a" * 33).getBytes("UTF-8")) ===
      -2292680244614409027L)
  }

  test("data files lay partitions out in token order") {
    val ps = Seq("jim", "carol", "johnny", "suzy").map(k =>
      BigFormat.PartitionData(k, None, Seq(
        BigFormat.RowAtom(Seq(Some("c"), Some("1")),
          Some(1609459200L * 1000000L), None, None, None, Nil))))
    val bytes = BigFormat.writeDataFile(ps, header)
    val keys = BigFormat.partitions(header,
      new ByteArrayInputStream(bytes), "test").map(_.key).toSeq
    val expectedOrder = ps.map(_.key).sortBy(k =>
      BigFormat.murmur3Token(k.getBytes("UTF-8")))
    assert(keys === expectedOrder)
    assert(keys === Seq("carol", "johnny", "jim", "suzy"))
  }

  test("property: arbitrary partitions round-trip bit-exactly (ScalaCheck)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val genPartition = BigFormatGen.partition()
    val hdr = BigFormatGen.header
    (1 to 40).foreach { seed =>
      val parts0 = Gen.listOfN(4, genPartition)
        .apply(Gen.Parameters.default, Seed(seed.toLong))
        .getOrElse(sys.error("gen failed"))
        .distinctBy(_.key)
      val bytes = BigFormat.writeDataFile(parts0, hdr)
      val back = BigFormat.partitions(hdr,
        new ByteArrayInputStream(bytes), s"prop-$seed").toSeq
      val expected = parts0.sortBy(p =>
        (BigFormat.murmur3Token(p.key.getBytes("UTF-8")), p.key))
      assert(back.map(_.key) === expected.map(_.key), s"seed $seed keys")
      back.zip(expected).foreach { case (b, e) =>
        assert(b === e, s"seed $seed partition ${e.key}")
      }
    }
  }

  test("complex columns round-trip: map/set/list CellPaths and complex deletions") {
    val ts = 1609459300L * 1000000L
    val hdr = BigFormat.Header(
      minTimestampUs = 1609459200L * 1000000L,
      minLocalDeletionTimeS = 1609459200, minTtlS = 0,
      keyType = BigFormat.Utf8Type,
      clusteringTypes = Seq(BigFormat.Utf8Type),
      staticColumns = Nil,
      regularColumns = Seq(
        "a" -> BigFormat.Utf8Type,
        "m" -> BigFormat.mapType(BigFormat.Utf8Type, BigFormat.Int32Type),
        "s" -> BigFormat.setType(BigFormat.Utf8Type),
        "l" -> BigFormat.listType(BigFormat.Utf8Type)))
    // type decomposition
    assert(BigFormat.complexOf(hdr.regularColumns(1)._2) ===
      Some((BigFormat.Utf8Type, BigFormat.Int32Type)))
    assert(BigFormat.complexOf(BigFormat.Utf8Type) === None)
    val row = BigFormat.RowAtom(
      clustering = Seq(Some("ck")),
      livenessTsUs = Some(ts), livenessTtlS = None, livenessLdtS = None,
      deletionUs = None,
      cells = Seq(
        BigFormat.CellAtom("a", ts, None, None, Some("plain"), false),
        // map: int values, string-key paths; one expiring, one deleted
        BigFormat.CellAtom("m", ts + 1, Some(60), Some(1609459360),
          Some("7"), false, Some("key1")),
        BigFormat.CellAtom("m", ts + 2, None, Some(1609459300), None,
          deleted = true, path = Some("key2")),
        // set: empty values, element-as-path
        BigFormat.CellAtom("s", ts + 3, None, None, Some(""), false,
          Some("elem")),
        // list: 16-byte timeuuid path, hex-rendered
        BigFormat.CellAtom("l", ts + 4, None, None, Some("item"), false,
          Some("00112233445566778899aabbccddeeff"))),
      complexDeletions = Seq("l" -> (ts - 5)))
    val bytes = BigFormat.writeDataFile(
      Seq(BigFormat.PartitionData("pk", None, Seq(row))), hdr)
    val got = BigFormat.partitions(hdr,
      new ByteArrayInputStream(bytes), "cplx").toSeq
    assert(got.size === 1)
    assert(got.head.atoms === Seq(row))
    // a complex column with a deletion but NO cells (full overwrite
    // to empty) survives too, and mixes with untouched columns
    val row2 = BigFormat.RowAtom(Seq(Some("ck2")), Some(ts), None, None,
      None, Seq(BigFormat.CellAtom("a", ts, None, None, Some("x"), false)),
      complexDeletions = Seq("m" -> ts, "s" -> (ts + 1)))
    val b2 = BigFormat.writeDataFile(
      Seq(BigFormat.PartitionData("p2", None, Seq(row2))), hdr)
    assert(BigFormat.partitions(hdr, new ByteArrayInputStream(b2),
      "cplx2").toSeq.head.atoms === Seq(row2))
  }

  test("static rows and counter cells round-trip; shadowable deletions reject") {
    val ts = 1609459300L * 1000000L
    val hdr = BigFormat.Header(
      minTimestampUs = 1609459200L * 1000000L,
      minLocalDeletionTimeS = 1609459200, minTtlS = 0,
      keyType = BigFormat.Utf8Type,
      clusteringTypes = Seq(BigFormat.Utf8Type),
      staticColumns = Seq(
        "stot" -> BigFormat.Utf8Type, "stitle" -> BigFormat.Utf8Type),
      regularColumns = Seq(
        "hits" -> BigFormat.CounterColumnType,
        "len" -> BigFormat.Utf8Type))
    val staticRow = BigFormat.RowAtom(Nil, None, None, None, None, Seq(
      // static cells can expire — TTL'd static cell + plain one
      BigFormat.CellAtom("stot", ts, Some(60), Some(1609459360),
        Some("42"), false),
      BigFormat.CellAtom("stitle", ts + 1, None, None, Some("title"),
        false)), static = true)
    val clustered = BigFormat.RowAtom(Seq(Some("ck")), Some(ts + 2),
      None, None, None, Seq(
        // counter context bytes ride the hex carry, bit-identical
        BigFormat.CellAtom("hits", ts + 3, None, None,
          Some("0011aaff00000007"), false),
        BigFormat.CellAtom("len", ts + 2, None, None, Some("9"), false)))
    val p = BigFormat.PartitionData("pk", None, Seq(staticRow, clustered))
    val bytes = BigFormat.writeDataFile(Seq(p), hdr)
    val got = BigFormat.partitions(hdr,
      new ByteArrayInputStream(bytes), "static").toSeq
    assert(got.size === 1)
    assert(got.head.atoms === Seq(staticRow, clustered))
    assert(got.head.atoms.head.asInstanceOf[BigFormat.RowAtom].static)
    // a subset static row (one of two static columns) round-trips too
    val partial = BigFormat.PartitionData("pk2", None, Seq(
      BigFormat.RowAtom(Nil, None, None, None, None, Seq(
        BigFormat.CellAtom("stitle", ts, None, None, Some("only"),
          false)), static = true)))
    assert(BigFormat.partitions(hdr, new ByteArrayInputStream(
      BigFormat.writeDataFile(Seq(partial), hdr)), "s2").toSeq
      .head.atoms === partial.atoms)
    // the OTHER extended flag (shadowable MV deletion) still rejects
    val bos = new ByteArrayOutputStream()
    val d = new DataOutputStream(bos)
    val keyB = "pk".getBytes("UTF-8")
    d.writeShort(keyB.length); d.write(keyB)
    d.writeInt(BigFormat.NoDeletionTime); d.writeLong(BigFormat.NoTimestamp)
    d.write(BigFormat.ExtensionFlag)
    d.write(BigFormat.ExtendedShadowableDeletion)
    val ex = intercept[UnsupportedOperationException] {
      BigFormat.partitions(hdr, new ByteArrayInputStream(bos.toByteArray),
        "shadow").toSeq
    }
    assert(ex.getMessage.contains("shadowable"))
  }

  test("subset violations raise loudly instead of misreading") {
    intercept[UnsupportedOperationException] {
      BigFormat.renderValue("org.apache.cassandra.db.marshal.ListType", Array())
    }
  }

  test("truncation mid-vint and mid-flags raises EOF, never decodes garbage") {
    // a multi-byte vint cut after its first byte: without the
    // continuation-byte EOF check this decodes 0xff padding silently
    val bos = new ByteArrayOutputStream()
    BigFormat.writeUnsignedVInt(1L << 42, new DataOutputStream(bos))
    val full = bos.toByteArray
    assert(full.length > 1)
    (1 until full.length).foreach { keep =>
      intercept[java.io.EOFException] {
        BigFormat.readUnsignedVInt(new DataInputStream(
          new ByteArrayInputStream(full.take(keep))))
      }
    }
    // a partition truncated at EVERY byte boundary raises with the
    // file named — covering the cell-flags and marker-kind byte reads
    val p = BigFormat.PartitionData("pk", None, Seq(
      BigFormat.RowAtom(Seq(Some("c"), Some("1")),
        Some(1609459300L * 1000000L), None, None, None, Seq(
          BigFormat.CellAtom("a", 1609459300L * 1000000L, None, None,
            Some("v"), deleted = false))),
      BigFormat.MarkerAtom(BigFormat.Kind.InclStartBound,
        Seq(Some("m")), Seq(1609459400L * 1000000L))))
    val bytes = BigFormat.writeDataFile(Seq(p), header)
    (1 until bytes.length).foreach { keep =>
      val ex = intercept[java.io.EOFException] {
        BigFormat.partitions(header,
          new ByteArrayInputStream(bytes.take(keep)), "trunc-test").toSeq
      }
      assert(ex.getMessage.contains("trunc-test"), s"at byte $keep")
    }
  }

  test("chunk compression round-trips all four Cassandra compressors") {
    import graft.sources.CompressedData
    val rng = new scala.util.Random(42)
    // > 3 chunks of mixed compressible + random content
    val raw = (Array.fill(40000)('a'.toByte) ++
      Array.fill(20000)((rng.nextInt(256) - 128).toByte) ++
      "the quick brown fox".getBytes("UTF-8"))
    Seq(CompressedData.Lz4, CompressedData.Snappy,
      CompressedData.Deflate, CompressedData.Zstd).foreach { comp =>
      val (cbytes, meta) = CompressedData.compress(raw, 16 * 1024, comp)
      assert(meta.offsets.length === 4, comp) // ceil(60019/16384)
      assert(meta.dataLength === raw.length.toLong, comp)
      val back = new java.io.DataInputStream(
        CompressedData.decompressingStream(
          new ByteArrayInputStream(cbytes), cbytes.length, meta, "t"))
      val got = new Array[Byte](raw.length)
      back.readFully(got)
      assert(back.read() === -1, comp)
      assert(got === raw, comp)
      // metadata layout survives both eras (n-series carries the
      // maxCompressedSize word, m-series does not)
      Seq(true, false).foreach { hasMax =>
        val mb = CompressedData.writeMeta(meta, hasMax)
        val rt = CompressedData.readMeta(mb, hasMax, "t")
        assert(rt.compressor === meta.compressor)
        assert(rt.chunkLength === meta.chunkLength)
        assert(rt.dataLength === meta.dataLength)
        assert(rt.offsets.toSeq === meta.offsets.toSeq)
      }
    }
  }

  test("exact-length final chunks are arbitrated by decompression, not misread as raw") {
    import graft.sources.CompressedData
    // a partially-compressible tail CAN compress to exactly its input
    // length — find such data deterministically (zero-run prefix +
    // random tail, scanning the run length until the LZ4 frame lands
    // on the input size). The length-equality rule alone would serve
    // the compressed bytes as raw data: silent corruption.
    val lz4 = net.jpountz.lz4.LZ4Factory.fastestInstance
    def frame(data: Array[Byte]): Array[Byte] = {
      val c = lz4.fastCompressor()
      val out = new Array[Byte](4 + c.maxCompressedLength(data.length))
      out(0) = data.length.toByte; out(1) = (data.length >>> 8).toByte
      out(2) = (data.length >>> 16).toByte
      out(3) = (data.length >>> 24).toByte
      val n = c.compress(data, 0, data.length, out, 4, out.length - 4)
      java.util.Arrays.copyOf(out, 4 + n)
    }
    val found = (190 to 230).iterator.flatMap { len =>
      (0 until len).iterator.map { z =>
        val rng = new scala.util.Random(7 * len + z)
        val d = Array.fill(z)(0.toByte) ++
          Array.fill(len - z)((rng.nextInt(256) - 128).toByte)
        (d, frame(d))
      }.find { case (d, f) => f.length == d.length }
    }.take(1).toSeq
    assert(found.nonEmpty,
      "no exact-length-compressing tail found — widen the search")
    val (data, block) = found.head
    def crc(b: Array[Byte]): Int = {
      val c = new java.util.zip.CRC32(); c.update(b); c.getValue.toInt
    }
    def chunkStream(b: Array[Byte]): Array[Byte] =
      b ++ java.nio.ByteBuffer.allocate(4).putInt(crc(b)).array()
    // a foreign n-series file: real maxCompressedSize, one final
    // chunk whose stored length equals its logical length
    val meta = CompressedData.Meta(CompressedData.Lz4, Map.empty,
      chunkLength = 256, maxCompressedSize = data.length + 20,
      dataLength = data.length.toLong, offsets = Array(0L))
    val bytes = chunkStream(block)
    val in = new java.io.DataInputStream(CompressedData
      .decompressingStream(new ByteArrayInputStream(bytes),
        bytes.length, meta, "eqlen-test"))
    val got = new Array[Byte](data.length)
    in.readFully(got)
    assert(in.read() === -1)
    assert(got === data,
      "exact-length compressed tail was served as raw bytes")
    // the GENUINE raw tail (stored verbatim below maxCompressedSize)
    // still serves: it does not decode as LZ4, so the fallback keeps
    // the bytes. First 4 bytes declare an absurd uncompressed length.
    val rawTail = Array.fill(data.length)(0xff.toByte)
    val rawBytes = chunkStream(rawTail)
    val in2 = new java.io.DataInputStream(CompressedData
      .decompressingStream(new ByteArrayInputStream(rawBytes),
        rawBytes.length, meta, "rawtail-test"))
    val got2 = new Array[Byte](rawTail.length)
    in2.readFully(got2)
    assert(in2.read() === -1)
    assert(got2 === rawTail, "true raw tail no longer serves verbatim")
  }

  test("Adler32-era (2.x) chunk checksums round-trip and mismatch loudly") {
    import graft.sources.CompressedData
    // the checksum algorithm follows the FORMAT VERSION: 2.x eras
    // Adler32, 3.0+ CRC32
    assert(CompressedData.versionUsesAdler32("ka"))
    assert(CompressedData.versionUsesAdler32("la"))
    assert(!CompressedData.versionUsesAdler32("ma"))
    assert(!CompressedData.versionUsesAdler32("nb"))
    assert(!CompressedData.versionUsesAdler32("oa"))
    val rng = new scala.util.Random(11)
    val raw = Array.fill(40000)('a'.toByte) ++
      Array.fill(9000)((rng.nextInt(256) - 128).toByte)
    val (cbytes, meta) =
      CompressedData.compress(raw, 16 * 1024, CompressedData.Lz4,
        adler = true)
    assert(meta.adler)
    val back = new java.io.DataInputStream(
      CompressedData.decompressingStream(
        new ByteArrayInputStream(cbytes), cbytes.length, meta, "t"))
    val got = new Array[Byte](raw.length)
    back.readFully(got)
    assert(back.read() === -1)
    assert(got === raw)
    // the adler flag survives the metadata round-trip (it rides the
    // read call, not the file — CompressionInfo.db is era-agnostic)
    val rt = CompressedData.readMeta(
      CompressedData.writeMeta(meta, false), false, "t", adler = true)
    assert(rt.adler)
    // CRC32-checksummed chunks misread under the Adler era must fail
    // LOUDLY naming the algorithm, never decode silently
    val (crcBytes, crcMeta) = CompressedData.compress(raw, 16 * 1024)
    val ex = intercept[java.io.IOException] {
      val s = new java.io.DataInputStream(
        CompressedData.decompressingStream(
          new ByteArrayInputStream(crcBytes), crcBytes.length,
          crcMeta.copy(adler = true), "era-mix"))
      s.readFully(new Array[Byte](raw.length))
    }
    assert(ex.getMessage.contains("Adler32"))
    assert(ex.getMessage.contains("era-mix"))
  }

  test("chunks stored raw past maxCompressedSize pass through verified") {
    import graft.sources.CompressedData
    // craft a compressed file where chunk 1 is STORED RAW (the
    // n-series min_compress_ratio path): its slot holds the plain
    // bytes + CRC, and the reader must pass it through because its
    // length reaches maxCompressedSize — no LZ4 decode attempt
    val rng = new scala.util.Random(7)
    val chunk0 = Array.fill(4096)('a'.toByte) // compresses well
    val chunk1 = Array.fill(4096)((rng.nextInt(256) - 128).toByte)
    val (c0, _) = CompressedData.compress(chunk0, 4096)
    def crc(b: Array[Byte]): Int = {
      val c = new java.util.zip.CRC32(); c.update(b); c.getValue.toInt
    }
    val bos = new java.io.ByteArrayOutputStream()
    val d = new DataOutputStream(bos)
    // slot 0: the LZ4-compressed form of chunk0 (reuse compress's)
    val slot0 = java.util.Arrays.copyOfRange(c0, 0, c0.length - 4)
    d.write(slot0); d.writeInt(crc(slot0))
    val off1 = bos.size().toLong
    d.write(chunk1); d.writeInt(crc(chunk1)) // slot 1: raw
    val bytes = bos.toByteArray
    val meta = CompressedData.Meta(CompressedData.Lz4, Map.empty,
      4096, maxCompressedSize = 4096, dataLength = 8192,
      offsets = Array(0L, off1))
    val in = new java.io.DataInputStream(
      CompressedData.decompressingStream(
        new ByteArrayInputStream(bytes), bytes.length, meta, "t"))
    val got = new Array[Byte](8192)
    in.readFully(got)
    assert(in.read() === -1)
    assert(got.take(4096).toSeq === chunk0.toSeq)
    assert(got.drop(4096).toSeq === chunk1.toSeq)
  }

  test("compressed chunk corruption and unknown compressors raise loudly") {
    import graft.sources.CompressedData
    val raw = Array.fill(50000)('x'.toByte)
    val (cbytes, meta) = CompressedData.compress(raw, 16 * 1024)
    // flip one byte inside chunk 1's compressed data → CRC mismatch
    // naming the file and chunk, never silent garbage
    val corrupt = cbytes.clone()
    corrupt(meta.offsets(1).toInt + 2) =
      (corrupt(meta.offsets(1).toInt + 2) ^ 0x4).toByte
    val s = CompressedData.decompressingStream(
      new ByteArrayInputStream(corrupt), corrupt.length, meta, "f.db")
    val ex = intercept[java.io.IOException] {
      val buf = new Array[Byte](50000)
      var n = 0
      while (n >= 0) n = s.read(buf, 0, buf.length)
    }
    assert(ex.getMessage.contains("f.db"))
    assert(ex.getMessage.contains("CRC"))
    // an unsupported compressor is named at metadata-read time — the
    // loud floor, long before any vint decode could misfire
    val badMeta = CompressedData.writeMeta(meta, hasMaxCompressedSize = true)
      // patch the UTF name: rewrite via a fresh meta
    val ex2 = intercept[UnsupportedOperationException] {
      val bos = new java.io.ByteArrayOutputStream()
      val d = new DataOutputStream(bos)
      d.writeUTF("BrotliCompressor"); d.writeInt(0); d.writeInt(16384)
      d.writeInt(Int.MaxValue); d.writeLong(100L); d.writeInt(0)
      CompressedData.readMeta(bos.toByteArray, true, "g.db")
    }
    assert(ex2.getMessage.contains("BrotliCompressor"))
    assert(ex2.getMessage.contains("g.db"))
    assert(badMeta.nonEmpty)
  }

  test("filename era detection: new-style vs old-style (≤2.1) names") {
    assert(SSTableBinaryV2.versionOf("nb-1-big-Data.db") === "nb")
    assert(SSTableBinaryV2.versionOf("me-12-big-Statistics.db") === "me")
    // real 2.1 files carry keyspace/table in the name; the version
    // sits third-from-last
    assert(SSTableBinaryV2.versionOf(
      "mykeyspace-mytable-ka-3-Data.db") === "ka")
    assert(SSTableBinaryV2.versionOf("graft-documents-jb-1-Data.db")
      === "jb")
  }

  test("listing order is generation-numeric, not lexicographic") {
    // gen 10 sorts AFTER gen 2 — the streaming-offset stability
    // contract for generation-numbered landing zones
    val names = Seq("d/nb-10-big-Data.db", "d/nb-2-big-Data.db",
      "d/nb-1-big-Data.db", "d/me-3-big-Data.db")
    val sorted = names.sortBy(SSTableBinaryV2.generationSortKey)
    assert(sorted === Seq("d/nb-1-big-Data.db", "d/nb-2-big-Data.db",
      "d/me-3-big-Data.db", "d/nb-10-big-Data.db"))
    // directories group first: files of one table stay contiguous
    val twoDirs = Seq("t2/nb-1-big-Data.db", "t1/nb-10-big-Data.db",
      "t1/nb-2-big-Data.db")
    assert(twoDirs.sortBy(SSTableBinaryV2.generationSortKey) ===
      Seq("t1/nb-2-big-Data.db", "t1/nb-10-big-Data.db",
        "t2/nb-1-big-Data.db"))
  }

  test("compareEncoded pins each marshal type's comparator byte order") {
    import BigFormat._
    def cmp(t: String, a: String, b: String): Int =
      compareEncoded(t, encodeValue(t, a), encodeValue(t, b))
    // numeric types compare the VALUE (a rendered-string sort would
    // say '10' < '2' and '-5' > '3')
    assert(cmp(Int32Type, "2", "10") < 0)
    assert(cmp(Int32Type, "-5", "3") < 0)
    assert(cmp(LongType, "-9999999999", "1") < 0)
    assert(cmp(TimestampType, "999", "1000") < 0)
    assert(cmp(DoubleType, "-1.5", "0.25") < 0)
    assert(cmp(FloatType, "2.5", "10.25") < 0)
    assert(cmp(VarintType,
      "90000000000000000000", "100000000000000000000") < 0)
    assert(cmp(DecimalType, "2.50", "2.5") === 0) // scale-insensitive
    assert(cmp(DecimalType, "-0.001", "0.0001") < 0)
    assert(cmp(BooleanType, "false", "true") < 0)
    // text IS lexicographic; bytes/inet unsigned (0x80 > 0x7f)
    assert(cmp(Utf8Type, "10", "2") < 0)
    assert(cmp(InetAddressType, "10.0.0.1", "192.168.0.1") < 0)
    assert(compareEncoded(BytesType,
      Array(0x7f.toByte), Array(0x80.toByte)) < 0)
    // timeuuid orders by the reassembled v1 timestamp, not raw bytes:
    // time_mid=1 (ts = 2^32) must sort AFTER time_low=1 (ts = 1)
    // even though its raw bytes are lexicographically smaller
    val tsLow1 = "00000001000010008000000000000000"
    val tsMid1 = "00000000000110008000000000000000"
    assert(cmp(TimeUuidType, tsLow1, tsMid1) < 0)
    // v4 uuids fall back to unsigned raw order
    assert(cmp(UuidType, "40000000-0000-4000-8000-000000000000",
      "c0000000-0000-4000-8000-000000000000") < 0)
  }

  test("compareClusterable interleaves marker kinds around rows (ClusteringComparator semantics)") {
    import BigFormat._
    val t = Seq(Int32Type)
    def enc(v: Int) = Seq(Some(encodeValue(Int32Type, v.toString)))
    def c(a: Seq[Option[Array[Byte]]], ka: Int,
        b: Seq[Option[Array[Byte]]], kb: Int) =
      compareClusterable(t, a, ka, b, kb)
    // at EQUAL prefix: inclusive-start and exclusive-end sort before
    // the row; inclusive-end and exclusive-start after
    assert(c(enc(5), Kind.InclStartBound, enc(5), Kind.Clustering) < 0)
    assert(c(enc(5), Kind.ExclEndBound, enc(5), Kind.Clustering) < 0)
    assert(c(enc(5), Kind.InclEndBound, enc(5), Kind.Clustering) > 0)
    assert(c(enc(5), Kind.ExclStartBound, enc(5), Kind.Clustering) > 0)
    // values dominate kinds when they differ — typed compare
    assert(c(enc(2), Kind.ExclStartBound, enc(10), Kind.Clustering) < 0)
    // an empty-prefix bound brackets every row by comparedToClustering
    assert(c(Nil, Kind.InclStartBound, enc(Int.MinValue),
      Kind.Clustering) < 0)
    assert(c(Nil, Kind.InclEndBound, enc(Int.MaxValue),
      Kind.Clustering) > 0)
  }

  test("promoted index envelope round-trips (RowIndexEntry.IndexedEntry layout)") {
    import BigFormat._
    val types = Seq(LongType)
    val blocks = Seq(
      IndexInfo((Seq(Some("1")), Kind.Clustering),
        (Seq(Some("4200")), Kind.Clustering), 30L, 66000L, None),
      IndexInfo((Seq(Some("4300")), Kind.InclStartBound),
        (Seq(Some("-7")), Kind.ExclEndBound), 66030L, 64100L,
        Some(1609459200000000L)),
      IndexInfo((Seq(Some("9000")), Kind.Clustering),
        (Seq(Some("9050")), Kind.Clustering), 130130L, 1000L, None))
    val p = Promoted(30L, Some(1609459300000000L), blocks)
    val back = readPromoted(writePromoted(p, types), types, "t")
    assert(back === p)
    // LIVE partition deletion round-trips as None
    val live = Promoted(12L, None, blocks.take(2))
    assert(readPromoted(writePromoted(live, types), types, "t") === live)
    // trailing garbage is loud, never silently ignored
    val ex = intercept[IllegalArgumentException] {
      readPromoted(writePromoted(p, types) :+ 0x7f.toByte, types, "t")
    }
    assert(ex.getMessage.contains("trailing"))
  }

  test("buildPromoted chunks atoms into ColumnIndex blocks; <2 blocks never promote") {
    import BigFormat._
    def row(ck: String) = RowAtom(Seq(Some(ck)), Some(0L), None, None,
      None, Nil)
    def marker(ck: String, kind: Int, del: Long) =
      MarkerAtom(kind, Seq(Some(ck)), Seq(del))
    // atoms at 100-byte strides after a 20-byte header; threshold 256
    // → blocks close after the atom that crosses 256 bytes of width
    val atoms: Seq[(Atom, Long)] = Seq(
      (row("a"), 20L), (row("b"), 120L),
      (marker("c", Kind.InclStartBound, 77L), 220L),
      (row("d"), 320L), (row("e"), 420L),
      (marker("f", Kind.InclEndBound, 77L), 520L), (row("g"), 620L))
    val p = buildPromoted(None, atoms, 720L, 256).get
    assert(p.headerLength === 20L)
    assert(p.blocks.map(b => (b.offset, b.width)) ===
      Seq((20L, 300L), (320L, 300L), (620L, 100L)))
    // the range tombstone left OPEN at block 0's end rides the block;
    // block 1 ends just after the closing marker, so nothing is open
    assert(p.blocks.map(_.endOpenMarkerUs) ===
      Seq(Some(77L), None, None))
    assert(p.blocks.head.firstName === (Seq(Some("a")), Kind.Clustering))
    assert(p.blocks.head.lastName ===
      (Seq(Some("c")), Kind.InclStartBound))
    // a static leading row belongs to the header region, not block 0
    val withStatic = (RowAtom(Nil, None, None, None, None, Nil,
      static = true), 20L) +: atoms.map { case (a, o) => (a, o + 80L) }
    val ps = buildPromoted(None, withStatic, 800L, 256).get
    assert(ps.headerLength === 100L)
    assert(ps.blocks.head.offset === 100L)
    // one block → no promotion
    assert(buildPromoted(None, atoms.take(2), 256L, 256).isEmpty)
    assert(buildPromoted(None, Nil, 20L, 256).isEmpty)
  }

  test("readPartitionSliced property: any random slice serves a block-aligned superset, exact under the residual filter") {
    import BigFormat._
    val hdr = BigFormat.Header(
      minTimestampUs = 1609459200L * 1000000L,
      minLocalDeletionTimeS = 1609459200,
      minTtlS = 0,
      keyType = Utf8Type,
      clusteringTypes = Seq(LongType),
      staticColumns = Nil,
      regularColumns = Seq("v" -> Utf8Type))
    val ts = 1609459200L * 1000000L
    for (seed <- Seq(7L, 99L, 20260815L)) {
      val rnd = new scala.util.Random(seed)
      val n = 50 + rnd.nextInt(250)
      val threshold = Seq(256, 512, 1024)(rnd.nextInt(3))
      val atoms: Seq[Atom] = (0L until n.toLong).map(ck =>
        RowAtom(Seq(Some(ck.toString)), Some(ts), None, None, None,
          Seq(CellAtom("v", ts, None, None,
            Some("x" * (20 + rnd.nextInt(60))), deleted = false))))
      val part = PartitionData("p", None, atoms)
      val (data, index) = writeDataFileIndexed(Seq(part), hdr, threshold)
      val (_, pos, promotedBytes) = index.head
      assert(promotedBytes.nonEmpty, s"seed=$seed did not promote")
      val promoted = readPromoted(promotedBytes, hdr.clusteringTypes, "t")
      def openAt(p: Long): java.io.InputStream =
        new ByteArrayInputStream(data, p.toInt, data.length - p.toInt)
      def cks(p: PartitionData): Seq[Long] = p.atoms.collect {
        case r: RowAtom if !r.static => r.clustering.head.get.toLong
      }
      for (_ <- 0 until 10) {
        // bounds roam past both ends so empty and total slices occur
        val a = -20L + rnd.nextInt(n + 40)
        val b = -20L + rnd.nextInt(n + 40)
        val (lo, hi) = (math.min(a, b), math.max(a, b))
        val loB =
          if (rnd.nextBoolean()) Seq(encodeValue(LongType, lo.toString))
          else Nil
        val hiB =
          if (rnd.nextBoolean()) Seq(encodeValue(LongType, hi.toString))
          else Nil
        val got = cks(readPartitionSliced(hdr, openAt, pos, promoted,
          loB, hiB, "t"))
        val want = (0L until n.toLong).filter(ck =>
          (loB.isEmpty || ck >= lo) && (hiB.isEmpty || ck <= hi))
        // superset of the filter's rows, subset of the partition,
        // contiguous (block-aligned), ordered
        assert(want.forall(got.contains),
          s"seed=$seed [$lo,$hi]: slice lost rows")
        assert(got.forall(ck => ck >= 0 && ck < n))
        assert(got === got.sorted)
        if (got.nonEmpty) assert(got === (got.head to got.last),
          s"seed=$seed [$lo,$hi]: non-contiguous block selection")
      }
    }
  }

  test("readPartitionSliced decodes only the slice's blocks (and strictly fewer bytes)") {
    import BigFormat._
    val hdr = BigFormat.Header(
      minTimestampUs = 1609459200L * 1000000L,
      minLocalDeletionTimeS = 1609459200,
      minTtlS = 0,
      keyType = Utf8Type,
      clusteringTypes = Seq(LongType),
      staticColumns = Seq("s" -> Utf8Type),
      regularColumns = Seq("v" -> Utf8Type))
    val ts = 1609459200L * 1000000L
    def row(ck: Long) = RowAtom(Seq(Some(ck.toString)), Some(ts), None,
      None, None,
      Seq(CellAtom("v", ts, None, None, Some("x" * 40), deleted = false)))
    val static = RowAtom(Nil, None, None, None, None,
      Seq(CellAtom("s", ts, None, None, Some("stat"), deleted = false)),
      static = true)
    // bigint clusterings + an interleaved range-tombstone pair, in
    // comparator order (an inclusive start bound sorts BEFORE its
    // row, an inclusive end bound after); 200 ~60-byte rows over
    // 256-byte blocks → dozens of blocks
    val atoms: Seq[Atom] = static +: (0L until 200L).flatMap { ck =>
      (if (ck == 90L)
        Seq(MarkerAtom(Kind.InclStartBound, Seq(Some("90")), Seq(ts + 5)))
      else Nil) ++ Seq(row(ck)) ++ (if (ck == 95L)
        Seq(MarkerAtom(Kind.InclEndBound, Seq(Some("95")), Seq(ts + 5)))
      else Nil)
    }
    val part = PartitionData("p", None, atoms)
    val (data, index) = writeDataFileIndexed(Seq(part), hdr, 256)
    val (_, pos, promotedBytes) = index.head
    assert(promotedBytes.nonEmpty, "partition did not promote")
    val promoted = readPromoted(promotedBytes, hdr.clusteringTypes, "t")
    assert(promoted.blocks.size > 5)
    var served = 0L
    def openAt(p: Long): java.io.InputStream =
      new java.io.InputStream {
        private val in = new ByteArrayInputStream(
          data, p.toInt, data.length - p.toInt)
        override def read(): Int = {
          val b = in.read(); if (b >= 0) served += 1; b
        }
        override def read(buf: Array[Byte], off: Int, len: Int): Int = {
          val n = in.read(buf, off, len); if (n > 0) served += n; n
        }
      }
    def cks(p: PartitionData): Seq[Long] = p.atoms.collect {
      case r: RowAtom if !r.static => r.clustering.head.get.toLong
    }
    val lo = Seq(encodeValue(LongType, "80"))
    val hi = Seq(encodeValue(LongType, "120"))
    val sliced = readPartitionSliced(hdr, openAt, pos, promoted,
      lo, hi, "t")
    assert(sliced.key === "p")
    // the static row always surfaces (header region)
    assert(sliced.atoms.head === static)
    // conservative superset of [80,120], strict subset of the partition
    val got = cks(sliced)
    assert((80L to 120L).forall(got.contains))
    assert(got.size < 200)
    assert(got === got.sorted, "sliced rows out of order")
    // block-aligned: everything decoded is contiguous in the original
    assert(got === (got.head to got.last))
    // the markers inside the slice decode too
    assert(sliced.atoms.collect { case m: MarkerAtom => m }.size === 2)
    // strictly fewer bytes than the whole partition
    assert(served < data.length,
      s"sliced read served $served of ${data.length} bytes")
    // lo-only and hi-only bounds
    val loOnly = cks(readPartitionSliced(hdr, openAt, pos, promoted,
      lo, Nil, "t"))
    assert(loOnly.last === 199L && !loOnly.contains(10L))
    val hiOnly = cks(readPartitionSliced(hdr, openAt, pos, promoted,
      Nil, Seq(encodeValue(LongType, "20")), "t"))
    assert(hiOnly.head === 0L && !hiOnly.contains(190L))
    // a slice past the data: header region only, no blocks decoded
    val empty = readPartitionSliced(hdr, openAt, pos, promoted,
      Seq(encodeValue(LongType, "5000")), Nil, "t")
    assert(cks(empty).isEmpty && empty.atoms === Seq(static))
    // bigint comparator order, not string order: lo=99 must include
    // three-digit clusterings that sort before "99" as strings
    val after99 = cks(readPartitionSliced(hdr, openAt, pos, promoted,
      Seq(encodeValue(LongType, "99")), Nil, "t"))
    assert(after99.contains(100L))
  }
}

/** The 2.x (pre-3.0) codec in isolation: composite names, mask
  * dispatch, range tombstones, row markers, counters, truncation. */
class OldFormatSpec extends AnyFunSuite {
  import graft.sources.OldFormat

  private val schema = OldFormat.Schema(
    keyType = BigFormat.Utf8Type,
    clusteringTypes = Seq(BigFormat.Utf8Type),
    columns = Map("len" -> BigFormat.Utf8Type,
      "n" -> BigFormat.Int32Type,
      "hits" -> BigFormat.CounterColumnType))

  private def roundTrip(p: OldFormat.Partition2): OldFormat.Partition2 = {
    val bytes = OldFormat.writeDataFile(Seq(p), schema)
    val got = OldFormat.partitions(schema,
      new ByteArrayInputStream(bytes), "t2").toSeq
    assert(got.size === 1)
    got.head
  }

  test("2.x cells round-trip: plain, expiring, deleted, counter, row marker") {
    val ts = 1609459300L * 1000000L
    val p = OldFormat.Partition2("pk", None, Seq(
      // CQL3 row marker: empty column name, empty value, row liveness
      OldFormat.Cell2(Seq("ck1"), "", ts, Some(600), Some(1609459900),
        Some(""), deleted = false, counter = false),
      OldFormat.Cell2(Seq("ck1"), "len", ts, Some(600), Some(1609459900),
        Some("42"), deleted = false, counter = false),
      // fixed-length int value through the composite name path
      OldFormat.Cell2(Seq("ck1"), "n", ts + 1, None, None,
        Some("-7"), deleted = false, counter = false),
      // deleted cell: value IS the 4-byte local-deletion second
      OldFormat.Cell2(Seq("ck2"), "len", ts + 2, None, Some(1609459300),
        None, deleted = true, counter = false),
      // counter cell with a REAL timestampOfLastDelete: the
      // bookkeeping long is model-carried, not read-and-dropped
      OldFormat.Cell2(Seq("ck3"), "hits", ts + 3, None, None,
        Some("00aaff17"), deleted = false, counter = true,
        counterTsOfLastDeleteUs = ts - 5000000L)))
    assert(roundTrip(p) === p)
  }

  test("2.x primary index: writeDataFileIndexed offsets decode their own partitions; ka Index.db round-trips") {
    import graft.sources.SSTableComponents
    val ts = 1609459300L * 1000000L
    val parts = (0 until 20).map { i =>
      OldFormat.Partition2(s"k$i", None, Seq(
        OldFormat.Cell2(Seq(s"c$i"), "len", ts + i, None, None,
          Some(("x" * (i + 1))), deleted = false, counter = false)))
    }
    val (bytes, index) = OldFormat.writeDataFileIndexed(parts, schema)
    assert(index.size === 20)
    assert(index.head._2 === 0L)
    assert(index.map(_._2) === index.map(_._2).sorted, "offsets ascend")
    // every offset decodes EXACTLY the partition its key names — the
    // getPosition contract (seek + single-partition read)
    index.foreach { case (keyBytes, off, _) =>
      val in = new ByteArrayInputStream(
        bytes, off.toInt, bytes.length - off.toInt)
      val p = OldFormat.partitions(schema, in, "t2").next()
      assert(BigFormat.encodeValue(schema.keyType, p.key).toSeq ===
        keyBytes.toSeq)
    }
    // entries land in TOKEN order (the 2.x comparator), not key order
    val tokens = index.map(e => BigFormat.murmur3Token(e._1))
    assert(tokens === tokens.sorted)
    // the fixed-width ka/la Index.db framing round-trips
    val idxBytes = SSTableComponents.writeIndex2x(index)
    val back = SSTableComponents.readIndex2x(idxBytes, "t2")
    assert(back.map(_._2) === index.map(_._2))
    assert(back.map(_._1.toSeq) === index.map(_._1.toSeq))
    assert(back.forall(_._3.isEmpty))
    // a truncated component fails loudly, never misparses
    intercept[java.io.EOFException] {
      SSTableComponents.readIndex2x(
        idxBytes.take(idxBytes.length - 3), "t2")
    }
  }

  test("2.x collection cells round-trip: map entries, set elements, list slots (WithCollection composite)") {
    val cs = OldFormat.schemaOfCql(graft.model.CqlSchema.parse(
      "CREATE TABLE ks.t (id text, ck text, tags map<text, text>, " +
        "labels set<int>, seq list<text>, PRIMARY KEY (id, ck))")
      .fold(e => fail(e), identity))
    val ts = 1609459300L * 1000000L
    val listPos = "10f0aa10000010008000000000000001" // timeuuid hex
    val p = OldFormat.Partition2("pk", None, Seq(
      OldFormat.Cell2(Seq("c1"), "tags[k0]", ts, Some(600),
        Some(1609459900), Some("v0"), deleted = false, counter = false),
      OldFormat.Cell2(Seq("c1"), "tags[k1]", ts + 1, None, None,
        Some("v1"), deleted = false, counter = false),
      // set elements: the value is EMPTY, identity lives in the path
      OldFormat.Cell2(Seq("c1"), "labels[42]", ts + 2, None, None,
        Some(""), deleted = false, counter = false),
      // list slots: timeuuid positions, value is the element
      OldFormat.Cell2(Seq("c1"), s"seq[$listPos]", ts + 3, None, None,
        Some("elem"), deleted = false, counter = false),
      // a DELETED map entry (2.x entry tombstone)
      OldFormat.Cell2(Seq("c2"), "tags[gone]", ts + 4, None,
        Some(1609459300), None, deleted = true, counter = false)))
    val bytes = OldFormat.writeDataFile(Seq(p), cs)
    val got = OldFormat.partitions(cs,
      new ByteArrayInputStream(bytes), "t2coll").toSeq
    assert(got === Seq(p))
    // loud boundaries: a path on a non-collection column, a bare
    // cell on a collection column, an undeclared column
    intercept[IllegalArgumentException] {
      OldFormat.writeDataFile(Seq(OldFormat.Partition2("pk", None, Seq(
        OldFormat.Cell2(Seq("c1"), "tags", ts, None, None, Some("x"),
          deleted = false, counter = false)))), cs)
    }
    intercept[IllegalArgumentException] {
      OldFormat.writeDataFile(Seq(OldFormat.Partition2("pk", None, Seq(
        OldFormat.Cell2(Seq("c1"), "nope[k]", ts, None, None, Some("x"),
          deleted = false, counter = false)))), cs)
    }
  }

  test("2.x range tombstones and partition deletions round-trip with eoc inclusivity") {
    val del = 1609459400L * 1000000L
    val partDel = OldFormat.Partition2("gone", Some(del), Nil)
    assert(roundTrip(partDel) === partDel)
    val rt = OldFormat.Partition2("p2", None, Seq(
      OldFormat.Tombstone2(Seq("a"), startInclusive = true,
        Seq("a"), endInclusive = true, del),
      OldFormat.Tombstone2(Seq("b"), startInclusive = false,
        Seq("d"), endInclusive = false, del + 1)))
    assert(roundTrip(rt) === rt)
  }

  test("2.x multi-partition files stream in token order; truncation names the file") {
    val ps = (0 until 50).map(i => OldFormat.Partition2(s"k$i", None, Seq(
      OldFormat.Cell2(Seq(s"c$i"), "len", 1609459200000000L + i, None,
        None, Some(i.toString), deleted = false, counter = false))))
    val bytes = OldFormat.writeDataFile(ps, schema)
    val keys = OldFormat.partitions(schema,
      new ByteArrayInputStream(bytes), "t").map(_.key).toVector
    assert(keys === (0 until 50).map(i => s"k$i")
      .sortBy(k => BigFormat.murmur3Token(k.getBytes("UTF-8"))))
    (1 until 40).foreach { keep =>
      val ex = intercept[java.io.EOFException] {
        OldFormat.partitions(schema,
          new ByteArrayInputStream(bytes.take(keep)), "trunc2x").toVector
      }
      assert(ex.getMessage.contains("trunc2x"), s"at byte $keep")
    }
  }

  test("property: arbitrary 2.x partitions round-trip bit-exactly (ScalaCheck)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val epoch = 1609459200L * 1000000L
    val genStr: Gen[String] = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(10)),
      Gen.const("päx→1"),
      Gen.listOfN(2, Gen.choose(0x21.toChar, 0x2fff.toChar)).map(_.mkString))
    val genCell: Gen[OldFormat.Cell2] = for {
      cl <- genStr.suchThat(_.nonEmpty)
      nm <- Gen.oneOf("len", "n", "") // "" = row marker
      dt <- Gen.chooseNum(-86400000000L, 86400000000L)
      shape <- Gen.chooseNum(0, 3)
      v <- genStr
    } yield {
      val value = if (nm == "n") "1234567" else v
      shape match {
        case 0 => OldFormat.Cell2(Seq(cl), nm, epoch + dt, None, None,
          Some(if (nm == "") "" else value), deleted = false,
          counter = false)
        case 1 => OldFormat.Cell2(Seq(cl), nm, epoch + dt, Some(600),
          Some(1609459900), Some(if (nm == "") "" else value),
          deleted = false, counter = false)
        case 2 => OldFormat.Cell2(Seq(cl), if (nm == "") "len" else nm,
          epoch + dt, None, Some(1609459300), None, deleted = true,
          counter = false)
        case _ => OldFormat.Cell2(Seq(cl), if (nm == "") "len" else nm,
          epoch + dt, None, None, Some("00aaff17"), deleted = false,
          counter = true,
          // non-trivial timestampOfLastDelete must round-trip too
          counterTsOfLastDeleteUs =
            if (dt % 2 == 0) epoch + dt - 1000000L else OldFormat.LiveMfda)
      }
    }
    val genTomb: Gen[OldFormat.Tombstone2] = for {
      a <- genStr.suchThat(_.nonEmpty)
      b <- genStr.suchThat(_.nonEmpty)
      si <- Gen.oneOf(true, false)
      ei <- Gen.oneOf(true, false)
      dt <- Gen.chooseNum(0L, 86400000000L)
    } yield OldFormat.Tombstone2(Seq(a), si, Seq(b), ei, epoch + dt)
    val genPart: Gen[OldFormat.Partition2] = for {
      key <- Gen.identifier.map(_.take(16)).suchThat(_.nonEmpty)
      del <- Gen.option(Gen.chooseNum(0L, 86400000000L).map(epoch + _))
      cells <- Gen.listOfN(3, genCell)
      tombs <- Gen.listOfN(1, genTomb)
    } yield OldFormat.Partition2(key, del, cells ++ tombs)
    val s2 = OldFormat.Schema(BigFormat.Utf8Type,
      Seq(BigFormat.Utf8Type),
      Map("len" -> BigFormat.Utf8Type, "n" -> BigFormat.Int32Type))
    (1 to 40).foreach { seed =>
      val ps = Gen.listOfN(4, genPart)
        .apply(Gen.Parameters.default, Seed(seed.toLong))
        .getOrElse(sys.error("gen failed"))
        .distinctBy(_.key)
      val bytes = OldFormat.writeDataFile(ps, s2)
      val back = OldFormat.partitions(s2,
        new ByteArrayInputStream(bytes), s"prop2x-$seed").toSeq
      val expected = ps.sortBy(p =>
        (BigFormat.murmur3Token(p.key.getBytes("UTF-8")), p.key))
      assert(back === expected, s"seed $seed")
    }
  }

  test("scalar marshal types: render ∘ encode is the identity; rejects are loud") {
    import BigFormat._
    def rt(tpe: String, s: String): Unit =
      assert(renderValue(tpe, encodeValue(tpe, s)) === s, s"$tpe: $s")
    Seq("0.0", "-0.0", "1.5", "3.141592653589793", "1.0E-300",
      "NaN", "Infinity", "-Infinity").foreach(rt(DoubleType, _))
    assert(encodeValue(DoubleType, "1.5").length === 8)
    Seq("0.0", "2.5", "-1.17549435E-38", "NaN").foreach(rt(FloatType, _))
    assert(encodeValue(FloatType, "2.5").length === 4)
    Seq("true", "false").foreach(rt(BooleanType, _))
    assert(encodeValue(BooleanType, "true") === Array(1.toByte))
    Seq("10.0.0.1", "192.168.255.254").foreach(rt(InetAddressType, _))
    assert(encodeValue(InetAddressType, "10.0.0.1").length === 4)
    // v6 literals render uncompressed; encode accepts both forms
    assert(encodeValue(InetAddressType, "2001:db8::1").length === 16)
    rt(InetAddressType,
      renderValue(InetAddressType,
        encodeValue(InetAddressType, "2001:db8::1")))
    Seq("0", "-1", "170141183460469231731687303715884105728",
      "-170141183460469231731687303715884105728")
      .foreach(rt(VarintType, _))
    // minimal two's-complement: 255 needs a sign byte, 127 doesn't
    assert(encodeValue(VarintType, "127").length === 1)
    assert(encodeValue(VarintType, "255").length === 2)
    Seq("0", "1.00", "-42.125", "1E+2", "1.7E-98").foreach(rt(DecimalType, _))
    // scale is part of identity: 1.00 (scale 2) != 1 (scale 0)
    assert(!java.util.Arrays.equals(
      encodeValue(DecimalType, "1.00"), encodeValue(DecimalType, "1")))
    // loud rejects
    intercept[IllegalArgumentException] {
      encodeValue(InetAddressType, "example.com") // no resolver calls
    }
    intercept[IllegalArgumentException] {
      renderValue(BooleanType, Array(1.toByte, 0.toByte))
    }
    intercept[IllegalArgumentException] {
      renderValue(InetAddressType, Array.fill(5)(0.toByte))
    }
    intercept[NumberFormatException] {
      encodeValue(VarintType, "not-a-number")
    }
    // CQL names resolve
    Seq("double" -> DoubleType, "float" -> FloatType,
      "boolean" -> BooleanType, "inet" -> InetAddressType,
      "varint" -> VarintType, "decimal" -> DecimalType).foreach {
      case (cql, m) => assert(marshalOfCql(cql) === Right(m))
    }
    // the 2.2-era quartet (CASSANDRA-7523): date as the 2^31-biased
    // unsigned day count, time as nanos-of-day, smallint/tinyint
    // fixed-width signed
    Seq("1970-01-01", "2026-08-14", "1969-12-31", "-999999-01-01")
      .foreach(rt(SimpleDateType, _))
    assert(encodeValue(SimpleDateType, "1970-01-01") ===
      Array(0x80.toByte, 0, 0, 0))
    assert(encodeValue(SimpleDateType, "1970-01-02") ===
      Array(0x80.toByte, 0, 0, 1))
    // the bias makes unsigned byte order the date order
    assert(compareEncoded(SimpleDateType,
      encodeValue(SimpleDateType, "1969-12-31"),
      encodeValue(SimpleDateType, "1970-01-01")) < 0)
    Seq("00:00:00.000000000", "23:59:59.999999999", "14:30:05.123000000")
      .foreach(rt(TimeType, _))
    assert(encodeValue(TimeType, "00:00:00.000000001") ===
      Array[Byte](0, 0, 0, 0, 0, 0, 0, 1))
    Seq("0", "-32768", "32767").foreach(rt(ShortType, _))
    assert(encodeValue(ShortType, "1").length === 2)
    Seq("0", "-128", "127").foreach(rt(ByteType, _))
    assert(encodeValue(ByteType, "-1") === Array((-1).toByte))
    intercept[IllegalArgumentException] {
      encodeValue(TimeType, "25:00:00.000000000") // past 24h
    }
    intercept[IllegalArgumentException] {
      encodeValue(TimeType, "1:2:3") // not the canonical form
    }
    intercept[NumberFormatException] {
      encodeValue(ShortType, "70000")
    }
    intercept[IllegalArgumentException] {
      renderValue(SimpleDateType, Array.fill(3)(0.toByte))
    }
    Seq("date" -> SimpleDateType, "time" -> TimeType,
      "smallint" -> ShortType, "tinyint" -> ByteType).foreach {
      case (cql, m) => assert(marshalOfCql(cql) === Right(m))
    }
  }

  test("composite partition keys render ':'-joined and re-encode; rejects are loud") {
    val ct = BigFormat.compositeType(
      Seq(BigFormat.Utf8Type, BigFormat.LongType))
    // render ∘ encode = identity on the ':'-joined carry
    val blob = BigFormat.encodeValue(ct, "src7:42")
    assert(BigFormat.renderValue(ct, blob) === "src7:42")
    // blob layout: [short 4]["src7"][0][short 8][8-byte BE 42][0]
    assert(blob.length === 2 + 4 + 1 + 2 + 8 + 1)
    assert(blob(6) === 0.toByte && blob.last === 0.toByte)
    // arity mismatches reject loudly, both directions
    intercept[IllegalArgumentException] {
      BigFormat.encodeValue(ct, "onlyone")
    }
    intercept[IllegalArgumentException] {
      // a ':' inside a text component inflates the split count
      BigFormat.encodeValue(ct, "a:b:3")
    }
    intercept[IllegalArgumentException] {
      // trailing bytes = more components than declared
      BigFormat.renderValue(
        BigFormat.compositeType(Seq(BigFormat.Utf8Type)), blob)
    }
    // non-zero end-of-component byte rejects
    val tampered = blob.clone(); tampered(6) = 1
    intercept[IllegalArgumentException] {
      BigFormat.renderValue(ct, tampered)
    }
    // nested parameterized component types split on TOP-LEVEL commas
    val nested = BigFormat.compositeType(Seq(
      BigFormat.mapType(BigFormat.Utf8Type, BigFormat.Int32Type),
      BigFormat.LongType))
    assert(BigFormat.compositeOf(nested) === Some(Seq(
      BigFormat.mapType(BigFormat.Utf8Type, BigFormat.Int32Type),
      BigFormat.LongType)))
  }

  test("clusteringless 2.x tables: CQL3 composite framing vs COMPACT bare names") {
    val ts = 1609459300L * 1000000L
    def schemaFor(compact: Boolean) = OldFormat.Schema(
      BigFormat.Utf8Type, Nil,
      Map("v" -> BigFormat.Utf8Type), compactStorage = compact)
    val p = OldFormat.Partition2("pk", None, Seq(
      // CQL3 row marker: EMPTY name component
      OldFormat.Cell2(Nil, "", ts, None, None, Some(""),
        deleted = false, counter = false),
      OldFormat.Cell2(Nil, "v", ts, Some(600), Some(1609459900),
        Some("val"), deleted = false, counter = false)))
    // both framings round-trip under their own schema
    Seq(true, false).foreach { compact =>
      val s = schemaFor(compact)
      val bytes = OldFormat.writeDataFile(
        Seq(if (compact) p.copy(atoms = p.atoms.tail) else p), s)
      val back = OldFormat.partitions(s,
        new ByteArrayInputStream(bytes), s"cless-$compact").toSeq
      assert(back.head.atoms ===
        (if (compact) p.atoms.tail else p.atoms), s"compact=$compact")
    }
    // the on-disk name bytes really differ: composite framing adds
    // [short len] + eoc around the bare name
    val bare = OldFormat.writeDataFile(
      Seq(p.copy(atoms = p.atoms.tail)), schemaFor(true))
    val framed = OldFormat.writeDataFile(
      Seq(p.copy(atoms = p.atoms.tail)), schemaFor(false))
    assert(framed.length === bare.length + 3)
    // reading CQL3-framed bytes with a compact schema misdeclares the
    // name → unknown-column loud reject, never a silent misparse
    intercept[UnsupportedOperationException] {
      OldFormat.partitions(schemaFor(true),
        new ByteArrayInputStream(framed), "misdeclared").toSeq
    }
  }

  test("COMPACT STORAGE with clustering: the thrift dynamic-CF shapes round-trip") {
    val ts = 1609459300L * 1000000L
    // single clustering column: names are RAW comparator bytes
    val s1 = OldFormat.Schema(BigFormat.Utf8Type,
      Seq(BigFormat.LongType),
      Map("value" -> BigFormat.Utf8Type), compactStorage = true)
    val p1 = OldFormat.Partition2("pk", None, Seq(
      OldFormat.Cell2(Seq("17"), "value", ts, None, None, Some("a"),
        deleted = false, counter = false),
      OldFormat.Cell2(Seq("42"), "value", ts + 1, Some(600),
        Some(1609459900), Some("b"), deleted = false, counter = false),
      // raw bounds: inclusive only; empty = open end
      OldFormat.Tombstone2(Seq("5"), startInclusive = true,
        Nil, endInclusive = true, ts + 2)))
    val b1 = OldFormat.writeDataFile(Seq(p1), s1)
    val back1 = OldFormat.partitions(s1,
      new ByteArrayInputStream(b1), "dyncf1").toSeq
    assert(back1 === Seq(p1))
    // the name really is the raw 8-byte long, not a composite
    // (8 bytes where a composite would add short-len + eoc framing)
    assert(b1.length ===
      OldFormat.writeDataFile(Seq(p1.copy(atoms = p1.atoms.tail)), s1)
        .length + 2 + 8 + 1 + 8 + 4 + 1)
    // multi clustering: CompositeType of EXACTLY the clustering
    // components (no trailing column-name component)
    val s2 = OldFormat.Schema(BigFormat.Utf8Type,
      Seq(BigFormat.Utf8Type, BigFormat.Int32Type),
      Map("value" -> BigFormat.Utf8Type), compactStorage = true)
    val p2 = OldFormat.Partition2("pk2", None, Seq(
      OldFormat.Cell2(Seq("a", "1"), "value", ts, None, None, Some("x"),
        deleted = false, counter = false),
      OldFormat.Tombstone2(Seq("b"), startInclusive = false,
        Seq("c", "9"), endInclusive = true, ts + 3)))
    val b2 = OldFormat.writeDataFile(Seq(p2), s2)
    assert(OldFormat.partitions(s2,
      new ByteArrayInputStream(b2), "dyncf2").toSeq === Seq(p2))
    // loud rejects: wrong column name, exclusive raw bound, >1 value
    // column declared
    intercept[IllegalArgumentException] {
      OldFormat.writeDataFile(Seq(p1.copy(atoms = Seq(
        OldFormat.Cell2(Seq("1"), "other", ts, None, None, Some("v"),
          deleted = false, counter = false)))), s1)
    }
    intercept[IllegalArgumentException] {
      OldFormat.writeDataFile(Seq(p1.copy(atoms = Seq(
        OldFormat.Tombstone2(Seq("1"), startInclusive = false,
          Seq("2"), endInclusive = true, ts)))), s1)
    }
    intercept[IllegalArgumentException] {
      OldFormat.writeDataFile(Seq(p1), s1.copy(columns =
        Map("value" -> BigFormat.Utf8Type, "v2" -> BigFormat.Utf8Type)))
    }
  }

  test("2.x composite partition keys round-trip in blob token order") {
    // the SAME CompositeType carry serves the 2.x era: key blob =
    // [short len][bytes][0] per component, token over the whole blob
    val ct = BigFormat.compositeType(
      Seq(BigFormat.Utf8Type, BigFormat.LongType))
    val s2 = OldFormat.Schema(ct, Seq(BigFormat.Utf8Type),
      Map("len" -> BigFormat.Utf8Type))
    val ps = (0 until 20).map(i => OldFormat.Partition2(s"s${i % 3}:$i",
      None, Seq(OldFormat.Cell2(Seq(s"c$i"), "len",
        1609459200000000L + i, None, None, Some(i.toString),
        deleted = false, counter = false))))
    val bytes = OldFormat.writeDataFile(ps, s2)
    val back = OldFormat.partitions(s2,
      new ByteArrayInputStream(bytes), "comp2x").toVector
    val expected = ps.sortBy(p =>
      (BigFormat.murmur3Token(BigFormat.encodeValue(ct, p.key)), p.key))
    assert(back === expected)
    // the composite token differs from the joined-string token (the
    // blob framing is part of the hashed bytes) — the ordering really
    // exercised the composite encode
    assert(ps.exists(p =>
      BigFormat.murmur3Token(BigFormat.encodeValue(ct, p.key)) !=
        BigFormat.murmur3Token(p.key.getBytes("UTF-8"))))
  }

  test("undeclared columns and counter-update masks reject loudly") {
    val ts = 1609459300L * 1000000L
    val bad = OldFormat.Partition2("pk", None, Seq(
      OldFormat.Cell2(Seq("c"), "mystery", ts, None, None, Some("x"),
        deleted = false, counter = false)))
    intercept[UnsupportedOperationException] {
      OldFormat.writeDataFile(Seq(bad), schema)
    }
    // decode side: a valid file whose schema no longer declares the
    // column must raise, never silently misparse the stream
    val narrow = schema.copy(columns = Map("n" -> BigFormat.Int32Type))
    val ok = OldFormat.Partition2("pk", None, Seq(
      OldFormat.Cell2(Seq("c"), "len", ts, None, None, Some("x"),
        deleted = false, counter = false)))
    val bytes = OldFormat.writeDataFile(Seq(ok), schema)
    intercept[UnsupportedOperationException] {
      OldFormat.partitions(narrow,
        new ByteArrayInputStream(bytes), "t").toVector
    }
  }
}

/** The loadable-generation components in isolation: index, bloom
  * filter, summary, digest, TOC — each round-tripping through its
  * serialized form, plus the self-consistency the sink relies on. */
class SSTableComponentsSpec extends AnyFunSuite {
  import graft.sources.SSTableComponents

  private def k(s: String): Array[Byte] = s.getBytes("UTF-8")

  test("Index.db entries round-trip") {
    val entries: Seq[BigFormat.IndexEntry] = Seq(
      (k("alpha"), 0L, Array.emptyByteArray),
      (k("beta"), 517L, Array[Byte](1, 2, 3)),
      (k(""), 70000L, Array.emptyByteArray),
      (k("δ-key"), 1L << 33, Array.emptyByteArray))
    val bytes = SSTableComponents.writeIndex(entries)
    val back = SSTableComponents.readIndex(bytes, "t")
    assert(back.map(_._2) === entries.map(_._2))
    assert(back.map(_._1.toSeq) === entries.map(_._1.toSeq))
    // promoted payloads ride the entry verbatim (length-prefixed)
    assert(back.map(_._3.toSeq) === entries.map(_._3.toSeq))
  }

  test("bloom hash-word order follows the format era: 2.x filters probe under oldBfHashOrder") {
    val keys = (0 until 64).map(i => k(s"era-key-$i"))
    // a 2.x-written filter (Cassandra pre-3.0 seeds base with the
    // FIRST hash word; 3.0 swapped the pair — BloomFilter.setIndexes'
    // oldBfHashOrder flag exists exactly to keep reading old files)
    val written = SSTableComponents.newBloom(keys.size.toLong,
      oldHashOrder = true)
    keys.foreach(written.add)
    val bytes = SSTableComponents.writeFilter(written)
    // probed under the MATCHING order: the bloom contract holds
    val asOld = SSTableComponents.readFilter(bytes, oldHashOrder = true)
    assert(keys.forall(asOld.mightContain))
    // probed under the MODERN order: false negatives — in the bloom-
    // gated read path that is a silently dropped partition, the exact
    // failure the era dispatch prevents (deterministic keys, no flake)
    val asNew = SSTableComponents.readFilter(bytes)
    assert(!keys.forall(asNew.mightContain),
      "hash orders cannot be interchangeable — the spec fixture is too small to distinguish them")
  }

  test("bloom filter: no false negatives, ~1% false positives, serialized form stable") {
    val present = (0 until 2000).map(i => k(s"key-$i"))
    val bloom = SSTableComponents.newBloom(present.size.toLong)
    present.foreach(bloom.add)
    // serialization round-trip preserves every bit
    val back = SSTableComponents.readFilter(
      SSTableComponents.writeFilter(bloom))
    assert(back.hashCount === bloom.hashCount)
    assert(back.words.toSeq === bloom.words.toSeq)
    // the bloom contract: NEVER a false negative...
    assert(present.forall(back.mightContain))
    // ...and false positives near the configured 1% (deterministic:
    // fixed keys, fixed hash)
    val absent = (0 until 2000).map(i => k(s"other-$i"))
    val fp = absent.count(back.mightContain)
    assert(fp < 60, s"false-positive rate ${fp / 2000.0} far above 1%")
  }

  test("Summary.db round-trips sampling, first/last keys and full-sampling size") {
    val sampled = Seq(k("a") -> 0L, k("middle-key") -> 4096L,
      k("zz") -> 9000L)
    val bytes = SSTableComponents.writeSummary(sampled, 300L,
      k("a"), k("zzz-last"))
    val s = SSTableComponents.readSummary(bytes)
    assert(s.minIndexInterval === SSTableComponents.MinIndexInterval)
    assert(s.sampled.map(_._2) === sampled.map(_._2))
    assert(s.sampled.map(_._1.toSeq) === sampled.map(_._1.toSeq))
    assert(s.sizeAtFullSampling === 3) // ceil(300/128)
    assert(s.firstKey.toSeq === k("a").toSeq)
    assert(s.lastKey.toSeq === k("zzz-last").toSeq)
  }

  test("digest is the Data.db CRC32 as decimal ASCII; TOC lists every component") {
    val data = "some data bytes".getBytes("UTF-8")
    val crc = new java.util.zip.CRC32(); crc.update(data)
    assert(new String(SSTableComponents.writeDigest(data), "UTF-8") ===
      crc.getValue.toString)
    val toc = new String(SSTableComponents.writeTOC(), "UTF-8")
      .split("\n").toSeq
    assert(toc === SSTableComponents.Components)
    assert(toc.contains("TOC.txt")) // the TOC lists itself
  }
}

/** The binary connector end-to-end: fixture equality against the JSON
  * dump tree (same audit frame — the four-path contract), per-file
  * task parallelism, and column-pruning pushdown. */
class SSTableBinarySpec extends SparkSpec {

  test("binary audit equals the JSON tree audit frame exactly") {
    val bin = SSTableBinaryV2.binaryAudit(spark, sfDir)
      .orderBy("row_kind").collect().toSeq
    val json = SSTableDumpBridge.treeAudit(spark, sfDir)
      .orderBy("row_kind").collect().toSeq
    assert(bin.nonEmpty)
    assert(bin === json)
    // the 3.x era (me files, checksumless Statistics.db) decodes to
    // the identical audit through the same connector
    val m3 = SSTableBinaryV2.binaryAudit3x(spark, sfDir)
      .orderBy("row_kind").collect().toSeq
    assert(m3 === json)
    // and the LZ4 chunk-compressed shape (default Cassandra config)
    // decodes to the identical audit: compression is pure transport
    val lz4 = SSTableBinaryV2.binaryAuditLz4(spark, sfDir)
      .orderBy("row_kind").collect().toSeq
    assert(lz4 === json)
  }

  test("compressed fixture really is compressed on disk and strips end-to-end") {
    val dir = SSTableBinaryV2.writeBinaryFixture(spark, sfDir, "nb",
      Some(graft.sources.CompressedData.Lz4))
    val plain = SSTableBinaryV2.writeBinaryFixture(spark, sfDir, "nb")
    try {
      def files(p: java.nio.file.Path, suffix: String) = {
        val s = java.nio.file.Files.list(p.resolve("documents"))
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.filter(_.toString.endsWith(suffix)).toVector
        } finally s.close()
      }
      // every generation has its CompressionInfo.db sibling and a
      // Data.db SMALLER than the uncompressed twin
      assert(files(dir, "-CompressionInfo.db").size ===
        SSTableDumpBridge.TreeFiles)
      val zipped = files(dir, "-Data.db").map(f =>
        f.getFileName.toString -> java.nio.file.Files.size(f)).toMap
      files(plain, "-Data.db").foreach { f =>
        assert(zipped(f.getFileName.toString) < java.nio.file.Files.size(f))
      }
      // the full strip pipeline runs unchanged over compressed input
      val stripped = SSTableDumpBridge.stripTtl(
        SSTableBinaryV2.readBinary(spark, dir.toString).drop("sstable"))
      assert(stripped.filter(col("cell.ttl_s").isNotNull).count() === 0)
      assert(stripped.count() ===
        SSTableBinaryV2.readBinary(spark, plain.toString).count())
    } finally { Scratch.delete(dir); Scratch.delete(plain) }
  }

  test("corrupt binary input fails loudly with the offending file named") {
    val dir = Scratch.dir("graft-bincorrupt-")
    try {
      val d = dir.resolve("documents")
      java.nio.file.Files.createDirectories(d)
      // a truncated Data.db with a valid Statistics.db sibling: the
      // decoder must name the file, never silently emit partial rows
      val hdr = graft.sources.BigFormat.Header(
        1609459200000000L, 1609459200, 0,
        graft.sources.BigFormat.Utf8Type,
        Seq(graft.sources.BigFormat.Utf8Type), Nil,
        Seq("len" -> graft.sources.BigFormat.Utf8Type))
      val good = graft.sources.BigFormat.writeDataFile(Seq(
        graft.sources.BigFormat.PartitionData("k", None, Seq(
          graft.sources.BigFormat.RowAtom(Seq(Some("c")),
            Some(1609459200000000L), None, None, None, Seq(
              graft.sources.BigFormat.CellAtom("len",
                1609459200000000L, None, None, Some("v"), false)))))),
        hdr)
      java.nio.file.Files.write(d.resolve("nb-1-big-Data.db"),
        good.dropRight(3)) // truncate mid-partition
      java.nio.file.Files.write(d.resolve("nb-1-big-Statistics.db"),
        graft.sources.BigFormat.writeStats(hdr))
      val ex = intercept[org.apache.spark.SparkException] {
        SSTableBinaryV2.readBinary(spark, dir.toString).count()
      }
      val msg = Option(ex.getCause).map(_.toString).getOrElse(ex.toString)
      assert(msg.contains("Data.db") || ex.toString.contains("Data.db"),
        s"corruption error does not name the file: $msg")
    } finally Scratch.delete(dir)
  }

  test("mixed-era lake: me- and nb- SSTables decode in ONE scan") {
    // a real upgrade-in-progress data dir holds both eras side by
    // side; per-file version detection must handle them in one read
    val dir3 = SSTableBinaryV2.writeBinaryFixture(spark, sfDir, "me")
    val dir4 = SSTableBinaryV2.writeBinaryFixture(spark, sfDir, "nb")
    val mixed = Scratch.dir("graft-mixed-era-")
    try {
      def cp(src: java.nio.file.Path): Unit = {
        val t = java.nio.file.Files.list(src.resolve("documents"))
        try t.forEach { f =>
          val dest = mixed.resolve("documents")
          java.nio.file.Files.createDirectories(dest)
          java.nio.file.Files.copy(f, dest.resolve(f.getFileName))
        } finally t.close()
      }
      cp(dir3); cp(dir4)
      val both = SSTableBinaryV2.readBinary(spark, mixed.toString)
        .localCheckpoint()
      val one = SSTableBinaryV2.readBinary(spark, dir4.toString)
      // both eras fully decoded: twice the rows, 8 distinct files
      assert(both.count() === 2 * one.count())
      assert(both.select("sstable").distinct().count() ===
        2 * SSTableDumpBridge.TreeFiles)
    } finally {
      Scratch.delete(dir3); Scratch.delete(dir4); Scratch.delete(mixed)
    }
  }

  test("one task per Data.db file; pruning skips value decode") {
    val out = SSTableBinaryV2.writeBinaryFixture(spark, sfDir)
    try {
      val df = SSTableBinaryV2.readBinary(spark, out.toString)
      val files = df.select("sstable").distinct().collect().map(_.getString(0))
      assert(files.length === SSTableDumpBridge.TreeFiles)
      assert(files.forall(_.matches("documents/nb-\\d+-big-Data\\.db")))
      // parallelism: the DSv2 scan plans exactly one partition per file
      val counted = df.groupBy(
        org.apache.spark.sql.functions.spark_partition_id().as("pid"))
        .count().collect()
      assert(counted.length === SSTableDumpBridge.TreeFiles)
      // pruning: a row_kind-only projection reads a 1-column schema
      val pruned = df.select("row_kind")
      val scan = pruned.queryExecution.executedPlan.toString()
      assert(scan.contains("row_kind"))
      assert(!scan.contains("partition_key"))
      assert(pruned.count() > 0)
    } finally graft.Scratch.delete(out)
  }

  test("split scan: big Data.db files divide into partition-aligned ranges") {
    import org.apache.spark.sql.functions.spark_partition_id
    // sink output carries Index.db + Summary.db — the split substrate
    val src = SSTableBinaryV2.writeBinaryFixture(spark, sfDir)
    val out = graft.Scratch.dir("graft-splitscan-")
    try {
      SSTableBinaryV2.writeSSTables(
        SSTableBinaryV2.readBinary(spark, src.toString),
        out.toString, "graft", "documents")
      val whole = spark.read.format("sstable-big")
        .option("splitBytes", "0").load(out.toString)
      val nFiles = whole.select("sstable").distinct().count()
      val split = spark.read.format("sstable-big")
        .option("splitBytes", "512").load(out.toString)
      // more tasks than files, frame EXACTLY preserved (no partition
      // lost at a boundary, none decoded twice)
      val splitTasks = split
        .groupBy(spark_partition_id().as("pid")).count().count()
      assert(splitTasks > nFiles,
        s"expected >$nFiles tasks, got $splitTasks")
      assert(split.exceptAll(whole).count() === 0)
      assert(whole.exceptAll(split).count() === 0)
      // a pushed point lookup under splits: each key decoded ONCE
      val point = spark.read.format("sstable-big")
        .option("splitBytes", "512").load(out.toString)
        .filter(org.apache.spark.sql.functions.col("partition_key")
          .isin("8", "15"))
      val pointWhole = whole.filter(
        org.apache.spark.sql.functions.col("partition_key")
          .isin("8", "15"))
      assert(point.exceptAll(pointWhole).count() === 0)
      assert(pointWhole.exceptAll(point).count() === 0)
      // compressed generations stay one task per file (offsets live
      // in uncompressed space)
      val cout = graft.Scratch.dir("graft-splitcmp-")
      try {
        SSTableBinaryV2.writeSSTables(
          SSTableBinaryV2.readBinary(spark, out.toString),
          cout.toString, "graft", "documents",
          compression = Some("LZ4Compressor"))
        val csplit = spark.read.format("sstable-big")
          .option("splitBytes", "512").load(cout.toString)
        val ctasks = csplit
          .groupBy(spark_partition_id().as("pid")).count().count()
        val cfiles = csplit.select("sstable").distinct().count()
        assert(ctasks === cfiles)
        assert(csplit.exceptAll(whole).count() === 0)
        assert(whole.exceptAll(csplit).count() === 0)
      } finally graft.Scratch.delete(cout)
    } finally {
      graft.Scratch.delete(src)
      graft.Scratch.delete(out)
    }
  }

  test("RemoverCli --format sstable: binary lifecycle output-identical to the dump path") {
    val binDir = SSTableBinaryV2.writeBinaryFixture(spark, sfDir)
    val jsonDir = SSTableDumpBridge.writeTreeFixture(spark, sfDir)
    try {
      def runWith(in: String, format: String) = {
        val out = Scratch.dir("graft-cli-bin-").toString + "/o"
        val args = RemoverCli.parse(Array("--in", in, "--out", out,
          "--table", "t", "--format", format))
          .fold(e => fail(s"parse failed: $e"), identity)
        RemoverCli.run(spark, args)
        spark.read.parquet(out).localCheckpoint()
      }
      val viaBin = runWith(binDir.toString, "sstable")
      val viaJson = runWith(jsonDir.toString, "sstabledump")
      assert(viaBin.count() === viaJson.count())
      // the one legitimate divergence (on-disk NO_TTL vs JSON ttl=0)
      // is erased by the strip itself, so the frames must be equal
      assert(viaJson.exceptAll(viaBin).count() === 0)
      assert(viaBin.exceptAll(viaJson).count() === 0)
      // there is no reader to choose: --reader is an unknown flag
      assert(RemoverCli.parse(Array("--in", "a", "--out", "b",
        "--table", "t", "--format", "sstable", "--reader", "v2")).isLeft)
    } finally { Scratch.delete(binDir); Scratch.delete(jsonDir) }
  }

  test("binary sink: an unstripped rewrite is frame-identical to its source") {
    val in = SSTableBinaryV2.writeBinaryFixture(spark, sfDir)
    val out = Scratch.dir("graft-binsink-")
    try {
      val original = SSTableBinaryV2.readBinary(spark, in.toString)
        .localCheckpoint()
      val manifest = SSTableBinaryV2.writeSSTables(
        original, out.toString, "graft", "documents")
      // one rewritten SSTable per source, rows conserved
      assert(manifest.length === SSTableDumpBridge.TreeFiles)
      assert(manifest.map(_._2).sum === original.count())
      val back = SSTableBinaryV2.readBinary(
        spark, out.toString).localCheckpoint()
      // identity-preserving rewrite: same table dir + generation →
      // same sstable identities → full 7-column frame equality
      assert(back.exceptAll(original).count() === 0)
      assert(original.exceptAll(back).count() === 0)
    } finally { Scratch.delete(in); Scratch.delete(out) }
  }

  test("binary sink: markers and expiring cells survive a rewrite") {
    // hand-built bridge rows: an expiring cell, a row tombstone, a
    // partition tombstone, and a range-tombstone bound pair
    import spark.implicits._
    val wt = 1609459200L * 1000000L
    val rows = Seq(
      ("p1", Seq("c1"), "ROW", Some("v"),
        Some(("x1", wt, Some(600), Some(wt + 600000000L))),
        None: Option[Long], "t/nb-1-big-Data.db"),
      ("p1", Seq("c2"), "ROW_DELETION", None, None, Some(wt + 1), "t/nb-1-big-Data.db"),
      ("p2", null: Seq[String], "PARTITION_DELETION", None, None,
        Some(wt + 2), "t/nb-1-big-Data.db"),
      ("p3", Seq("a"), "RANGE_TOMBSTONE_BOUND", Some("start:inclusive"),
        None, Some(wt + 3), "t/nb-1-big-Data.db"),
      ("p3", Seq("d"), "RANGE_TOMBSTONE_BOUND", Some("end:exclusive"),
        None, Some(wt + 3), "t/nb-1-big-Data.db"))
      .toDF("partition_key", "clustering", "row_kind", "name",
        "cell_t", "deletion_us", "sstable")
      .withColumn("cell", when(col("cell_t").isNotNull,
        org.apache.spark.sql.functions.struct(
          col("cell_t._1").as("value"), col("cell_t._2").as("writetime_us"),
          col("cell_t._3").as("ttl_s"), col("cell_t._4").as("expire_us"))))
      .drop("cell_t")
    val out = Scratch.dir("graft-binsink2-")
    try {
      SSTableBinaryV2.writeSSTables(rows, out.toString, "ks", "t")
      val back = SSTableBinaryV2.readBinary(spark, out.toString)
        .collect().map(r => (r.getString(0), r.getString(2),
          r.getAs[String]("name"))).toSet
      assert(back === Set(
        ("p1", "ROW", "v"), ("p1", "ROW_DELETION", null),
        ("p2", "PARTITION_DELETION", null),
        ("p3", "RANGE_TOMBSTONE_BOUND", "start:inclusive"),
        ("p3", "RANGE_TOMBSTONE_BOUND", "end:exclusive")))
      val cell = SSTableBinaryV2.readBinary(spark, out.toString)
        .filter(col("row_kind") === "ROW").select("cell.*").head()
      assert(cell.getString(0) === "x1")
      assert(cell.getLong(1) === wt)
      assert(cell.getInt(2) === 600)
    } finally Scratch.delete(out)
  }

  test("RemoverCli --sink sstable: binary in, rewritten binary out; --merge compacts to one generation") {
    val in = SSTableBinaryV2.writeBinaryFixture(spark, sfDir)
    val out1 = Scratch.dir("graft-cli-sink-").toString + "/o"
    val out2 = Scratch.dir("graft-cli-compact-").toString + "/o"
    try {
      // strip + rewrite: one output SSTable per input SSTable
      val args1 = RemoverCli.parse(Array("--in", in.toString,
        "--out", out1, "--table", "documents", "--format", "sstable",
        "--sink", "sstable"))
        .fold(e => fail(s"parse failed: $e"), identity)
      RemoverCli.run(spark, args1)
      val back = SSTableBinaryV2.readBinary(spark, s"$out1/graft/documents")
      assert(back.select("sstable").distinct().count()
        === SSTableDumpBridge.TreeFiles)
      // TTLs are gone, values/writetimes/tombstones survive
      assert(back.filter(col("cell.ttl_s").isNotNull).count() === 0)
      assert(back.filter(col("row_kind") === "PARTITION_DELETION")
        .count() > 0)
      // major compaction: LWW merge collapses to ONE generation
      val args2 = RemoverCli.parse(Array("--in", in.toString,
        "--out", out2, "--table", "documents", "--format", "sstable",
        "--sink", "sstable", "--merge", "lww"))
        .fold(e => fail(s"parse failed: $e"), identity)
      RemoverCli.run(spark, args2)
      val compacted = SSTableBinaryV2
        .readBinary(spark, s"$out2/graft/documents")
      assert(compacted.select("sstable").distinct().count() === 1)
      assert(compacted.count() > 0)
      // size-bounded major compaction: --out-generations 4 splits the
      // merged output into token-CONTIGUOUS generations — same
      // content, four loadable files, disjoint ring spans
      val out3 = Scratch.dir("graft-cli-multigen-").toString + "/o"
      try {
        val args3 = RemoverCli.parse(Array("--in", in.toString,
          "--out", out3, "--table", "documents", "--format", "sstable",
          "--sink", "sstable", "--merge", "lww",
          "--out-generations", "4"))
          .fold(e => fail(s"parse failed: $e"), identity)
        RemoverCli.run(spark, args3)
        val multi = SSTableBinaryV2
          .readBinary(spark, s"$out3/graft/documents").localCheckpoint()
        assert(multi.select("sstable").distinct().count() === 4)
        assert(multi.drop("sstable")
          .exceptAll(compacted.drop("sstable")).count() === 0)
        assert(compacted.drop("sstable")
          .exceptAll(multi.drop("sstable")).count() === 0)
        def tok(k: String): Long = BigFormat.murmur3Token(
          BigFormat.encodeValue(BigFormat.Utf8Type, k))
        val spans = multi.select("sstable", "partition_key").collect()
          .groupBy(_.getString(0)).map { case (_, rows) =>
            val ts = rows.map(r => tok(r.getString(1)))
            (ts.min, ts.max)
          }.toSeq.sortBy(_._1)
        spans.sliding(2).foreach {
          case Seq(a, b) => assert(a._2 < b._1,
            s"generation token spans overlap: $spans")
          case _ =>
        }
      } finally Scratch.delete(java.nio.file.Paths.get(out3).getParent)
      // UNMERGED --out-generations = sstablesplit's role: each input
      // generation splits into N token-contiguous outputs
      val outS = Scratch.dir("graft-cli-split-").toString + "/o"
      try {
        val argsS = RemoverCli.parse(Array("--in", in.toString,
          "--out", outS, "--table", "documents", "--format", "sstable",
          "--sink", "sstable", "--out-generations", "3"))
          .fold(e => fail(s"parse failed: $e"), identity)
        RemoverCli.run(spark, argsS)
        val split = SSTableBinaryV2
          .readBinary(spark, s"$outS/graft/documents").localCheckpoint()
        // 4 inputs × 3 ring buckets, all non-empty for this fixture
        assert(split.select("sstable").distinct().count() === 12)
        // same content as the unsplit rewrite (out1), redistributed
        val whole = SSTableBinaryV2
          .readBinary(spark, s"$out1/graft/documents")
        assert(split.drop("sstable")
          .exceptAll(whole.drop("sstable")).count() === 0)
        assert(whole.drop("sstable")
          .exceptAll(split.drop("sstable")).count() === 0)
      } finally Scratch.delete(java.nio.file.Paths.get(outS).getParent)
      // --out-generations outside the sstable sink is a contradiction
      assert(RemoverCli.parse(Array("--in", "a", "--out", "b",
        "--table", "t", "--format", "sstable",
        "--out-generations", "4")).isLeft)
      assert(RemoverCli.parse(Array("--in", "a", "--out", "b",
        "--table", "t", "--format", "sstable", "--sink", "sstable",
        "--merge", "lww", "--out-generations", "zero")).isLeft)
      // the sink needs the cell model: parquet input is rejected
      assert(RemoverCli.parse(Array("--in", "a", "--out", "b",
        "--table", "t", "--sink", "sstable")).isLeft)
    } finally {
      Scratch.delete(in)
      Scratch.delete(java.nio.file.Paths.get(out1).getParent)
      Scratch.delete(java.nio.file.Paths.get(out2).getParent)
    }
  }

  /** Input rows the scan tasks decode while `op` runs: one full pass
    * over a lake reads each of its rows exactly once. */
  private def rowsDecoded(op: => Unit): Long = {
    val n = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m =>
          n.addAndGet(m.inputMetrics.recordsRead))
    }
    val sc = spark.sparkContext
    org.apache.spark.sql.graftbridge.ListenerFlush.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      op
      org.apache.spark.sql.graftbridge.ListenerFlush.waitUntilEmpty(sc)
    } finally sc.removeSparkListener(listener)
    n.get
  }

  private def sinkArgs(in: String, out: String, extra: String*)
      : RemoverCli.CliArgs =
    RemoverCli.parse(Array("--in", in, "--out", out,
      "--table", "documents", "--format", "sstable",
      "--sink", "sstable") ++ extra)
      .fold(e => fail(s"parse failed: $e"), identity)

  /** The bridge-row frame the CLI's output is checked against, with
    * the source set the CLI derives for it: unmerged, the CLI's own
    * stripped frame; merged (binary input), the survivors of
    * `lwwMerge` with markers kept, reshaped to bridge rows and named by
    * output generation, so the sink's `mergePartition` is checked
    * against an independent implementation of the LWW rules. `lwwMerge`
    * keeps every generation's deletion markers; Cassandra keeps one
    * partition deletion per partition, one row deletion per row and one
    * collection deletion per column of a row, the newest, so the merged
    * frame keeps only those. The encoder writes the same bytes either
    * way; the rows a sink reports count only what it keeps. */
  private def referenceFrame(args: RemoverCli.CliArgs)
      : (org.apache.spark.sql.DataFrame, Option[Seq[String]]) =
    if (!args.merge.contains("lww")) RemoverCli.sstableSinkInput(spark, args)
    else {
      val merged = graft.ops.TtlOps.lwwMerge(SSTableBinaryV2.readBinary(spark,
        args.in, args.cqlText, args.verify, args.scrub).select(
        col("partition_key"), col("clustering"), col("row_kind"),
        col("name"), col("cell.value").as("value"),
        col("cell.writetime_us").as("writetime_us"), col("deletion_us"),
        when(col("row_kind") === "CELL_DELETION", col("cell.expire_us"))
          .as("expire_us"),
        col("sstable")), keepMarkers = true)
      val live = col("row_kind").isin("ROW", "PK_LIVENESS")
      val (genName, names) = RemoverCli.mergedGenerations(args)
      val newest = org.apache.spark.sql.expressions.Window
        .partitionBy("partition_key", "clustering", "row_kind", "name")
        .orderBy(col("deletion_us").desc)
      val kept = merged.withColumn("rank", row_number().over(newest))
        .filter(!col("row_kind").isin("PARTITION_DELETION", "ROW_DELETION",
          "COMPLEX_DELETION") || col("rank") === 1)
      // a surviving cell tombstone keeps its timestamp and its own
      // local deletion second, as the unmerged rewrite does
      (kept.select(
        col("partition_key"), col("clustering"), col("row_kind"),
        col("name"),
        when(live, struct(col("value"), col("writetime_us"),
          lit(null).cast("int").as("ttl_s"),
          lit(null).cast("long").as("expire_us")))
          .when(col("row_kind") === "CELL_DELETION",
            struct(lit(null).cast("string").as("value"),
              col("writetime_us"), lit(null).cast("int").as("ttl_s"),
              col("expire_us"))).as("cell"),
        col("deletion_us"),
        genName.as("sstable")), Some(names))
    }

  /** The CLI's output against `writeSSTables` run on the reference
    * frame WITHOUT a source set (its own distinct pass):
    * byte-identical. */
  private def assertSameAsDistinctPass(args: RemoverCli.CliArgs,
      compression: Option[String], shape: String): Unit = {
    val ref = Scratch.dir("graft-cli-ref-")
    try {
      val (frame, _) = referenceFrame(args)
      SSTableBinaryV2.writeSSTables(frame, ref.toString, args.keyspace,
        args.table, compression = compression)
      val got = filesUnder(java.nio.file.Paths.get(args.out))
      val want = filesUnder(ref)
      assert(got.keySet === want.keySet, shape)
      assert(got.keys.filterNot(k => got(k) == want(k)).isEmpty, shape)
    } finally Scratch.delete(ref)
  }

  /** The physical plans of the Dataset actions `op` runs. */
  private def physicalPlans(op: => Unit)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import scala.jdk.CollectionConverters._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      op
      org.apache.spark.sql.graftbridge.ListenerFlush
        .waitUntilEmpty(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  /** The shuffle exchanges and window operators across `plans`. */
  private def shufflesAndWindows(
      plans: Seq[org.apache.spark.sql.execution.SparkPlan]): (Int, Int) = {
    val helper =
      new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    (plans.map(helper.collect(_) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.size).sum,
      plans.map(helper.collect(_) {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.size).sum)
  }

  /** The shuffle exchanges of `--sink sstabledump --merge lww` over the
    * binary fixture: the merge's one, and the export's three groupings
    * (a dump row, a partition, a file). */
  private val MergedDumpExchanges = 4

  /** What `op` ran, as a listener sees it: jobs, tasks, shuffle bytes
    * written, and the partitions the file route decoded (its
    * `partitionsServed` accumulator). */
  private case class JobProfile(jobs: Int, tasks: Int,
      shuffleWriteBytes: Long, partitionsServed: Long)

  private def profile(op: => Unit): JobProfile = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val served = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        Option(e.taskMetrics).foreach(m =>
          shuffled.addAndGet(m.shuffleWriteMetrics.bytesWritten))
      }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        e.stageInfo.accumulables.values
          .filter(_.name.contains(SSTableBinaryV2.MetricPartitionsServed))
          .foreach(_.value.foreach(v => served.addAndGet(v.toString.toLong)))
    }
    val sc = spark.sparkContext
    org.apache.spark.sql.graftbridge.ListenerFlush.waitUntilEmpty(sc)
    sc.addSparkListener(listener)
    try {
      op
      org.apache.spark.sql.graftbridge.ListenerFlush.waitUntilEmpty(sc)
    } finally sc.removeSparkListener(listener)
    JobProfile(jobs.get, tasks.get, shuffled.get, served.get)
  }

  test("RemoverCli --sink sstable decodes its input once; output equals the distinct-pass sink") {
    val in = SSTableBinaryV2.writeBinaryFixture(spark, sfDir)
    // several output generations seek by Index.db, which the fixture
    // lacks: over it they take the frame route, over its indexed
    // rewrite the merge route
    val indexed = indexedFixture()
    try {
      /** (rows, partitions per sstable) of a lake's decoded frame. */
      def sizes(dir: java.nio.file.Path): (Long, Long) = {
        val lake = SSTableBinaryV2.readBinary(spark, dir.toString)
        (lake.count(),
          lake.select("sstable", "partition_key").distinct().count())
      }
      val lakeSizes = Map(in -> sizes(in), indexed -> sizes(indexed))
      val (lakeRows, _) = lakeSizes(in)
      val generations = SSTableBinaryV2.readBinary(spark, in.toString)
        .select("sstable").distinct().count()
      assert(lakeRows > 0)
      Seq(
        ("rewrite", Seq.empty[String], None),
        ("rewrite lz4", Seq("--compress", "lz4"),
          Some(graft.sources.CompressedData.Lz4)),
        ("merge lww", Seq("--merge", "lww"), None),
        ("merge lww, 4 generations",
          Seq("--merge", "lww", "--out-generations", "4"), None),
        ("merge lww, 3 generations, zstd",
          Seq("--merge", "lww", "--out-generations", "3", "--compress",
            "zstd"), Some(graft.sources.CompressedData.Zstd))
      ).flatMap { case (shape, extra, compression) =>
        val lakes = if (extra.contains("--merge")) Seq(in, indexed) else Seq(in)
        lakes.map(lake => (shape, extra, compression, lake))
      }.foreach { case (shape0, extra, compression, lake) =>
        val shape = if (lake == indexed) s"$shape0, indexed" else shape0
        val (rows, partitions) = lakeSizes(lake)
        val out = Scratch.dir("graft-cli-once-")
        try {
          val args = sinkArgs(lake.toString, s"$out/o", extra: _*)
          val plan = RemoverCli.fileRoute(spark, args)
          if (plan.exists(_.merge)) {
            // the merge route: one job of one task per output
            // generation; the tasks decode each input partition once
            // between them, nothing shuffled
            val p = profile(RemoverCli.run(spark, args))
            assert(p === JobProfile(1, args.outGenerations, 0L, partitions),
              s"$shape: one job, one task per output generation, no " +
                "shuffle, every partition decoded once")
          } else if (plan.isDefined) {
            // the file route: one job of one task per generation, each
            // decoding its partitions once, nothing shuffled
            val p = profile(RemoverCli.run(spark, args))
            assert(p === JobProfile(1, generations.toInt, 0L, partitions),
              s"$shape: one job, one task per generation, no shuffle, " +
                "every partition decoded once")
          } else {
            assert(RemoverCli.sstableSinkInput(spark, args)._2.nonEmpty,
              shape)
            var plans = Seq.empty[org.apache.spark.sql.execution.SparkPlan]
            assert(rowsDecoded {
              plans = physicalPlans(RemoverCli.run(spark, args))
            } === rows, s"$shape: the input must be decoded exactly once")
            if (args.merge.nonEmpty)
              // the merge rides the sink's one shuffle, keyed on the
              // output generation: no window plan, no second exchange
              assert(shufflesAndWindows(plans) === (1, 0),
                s"$shape: ${plans.mkString("\n")}")
          }
          assertSameAsDistinctPass(args, compression, shape)
        } finally Scratch.delete(out)
      }
      // the parquet and dump sinks merge after one shuffle by partition
      // key, with no window plan either; the dump export's own grouping
      // adds the exchanges it always ran
      Seq(("parquet", 1), ("sstabledump", MergedDumpExchanges))
        .foreach { case (sink, exchanges) =>
        val out = Scratch.dir("graft-cli-merged-plan-")
        try {
          val args = RemoverCli.parse(Array("--in", in.toString,
            "--out", s"$out/o", "--table", "documents", "--format", "sstable",
            "--sink", sink, "--merge", "lww"))
            .fold(e => fail(s"parse failed: $e"), identity)
          val plans = physicalPlans(RemoverCli.run(spark, args))
          val (shuffles, windows) = shufflesAndWindows(plans)
          assert(windows === 0 && shuffles === exchanges,
            s"--sink $sink: ${plans.mkString("\n")}")
        } finally Scratch.delete(out)
      }
      // so the merge shapes above ran on both routes
      assert(RemoverCli.fileRoute(spark, sinkArgs(indexed.toString,
        "unused", "--merge", "lww", "--out-generations", "4"))
        .exists(_.merge))
      assert(RemoverCli.fileRoute(spark, sinkArgs(in.toString,
        "unused", "--merge", "lww", "--out-generations", "4")).isEmpty)
      // the unmerged split keeps the distinct pass: its "<src>#sK"
      // names share their source's generation by design
      val out = Scratch.dir("graft-cli-split-once-")
      try {
        val split = sinkArgs(in.toString, s"$out/o",
          "--out-generations", "3")
        assert(RemoverCli.sstableSinkInput(spark, split)._2.isEmpty)
        assert(rowsDecoded(RemoverCli.run(spark, split)) === 2 * lakeRows)
      } finally Scratch.delete(out)
    } finally { Scratch.delete(in); Scratch.delete(indexed) }
  }

  test("RemoverCli --sink sstable takes the file route only for the plain rewrite of a modern lake") {
    import spark.implicits._
    val in = SSTableBinaryV2.writeBinaryFixture(spark, sfDir)
    val ka = SSTableBinaryV2.writeOldFixture(spark, sfDir)
    val collide = Scratch.dir("graft-route-collide-")
    try {
      val wt = 1609459200L * 1000000L
      Seq("t1" -> "p1", "t2" -> "p2").foreach { case (t, pk) =>
        val frame = Seq((pk, Seq("c"), "ROW", Some("v"),
          Some(("x", wt, Some(60), Some(wt + 60000000L))),
          None: Option[Long], s"$t/nb-1-big-Data.db"))
          .toDF("partition_key", "clustering", "row_kind", "name",
            "cell_t", "deletion_us", "sstable")
          .withColumn("cell", struct(col("cell_t._1").as("value"),
            col("cell_t._2").as("writetime_us"),
            col("cell_t._3").as("ttl_s"), col("cell_t._4").as("expire_us")))
          .drop("cell_t")
        SSTableBinaryV2.writeSSTables(frame, collide.toString, "ks", t)
      }
      // the rewrite plan: one task per input, no merge
      def route(in: java.nio.file.Path, extra: String*): Boolean =
        RemoverCli.fileRoute(spark,
          sinkArgs(in.toString, s"$in-unused", extra: _*)).exists(!_.merge)
      assert(route(in))
      assert(route(in, "--compress", "zstd"))
      assert(route(in, "--verify", "true"))
      assert(!route(in, "--merge", "lww"))
      assert(!route(in, "--out-generations", "3"))
      assert(!route(in, "--scrub", "true"))
      assert(!route(in, "--cql", SSTableBinaryV2.Cql2x))
      assert(!route(ka))
      assert(!route(collide))
      val dump = RemoverCli.parse(Array("--in", in.toString,
        "--out", s"$in-unused", "--table", "documents",
        "--format", "sstabledump", "--sink", "sstable"))
        .fold(e => fail(e), identity)
      assert(RemoverCli.fileRoute(spark, dump).isEmpty)
    } finally {
      Scratch.delete(in); Scratch.delete(ka); Scratch.delete(collide)
    }
  }

  /** Writes `parts` as generation `gen` of `graft.documents` under
    * `lake`, with the sink's full component set. */
  private def writeGeneration(lake: java.nio.file.Path, gen: Int,
      parts: Seq[BigFormat.PartitionData], hdr: BigFormat.Header,
      compression: Option[String] = None): Unit = {
    val dir = lake.resolve("graft").resolve("documents")
    java.nio.file.Files.createDirectories(dir)
    val (data, index) = BigFormat.writeDataFileIndexed(parts, hdr)
    graft.sources.SSTableComponents.buildAll(data, index, hdr,
      compression = compression).foreach { case (comp, bytes) =>
      java.nio.file.Files.write(dir.resolve(s"nb-$gen-big-$comp"), bytes)
    }
  }

  /** Runs `args` (which must take the file route) and `writeSSTables`
    * over the reference frame of the same input ([[referenceFrame]]:
    * the stripped `readBinary` frame, or `lwwMerge`'s), with the
    * driver's source set: same bytes in every file, same row count. */
  private def assertRoutesAgree(args: RemoverCli.CliArgs,
      compression: Option[String], shape: String): Unit = {
    assert(RemoverCli.fileRoute(spark, args).isDefined, shape)
    val ref = Scratch.dir("graft-frame-route-")
    try {
      val rows = RemoverCli.run(spark, args)
      val (frame, sources) = referenceFrame(args)
      val want = SSTableBinaryV2.writeSSTables(frame, ref.toString,
        args.keyspace, args.table, compression = compression,
        sources = sources).map(_._2).sum
      assert(rows === want, s"$shape: bridge rows written")
      val got = filesUnder(java.nio.file.Paths.get(args.out))
      val exp = filesUnder(ref)
      assert(got.keySet === exp.keySet, shape)
      assert(got.keys.filterNot(k => got(k) == exp(k)).toSeq.sorted === Nil,
        s"$shape: files whose bytes differ between the routes")
    } finally Scratch.delete(ref)
  }

  test("property: the file route writes the frame route's bytes, uncompressed and under every compressor (ScalaCheck)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.sources.CompressedData
    val genPartition = BigFormatGen.partition(
      BigFormatGen.marker(BigFormatGen.clustering))
    val compressors = None +: Seq(CompressedData.Lz4, CompressedData.Snappy,
      CompressedData.Deflate, CompressedData.Zstd).map(Some(_))
    val ts = BigFormatGen.epoch + 100000000L
    val lake = Scratch.dir("graft-route-prop-")
    try {
      (1 to 24).foreach { seed =>
        val parts = Gen.listOfN(4, genPartition)
          .apply(Gen.Parameters.default, Seed(seed.toLong))
          .getOrElse(sys.error("gen failed"))
          .distinctBy(_.key)
          // a valid SSTable holds each clustering once per partition
          .map(p => p.copy(atoms = p.atoms.distinctBy {
            case r: BigFormat.RowAtom => (true, r.clustering)
            case m: BigFormat.MarkerAtom => (false, m.clustering)
          }))
        writeGeneration(lake, seed, parts, BigFormatGen.header,
          compressors(seed % compressors.size))
      }
      // shapes the generator lacks: collections (an expiring, a deleted
      // and a plain path cell, a collection tombstone) ...
      val complexHdr = BigFormatGen.header.copy(
        clusteringTypes = Seq(BigFormat.Utf8Type),
        regularColumns = Seq("a" -> BigFormat.Utf8Type,
          "m" -> BigFormat.mapType(BigFormat.Utf8Type, BigFormat.Int32Type),
          "s" -> BigFormat.setType(BigFormat.Utf8Type)))
      writeGeneration(lake, 40, Seq(BigFormat.PartitionData("cplx", None,
        Seq(BigFormat.RowAtom(Seq(Some("ck")), Some(ts), Some(60),
          Some((ts / 1000000L).toInt + 60), None, Seq(
            BigFormat.CellAtom("a", ts, Some(60),
              Some((ts / 1000000L).toInt + 60), Some("plain"), false),
            BigFormat.CellAtom("m", ts + 1, Some(60),
              Some((ts / 1000000L).toInt + 60), Some("7"), false, Some("k1")),
            BigFormat.CellAtom("m", ts + 2, None,
              Some((ts / 1000000L).toInt), None, deleted = true,
              path = Some("k2")),
            BigFormat.CellAtom("s", ts + 3, None, None, Some(""), false,
              Some("elem"))),
          complexDeletions = Seq("s" -> (ts - 5)))))), complexHdr)
      // ... a static row beside clustered ones ...
      val staticHdr = BigFormatGen.header.copy(
        clusteringTypes = Seq(BigFormat.Utf8Type),
        staticColumns = Seq("st" -> BigFormat.Utf8Type),
        regularColumns = Seq("v" -> BigFormat.Utf8Type))
      writeGeneration(lake, 41, Seq(
        BigFormat.PartitionData("stat", None, Seq(
          BigFormat.RowAtom(Nil, None, None, None, None, Seq(
            BigFormat.CellAtom("st", ts, Some(30),
              Some((ts / 1000000L).toInt + 30), Some("s"), false)),
            static = true),
          BigFormat.RowAtom(Seq(Some("c1")), Some(ts), None, None, None,
            Seq(BigFormat.CellAtom("v", ts, None, None, Some("x"), false))))),
        BigFormat.PartitionData("stat2", Some(ts), Seq(
          BigFormat.RowAtom(Nil, None, None, None, None, Seq(
            BigFormat.CellAtom("st", ts, None, Some((ts / 1000000L).toInt),
              None, deleted = true)), static = true)))), staticHdr)
      // ... and a generation whose only row carries nothing, which
      // neither route writes
      writeGeneration(lake, 42, Seq(BigFormat.PartitionData("void", None,
        Seq(BigFormat.RowAtom(Seq(Some("c"), Some("1")), None, None, None,
          None, Nil)))), BigFormatGen.header)
      val cli = Map(CompressedData.Lz4 -> "lz4",
        CompressedData.Snappy -> "snappy",
        CompressedData.Deflate -> "deflate", CompressedData.Zstd -> "zstd")
      compressors.foreach { comp =>
        val out = Scratch.dir("graft-route-prop-out-")
        try {
          val args = sinkArgs(lake.toString, s"$out/o",
            comp.toSeq.flatMap(c => Seq("--compress", cli(c))): _*)
          assertRoutesAgree(args, comp, s"compression $comp")
          val written = filesUnder(java.nio.file.Paths.get(args.out)).keySet
          assert(written.count(_.endsWith("-Data.db")) === 26)
          assert(!written.exists(_.contains("nb-42-")))
        } finally Scratch.delete(out)
      }
    } finally Scratch.delete(lake)
  }

  test("FOUND (pinned): primary-key liveness on a row with cells is dropped, by both routes alike") {
    val lake = Scratch.dir("graft-route-liveness-")
    val out = Scratch.dir("graft-route-liveness-out-")
    try {
      val hdr = BigFormatGen.header.copy(minTimestampUs = 0L)
      writeGeneration(lake, 1, Seq(BigFormat.PartitionData("k", None, Seq(
        BigFormat.RowAtom(Seq(Some("c"), Some("1")), Some(1000000L), None,
          None, None, Seq(BigFormat.CellAtom("a", 2000000L, None, None,
            Some("v"), false)))))), hdr)
      val args = sinkArgs(lake.toString, s"$out/o")
      assertRoutesAgree(args, None, "liveness beside a cell")
      val dir = java.nio.file.Paths.get(args.out, "graft", "documents")
      val outHdr = BigFormat.readStats(java.nio.file.Files.readAllBytes(
        dir.resolve("nb-1-big-Statistics.db")))
      val back = BigFormat.partitions(outHdr, new ByteArrayInputStream(
        java.nio.file.Files.readAllBytes(dir.resolve("nb-1-big-Data.db"))),
        "liveness").toSeq
      // the bridge model emits PK_LIVENESS only for a row with no cells
      // and no deletion, so the row's own liveness does not survive
      assert(back.flatMap(_.atoms).collect {
        case r: BigFormat.RowAtom => r.livenessTsUs } === Seq(None))
    } finally { Scratch.delete(lake); Scratch.delete(out) }
  }

  /** The partitions of output generation `gen` under a sink's `out`. */
  private def outputPartitions(out: String, gen: Int)
      : Seq[BigFormat.PartitionData] = {
    val dir = java.nio.file.Paths.get(out, "graft", "documents")
    val hdr = BigFormat.readStats(java.nio.file.Files.readAllBytes(
      dir.resolve(s"nb-$gen-big-Statistics.db")))
    BigFormat.partitions(hdr, new ByteArrayInputStream(
      java.nio.file.Files.readAllBytes(dir.resolve(s"nb-$gen-big-Data.db"))),
      s"nb-$gen").toSeq
  }

  /** Every message along `op`'s failure and its causes. */
  private def failure(op: => Any): String = {
    val e = intercept[Exception](op)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
  }

  /** The binary fixture rewritten by the plain rewrite: the same
    * partitions, with the sink's full component set (Index.db and
    * Digest.crc32 included) the merge route reads by. Delete it with
    * `Scratch.delete`. */
  private def indexedFixture(): java.nio.file.Path = {
    val in = SSTableBinaryV2.writeBinaryFixture(spark, sfDir)
    val out = Scratch.dir("graft-indexed-fixture-")
    try RemoverCli.run(spark, sinkArgs(in.toString, out.toString))
    finally Scratch.delete(in)
    out
  }

  /** One text clustering and one simple text column `v`. */
  private val mergeHdr = BigFormatGen.header.copy(minTimestampUs = 0L,
    clusteringTypes = Seq(BigFormat.Utf8Type),
    regularColumns = Seq("v" -> BigFormat.Utf8Type))

  test("--merge lww routes: the merge route for modern indexed lakes, the frame route otherwise") {
    val in = indexedFixture()
    val ka = SSTableBinaryV2.writeOldFixture(spark, sfDir)
    val bare = Scratch.dir("graft-route-indexless-")
    val typed = Scratch.dir("graft-route-intkey-")
    val out = Scratch.dir("graft-route-merge-out-")
    def row(v: String, ts: Long) = Seq(BigFormat.RowAtom(Seq(Some("c")),
      None, None, None, None, Seq(
        BigFormat.CellAtom("v", BigFormatGen.epoch + ts, None, None, Some(v),
          false))))
    try {
      (1 to 2).foreach { g =>
        writeGeneration(bare, g, Seq(
          BigFormat.PartitionData("k", None, row(s"x$g", g)),
          BigFormat.PartitionData(s"k$g", None, row("y", g))), mergeHdr)
        java.nio.file.Files.delete(
          bare.resolve(s"graft/documents/nb-$g-big-Index.db"))
        // int keys: the index's token order is not the rendered key's
        writeGeneration(typed, g, (0 until 20).map(k =>
          BigFormat.PartitionData((k * g).toString, None, row(s"z$g", g))),
          mergeHdr.copy(keyType = BigFormat.Int32Type))
      }
      def merges(in: java.nio.file.Path, extra: String*): Boolean =
        RemoverCli.fileRoute(spark,
          sinkArgs(in.toString, s"$in-unused", extra: _*)).exists(_.merge)
      assert(merges(in, "--merge", "lww"))
      assert(merges(in, "--merge", "lww", "--out-generations", "3"))
      assert(merges(in, "--merge", "lww", "--compress", "lz4",
        "--verify", "true"))
      assert(!merges(in, "--merge", "lww", "--scrub", "true"))
      assert(!merges(in, "--merge", "lww", "--cql", SSTableBinaryV2.Cql2x))
      assert(!merges(ka, "--merge", "lww"))
      // one output generation streams each input whole, index or not,
      // whatever its key type; several seek text-keyed indexes only
      assert(merges(bare, "--merge", "lww"))
      assert(!merges(bare, "--merge", "lww", "--out-generations", "3"))
      assert(merges(typed, "--merge", "lww"))
      assert(!merges(typed, "--merge", "lww", "--out-generations", "3"))
      Seq(bare, typed).foreach { lake =>
        assertRoutesAgree(sinkArgs(lake.toString, s"$out/${lake.getFileName}",
          "--merge", "lww"), None, s"one output generation over $lake")
      }
      assert(!merges(in))
      assert(!merges(in, "--out-generations", "3"))
      // the unmerged split does not take the file route
      assert(RemoverCli.fileRoute(spark, sinkArgs(in.toString,
        s"$in-unused", "--out-generations", "3")).isEmpty)
      val dump = RemoverCli.parse(Array("--in", in.toString,
        "--out", s"$in-unused", "--table", "documents",
        "--format", "sstabledump", "--sink", "sstable", "--merge", "lww"))
        .fold(e => fail(e), identity)
      assert(RemoverCli.fileRoute(spark, dump).isEmpty)
    } finally {
      Scratch.delete(in); Scratch.delete(ka); Scratch.delete(bare)
      Scratch.delete(typed); Scratch.delete(out)
    }
  }

  test("one walk, one rule: the scan, the file route and the inventory skip hidden files and _SUCCESS") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    def part(k: String) = BigFormat.PartitionData(k, None,
      Seq(BigFormat.RowAtom(Seq(Some("c0")), None, None, None, None,
        Seq(BigFormat.CellAtom("v", BigFormatGen.epoch + 1000L, None, None,
          Some(k), deleted = false)))))
    val lake = Scratch.dir("graft-hidden-")
    try {
      writeGeneration(lake, 1, Seq(part("a"), part("b")), mergeHdr)
      writeGeneration(lake, 2, Seq(part("c")), mergeHdr)
      val dir = lake.resolve("graft").resolve("documents")
      // a hidden copy of generation 1: every component, '.'-prefixed
      val gen1 = java.nio.file.Files.list(dir)
      try gen1.iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("nb-1-"))
        .foreach(f => java.nio.file.Files.copy(f,
          dir.resolve("." + f.getFileName)))
      finally gen1.close()
      java.nio.file.Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
      val visible = Seq("documents/nb-1-big-Data.db",
        "documents/nb-2-big-Data.db")
      val scan = SSTableBinaryV2.readBinary(spark, lake.toString)
      assert(scan.select("sstable").distinct().as[String].collect().sorted
        .toSeq === visible)
      assert(scan.count() === 3L)
      val plan = SSTableBinaryV2.fileRoutePlan(spark, lake.toString,
        "documents", merge = true, outGenerations = 1)
      assert(plan.map(_.listing.map(f => SSTableBinaryV2.sstableIdentity(
        f._1))) === Some(visible))
      val inventory = graft.sources.SSTableMetadata.describe(spark,
        lake.toString).select("sstable", "n_partitions").as[(String, Long)]
        .collect().sorted.toSeq
      assert(inventory === visible.zip(Seq(2L, 1L)))
    } finally Scratch.delete(lake)
  }

  test("the merge route's ring bucket agrees bit for bit with the frame route's bucket column") {
    import spark.implicits._
    // both routes bucket through SSTableBinaryV2.ringBucket; the frame
    // route's column feeds it the key's UTF-8 bytes, or the CQL key
    // type's encoding
    val keys = Seq("", "k", "éß→雪😀")
    Seq(2, 3, 1000).foreach { n =>
      val args = sinkArgs("a", "b", "--merge", "lww",
        "--out-generations", n.toString)
      val got = keys.toDF("partition_key").select(col("partition_key"),
        RemoverCli.ringBucket(args).as("b")).collect()
      assert(got.map(r => r.getString(0) -> r.getInt(1)).toMap ===
        keys.map(k => k -> SSTableBinaryV2.ringBucket(BigFormat.murmur3Token(
          k.getBytes(java.nio.charset.StandardCharsets.UTF_8)), n)).toMap)
      assert(SSTableBinaryV2.ringBucket(Long.MinValue, n) === 0)
      assert(SSTableBinaryV2.ringBucket(Long.MaxValue, n) === n - 1)
    }
  }

  test("FOUND (fixed): --merge lww ranks a cell tombstone with the writes of its cell, on both routes") {
    val c0 = Seq(Some("c0"))
    def tomb(ts: Long, ldt: Int) =
      BigFormat.CellAtom("v", ts, None, Some(ldt), None, deleted = true)
    def live(ts: Long, v: String) =
      BigFormat.CellAtom("v", ts, None, None, Some(v), deleted = false)
    def part(c: BigFormat.CellAtom) = BigFormat.PartitionData("k", None,
      Seq(BigFormat.RowAtom(c0, None, None, None, None, Seq(c))))
    val t1 = BigFormatGen.epoch + 1000L
    val t2 = BigFormatGen.epoch + 2000L
    // a deletion second apart from the tombstone's timestamp: the merge
    // must carry the tombstone's own
    val ldt = (BigFormatGen.epoch / 1000000L).toInt + 77
    Seq(
      ("older tombstone, newer write", tomb(t1, ldt), live(t2, "new"),
        live(t2, "new")),
      ("older write, newer tombstone", live(t1, "old"), tomb(t2, ldt),
        tomb(t2, ldt)),
      ("a tie goes to the tombstone", live(t2, "w"), tomb(t2, ldt),
        tomb(t2, ldt))
    ).foreach { case (shape, first, second, want) =>
      Seq("1", "3").foreach { n =>
        val lake = Scratch.dir("graft-merge-tomb-")
        val out = Scratch.dir("graft-merge-tomb-out-")
        try {
          writeGeneration(lake, 1, Seq(part(first)), mergeHdr)
          writeGeneration(lake, 2, Seq(part(second)), mergeHdr)
          val args = sinkArgs(lake.toString, s"$out/o", "--merge", "lww",
            "--out-generations", n)
          assertRoutesAgree(args, None, s"$shape, $n generations")
          val gen = 1 + SSTableBinaryV2.ringBucket(BigFormat.murmur3Token(
            "k".getBytes("UTF-8")), n.toInt)
          assert(outputPartitions(args.out, gen).flatMap(_.atoms).collect {
            case r: BigFormat.RowAtom => r.cells
          } === Seq(Seq(want)), shape)
        } finally { Scratch.delete(lake); Scratch.delete(out) }
      }
    }
  }

  test("FOUND (fixed): overlapping range tombstones from different generations fail by name on both routes") {
    import BigFormat.Kind._
    val e = BigFormatGen.epoch
    def bound(kind: Int, c: String, d: Long) =
      BigFormat.MarkerAtom(kind, Seq(Some(c)), Seq(e + d))
    def cell(c: String, ts: Long) = BigFormat.RowAtom(Seq(Some(c)), None,
      None, None, None, Seq(BigFormat.CellAtom("v", e + ts, None, None,
        Some(c), false)))
    /** One generation per range pair, then one with cells at c2 and c4
      * written at 15. */
    def lakeOf(ranges: Seq[BigFormat.Atom]*): java.nio.file.Path = {
      val lake = Scratch.dir("graft-merge-rt-")
      ranges.zipWithIndex.foreach { case (ms, i) =>
        writeGeneration(lake, i + 1,
          Seq(BigFormat.PartitionData("k", None, ms)), mergeHdr)
      }
      writeGeneration(lake, ranges.size + 1, Seq(BigFormat.PartitionData(
        "k", None, Seq(cell("c2", 15), cell("c4", 15)))), mergeHdr)
      lake
    }
    // the repro: [c1, c5] at 10 and [c2, c3] at 20 would pair as
    // (c1, c3) and (c2, c5) and delete the c4 cell written at 15
    val overlapping = lakeOf(
      Seq(bound(InclStartBound, "c1", 10), bound(InclEndBound, "c5", 10)),
      Seq(bound(InclStartBound, "c2", 20), bound(InclEndBound, "c3", 20)))
    // adjacent: [c1, c3] at 20 and (c3, c5] at 10 share c3 with
    // complementary inclusivity — c2 dies, c4 (15 > 10) lives
    val adjacent = lakeOf(
      Seq(bound(InclStartBound, "c1", 20), bound(InclEndBound, "c3", 20)),
      Seq(bound(ExclStartBound, "c3", 10), bound(InclEndBound, "c5", 10)))
    val out = Scratch.dir("graft-merge-rt-out-")
    try {
      Seq("1", "3").foreach { n =>
        val args = sinkArgs(overlapping.toString, s"$out/o$n", "--merge",
          "lww", "--out-generations", n)
        assert(RemoverCli.fileRoute(spark, args).exists(_.merge))
        val viaRoute = failure(RemoverCli.run(spark, args))
        val viaFrame = failure {
          val (frame, sources) = RemoverCli.sstableSinkInput(spark, args)
          SSTableBinaryV2.mergeSSTables(frame, s"$out/f$n", args.keyspace,
            args.table, None, None, sources)
        }
        val viaOracle = failure {
          val (frame, sources) = referenceFrame(args)
          SSTableBinaryV2.writeSSTables(frame, s"$out/r$n", args.keyspace,
            args.table, sources = sources)
        }
        Seq(viaRoute, viaFrame, viaOracle).foreach { m =>
          assert(m.contains("overlapping range tombstones in partition k " +
            "(generations: documents/nb-1-big-Data.db, " +
            "documents/nb-2-big-Data.db)"), m)
        }
        val ok = sinkArgs(adjacent.toString, s"$out/a$n", "--merge", "lww",
          "--out-generations", n)
        assertRoutesAgree(ok, None, s"adjacent ranges, $n generations")
        val gen = 1 + SSTableBinaryV2.ringBucket(BigFormat.murmur3Token(
          "k".getBytes("UTF-8")), n.toInt)
        val atoms = outputPartitions(ok.out, gen).flatMap(_.atoms)
        assert(atoms.collect { case r: BigFormat.RowAtom =>
          r.clustering } === Seq(Seq(Some("c4"))))
        assert(atoms.count(_.isInstanceOf[BigFormat.MarkerAtom]) === 4)
      }
    } finally {
      Scratch.delete(overlapping); Scratch.delete(adjacent)
      Scratch.delete(out)
    }
  }

  test("sink output directories hold Cassandra components only, no checksum side files") {
    import scala.jdk.CollectionConverters._
    val in = indexedFixture()
    val component = ("nb-\\d+-big-(Data\\.db|Index\\.db|Filter\\.db|" +
      "Summary\\.db|Statistics\\.db|Digest\\.crc32|TOC\\.txt|" +
      "CompressionInfo\\.db)").r
    try {
      Seq(Seq.empty[String], Seq("--compress", "lz4"),
        Seq("--merge", "lww", "--out-generations", "2"),
        Seq("--out-generations", "2")).foreach { extra =>
        val out = Scratch.dir("graft-sink-files-")
        try {
          val args = sinkArgs(in.toString, s"$out/o", extra: _*)
          val rows = RemoverCli.run(spark, args)
          val dir = java.nio.file.Paths.get(args.out, "graft", "documents")
          def names(): Seq[String] = {
            val listing = java.nio.file.Files.list(dir)
            try listing.iterator().asScala.map(_.getFileName.toString)
              .toSeq.sorted
            finally listing.close()
          }
          val written = names()
          assert(written.exists(_.endsWith("-Data.db")), extra)
          assert(written.filterNot(component.matches) === Nil, extra)
          val readBack = SSTableBinaryV2.readBinary(spark, args.out).count()
          // an earlier checksummed writer's components, each with its
          // `.crc`: rewriting them must not leave a `.crc` that no
          // longer matches the bytes beside it
          val local = org.apache.hadoop.fs.FileSystem.getLocal(
            spark.sessionState.newHadoopConf())
          written.foreach { n =>
            val os = local.create(new org.apache.hadoop.fs.Path(
              dir.resolve(n).toString), true)
            try os.write("stale".getBytes("US-ASCII")) finally os.close()
          }
          assert(names().count(_.endsWith(".crc")) === written.size, extra)
          assert(RemoverCli.run(spark, args) === rows, extra)
          assert(SSTableBinaryV2.readBinary(spark, args.out).count() ===
            readBack, extra)
          assert(names() === written, extra)
        } finally Scratch.delete(out)
      }
    } finally Scratch.delete(in)
  }

  test("a remover file-route job starts no OS process") {
    import scala.jdk.CollectionConverters._
    val in = indexedFixture()
    val out = Scratch.dir("graft-no-fork-")
    // the class's own set-up probes (`setsid`) run once per JVM, at its
    // initialization: finish it before the recording starts
    Class.forName("org.apache.hadoop.util.Shell")
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try {
        RemoverCli.run(spark, sinkArgs(in.toString, s"$out/lz4",
          "--compress", "lz4"))
        RemoverCli.run(spark, sinkArgs(in.toString, s"$out/merged",
          "--merge", "lww", "--out-generations", "2"))
      } finally rec.stop()
      val dump = out.resolve("run.jfr")
      rec.dump(dump)
      val forks = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala
          .exists(_.getMethod.getType.getName ==
            "org.apache.hadoop.util.Shell")))
      assert(forks.map(_.getString("command")) === Nil)
    } finally {
      rec.close(); Scratch.delete(out); Scratch.delete(in)
    }
  }

  test("walkLake lists exactly what a recursive listFiles walk lists") {
    val root = Scratch.dir("graft-walk-")
    try {
      def put(rel: String): Unit = {
        val f = root.resolve(rel)
        java.nio.file.Files.createDirectories(f.getParent)
        java.nio.file.Files.write(f, rel.getBytes("UTF-8"))
      }
      Seq("ks1/t1/nb-1-big-Data.db", "ks1/t1/nb-1-big-Index.db",
        "ks1/t1/.nb-1-big-Data.db.crc", "ks1/t1/_SUCCESS",
        "ks1/t2/nb-2-big-Data.db", "ks1/t2/deep/nb-3-big-Data.db",
        "ks2/t1/ks2-t1-ka-4-Data.db", "ks2/.hidden/nb-5-big-Data.db",
        "ks2/_temporary/nb-6-big-Data.db", "README.txt").foreach(put)
      java.nio.file.Files.createDirectories(root.resolve("ks3/empty"))
      val conf = spark.sessionState.newHadoopConf()
      // the former walk, kept here as the oracle
      def listFilesWalk(at: String): Seq[(String, Long)] = {
        val fs = org.apache.hadoop.fs.FileSystem.get(
          java.net.URI.create(at), conf)
        val files = Seq.newBuilder[(String, Long)]
        val it = fs.listFiles(new org.apache.hadoop.fs.Path(at), true)
        while (it.hasNext) {
          val f = it.next()
          val name = f.getPath.getName
          if (f.isFile && !name.startsWith(".") && !name.startsWith("_"))
            files += ((f.getPath.toString, f.getLen))
        }
        files.result()
      }
      Seq(root.toString, root.toUri.toString,
        root.resolve("ks1").toString,
        root.resolve("ks1/t1/nb-1-big-Data.db").toString,
        root.resolve("ks3").toString).foreach { at =>
        val expected = listFilesWalk(at)
        assert(SSTableBinaryV2.walkLake(at, conf) === expected, at)
      }
      assert(listFilesWalk(root.toString).size === 8)
    } finally Scratch.delete(root)
  }

  test("output files carry Hadoop's modes: components rw-r--r--, created directories rwxr-xr-x") {
    import scala.jdk.CollectionConverters._
    val in = indexedFixture()
    val out = Scratch.dir("graft-modes-")
    def mode(p: java.nio.file.Path) = java.nio.file.attribute
      .PosixFilePermissions.toString(
        java.nio.file.Files.getPosixFilePermissions(p))
    // every file and directory from `top` down, by mode
    def modes(top: java.nio.file.Path): Map[String, Set[String]] = {
      val walk = java.nio.file.Files.walk(top)
      try walk.iterator().asScala.toSeq.groupBy(p =>
          if (java.nio.file.Files.isDirectory(p)) "dir" else "file")
        .map { case (k, ps) => k -> ps.map(mode).toSet }
      finally walk.close()
    }
    try {
      val sstable = out.resolve("sstable")
      RemoverCli.run(spark, sinkArgs(in.toString, sstable.toString,
        "--compress", "lz4"))
      val dump = out.resolve("dump")
      RemoverCli.run(spark, RemoverCli.parse(Array("--in", in.toString,
        "--out", dump.toString, "--table", "documents", "--format",
        "sstable", "--sink", "sstabledump"))
        .fold(e => fail(s"parse failed: $e"), identity))
      val copy = out.resolve("copy/level")
      graft.sources.SSTableMetadata.rewriteMetadata(spark,
        in.resolve("graft/documents").toString, copy.toString,
        Some(1), None)
      Seq(sstable, dump, out.resolve("copy")).foreach { top =>
        assert(modes(top) === Map("dir" -> Set("rwxr-xr-x"),
          "file" -> Set("rw-r--r--")), top)
      }
    } finally {
      Scratch.delete(out); Scratch.delete(in)
    }
  }

  test("the sidecar copy and the sstabledump sink leave no .crc side files") {
    import scala.jdk.CollectionConverters._
    val in = indexedFixture()
    val out = Scratch.dir("graft-no-crc-")
    def names(dir: java.nio.file.Path): Seq[String] = {
      val walk = java.nio.file.Files.walk(dir)
      try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(_.getFileName.toString).toSeq.sorted
      finally walk.close()
    }
    try {
      val docs = in.resolve("graft/documents")
      val copy = out.resolve("copy")
      assert(graft.sources.SSTableMetadata.rewriteMetadata(spark,
        docs.toString, copy.toString, Some(1), None) > 0)
      assert(names(copy) === names(docs))
      val dump = out.resolve("dump")
      RemoverCli.run(spark, RemoverCli.parse(Array("--in", in.toString,
        "--out", dump.toString, "--table", "documents", "--format",
        "sstable", "--sink", "sstabledump"))
        .fold(e => fail(s"parse failed: $e"), identity))
      assert(names(dump).nonEmpty)
      assert(names(dump).filter(_.endsWith(".crc")) === Nil)
    } finally {
      Scratch.delete(out); Scratch.delete(in)
    }
  }

  test("an oddly named *-Data.db fails by name on the scan, the file route and the sidecar tools") {
    val in = indexedFixture()
    val out = Scratch.dir("graft-odd-name-")
    try {
      val docs = in.resolve("graft/documents")
      val odd = docs.resolve("copy-of-nb-1-big-Data.db")
      java.nio.file.Files.copy(docs.resolve("nb-1-big-Data.db"), odd)
      def refusal(run: => Any): String = {
        val e = intercept[Exception](run)
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(_.getMessage).filter(_ != null).mkString(" | ")
      }
      Seq(
        refusal(SSTableBinaryV2.readBinary(spark, in.toString).count()),
        refusal(RemoverCli.run(spark, sinkArgs(in.toString, s"$out/o"))),
        // with a declared table the copy would otherwise decode as 2.x
        refusal(RemoverCli.run(spark, sinkArgs(in.toString, s"$out/c",
          "--cql", SSTableBinaryV2.Cql2x))),
        refusal(graft.sources.SSTableMetadata.rewriteMetadata(spark,
          docs.toString, s"$out/copy", Some(1), None))).foreach { msg =>
        assert(msg.contains(s"$odd: not an SSTable data file name"), msg)
        assert(msg.contains("<version>-<generation>-big-Data.db"), msg)
        assert(msg.contains(
          "<keyspace>-<table>-<version>-<generation>-Data.db"), msg)
        assert(!msg.contains("declare the table"), msg)
      }
    } finally {
      Scratch.delete(out); Scratch.delete(in)
    }
  }

  test("--verify on every file-route shape checks every input's digest; a corrupt one fails by name") {
    import scala.jdk.CollectionConverters._
    val in = indexedFixture()
    val out = Scratch.dir("graft-file-verify-")
    // (shape, its arguments, whether the plan merges)
    val shapes = Seq(
      ("rewrite", Seq.empty[String], false),
      ("merge lww", Seq("--merge", "lww"), true),
      ("merge lww, 3 generations",
        Seq("--merge", "lww", "--out-generations", "3"), true))
    try {
      def args(extra: Seq[String], o: String) = sinkArgs(in.toString,
        s"$out/$o", extra ++ Seq("--verify", "true"): _*)
      shapes.zipWithIndex.foreach { case ((shape, extra, merge), i) =>
        assert(RemoverCli.fileRoute(spark, args(extra, s"a$i"))
          .map(_.merge) === Some(merge), shape)
        assert(RemoverCli.run(spark, args(extra, s"a$i")) > 0, shape)
      }
      val digests = {
        val walk = java.nio.file.Files.walk(in)
        try walk.iterator().asScala
          .filter(_.getFileName.toString.endsWith("-Digest.crc32")).toSeq
          .sortBy(_.toString)
        finally walk.close()
      }
      assert(digests.size === SSTableDumpBridge.TreeFiles)
      // the fourth input: with 3 output generations, inputs outnumber
      // tasks, so task 0 verifies it beside the first
      val bad = digests.last
      java.nio.file.Files.write(bad, "12345".getBytes("US-ASCII"))
      shapes.zipWithIndex.foreach { case ((shape, extra, _), i) =>
        val m = failure(RemoverCli.run(spark, args(extra, s"b$i")))
        assert(m.contains(bad.getFileName.toString
          .stripSuffix("-Digest.crc32") + "-Data.db: Digest.crc32 mismatch"),
          s"$shape: $m")
      }
    } finally { Scratch.delete(in); Scratch.delete(out) }
  }

  test("property: the merge route writes the frame route's bytes over overlapping generations, 1 and 3 output generations (ScalaCheck)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.sources.CompressedData
    val compressors = None +: Seq(CompressedData.Lz4, CompressedData.Snappy,
      CompressedData.Deflate, CompressedData.Zstd).map(Some(_))
    var sharedKeys = 0
    var ranges = 0
    (1 to 10).foreach { seed =>
      val gens = BigFormatGen.mergeLake
        .apply(Gen.Parameters.default, Seed(seed.toLong))
        .getOrElse(sys.error("gen failed"))
      assert(gens.size >= 2 && gens.size <= 5)
      sharedKeys += gens.flatMap(_.map(_.key)).groupBy(identity)
        .count(_._2.size > 1)
      ranges += gens.flatten.flatMap(_.atoms).count(_.isInstanceOf[BigFormat.MarkerAtom])
      val lake = Scratch.dir("graft-merge-prop-")
      try {
        gens.zipWithIndex.foreach { case (parts, g) =>
          writeGeneration(lake, g + 1, parts, BigFormatGen.mergeHeader,
            compressors((seed + g) % compressors.size))
        }
        Seq("1", "3").foreach { n =>
          val out = Scratch.dir("graft-merge-prop-out-")
          try assertRoutesAgree(sinkArgs(lake.toString, s"$out/o", "--merge",
            "lww", "--out-generations", n), None,
            s"seed $seed, ${gens.size} inputs, $n output generations")
          finally Scratch.delete(out)
        }
      } finally Scratch.delete(lake)
    }
    // the lakes exercise what the property is about
    assert(sharedKeys >= 30 && ranges >= 10, (sharedKeys, ranges))
  }

  test("--merge lww: the parquet, sstable and sstabledump sinks agree on an overlapping lake") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val gens = BigFormatGen.mergeLake
      .apply(Gen.Parameters.default, Seed(17L))
      .getOrElse(sys.error("gen failed"))
    // every sink keeps only the newest of a key's partition deletions,
    // of a row's row deletions and of a row column's collection
    // deletions; this lake repeats all three
    def repeated[K](keys: Seq[K]) = keys.groupBy(identity).exists(_._2.size > 1)
    assert(repeated(gens.flatten.filter(_.deletionUs.isDefined).map(_.key)))
    assert(repeated(gens.flatten.flatMap(p => p.atoms.collect {
      case r: BigFormat.RowAtom if r.deletionUs.isDefined =>
        (p.key, r.clustering)
    })))
    assert(repeated(gens.flatten.flatMap(p => p.atoms.flatMap {
      case r: BigFormat.RowAtom =>
        r.complexDeletions.map(d => (p.key, r.static, r.clustering, d._1))
      case _ => Nil
    })))
    // the dump format has no cell or collection tombstones and no static
    // rows, so the dump sink's lake leaves them out
    def dumpable(p: BigFormat.PartitionData) = p.copy(atoms = p.atoms.flatMap {
      case r: BigFormat.RowAtom if r.static => None
      case r: BigFormat.RowAtom =>
        val cells = r.cells.filterNot(_.deleted)
        if (cells.isEmpty && r.livenessTsUs.isEmpty && r.deletionUs.isEmpty)
          None
        else Some(r.copy(cells = cells, complexDeletions = Nil))
      case m => Some(m)
    })
    val lake = Scratch.dir("graft-merge-sinks-")
    val dumpLake = Scratch.dir("graft-merge-sinks-dump-")
    val out = Scratch.dir("graft-merge-sinks-out-")
    /** Runs `sink` over `in`, merged or not, into a fresh directory. */
    var lastCount = 0L
    def run(in: java.nio.file.Path, sink: String, merge: Boolean): String = {
      val o = s"$out/${in.getFileName}-$sink-$merge"
      lastCount = RemoverCli.run(spark, RemoverCli.parse(Array("--in",
        in.toString, "--out", o, "--table", "documents", "--format",
        "sstable", "--sink", sink) ++
        (if (merge) Seq("--merge", "lww") else Nil))
        .fold(e => fail(s"parse failed: $e"), identity))
      o
    }
    /** The bridge columns every sink's rows compare on. */
    def rows(df: org.apache.spark.sql.DataFrame) = df.select(
      col("partition_key"), col("clustering"), col("row_kind"), col("name"),
      col("value"), col("writetime_us"), col("deletion_us")).localCheckpoint()
    def reread(bridge: org.apache.spark.sql.DataFrame) = rows(bridge
      .withColumn("value", col("cell.value"))
      .withColumn("writetime_us", col("cell.writetime_us")))
    def same(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame, what: String): Unit =
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, what)
    try {
      gens.zipWithIndex.foreach { case (parts, g) =>
        writeGeneration(lake, g + 1, parts, BigFormatGen.mergeHeader)
        writeGeneration(dumpLake, g + 1, parts.map(dumpable),
          BigFormatGen.mergeHeader)
      }
      val input = SSTableBinaryV2.readBinary(spark, lake.toString)
      val kinds = input.select("row_kind").distinct().collect()
        .map(_.getString(0)).toSet
      assert(Set("CELL_DELETION", "ROW_DELETION", "PARTITION_DELETION",
        "RANGE_TOMBSTONE_BOUND").subsetOf(kinds), kinds)
      assert(input.groupBy("partition_key").agg(countDistinct("sstable")
        .as("n")).filter(col("n") > 1).count() > 0, "no key overlaps")

      val parquet = rows(spark.read.parquet(run(lake, "parquet", true)))
      val sstable = reread(SSTableBinaryV2.readBinary(spark,
        run(lake, "sstable", true)))
      // the SSTable sink reports the rows of the merged parquet, whose
      // partition, row and collection deletions are the newest only
      assert(lastCount === parquet.count())
      // the merge reconciled something
      assert(parquet.count() <
        spark.read.parquet(run(lake, "parquet", false)).count())
      val all = parquet.select("row_kind").distinct().collect()
        .map(_.getString(0)).toSet ++ kinds
      (all - "PK_LIVENESS").foreach { k =>
        same(parquet.filter(col("row_kind") === k),
          sstable.filter(col("row_kind") === k), k)
      }
      // the one difference is the reader's liveness FOUND: the SSTable
      // keeps the liveness of a merged row that also has cells or a row
      // deletion, and reading it back drops it
      val live = parquet.filter(col("row_kind") === "PK_LIVENESS")
      val liveBack = sstable.filter(col("row_kind") === "PK_LIVENESS")
      assert(liveBack.exceptAll(live).isEmpty)
      val rowsWithMore = parquet
        .filter(col("row_kind").isin("ROW", "CELL_DELETION", "ROW_DELETION",
          "COMPLEX_DELETION"))
        .select("partition_key", "clustering").distinct()
      assert(live.exceptAll(liveBack).join(rowsWithMore,
        Seq("partition_key", "clustering"), "left_anti").isEmpty)

      // the dump sink, on the dump-expressible lake
      val dumpParquet = rows(spark.read.parquet(run(dumpLake, "parquet", true)))
      val dump = reread(SSTableDumpBridge.readTree(spark,
        run(dumpLake, "sstabledump", true)))
      assert(dumpParquet.count() < spark.read.parquet(
        run(dumpLake, "parquet", false)).count())
      same(dumpParquet, dump, "sstabledump")
    } finally {
      Scratch.delete(lake); Scratch.delete(dumpLake); Scratch.delete(out)
    }
  }

  test("the generation encoder's bytes do not depend on the order its partitions arrive in") {
    // more distinct deletion seconds than the drop-time histogram has
    // bins, so its merges are order-sensitive: the encoder must feed it
    // the written (token) order, not the order partitions arrive in
    val hdr = BigFormatGen.header
    val parts = (0 until 240).map(i => BigFormat.PartitionData(s"k$i",
      Some(BigFormatGen.epoch + i * 7919L * 1000000L), Nil))
    val outs = Seq(parts, parts.reverse, parts.sortBy(_.key.reverse)).map {
      order =>
        val lake = Scratch.dir("graft-order-")
        val dir = lake.resolve("graft").resolve("documents")
        java.nio.file.Files.createDirectories(dir)
        // the input Data.db holds the partitions in `order` (decode
        // order), not token order
        java.nio.file.Files.write(dir.resolve("nb-1-big-Data.db"),
          BigFormat.writeSortedDataFile(order, hdr)._1)
        java.nio.file.Files.write(dir.resolve("nb-1-big-Statistics.db"),
          BigFormat.writeStats(hdr))
        val out = Scratch.dir("graft-order-out-")
        try {
          val args = sinkArgs(lake.toString, s"$out/o")
          assert(RemoverCli.run(spark, args) === 240L)
          filesUnder(java.nio.file.Paths.get(args.out))
        } finally { Scratch.delete(lake); Scratch.delete(out) }
    }
    assert(outs(0).keySet.count(_.endsWith(".db")) >= 5)
    outs.tail.foreach { o =>
      assert(o.keySet === outs(0).keySet)
      assert(o.keys.filterNot(k => o(k) == outs(0)(k)).toSeq.sorted === Nil)
    }
  }

  test("RemoverCli --sink sstable keeps the distinct pass when basenames collide across subdirectories") {
    import spark.implicits._
    val wt = 1609459200L * 1000000L
    val lake = Scratch.dir("graft-cli-collide-")
    val out = Scratch.dir("graft-cli-collide-out-")
    try {
      // t1/nb-1 and t2/nb-1 under one root: which one keeps
      // generation 1 depends on which sources carry rows
      Seq("t1" -> "p1", "t2" -> "p2").foreach { case (t, pk) =>
        val frame = Seq((pk, Seq("c"), "ROW", Some("v"),
          Some(("x", wt, Some(60), Some(wt + 60000000L))),
          None: Option[Long], s"$t/nb-1-big-Data.db"))
          .toDF("partition_key", "clustering", "row_kind", "name",
            "cell_t", "deletion_us", "sstable")
          .withColumn("cell", struct(col("cell_t._1").as("value"),
            col("cell_t._2").as("writetime_us"),
            col("cell_t._3").as("ttl_s"), col("cell_t._4").as("expire_us")))
          .drop("cell_t")
        SSTableBinaryV2.writeSSTables(frame, lake.toString, "ks", t)
      }
      val args = sinkArgs(lake.toString, s"$out/o")
      assert(SSTableBinaryV2.sourceSetViolations(SSTableBinaryV2
        .dataSourceIdentities(spark, lake.toString)).nonEmpty)
      assert(RemoverCli.sstableSinkInput(spark, args)._2.isEmpty)
      assert(RemoverCli.run(spark, args) === 2L)
      assertSameAsDistinctPass(args, None, "colliding basenames")
      val back = SSTableBinaryV2.readBinary(spark, s"$out/o")
      assert(back.select("sstable").distinct().count() === 2)
      assert(back.filter(col("cell.ttl_s").isNotNull).count() === 0)
    } finally { Scratch.delete(lake); Scratch.delete(out) }
  }

  test("RemoverCli --scrub: a generation scrub skips entirely writes nothing; survivors keep their generations") {
    import spark.implicits._
    val wt = 1609459200000000L
    val lake = Scratch.dir("graft-cli-scrubedge-")
    val out = Scratch.dir("graft-cli-scrubedge-out-")
    try {
      // four single-partition generations; nb-3's one partition is
      // poisoned, so scrub serves nothing of it
      val frame = (1 to 4).map { g =>
        (s"k$g", Seq("c"), "ROW", Some("v"),
          Some((s"val$g", wt, Some(60), Some(wt + 60000000L))),
          None: Option[Long], s"t/nb-$g-big-Data.db")
      }.toDF("partition_key", "clustering", "row_kind", "name",
        "cell_t", "deletion_us", "sstable")
        .withColumn("cell", struct(col("cell_t._1").as("value"),
          col("cell_t._2").as("writetime_us"),
          col("cell_t._3").as("ttl_s"), col("cell_t._4").as("expire_us")))
        .drop("cell_t")
      SSTableBinaryV2.writeSSTables(frame, lake.toString, "graft",
        "documents")
      val dir = lake.resolve("graft").resolve("documents")
      val dataP = dir.resolve("nb-3-big-Data.db")
      val idxP = dir.resolve("nb-3-big-Index.db")
      val pos = graft.sources.SSTableComponents.indexEntries(
        new java.io.DataInputStream(new ByteArrayInputStream(
          java.nio.file.Files.readAllBytes(idxP))), idxP.toString)
        .map(_._2).next()
      val ch = java.nio.channels.FileChannel.open(dataP,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        ch.position(pos)
        ch.write(java.nio.ByteBuffer.wrap(Array(0xff.toByte, 0xff.toByte)))
      } finally ch.close()
      java.nio.file.Files.deleteIfExists(dir.resolve(".nb-3-big-Data.db.crc"))

      val args = sinkArgs(lake.toString, s"$out/o", "--scrub", "true")
      // the listing names the skipped generation, the data does not
      val (scrubbed, sources) = RemoverCli.sstableSinkInput(spark, args)
      assert(sources.map(_.size) === Some(4))
      assert(scrubbed.select("sstable").distinct().count() === 3)
      assert(rowsDecoded(RemoverCli.run(spark, args)) === 3L)
      assertSameAsDistinctPass(args, None, "scrub skips a generation")
      val written = java.nio.file.Paths.get(args.out, "graft", "documents")
        .toFile.list().filter(_.endsWith("-Data.db")).sorted.toSeq
      assert(written === Seq("nb-1-big-Data.db", "nb-2-big-Data.db",
        "nb-4-big-Data.db"))
      val back = SSTableBinaryV2.readBinary(spark, args.out)
      assert(back.select("partition_key").as[String].collect().toSet ===
        Set("k1", "k2", "k4"))
      assert(back.filter(col("cell.ttl_s").isNotNull).count() === 0)
    } finally { Scratch.delete(lake); Scratch.delete(out) }
  }

  test("scrub mode salvages damaged generations; without an index the intact prefix survives") {
    import spark.implicits._
    def freshGen(): java.nio.file.Path = {
      val out = Scratch.dir("graft-scrubspec-")
      val wt = 1609459200000000L
      val frame = (1 to 16).map { i =>
        (i.toString, Seq("c"), "ROW", Some("v"),
          Some((s"val$i", wt, None: Option[Int], None: Option[Long])),
          None: Option[Long], "t/nb-1-big-Data.db")
      }.toDF("partition_key", "clustering", "row_kind", "name",
        "cell_t", "deletion_us", "sstable")
        .withColumn("cell", struct(
          col("cell_t._1").as("value"),
          col("cell_t._2").as("writetime_us"),
          col("cell_t._3").as("ttl_s"), col("cell_t._4").as("expire_us")))
        .drop("cell_t")
      SSTableBinaryV2.writeSSTables(frame, out.toString, "graft",
        "documents")
      out
    }
    def poison(dir: java.nio.file.Path, key: String): Unit = {
      // overwrite the partition's 2-byte key-length prefix with
      // 0xFFFF: the decoder's 65535-byte key read overruns the tiny
      // file — a guaranteed failure confined to that slot
      val dataP = dir.resolve("nb-1-big-Data.db")
      val idxP = dir.resolve("nb-1-big-Index.db")
      val kb = BigFormat.encodeValue(BigFormat.Utf8Type, key).toSeq
      val pos = graft.sources.SSTableComponents.indexEntries(
        new java.io.DataInputStream(new ByteArrayInputStream(
          java.nio.file.Files.readAllBytes(idxP))), idxP.toString)
        .collectFirst { case (k, p, _) if k.toSeq == kb => p }
        .getOrElse(fail(s"key $key missing from index"))
      val ch = java.nio.channels.FileChannel.open(dataP,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        ch.position(pos)
        ch.write(java.nio.ByteBuffer.wrap(
          Array(0xff.toByte, 0xff.toByte)))
      } finally ch.close()
      java.nio.file.Files.deleteIfExists(
        dir.resolve(".nb-1-big-Data.db.crc"))
    }
    def keysOf(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("partition_key").collect().map(_.getString(0)).toSet
    val all = (1 to 16).map(_.toString).toSet
    def tok(k: String): Long = BigFormat.murmur3Token(
      BigFormat.encodeValue(BigFormat.Utf8Type, k))
    // pick the corrupt key from the MIDDLE of token order so both
    // the skip and the continuation are exercised
    val ordered = all.toSeq.sortBy(tok)
    val bad = ordered(7)
    val out = freshGen()
    try {
      val dir = out.resolve("graft").resolve("documents")
      poison(dir, bad)
      // the ordinary read dies loudly; scrub serves everything else
      intercept[org.apache.spark.SparkException] {
        SSTableBinaryV2.readBinary(spark, dir.toString).count()
      }
      val scrubbed = spark.read.format("sstable-big")
        .option("scrub", "true").load(dir.toString)
      assert(keysOf(scrubbed) === all - bad)
      // scrub shows in the plan description (trust-by-explain)
      assert(scrubbed.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        .contains("scrub=true"))
      // WITHOUT an index there is nothing to re-frame by: the intact
      // token-order PREFIX survives, the remainder is abandoned
      Seq("-Index.db", "-Summary.db", "-Filter.db").foreach { sfx =>
        java.nio.file.Files.deleteIfExists(
          dir.resolve(s"nb-1-big$sfx"))
        java.nio.file.Files.deleteIfExists(
          dir.resolve(s".nb-1-big$sfx.crc"))
      }
      val prefix = ordered.takeWhile(_ != bad).toSet
      val salvagedNoIdx = spark.read.format("sstable-big")
        .option("scrub", "true").load(dir.toString)
      assert(keysOf(salvagedNoIdx) === prefix)
    } finally Scratch.delete(out)
    // CLI validation: scrub is a binary-format recovery mode and
    // contradicts digest verification
    assert(RemoverCli.parse(Array("--in", "a", "--out", "b",
      "--table", "t", "--scrub", "true")).isLeft)
    assert(RemoverCli.parse(Array("--in", "a", "--out", "b",
      "--table", "t", "--format", "sstable", "--scrub", "true",
      "--verify", "true")).isLeft)
    assert(RemoverCli.parse(Array("--in", "a", "--out", "b",
      "--table", "t", "--format", "sstable", "--scrub", "true"))
      .isRight)
  }

  test("DSv2 custom metrics surface the IO-pruning gates: bloom skips, token-span skips, scrub skips, partitions served") {
    import spark.implicits._
    val out = Scratch.dir("graft-metricspec-")
    try {
      val wt = 1609459200000000L
      // four single-partition generations — per-file gate decisions
      val frame = (0 to 3).map { i =>
        (i.toString, Seq(s"c$i"), "ROW", Some("v"),
          Some((s"val$i", wt, None: Option[Int], None: Option[Long])),
          None: Option[Long], s"t/nb-${i + 1}-big-Data.db")
      }.toDF("partition_key", "clustering", "row_kind", "name",
        "cell_t", "deletion_us", "sstable")
        .withColumn("cell", struct(
          col("cell_t._1").as("value"),
          col("cell_t._2").as("writetime_us"),
          col("cell_t._3").as("ttl_s"), col("cell_t._4").as("expire_us")))
        .drop("cell_t")
      SSTableBinaryV2.writeSSTables(frame, out.toString, "graft",
        "documents")
      val dir = s"$out/graft/documents"
      def metricsOf(df: org.apache.spark.sql.DataFrame)
          : Map[String, Long] = {
        df.collect()
        df.queryExecution.executedPlan.collectLeaves().collect {
          case s: org.apache.spark.sql.execution.datasources.v2
            .BatchScanExec =>
            s.metrics.view.mapValues(_.value).toMap
        }.head.map { case (k, v) => k -> v.toString.toLong }
      }
      // point lookup on ONE key: three files bloom-skip, one serves
      val point = metricsOf(SSTableBinaryV2.readBinary(spark, dir)
        .filter(col("partition_key") === "2"))
      assert(point("filesSkippedBloom") === 3, point.toString)
      assert(point("partitionsServed") === 1, point.toString)
      // single-token range: three files are token-span disjoint
      def tok(k: String): Long = BigFormat.murmur3Token(
        BigFormat.encodeValue(BigFormat.Utf8Type, k))
      val ranged = metricsOf(spark.read.format("sstable-big")
        .option("tokenLo", tok("2").toString)
        .option("tokenHi", tok("2").toString).load(dir))
      assert(ranged("filesSkippedTokenSpan") === 3, ranged.toString)
      assert(ranged("partitionsServed") === 1, ranged.toString)
      // the FIRST read of this dir went to storage for its sidecars…
      assert(point("componentCacheMisses") > 0, point.toString)
      // full scan: every partition served, nothing skipped
      val full = metricsOf(SSTableBinaryV2.readBinary(spark, dir))
      assert(full("partitionsServed") === 4, full.toString)
      assert(full("filesSkippedBloom") === 0, full.toString)
      // …and a later read of the same generations is served from the
      // executor component cache — the key-cache economics, readable
      // in the UI like the other gates
      assert(full("componentCacheHits") > 0, full.toString)
      // split files report file-level skips ONCE (zero-offset owner),
      // not once per range — the UI number must reconcile with the
      // file count
      val rangedSplit = metricsOf(spark.read.format("sstable-big")
        .option("tokenLo", tok("2").toString)
        .option("tokenHi", tok("2").toString)
        .option("splitBytes", "64").load(dir))
      assert(rangedSplit("filesSkippedTokenSpan") === 3,
        rangedSplit.toString)
      // poison one generation's key-length prefix: scrub counts it
      val badFile = SSTableBinaryV2.readBinary(spark, dir)
        .filter(col("partition_key") === "3")
        .select("sstable").head().getString(0).split('/').last
      val dataP = java.nio.file.Paths.get(dir, badFile)
      val idxP = java.nio.file.Paths.get(dir,
        badFile.replace("-Data.db", "-Index.db"))
      val pos = graft.sources.SSTableComponents.indexEntries(
        new java.io.DataInputStream(new ByteArrayInputStream(
          java.nio.file.Files.readAllBytes(idxP))), idxP.toString)
        .map(_._2).next()
      val ch = java.nio.channels.FileChannel.open(dataP,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        ch.position(pos)
        ch.write(java.nio.ByteBuffer.wrap(
          Array(0xff.toByte, 0xff.toByte)))
      } finally ch.close()
      java.nio.file.Files.deleteIfExists(
        dataP.getParent.resolve("." + dataP.getFileName + ".crc"))
      val scrubbed = metricsOf(spark.read.format("sstable-big")
        .option("scrub", "true").load(dir))
      assert(scrubbed("partitionsScrubSkipped") === 1, scrubbed.toString)
      assert(scrubbed("partitionsServed") === 3, scrubbed.toString)
    } finally Scratch.delete(out)
  }

  test("file-level clustering-slice elision: a slice window disjoint " +
    "from a file's STATS clustering bounds skips it whole; an " +
    "overlapping (or equal-bound) window never does") {
    import spark.implicits._
    val out = Scratch.dir("graft-clelide-")
    try {
      val wt = 1609459200000000L
      // two generations: ck 'a'..'d' in gen 1, 'm'..'p' in gen 2
      val frame = Seq(("k1", "a", 1), ("k2", "d", 1),
        ("k3", "m", 2), ("k4", "p", 2)).map { case (k, c, g) =>
        (k, Seq(c), "ROW", Some("v"),
          Some(("x", wt, None: Option[Int], None: Option[Long])),
          None: Option[Long], s"t/nb-$g-big-Data.db")
      }.toDF("partition_key", "clustering", "row_kind", "name",
        "cell_t", "deletion_us", "sstable")
        .withColumn("cell", struct(
          col("cell_t._1").as("value"),
          col("cell_t._2").as("writetime_us"),
          col("cell_t._3").as("ttl_s"), col("cell_t._4").as("expire_us")))
        .drop("cell_t")
      SSTableBinaryV2.writeSSTables(frame, out.toString, "graft",
        "documents")
      val dir = s"$out/graft/documents"
      def metricsOf(df: org.apache.spark.sql.DataFrame)
          : (Long, Map[String, Long]) = {
        // collect(), not count(): count() plans a SEPARATE query
        // execution, leaving this df's own executedPlan (where the
        // metrics live) never run
        val n = df.collect().length.toLong
        (n, df.queryExecution.executedPlan.collectLeaves().collect {
          case s: org.apache.spark.sql.execution.datasources.v2
            .BatchScanExec =>
            s.metrics.view.mapValues(_.value.toString.toLong).toMap
        }.head)
      }
      def sliced(lo: String, hi: String) =
        metricsOf(spark.read.format("sstable-big")
          .option("sliceLo", lo).option("sliceHi", hi).load(dir))
      // window entirely inside gen 2's band: gen 1 skips whole
      val (n1, m1) = sliced("g", "z")
      assert(m1("filesSkippedClusteringSpan") === 1, m1.toString)
      assert(n1 === 2L)
      // window below everything: both skip, nothing decoded
      val (n0, m0) = sliced("A", "B")
      assert(m0("filesSkippedClusteringSpan") === 2, m0.toString)
      assert(n0 === 0L && m0("partitionsServed") === 0L)
      // EQUAL bound: lo == gen 1's max ('d') may still match — the
      // strict-inequality rule must keep the file (and a kept file
      // serves ALL its rows: a manual slice is an IO hint, the
      // residual predicate in a real plan does the row filtering)
      val (nEq, mEq) = sliced("d", "z")
      assert(mEq("filesSkippedClusteringSpan") === 0, mEq.toString)
      assert(nEq === 4L)
      // spanning window: nothing skips
      val (nAll, mAll) = sliced("a", "p")
      assert(mAll("filesSkippedClusteringSpan") === 0, mAll.toString)
      assert(nAll === 4L)
    } finally Scratch.delete(out)
  }

  test("CLI --sink sstabledump: binary in, dump JSON out, both merged and per-generation") {
    val in = SSTableBinaryV2.writeBinaryFixture(spark, sfDir)
    val out1 = Scratch.dir("graft-cliexp-").toString + "/o"
    val out2 = Scratch.dir("graft-cliexp2-").toString + "/o"
    try {
      // per-generation export: one dump per input SSTable, stripped
      val args = RemoverCli.parse(Array("--in", in.toString,
        "--out", out1, "--table", "documents", "--format", "sstable",
        "--sink", "sstabledump"))
        .fold(e => fail(s"parse failed: $e"), identity)
      RemoverCli.run(spark, args)
      val back = SSTableDumpBridge.readTree(spark, out1)
      assert(back.select("sstable").distinct().count()
        === SSTableDumpBridge.TreeFiles)
      assert(back.filter(col("cell.ttl_s").isNotNull).count() === 0)
      assert(back.filter(col("row_kind") === "PARTITION_DELETION")
        .count() > 0)
      // merged export: one compacted dump
      val args2 = RemoverCli.parse(Array("--in", in.toString,
        "--out", out2, "--table", "documents", "--format", "sstable",
        "--sink", "sstabledump", "--merge", "lww"))
        .fold(e => fail(s"parse failed: $e"), identity)
      RemoverCli.run(spark, args2)
      val merged = SSTableDumpBridge.readTree(spark, out2)
      assert(merged.select("sstable").distinct().count() === 1)
      assert(merged.count() > 0)
      // validation: dump export needs the cell model; no --compress
      assert(RemoverCli.parse(Array("--in", "a", "--out", "b",
        "--table", "t", "--sink", "sstabledump")).isLeft)
      assert(RemoverCli.parse(Array("--in", "a", "--out", "b",
        "--table", "t", "--format", "sstable", "--sink", "sstabledump",
        "--compress", "lz4")).isLeft)
    } finally {
      Scratch.delete(in)
      Scratch.delete(java.nio.file.Paths.get(out1).getParent)
      Scratch.delete(java.nio.file.Paths.get(out2).getParent)
    }
  }

  test("sub-partition splits: one giant promoted partition serves across >= 2 tasks, content exact") {
    import spark.implicits._
    val out = Scratch.dir("graft-subsplit-")
    try {
      val wt = 1609459200000000L
      val schema = graft.model.CqlSchema.parse(
        "CREATE TABLE graft.documents (pk text, ck bigint, v text, " +
          "PRIMARY KEY (pk, ck))").toOption
      // one giant partition (~22 KB over ~1 KB promoted blocks), with
      // a partition deletion (the header artifact that must surface
      // exactly once), plus two slim neighbors
      val giant = (0 until 200).map { i =>
        ("giant", Seq(i.toString), "ROW", Some("v"),
          Some(("x" * 100 + i, wt + i, None: Option[Int],
            None: Option[Long])),
          None: Option[Long], "t/nb-1-big-Data.db")
      }
      val slim = Seq("a", "b").map { k =>
        (k, Seq("0"), "ROW", Some("v"),
          Some(("tiny", wt, None: Option[Int], None: Option[Long])),
          None: Option[Long], "t/nb-1-big-Data.db")
      }
      val del = Seq(("giant", null: Seq[String], "PARTITION_DELETION",
        None: Option[String],
        None: Option[(String, Long, Option[Int], Option[Long])],
        Some(wt - 5L): Option[Long], "t/nb-1-big-Data.db"))
      val frame = (giant ++ slim ++ del)
        .toDF("partition_key", "clustering", "row_kind", "name",
          "cell_t", "deletion_us", "sstable")
        .withColumn("cell", when(col("cell_t").isNotNull, struct(
          col("cell_t._1").as("value"),
          col("cell_t._2").as("writetime_us"),
          col("cell_t._3").as("ttl_s"),
          col("cell_t._4").as("expire_us"))))
        .drop("cell_t")
      SSTableBinaryV2.writeSSTables(frame, out.toString, "graft",
        "documents", schema, columnIndexSize = 1024)
      val dir = s"$out/graft/documents"
      val whole = SSTableBinaryV2.readBinary(spark, dir).localCheckpoint()
      val split = spark.read.format("sstable-big")
        .option("splitBytes", "4096").load(dir)
      // content is EXACTLY the unsplit read
      assert(split.count() === whole.count())
      assert(split.exceptAll(whole).count() === 0)
      assert(whole.exceptAll(split).count() === 0)
      // the giant's rows really spread across tasks (DSv2 input
      // partition = Spark partition): >= 2 tasks serve it. Counted
      // WITHOUT a key filter — a pushed key predicate would flip the
      // scan into the point-lookup path and probe the wrong mode
      val perTask = split.select("partition_key").rdd
        .mapPartitions(it =>
          Iterator.single(it.count(_.getString(0) == "giant")))
        .collect()
      assert(perTask.count(_ > 0) >= 2,
        s"giant partition not sub-split: task row counts ${
          perTask.mkString(",")}")
      // header artifacts exactly once across the shards
      assert(split.filter(col("row_kind") === "PARTITION_DELETION" &&
        col("partition_key") === "giant").count() === 1)
      // COMPRESSED composition: block offsets are LOGICAL, blind
      // ranges are ON-DISK — the chunk map must bridge them for
      // sub-partition shards exactly as it does for whole partitions
      val outLz4 = Scratch.dir("graft-subsplitlz4-")
      try {
        SSTableBinaryV2.writeSSTables(frame, outLz4.toString, "graft",
          "documents", schema, columnIndexSize = 1024,
          compression = Some(graft.sources.CompressedData.Lz4))
        val dirLz4 = s"$outLz4/graft/documents"
        // tiny ON-DISK ranges: the repetitive fixture compresses hard,
        // so 64-byte ranges guarantee several ranges own chunks and
        // the giant's ~22 KB logical span (≥ 2 chunks) really shards
        val splitLz4 = spark.read.format("sstable-big")
          .option("splitBytes", "64").load(dirLz4)
        assert(splitLz4.count() === whole.count())
        assert(splitLz4.exceptAll(whole).count() === 0)
        assert(whole.exceptAll(splitLz4).count() === 0)
        assert(splitLz4.filter(col("row_kind") === "PARTITION_DELETION"
          && col("partition_key") === "giant").count() === 1)
        val perTaskLz4 = splitLz4.select("partition_key").rdd
          .mapPartitions(it =>
            Iterator.single(it.count(_.getString(0) == "giant")))
          .collect()
        assert(perTaskLz4.count(_ > 0) >= 2,
          s"compressed giant not sub-split: ${perTaskLz4.mkString(",")}")
      } finally Scratch.delete(outLz4)
    } finally Scratch.delete(out)
  }

  test("summary rebuild: summaryless generations keep file elision and bounded index reads") {
    import spark.implicits._
    import graft.sources.SSTableComponents
    // unit: the rebuild samples every interval-th entry with its REAL
    // byte offset, on both framings, and round-trips the serializer
    val keys = (0 until 10).map(i => s"k$i".getBytes("UTF-8"))
    val modern = SSTableComponents.writeIndex(
      keys.zipWithIndex.map { case (k, i) =>
        (k, i * 100L, Array.emptyByteArray) })
    val rb = SSTableComponents.rebuildSummary(modern, oldEra = false,
      "t", interval = 4)
    assert(rb.sampled.map(_._1.toSeq) ===
      Seq(keys(0), keys(4), keys(8)).map(_.toSeq))
    assert(rb.sizeAtFullSampling === 3)
    assert(rb.firstKey.toSeq === keys.head.toSeq)
    assert(rb.lastKey.toSeq === keys.last.toSeq)
    // offsets are real: parsing the index FROM a sampled offset must
    // yield exactly that entry first
    rb.sampled.foreach { case (k, off) =>
      val sliced = SSTableComponents.readIndex(
        java.util.Arrays.copyOfRange(modern, off.toInt, modern.length), "t")
      assert(sliced.head._1.toSeq === k.toSeq)
    }
    val two = SSTableComponents.rebuildSummary(
      SSTableComponents.writeIndex2x(
        keys.map(k => (k, 7L, Array.emptyByteArray)).take(5)),
      oldEra = true, "t", interval = 2)
    assert(two.sampled.size === 3 && two.sizeAtFullSampling === 3)
    // round-trip through the serializer (what the cache stores)
    val rt = SSTableComponents.readSummary(SSTableComponents.writeSummary(
      rb.sampled, rb.sizeAtFullSampling.toLong * 4, rb.firstKey,
      rb.lastKey, 4))
    assert(rt.minIndexInterval === 4)
    assert(rt.sampled.map(p => (p._1.toSeq, p._2)) ===
      rb.sampled.map(p => (p._1.toSeq, p._2)))
    // end-to-end: DELETE every Summary.db, token-range the lake — the
    // three disjoint files still elide (rebuilt summaries), the served
    // rows are identical
    val out = Scratch.dir("graft-rebuildspec-")
    try {
      val wt = 1609459200000000L
      val frame = (0 to 3).map { i =>
        (i.toString, Seq(s"c$i"), "ROW", Some("v"),
          Some((s"val$i", wt, None: Option[Int], None: Option[Long])),
          None: Option[Long], s"t/nb-${i + 1}-big-Data.db")
      }.toDF("partition_key", "clustering", "row_kind", "name",
        "cell_t", "deletion_us", "sstable")
        .withColumn("cell", struct(
          col("cell_t._1").as("value"),
          col("cell_t._2").as("writetime_us"),
          col("cell_t._3").as("ttl_s"), col("cell_t._4").as("expire_us")))
        .drop("cell_t")
      SSTableBinaryV2.writeSSTables(frame, out.toString, "graft",
        "documents")
      val dir = out.resolve("graft").resolve("documents")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(dir).iterator().asScala
        .filter(_.getFileName.toString.endsWith("-Summary.db"))
        .foreach { f =>
          java.nio.file.Files.delete(f)
          java.nio.file.Files.deleteIfExists(
            f.getParent.resolve("." + f.getFileName + ".crc"))
        }
      def tok(k: String): Long = BigFormat.murmur3Token(
        BigFormat.encodeValue(BigFormat.Utf8Type, k))
      val ranged = spark.read.format("sstable-big")
        .option("tokenLo", tok("2").toString)
        .option("tokenHi", tok("2").toString).load(dir.toString)
      ranged.collect()
      val metrics = ranged.queryExecution.executedPlan.collectLeaves()
        .collect {
          case s: org.apache.spark.sql.execution.datasources.v2
            .BatchScanExec =>
            s.metrics.view.mapValues(_.value.toString.toLong).toMap
        }.head
      assert(metrics("filesSkippedTokenSpan") === 3, metrics.toString)
      assert(metrics("partitionsServed") === 1, metrics.toString)
      assert(ranged.select("partition_key").as[String].collect().toSet
        === Set("2"))
      // COMPRESSED composition: a summaryless lz4 generation set
      // rebuilds and elides identically — Index.db positions are
      // logical, so compression never touches the rebuild
      val outLz4 = Scratch.dir("graft-rebuildlz4-")
      try {
        SSTableBinaryV2.writeSSTables(frame, outLz4.toString, "graft",
          "documents",
          compression = Some(graft.sources.CompressedData.Lz4))
        val dirLz4 = outLz4.resolve("graft").resolve("documents")
        java.nio.file.Files.list(dirLz4).iterator().asScala
          .filter(_.getFileName.toString.endsWith("-Summary.db"))
          .foreach { f =>
            java.nio.file.Files.delete(f)
            java.nio.file.Files.deleteIfExists(
              f.getParent.resolve("." + f.getFileName + ".crc"))
          }
        val rangedLz4 = spark.read.format("sstable-big")
          .option("tokenLo", tok("2").toString)
          .option("tokenHi", tok("2").toString).load(dirLz4.toString)
        rangedLz4.collect()
        val mLz4 = rangedLz4.queryExecution.executedPlan.collectLeaves()
          .collect {
            case s: org.apache.spark.sql.execution.datasources.v2
              .BatchScanExec =>
              s.metrics.view.mapValues(_.value.toString.toLong).toMap
          }.head
        assert(mLz4("filesSkippedTokenSpan") === 3, mLz4.toString)
        assert(rangedLz4.select("partition_key").as[String].collect()
          .toSet === Set("2"))
      } finally Scratch.delete(outLz4)
    } finally Scratch.delete(out)
  }

  test("component cache: hits return the loaded bytes, oversized entries bypass, the byte bound holds") {
    import graft.sources.SSTableBinaryV2.ComponentCache
    var loads = 0
    def load(n: Int): Array[Byte] = { loads += 1; Array.fill[Byte](n)(7) }
    val a = ComponentCache.get("/cc-spec/a", 100)(load(100))
    val b = ComponentCache.get("/cc-spec/a", 100)(load(100))
    assert(loads === 1, "second get must hit")
    assert(a eq b, "hit must return the cached reference")
    // same path, DIFFERENT length = a different file: no stale hit
    ComponentCache.get("/cc-spec/a", 101)(load(101))
    assert(loads === 2)
    // oversized entries load but never cache (they would evict the
    // working set a whole big Index.db at a time)
    val before = ComponentCache.sizeBytes
    ComponentCache.get("/cc-spec/big", 5 << 20)(load(5 << 20))
    ComponentCache.get("/cc-spec/big", 5 << 20)(load(5 << 20))
    assert(loads === 4, "oversized entries must not cache")
    assert(ComponentCache.sizeBytes === before)
    // same (path, length), NEW modification time — an in-place
    // rewrite on a foreign lake: reload, never serve stale bytes
    var rwLoads = 0
    def rw(v: Byte): Array[Byte] = { rwLoads += 1; Array.fill[Byte](10)(v) }
    val x = ComponentCache.get("/cc-spec/rw", 10, mtime = 1000L)(rw(1))
    val y = ComponentCache.get("/cc-spec/rw", 10, mtime = 2000L)(rw(2))
    assert(rwLoads === 2, "an mtime change must invalidate")
    assert(x(0) === 1 && y(0) === 2)
    assert(ComponentCache.get("/cc-spec/rw", 10, mtime = 2000L)(rw(3))(0)
      === 2, "the rewritten bytes are what stays cached")
    // the flagged form (the metrics feed) reports hit/miss truthfully
    assert(!ComponentCache.getFlagged("/cc-spec/f", 3, 0L)(
      Array[Byte](9, 9, 9))._2)
    assert(ComponentCache.getFlagged("/cc-spec/f", 3, 0L)(
      Array[Byte](9, 9, 9))._2)
  }

  test("sidecar-only inventory: describe() never opens Data.db and reads 2.x sidecars") {
    import graft.sources.SSTableMetadata
    // modern generations: garble every Data.db AFTER the write — the
    // inventory must still answer in full (it reads only sidecars)
    val in = SSTableBinaryV2.writeBinaryFixture(spark, sfDir)
    val out = Scratch.dir("graft-metadesc-")
    try {
      SSTableBinaryV2.writeSSTables(
        SSTableBinaryV2.readBinary(spark, in.toString),
        out.toString, "graft", "documents")
      val dir = out.resolve("graft").resolve("documents")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(dir).iterator().asScala
        .filter(_.getFileName.toString.endsWith("-Data.db"))
        .foreach { f =>
          java.nio.file.Files.write(f, Array.fill[Byte](32)(0x11))
          java.nio.file.Files.deleteIfExists(
            f.getParent.resolve("." + f.getFileName + ".crc"))
        }
      val rows = SSTableMetadata.describe(spark, dir.toString).collect()
      assert(rows.length === 4)
      assert(rows.forall(_.getAs[Long]("n_partitions") === 125L))
      assert(rows.forall(!_.isNullAt(
        rows.head.fieldIndex("min_writetime_us"))))
      assert(rows.forall(_.getAs[Int]("n_components") === 7))
      // Summary-sourced span endpoints render through the key type,
      // and the O(1) estimate BOUNDS the exact count
      assert(rows.forall { r =>
        val f = r.getAs[String]("first_key")
        val l = r.getAs[String]("last_key")
        f != null && l != null && f.toLong >= 0 && l.toLong >= 0
      })
      assert(rows.forall(r =>
        r.getAs[Long]("est_keys_max") >= r.getAs[Long]("n_partitions")))
    } finally { Scratch.delete(in); Scratch.delete(out) }
    // 2.x (ka, compressed): fixed-width index counts, min_writetime_us
    // from the pre-3.0 StatsMetadata (no EncodingStats → min_ttl_s
    // stays NULL), Adler-era CompressionInfo names its algo
    val ka = SSTableBinaryV2.writeOldFixture(spark, sfDir,
      compress = true)
    try {
      val rows = SSTableMetadata
        .describe(spark, ka.resolve("documents").toString).collect()
      assert(rows.length === 4)
      assert(rows.map(_.getAs[Long]("n_partitions")).sum === 500L)
      // gen g holds doc_ids ≡ g-1 (mod 4); min ts = (base + min id)·1e6
      rows.foreach { r =>
        val gen = r.getAs[String]("sstable")
          .split('-').dropRight(1).last.toLong
        assert(r.getAs[Long]("min_writetime_us") ===
          (1609459200L + (gen - 1)) * 1000000L)
      }
      assert(rows.forall(_.isNullAt(
        rows.head.fieldIndex("min_ttl_s"))))
      assert(rows.forall(
        _.getAs[String]("compressor") === "LZ4Compressor"))
      // a real 2.x lake SHIPS Summary.db files in the pre-3.0 layout
      // the modern parser would misread: the inventory must ignore
      // them (NULL span facts), not die or serve garbage
      import scala.jdk.CollectionConverters._
      val anyBase = java.nio.file.Files.list(ka.resolve("documents"))
        .iterator().asScala
        .find(_.getFileName.toString.endsWith("-Data.db")).get
        .toString.stripSuffix("-Data.db")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(anyBase + "-Summary.db"),
        Array.fill[Byte](64)(0x2a))
      val rows2 = SSTableMetadata
        .describe(spark, ka.resolve("documents").toString).collect()
      assert(rows2.length === 4)
      assert(rows2.forall(_.isNullAt(
        rows2.head.fieldIndex("first_key"))))
    } finally Scratch.delete(ka)
  }

  test("inventory audit mode fires on a tampered Summary, plain mode still describes") {
    import graft.sources.SSTableMetadata
    val in = SSTableBinaryV2.writeBinaryFixture(spark, sfDir)
    val out = Scratch.dir("graft-metatamper-")
    try {
      SSTableBinaryV2.writeSSTables(
        SSTableBinaryV2.readBinary(spark, in.toString),
        out.toString, "graft", "documents")
      val dir = out.resolve("graft").resolve("documents")
      import scala.jdk.CollectionConverters._
      val summary = java.nio.file.Files.list(dir).iterator().asScala
        .find(_.getFileName.toString.endsWith("-Summary.db")).get
      // corrupt sizeAtFullSampling (bytes 16..19): the derived
      // est_keys_max stops bounding the exact Index.db count
      val bytes = java.nio.file.Files.readAllBytes(summary)
      java.nio.ByteBuffer.wrap(bytes).putInt(16, 1 << 20)
      java.nio.file.Files.write(summary, bytes)
      java.nio.file.Files.deleteIfExists(
        summary.getParent.resolve("." + summary.getFileName + ".crc"))
      val e = intercept[org.apache.spark.SparkException] {
        SSTableMetadata.describe(spark, dir.toString, audit = true)
          .collect()
      }
      def msg(t: Throwable): String =
        t.getMessage + Option(t.getCause).map(msg).getOrElse("")
      assert(msg(e).contains("not a tight bound"))
      // non-audit describe() reports what the lake says, loudly wrong
      // or not — inventorying a damaged lake must not die
      assert(SSTableMetadata.describe(spark, dir.toString)
        .collect().length === 4)
    } finally { Scratch.delete(in); Scratch.delete(out) }
  }

  test("la (2.2) generations with NEW-style names decode through the 2.x path") {
    // 2.2 kept the 2.1 storage engine but switched to new-style
    // filenames (la-<gen>-big-<Component>, no keyspace/table prefix):
    // version detection must classify them old-era off the THIRD-from-
    // last token rule's new-style branch, and every 2.x sidecar must
    // serve under the renamed identity
    val ka = SSTableBinaryV2.writeOldFixture(spark, sfDir)
    try {
      val dir = ka.resolve("documents")
      import scala.jdk.CollectionConverters._
      val files = java.nio.file.Files.list(dir).iterator().asScala.toSeq
      files.foreach { f =>
        val name = f.getFileName.toString
        // Hadoop's LocalFileSystem leaves hidden '.name.crc' siblings;
        // renaming those into VISIBLE bogus components would pollute
        // the fixture (no real 2.2 directory has them) — drop instead
        if (name.startsWith(".")) java.nio.file.Files.delete(f)
        else {
          // graft-documents-ka-<gen>-<Comp> -> la-<gen>-big-<Comp>
          val parts = name.split('-')
          val renamed = s"la-${parts(3)}-big-${parts.drop(4).mkString("-")}"
          java.nio.file.Files.move(f, f.getParent.resolve(renamed))
        }
      }
      val la = SSTableBinaryV2
        .readBinary(spark, dir.toString, Some(SSTableBinaryV2.Cql2x))
        .localCheckpoint()
      assert(la.count() > 0)
      // identical logical content to the ka read (same bytes, new
      // names) modulo the sstable identity column
      val ka2 = SSTableBinaryV2.writeOldFixture(spark, sfDir)
      try {
        val base = SSTableBinaryV2
          .readBinary(spark, ka2.toString, Some(SSTableBinaryV2.Cql2x))
          .drop("sstable").localCheckpoint()
        assert(la.drop("sstable").exceptAll(base).count() === 0)
        assert(base.exceptAll(la.drop("sstable")).count() === 0)
      } finally Scratch.delete(ka2)
      // the inventory era-dispatches off the new-style la name too
      val inv = graft.sources.SSTableMetadata
        .describe(spark, dir.toString).collect()
      assert(inv.length === 4)
      assert(inv.forall(!_.isNullAt(
        inv.head.fieldIndex("min_writetime_us"))))
    } finally Scratch.delete(ka)
  }

  test("2.x min/maxColumnNames: non-empty per-component bounds " +
    "round-trip the wire (2.1's slice-elision input, the era's twin " +
    "of the modern clustering-value lists)") {
    import graft.sources.OldFormat
    val s = OldFormat.Stats2x(
      minTimestampUs = 1L, maxTimestampUs = 2L,
      maxLocalDeletionTimeS = 3, sstableLevel = 0, repairedAt = 0L,
      minColumnNames = Seq(Seq[Byte](99, 48), Seq[Byte](1)),
      maxColumnNames = Seq(Seq[Byte](99, 57)))
    val back = OldFormat.readStats2x(
      OldFormat.writeStats2x(s, nPartitions = 5L), "t")
    assert(back.minColumnNames === s.minColumnNames)
    assert(back.maxColumnNames === s.maxColumnNames)
    // absent lists still read as empty (every pre-round-15 graft ka
    // file wrote zero-length lists)
    val bare = OldFormat.readStats2x(OldFormat.writeStats2x(
      s.copy(minColumnNames = Nil, maxColumnNames = Nil), 5L), "t")
    assert(bare.minColumnNames.isEmpty && bare.maxColumnNames.isEmpty)
  }

  test("2.x Statistics.db codec: StatsMetadata round-trips; STATS sought through the TOC") {
    import graft.sources.OldFormat
    val s = OldFormat.Stats2x(
      minTimestampUs = -123456789L, maxTimestampUs = 987654321012345L,
      maxLocalDeletionTimeS = Int.MaxValue, sstableLevel = 3,
      repairedAt = 1609459200123L)
    val bytes = OldFormat.writeStats2x(s, nPartitions = 42L)
    // a caller declaring no column total writes the legacy
    // one-per-partition bucket; the reader reconstructs 42 from it
    assert(OldFormat.readStats2x(bytes, "t") ===
      s.copy(estColumnsTotal = 42L))
    // the reader walks the TOC — it must not assume STATS is first:
    // the writer puts VALIDATION ahead of it, so a reader that just
    // parses from the top would misread the partitioner UTF as a
    // histogram and fail (or worse, return garbage that != s)
    val toc = java.nio.ByteBuffer.wrap(bytes)
    assert(toc.getInt === 2)          // two components
    assert(toc.getInt === 0)          // VALIDATION ordinal first
    // truncated / foreign bytes fail loudly, never silently zero
    intercept[Exception] {
      OldFormat.readStats2x(Array[Byte](0, 0, 0, 1, 0, 0, 0, 9), "t")
    }
    // a histogram declaring 1000 buckets with no payload must throw
    // EOF, not spin (ByteArrayInputStream.skip returns 0 at EOS)
    val truncated = java.nio.ByteBuffer.allocate(16)
      .putInt(1).putInt(2).putInt(12) // one component: STATS at 12
      .putInt(1000)                   // histogram size, nothing behind
      .array()
    val e = intercept[java.io.EOFException] {
      OldFormat.readStats2x(truncated, "t")
    }
    assert(e.getMessage.contains("truncated"))
  }

  test("tombstone drop-time histogram: paper update/sum semantics, " +
    "merge conserves counts, stats round-trip, droppability math") {
    import graft.sources.OldFormat
    import OldFormat.TombstoneHistogram
    // distinct points below budget: exact bins, exact endpoint sums
    val h = TombstoneHistogram.of(Seq(10.0, 20.0, 20.0, 30.0))
    assert(h.bins === Vector((10.0, 1L), (20.0, 2L), (30.0, 1L)))
    assert(h.sum(9.9) === 0.0)
    assert(h.sum(30.0) === 4.0)
    assert(h.sum(1e9) === 4.0)
    // interior: Ben-Haim/Tom-Tov Algorithm 3 at the midpoint of
    // (10,1)-(20,2): m_b = 1.5, s = 1/2 + (1+1.5)/2 · 0.5 = 1.125
    assert(h.sum(15.0) === 1.125)
    // over-budget insert merges the two CLOSEST points into their
    // weighted centroid; the total is conserved
    val tiny = TombstoneHistogram(3, Vector.empty)
    val merged = Seq(1.0, 100.0, 101.0, 50.0).foldLeft(tiny)(_.update(_))
    assert(merged.bins.size === 3)
    assert(merged.total === 4L)
    assert(merged.bins.contains((100.5, 2L))) // centroid of 100,101
    // round-trip through the 2.x stats container + droppability
    val s2 = OldFormat.Stats2x(1L, 2L, 3, 0, 0L,
      tombstoneDropTime = h, estColumnsTotal = 16L)
    val rt = OldFormat.readStats2x(
      OldFormat.writeStats2x(s2, nPartitions = 8L), "t")
    assert(rt === s2)
    assert(OldFormat.droppableTombstonesBefore(rt, 1e9) === 4.0)
    assert(OldFormat.estimatedDroppableTombstoneRatio(rt, 1e9) === 0.25)
    // a genuinely column-free (tombstone-only) file: ZERO is a real
    // value the container must round-trip, distinct from "declared
    // none" (negative → the legacy one-per-partition shape)
    val zeroRt = OldFormat.readStats2x(OldFormat.writeStats2x(
      s2.copy(estColumnsTotal = 0L), nPartitions = 8L), "t")
    assert(zeroRt.estColumnsTotal === 0L)
    assert(OldFormat.estimatedDroppableTombstoneRatio(zeroRt, 1e9) === 0.0)
    // Cassandra's ceilinged mean()×count() on a REAL multi-bucket
    // column histogram: total 7 over count 4 → mean ⌈7/4⌉ = 2 →
    // reconstructs 8, not the raw Σ offset×bucket = 7 — built as a
    // hand-written 2.x stats container and read through readStats2x
    val multiBucket = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      out.writeInt(1); out.writeInt(2); out.writeInt(12) // TOC: STATS
      out.writeInt(0)                        // rowSize: empty
      out.writeInt(2)                        // columnCount: 2 buckets
      out.writeLong(1L); out.writeLong(3L)   // 3 cols of size 1
      out.writeLong(4L); out.writeLong(1L)   // 1 col of size 4
      out.writeLong(0L); out.writeInt(0)     // ReplayPosition
      out.writeLong(1L); out.writeLong(2L)   // min/max timestamp
      out.writeInt(3)                        // maxLocalDeletionTime
      out.writeDouble(-1.0)
      out.writeInt(100); out.writeInt(0)     // empty drop-time bins
      out.writeInt(0); out.writeLong(0L)     // level, repairedAt
      out.writeInt(0); out.writeInt(0)       // min/maxColumnNames
      out.flush(); bos.toByteArray
    }
    assert(OldFormat.readStats2x(multiBucket, "t").estColumnsTotal === 8L)
  }

  test("scrub salvages a COMPRESSED generation past a corrupt chunk") {
    import spark.implicits._
    val out = Scratch.dir("graft-scrubchunk-")
    try {
      val wt = 1609459200000000L
      // values big enough that partitions span several 16 KiB chunks
      val frame = (1 to 64).map { i =>
        (i.toString, Seq("c"), "ROW", Some("v"),
          Some((("x" * 2000) + i, wt, None: Option[Int],
            None: Option[Long])),
          None: Option[Long], "t/nb-1-big-Data.db")
      }.toDF("partition_key", "clustering", "row_kind", "name",
        "cell_t", "deletion_us", "sstable")
        .withColumn("cell", struct(
          col("cell_t._1").as("value"),
          col("cell_t._2").as("writetime_us"),
          col("cell_t._3").as("ttl_s"), col("cell_t._4").as("expire_us")))
        .drop("cell_t")
      SSTableBinaryV2.writeSSTables(frame, out.toString, "graft",
        "documents", compression = Some(graft.sources.CompressedData.Lz4))
      val dir = out.resolve("graft").resolve("documents")
      val dataP = dir.resolve("nb-1-big-Data.db")
      // flip bytes in the MIDDLE of the compressed stream: the chunk
      // CRC refuses, every partition whose decode touches that chunk
      // skips, the rest (independent chunk-map seeks) still serve
      val size = java.nio.file.Files.size(dataP)
      val ch = java.nio.channels.FileChannel.open(dataP,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        ch.position(size / 2)
        ch.write(java.nio.ByteBuffer.wrap(Array.fill[Byte](8)(0x5a)))
      } finally ch.close()
      java.nio.file.Files.deleteIfExists(
        dir.resolve(".nb-1-big-Data.db.crc"))
      intercept[org.apache.spark.SparkException] {
        SSTableBinaryV2.readBinary(spark, dir.toString).count()
      }
      val got = spark.read.format("sstable-big")
        .option("scrub", "true").load(dir.toString)
        .select("partition_key").distinct().collect()
        .map(_.getString(0)).toSet
      val all = (1 to 64).map(_.toString).toSet
      assert(got.subsetOf(all))
      // the majority survives (one dead chunk takes its co-resident
      // partitions with it — "x"*2000 compresses hard, so one 16 KiB
      // chunk holds many); something was genuinely skipped
      assert(got.size >= 32, s"salvaged only ${got.size}/64")
      assert(got.size < 64, "nothing was skipped — fixture too small?")
    } finally Scratch.delete(out)
  }

  test("scrub salvages 2.x (ka) generations through their fixed-width index") {
    val dir = SSTableBinaryV2.writeOldFixture(spark, sfDir)
    try {
      val docs = dir.resolve("documents")
      import scala.jdk.CollectionConverters._
      val dataFiles = java.nio.file.Files.list(docs).iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.endsWith("-Data.db")).toSeq.sorted
      val victim = dataFiles.head
      val idxP = docs.resolve(victim.replace("-Data.db", "-Index.db"))
      val entries = graft.sources.SSTableComponents.readIndex2x(
        java.nio.file.Files.readAllBytes(idxP), idxP.toString)
      assert(entries.size > 4)
      // poison a mid-token-order partition's 2-byte key-length prefix
      val (badKey, pos, _) = entries(entries.size / 2)
      val dataP = docs.resolve(victim)
      val ch = java.nio.channels.FileChannel.open(dataP,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        ch.position(pos)
        ch.write(java.nio.ByteBuffer.wrap(
          Array(0xff.toByte, 0xff.toByte)))
      } finally ch.close()
      java.nio.file.Files.deleteIfExists(
        docs.resolve("." + victim + ".crc"))
      val cql = SSTableBinaryV2.Cql2x
      intercept[org.apache.spark.SparkException] {
        SSTableBinaryV2.readBinary(spark, dir.toString, Some(cql)).count()
      }
      val scrubbed = spark.read.format("sstable-big")
        .option("cql", cql).option("scrub", "true").load(dir.toString)
      val got = scrubbed.select("partition_key").distinct().collect()
        .map(_.getString(0)).toSet
      val bad = new String(badKey, "UTF-8")
      assert(!got.contains(bad))
      // every OTHER partition still serves — the fixed-width 2.x
      // index re-frames past the corruption within the damaged file,
      // and the intact generations are untouched
      val allKeys = dataFiles.flatMap { f =>
        graft.sources.SSTableComponents.readIndex2x(
          java.nio.file.Files.readAllBytes(
            docs.resolve(f.replace("-Data.db", "-Index.db"))), f)
          .map(e => new String(e._1, "UTF-8"))
      }.toSet
      assert(got === allKeys - bad)
    } finally Scratch.delete(dir)
  }

  test("--out-generations buckets by the REAL ring token on typed tables") {
    import spark.implicits._
    val in = Scratch.dir("graft-multigen-typed-in-")
    val outParent = Scratch.dir("graft-multigen-typed-out-")
    val out = outParent.toString + "/o"
    try {
      val wt = 1609459200000000L
      val frame = (1 to 64).map { i =>
        (i.toString, Seq("c"), "ROW", Some("v"),
          Some((s"val$i", wt, None: Option[Int], None: Option[Long])),
          None: Option[Long], "t/nb-1-big-Data.db")
      }.toDF("partition_key", "clustering", "row_kind", "name",
        "cell_t", "deletion_us", "sstable")
        .withColumn("cell", struct(
          col("cell_t._1").as("value"),
          col("cell_t._2").as("writetime_us"),
          col("cell_t._3").as("ttl_s"), col("cell_t._4").as("expire_us")))
        .drop("cell_t")
      val cqlText = "CREATE TABLE graft.documents (pk bigint, ck text, " +
        "v text, PRIMARY KEY (pk, ck))"
      val cql = graft.model.CqlSchema.parse(cqlText)
        .fold(e => fail(e), identity)
      SSTableBinaryV2.writeSSTables(frame, in.toString, "graft",
        "documents", Some(cql))
      val args = RemoverCli.parse(Array("--in", in.toString,
        "--out", out, "--table", "documents", "--format", "sstable",
        "--sink", "sstable", "--merge", "lww",
        "--out-generations", "3", "--cql", cqlText))
        .fold(e => fail(s"parse failed: $e"), identity)
      RemoverCli.run(spark, args)
      val multi = SSTableBinaryV2
        .readBinary(spark, s"$out/graft/documents").localCheckpoint()
      assert(multi.select("sstable").distinct().count() === 3)
      assert(multi.select("partition_key").distinct().count() === 64)
      // the generations must tile the REAL ring (bigint tokens —
      // hashing the 8-byte encodings, not the decimal strings):
      // overlapping spans would defeat Summary first/last-key range
      // elision on the output lake
      def tok(k: String): Long = BigFormat.murmur3Token(
        BigFormat.encodeValue(BigFormat.LongType, k))
      val spans = multi.select("sstable", "partition_key").collect()
        .groupBy(_.getString(0)).map { case (_, rows) =>
          val ts = rows.map(r => tok(r.getString(1)))
          (ts.min, ts.max)
        }.toSeq.sortBy(_._1)
      spans.sliding(2).foreach {
        case Seq(a, b) => assert(a._2 < b._1,
          s"typed generations overlap on the real ring: $spans")
        case _ =>
      }
    } finally { Scratch.delete(in); Scratch.delete(outParent) }
  }

  test("2.x era: ka fixture decodes through the connector; schema is mandatory and loud") {
    val dir = SSTableBinaryV2.writeOldFixture(spark, sfDir)
    try {
      val frame = SSTableBinaryV2.readBinary(spark, dir.toString,
        Some(SSTableBinaryV2.Cql2x)).localCheckpoint()
      val kinds = frame.groupBy("row_kind").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // every 2.x shape surfaces: partition tombstones, RT pairs for
      // row deletes, row markers as PK_LIVENESS, plain cells as ROW
      assert(kinds.keySet === Set("PARTITION_DELETION",
        "RANGE_TOMBSTONE_BOUND", "PK_LIVENESS", "ROW"))
      assert(kinds("RANGE_TOMBSTONE_BOUND") % 2 === 0)
      // live rows outnumber pk-only rows; the marker rides EVERY one
      assert(kinds("PK_LIVENESS") > kinds("RANGE_TOMBSTONE_BOUND") / 2)
      // the strip works unchanged over the 2.x frame
      val stripped = frame.withColumn("cell",
        graft.model.CellModel.stripCellKeepDeletion(col("cell")))
      assert(frame.filter(col("cell.ttl_s").isNotNull).count() > 0)
      assert(stripped.filter(col("cell.ttl_s").isNotNull).count() === 0)
      // four ka files, one task each
      assert(frame.select("sstable").distinct().count() ===
        SSTableDumpBridge.TreeFiles)
      // without a declared schema the read refuses loudly, naming the
      // era and the option (2.x files carry no serialization header)
      val ex = intercept[org.apache.spark.SparkException] {
        SSTableBinaryV2.readBinary(spark, dir.toString).count()
      }
      val msg = ex.toString +
        Option(ex.getCause).map(_.toString).getOrElse("")
      assert(msg.contains("cql") || msg.contains("2.x"),
        s"missing-schema error is not actionable: $msg")
    } finally Scratch.delete(dir)
  }

  test("2.x era: three-era lake (ka + me + nb) decodes in ONE scan; ka micro-batches stream") {
    // an upgrade-in-progress cluster's data dir spans eras; per-file
    // version detection must route each file to its codec in one read
    val ka = SSTableBinaryV2.writeOldFixture(spark, sfDir)
    val me = SSTableBinaryV2.writeBinaryFixture(spark, sfDir, "me")
    val nb = SSTableBinaryV2.writeBinaryFixture(spark, sfDir, "nb")
    val mixed = Scratch.dir("graft-three-era-")
    try {
      def cp(src: java.nio.file.Path): Unit = {
        val t = java.nio.file.Files.list(src.resolve("documents"))
        try t.forEach { f =>
          val dest = mixed.resolve("documents")
          java.nio.file.Files.createDirectories(dest)
          java.nio.file.Files.copy(f, dest.resolve(f.getFileName))
        } finally t.close()
      }
      cp(ka); cp(me); cp(nb)
      val all = SSTableBinaryV2.readBinary(spark, mixed.toString,
        Some(SSTableBinaryV2.Cql2x)).localCheckpoint()
      val kaRows = SSTableBinaryV2.readBinary(spark, ka.toString,
        Some(SSTableBinaryV2.Cql2x)).count()
      val meRows = SSTableBinaryV2.readBinary(spark, me.toString).count()
      val nbRows = SSTableBinaryV2.readBinary(spark, nb.toString).count()
      assert(all.count() === kaRows + meRows + nbRows)
      assert(all.select("sstable").distinct().count() ===
        3 * SSTableDumpBridge.TreeFiles)
      // a token range crosses ERAS in the same read: key "8" exists
      // in all three (identical text carry → identical ring token);
      // ka serves via its Index.db walk, the index-less me/nb
      // fixtures via the token-gated full-scan fallback — both exact
      val t8 = BigFormat.murmur3Token(
        BigFormat.encodeValue(BigFormat.Utf8Type, "8"))
      val ring = spark.read.format("sstable-big")
        .option("cql", SSTableBinaryV2.Cql2x)
        .option("tokenLo", t8.toString).option("tokenHi", t8.toString)
        .load(mixed.toString)
      assert(ring.select("partition_key").distinct().collect()
        .map(_.getString(0)).toSet === Set("8"))
      assert(ring.collect().toSet ===
        all.filter(col("partition_key") === "8").collect().toSet)
      assert(ring.select("sstable").distinct().count() === 3,
        "key 8 should surface from one generation of each era")
      // and the 2.x files stream through the SAME micro-batch source
      // (the cql option rides the stream's scan options)
      val outDir = Scratch.dir("graft-ka-stream-")
      val q = spark.readStream.format("sstable-big")
        .option("cql", SSTableBinaryV2.Cql2x)
        .option("maxFilesPerTrigger", "2")
        .load(ka.toString)
        .writeStream.format("memory").queryName("ka_stream")
        .option("checkpointLocation", s"$outDir/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      val streamed = spark.table("ka_stream").count()
      Scratch.delete(outDir)
      assert(streamed === kaRows,
        s"streamed $streamed of $kaRows 2.x rows")
    } finally {
      Scratch.delete(ka); Scratch.delete(me); Scratch.delete(nb)
      Scratch.delete(mixed)
    }
  }

  test("CLI lifecycle: 2.x (ka) input strips into a modern loadable generation — the cassandra-2 module's whole job") {
    val in = SSTableBinaryV2.writeOldFixture(spark, sfDir)
    val out = Scratch.dir("graft-ka-up-").toString + "/o"
    try {
      val args = RemoverCli.parse(Array(
        "--in", s"$in/documents", "--out", out, "--table", "documents",
        "--format", "sstable", "--sink", "sstable",
        "--cql", SSTableBinaryV2.Cql2x))
        .fold(e => fail(s"parse failed: $e"), identity)
      RemoverCli.run(spark, args)
      // modern (nb) loadable generations out: full component set
      val dir = java.nio.file.Paths.get(out, "graft", "documents")
      val names = {
        val l = java.nio.file.Files.list(dir)
        try { import scala.jdk.CollectionConverters._
          l.iterator().asScala.map(_.getFileName.toString)
            .filterNot(_.startsWith(".")).toVector // hadoop .crc siblings
        } finally l.close()
      }
      assert(names.count(_.endsWith("-Data.db")) ===
        SSTableDumpBridge.TreeFiles)
      assert(names.forall(_.startsWith("nb-")))
      assert(names.exists(_.endsWith("-Filter.db")))
      assert(names.exists(_.endsWith("-TOC.txt")))
      // content: TTLs gone, every 2.x shape survived the translation
      val back = SSTableBinaryV2.readBinary(spark, dir.toString)
        .localCheckpoint()
      assert(back.filter(col("cell.ttl_s").isNotNull).count() === 0)
      val kinds = back.select("row_kind").distinct().collect()
        .map(_.getString(0)).toSet
      assert(kinds === Set("PARTITION_DELETION",
        "RANGE_TOMBSTONE_BOUND", "PK_LIVENESS", "ROW"))
      val orig = SSTableBinaryV2.readBinary(spark, in.toString,
        Some(SSTableBinaryV2.Cql2x)).localCheckpoint()
      // the 2.x row MARKER on a cell-bearing row is absorbed into the
      // modern row's primary-key liveness — exactly what Cassandra's
      // own upgradesstables does (3.0+ has no separate marker cell);
      // pk-ONLY rows keep surfacing as PK_LIVENESS
      def kindCount(df: org.apache.spark.sql.DataFrame, k: String) =
        df.filter(col("row_kind") === k).count()
      assert(kindCount(back, "ROW") === kindCount(orig, "ROW"))
      assert(kindCount(back, "PARTITION_DELETION") ===
        kindCount(orig, "PARTITION_DELETION"))
      assert(kindCount(back, "RANGE_TOMBSTONE_BOUND") ===
        kindCount(orig, "RANGE_TOMBSTONE_BOUND"))
      val pkOnly = orig.filter(col("row_kind") === "PK_LIVENESS")
        .select("partition_key", "clustering")
        .exceptAll(orig.filter(col("row_kind") === "ROW")
          .select("partition_key", "clustering").distinct())
        .count()
      assert(kindCount(back, "PK_LIVENESS") === pkOnly)
      assert(pkOnly > 0)
      // values + writetimes byte-identical through the era upgrade
      assert(back.filter(col("row_kind") === "ROW")
        .select("partition_key", "name", "cell.value",
          "cell.writetime_us")
        .exceptAll(orig.filter(col("row_kind") === "ROW")
          .select("partition_key", "name", "cell.value",
            "cell.writetime_us")).count() === 0)
    } finally {
      Scratch.delete(in)
      Scratch.delete(java.nio.file.Paths.get(out).getParent)
    }
  }

  test("point-lookup pushdown: bloom-gated index seeks, corrupt foreign generations never touched") {
    val in = SSTableBinaryV2.writeBinaryFixture(spark, sfDir)
    val out = Scratch.dir("graft-pointtest-")
    try {
      SSTableBinaryV2.writeSSTables(
        SSTableBinaryV2.readBinary(spark, in.toString),
        out.toString, "graft", "documents")
      val dir = s"$out/graft/documents"
      val full = SSTableBinaryV2.readBinary(spark, dir).localCheckpoint()
      // 1. pushed equality predicate answers exactly like the full
      // scan filtered after the fact
      val viaIndex = SSTableBinaryV2.readBinary(spark, dir)
        .filter(col("partition_key") === "8").collect().toSet
      val viaScan = full.filter(col("partition_key") === "8")
        .collect().toSet
      assert(viaIndex === viaScan)
      assert(viaIndex.nonEmpty)
      // 2. IN-lists and conjunctions push too
      val viaIn = SSTableBinaryV2.readBinary(spark, dir)
        .filter(col("partition_key").isin("8", "15", "no-such-key"))
        .select("partition_key").distinct()
        .collect().map(_.getString(0)).toSet
      assert(viaIn === Set("8", "15"))
      // 3. THE witness that files are truly skipped: doc 8 lives in
      // generation 1 (8 % 4 == 0); garbage gen 3's Data.db (its
      // Filter/Index stay intact — bloom says "not here"). The point
      // lookup must succeed without ever decoding the garbage; a
      // full scan must fail on it.
      val g3 = java.nio.file.Paths.get(dir, "nb-3-big-Data.db")
      java.nio.file.Files.write(g3,
        Array.fill[Byte](64)(0x5a)) // garbage
      // hadoop local FS keeps a .crc sibling; drop it so the length
      // change doesn't fail the checksum layer instead of the codec
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dir, ".nb-3-big-Data.db.crc"))
      val afterCorrupt = SSTableBinaryV2.readBinary(spark, dir)
        .filter(col("partition_key") === "8").collect().toSet
      assert(afterCorrupt === viaScan,
        "bloom-negative file was opened (or lookup answers changed)")
      intercept[org.apache.spark.SparkException] {
        SSTableBinaryV2.readBinary(spark, dir).count()
      }
    } finally { Scratch.delete(in); Scratch.delete(out) }
  }

  test("summary-bounded lookups: multi-interval Summary.db narrows the index read, answers stay exact") {
    import spark.implicits._
    // ONE generation with 600 partitions → a 5-entry summary
    // (interval 128): lookups land in different intervals, at
    // interval edges, and off both ends of the token range
    val wt = 1609459200L * 1000000L
    val rows = (0 until 600).map { i =>
      (s"key$i", Seq("c"), "ROW", Some("v"),
        Some((s"val$i", wt + i, None: Option[Int], None: Option[Long])),
        None: Option[Long], "t/nb-1-big-Data.db")
    }.toDF("partition_key", "clustering", "row_kind", "name",
      "cell_t", "deletion_us", "sstable")
      .withColumn("cell", org.apache.spark.sql.functions.struct(
        col("cell_t._1").as("value"), col("cell_t._2").as("writetime_us"),
        col("cell_t._3").as("ttl_s"), col("cell_t._4").as("expire_us")))
      .drop("cell_t")
    val out = Scratch.dir("graft-sumlookup-")
    try {
      SSTableBinaryV2.writeSSTables(rows, out.toString, "ks", "t")
      val dir = s"$out/ks/t"
      // the summary really has several intervals
      val sumBytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Files.list(java.nio.file.Paths.get(dir))
          .filter(_.toString.endsWith("-Summary.db")).findFirst().get())
      val summary = graft.sources.SSTableComponents.readSummary(sumBytes)
      assert(summary.sampled.size === 5) // ceil(600/128)
      // exact answers for keys across the token space — first/last
      // in token order, interval boundaries, and misses
      val full = SSTableBinaryV2.readBinary(spark, dir).localCheckpoint()
      val byToken = (0 until 600).map(i => s"key$i").sortBy(k =>
        graft.sources.BigFormat.murmur3Token(k.getBytes("UTF-8")))
      val probes = Seq(byToken.head, byToken(127), byToken(128),
        byToken(255), byToken(256), byToken(599), "key42", "nope")
      probes.foreach { k =>
        val got = SSTableBinaryV2.readBinary(spark, dir)
          .filter(col("partition_key") === k).collect().toSet
        val want = full.filter(col("partition_key") === k)
          .collect().toSet
        assert(got === want, s"probe '$k'")
      }
      assert(SSTableBinaryV2.readBinary(spark, dir)
        .filter(col("partition_key") === "key42").count() === 1)
    } finally Scratch.delete(out)
  }

  test("compressed sink output: --compress lz4 writes chunked generations the reader round-trips") {
    val in = SSTableBinaryV2.writeBinaryFixture(spark, sfDir)
    val outC = Scratch.dir("graft-csink-").toString + "/o"
    val outP = Scratch.dir("graft-psink-").toString + "/o"
    try {
      def cli(out: String, extra: String*) = {
        val args = RemoverCli.parse(Array("--in", in.toString,
          "--out", out, "--table", "documents", "--format", "sstable",
          "--sink", "sstable") ++ extra)
          .fold(e => fail(s"parse failed: $e"), identity)
        RemoverCli.run(spark, args)
      }
      cli(outC, "--compress", "lz4")
      cli(outP)
      val dirC = java.nio.file.Paths.get(outC, "graft", "documents")
      def files(dir: java.nio.file.Path, suffix: String) = {
        val l = java.nio.file.Files.list(dir)
        try { import scala.jdk.CollectionConverters._
          l.iterator().asScala
            .filter(_.getFileName.toString.endsWith(suffix)).toVector
        } finally l.close()
      }
      // every generation carries CompressionInfo.db, its TOC lists it,
      // and the compressed Data.db beats the plain twin's size
      assert(files(dirC, "-CompressionInfo.db").size ===
        SSTableDumpBridge.TreeFiles)
      val toc = new String(java.nio.file.Files.readAllBytes(
        files(dirC, "-TOC.txt").head), "UTF-8")
      assert(toc.contains("CompressionInfo.db"))
      val dirP = java.nio.file.Paths.get(outP, "graft", "documents")
      val sizeC = files(dirC, "-Data.db").map(java.nio.file.Files.size).sum
      val sizeP = files(dirP, "-Data.db").map(java.nio.file.Files.size).sum
      assert(sizeC < sizeP, s"compressed $sizeC !< plain $sizeP")
      // digest covers the AS-ON-DISK (compressed) bytes
      val d0 = files(dirC, "-Data.db").head
      val crc = new java.util.zip.CRC32()
      crc.update(java.nio.file.Files.readAllBytes(d0))
      val digest = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(d0.toString.stripSuffix("Data.db")
          + "Digest.crc32")), "UTF-8")
      assert(digest === crc.getValue.toString)
      // the frames are identical: compression is pure transport on
      // the write side exactly as on the read side
      val a = SSTableBinaryV2.readBinary(spark, dirC.toString)
      val b = SSTableBinaryV2.readBinary(spark, dirP.toString)
      assert(a.count() > 0)
      assert(a.exceptAll(b).count() === 0)
      assert(b.exceptAll(a).count() === 0)
      // bad compressor names reject at parse time
      assert(RemoverCli.parse(Array("--in", "x", "--out", "y",
        "--table", "t", "--format", "sstable", "--sink", "sstable",
        "--compress", "brotli")).isLeft)
      assert(RemoverCli.parse(Array("--in", "x", "--out", "y",
        "--table", "t", "--compress", "lz4")).isLeft)
    } finally {
      Scratch.delete(in)
      Scratch.delete(java.nio.file.Paths.get(outC).getParent)
      Scratch.delete(java.nio.file.Paths.get(outP).getParent)
    }
  }

  test("binary sink writes a LOADABLE generation: full component set, index locates every partition, bloom answers") {
    import graft.sources.SSTableComponents
    val in = SSTableBinaryV2.writeBinaryFixture(spark, sfDir)
    val out = Scratch.dir("graft-loadable-")
    try {
      val original = SSTableBinaryV2.readBinary(spark, in.toString)
        .localCheckpoint()
      SSTableBinaryV2.writeSSTables(original, out.toString,
        "graft", "documents")
      val dir = out.resolve("graft").resolve("documents")
      val names = {
        val s = java.nio.file.Files.list(dir)
        try { import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString).toVector
        } finally s.close()
      }
      val gens = names.filter(_.endsWith("-Data.db"))
        .map(_.split('-')(1).toInt).sorted
      assert(gens === Seq(1, 2, 3, 4))
      // 1. every generation carries the FULL component set
      gens.foreach { g =>
        SSTableComponents.Components.foreach { comp =>
          assert(names.contains(s"nb-$g-big-$comp"),
            s"generation $g missing $comp")
        }
      }
      def bytesOf(name: String): Array[Byte] =
        java.nio.file.Files.readAllBytes(dir.resolve(name))
      gens.foreach { g =>
        val data = bytesOf(s"nb-$g-big-Data.db")
        val header = graft.sources.BigFormat.readStats(
          bytesOf(s"nb-$g-big-Statistics.db"))
        val index = SSTableComponents.readIndex(
          bytesOf(s"nb-$g-big-Index.db"), "t")
        // 2. Index.db locates every partition: decoding the data file
        // FROM each indexed offset yields the partition with that key
        val allKeys = graft.sources.BigFormat.partitions(header,
          new ByteArrayInputStream(data), "t").map(_.key).toVector
        assert(index.size === allKeys.size)
        index.zip(allKeys).foreach { case ((keyBytes, pos, _), expected) =>
          assert(new String(keyBytes, "UTF-8") === expected)
          val at = graft.sources.BigFormat.partitions(header,
            new ByteArrayInputStream(data, pos.toInt,
              data.length - pos.toInt), "t").next()
          assert(at.key === expected, s"offset $pos")
        }
        // 3. the bloom filter answers present/absent correctly
        val bloom = SSTableComponents.readFilter(
          bytesOf(s"nb-$g-big-Filter.db"))
        index.foreach { case (keyBytes, _, _) =>
          assert(bloom.mightContain(keyBytes))
        }
        val absent = (0 until 500).map(i => s"no-such-key-$i"
          .getBytes("UTF-8")).count(bloom.mightContain)
        assert(absent < 25, s"gen $g bloom fp rate ${absent / 500.0}")
        // 4. summary samples Index.db positions and brackets the keys
        val summary = SSTableComponents.readSummary(
          bytesOf(s"nb-$g-big-Summary.db"))
        assert(summary.firstKey.toSeq ===
          allKeys.head.getBytes("UTF-8").toSeq)
        assert(summary.lastKey.toSeq ===
          allKeys.last.getBytes("UTF-8").toSeq)
        assert(summary.sampled.head._1.toSeq === summary.firstKey.toSeq)
        assert(summary.sampled.head._2 === 0L)
        // 5. digest matches the data bytes; TOC lists the set
        val crc = new java.util.zip.CRC32(); crc.update(data)
        assert(new String(bytesOf(s"nb-$g-big-Digest.crc32"), "UTF-8")
          === crc.getValue.toString)
        assert(new String(bytesOf(s"nb-$g-big-TOC.txt"), "UTF-8")
          .split("\n").toSeq === SSTableComponents.Components)
      }
      // the round-trip oracle is untouched by the new components
      val back = SSTableBinaryV2.readBinary(spark, out.toString)
      assert(back.exceptAll(original).count() === 0)
      assert(original.exceptAll(back).count() === 0)
    } finally { Scratch.delete(in); Scratch.delete(out) }
  }

  test("binary sink: cell tombstones round-trip (never silently dropped)") {
    // a cell tombstone next to a live cell in one row — the shape the
    // r8 fixture never exercised; losing it on rewrite would resurrect
    // deleted data when older generations are merged later
    val tsDel = 1609459300L * 1000000L
    val ldtDel = 1609459299
    val src = Scratch.dir("graft-celldel-src-")
    val out = Scratch.dir("graft-celldel-out-")
    try {
      val hdr = BigFormat.Header(tsDel - 1000000L, ldtDel - 10, 0,
        BigFormat.Utf8Type, Seq(BigFormat.Utf8Type), Nil,
        Seq("a" -> BigFormat.Utf8Type, "b" -> BigFormat.Utf8Type))
      val part = BigFormat.PartitionData("pk", None, Seq(
        BigFormat.RowAtom(Seq(Some("c1")), Some(tsDel - 500000L), None,
          None, None, Seq(
            BigFormat.CellAtom("a", tsDel, None, Some(ldtDel), None,
              deleted = true),
            BigFormat.CellAtom("b", tsDel - 500000L, None, None,
              Some("live"), deleted = false)))))
      val d = src.resolve("t")
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.write(d.resolve("nb-1-big-Data.db"),
        BigFormat.writeDataFile(Seq(part), hdr))
      java.nio.file.Files.write(d.resolve("nb-1-big-Statistics.db"),
        BigFormat.writeStats(hdr))
      val frame = SSTableBinaryV2.readBinary(spark, src.toString)
        .localCheckpoint()
      // the reader surfaces the tombstone's full identity: deletion
      // timestamp AND local-deletion second (as expire_us micros)
      val cd = frame.filter(col("row_kind") === "CELL_DELETION").head()
      assert(cd.getAs[String]("name") === "a")
      assert(cd.getAs[Long]("deletion_us") === tsDel)
      val cdCell = cd.getAs[org.apache.spark.sql.Row]("cell")
      assert(cdCell.getAs[Long]("writetime_us") === tsDel)
      assert(cdCell.getAs[Long]("expire_us") === ldtDel * 1000000L)
      // strip + rewrite: the tombstone survives BIT-EXACTLY; the strip
      // itself must not touch it (stripCellKeepDeletion's dispatch)
      val stripped = frame.withColumn("cell",
        graft.model.CellModel.stripCellKeepDeletion(col("cell")))
      SSTableBinaryV2.writeSSTables(stripped, out.toString, "ks", "t")
      val back = SSTableBinaryV2.readBinary(spark, out.toString)
        .localCheckpoint()
      assert(back.exceptAll(frame).count() === 0)
      assert(back.exceptAll(frame).count() === 0)
      assert(back.filter(col("row_kind") === "CELL_DELETION").count() === 1)
      // and the codec-level atoms agree: deleted flag, ts, ldt —
      // decoded against the REWRITTEN file's own Statistics.db (the
      // sink computes fresh per-file minima)
      val outTable = out.resolve("ks").resolve("t")
      def outBytes(suffix: String): Array[Byte] =
        java.nio.file.Files.readAllBytes(
          java.nio.file.Files.list(outTable)
            .filter(_.toString.endsWith(suffix)).findFirst().get())
      val outHdr = BigFormat.readStats(outBytes("-Statistics.db"))
      val rt = BigFormat.partitions(outHdr,
        new java.io.ByteArrayInputStream(outBytes("-Data.db")), "rt").toSeq
      val cells = rt.head.atoms.head
        .asInstanceOf[BigFormat.RowAtom].cells
      assert(cells.find(_.name == "a").get ===
        BigFormat.CellAtom("a", tsDel, None, Some(ldtDel), None, true))
    } finally { Scratch.delete(src); Scratch.delete(out) }
  }

  test("complex lifecycle: map entries, entry tombstones and collection tombstones survive read → strip → rewrite") {
    val in = SSTableBinaryV2.writeComplexFixture(spark, sfDir)
    val out = Scratch.dir("graft-cplx-spec-")
    try {
      val frame = SSTableBinaryV2.readBinary(spark, in.toString)
        .localCheckpoint()
      // reader surface: name-encoded paths + COMPLEX_DELETION rows
      val kinds = frame.select("row_kind").distinct()
        .collect().map(_.getString(0)).toSet
      assert(kinds === Set("ROW", "CELL_DELETION", "COMPLEX_DELETION"))
      assert(frame.filter(col("name") === "attrs[k0]").count() > 0)
      val cd = frame.filter(col("row_kind") === "COMPLEX_DELETION")
      assert(cd.count() > 0)
      assert(cd.select("name").distinct().collect()
        .map(_.getString(0)).toSeq === Seq("attrs"))
      // strip + rewrite: everything but TTL metadata survives
      val stripped = frame.withColumn("cell",
        graft.model.CellModel.stripCellKeepDeletion(col("cell")))
      SSTableBinaryV2.writeSSTables(stripped, out.toString,
        "graft", "documents")
      val back = SSTableBinaryV2.readBinary(spark, out.toString)
        .localCheckpoint()
      assert(back.filter(col("cell.ttl_s").isNotNull).count() === 0)
      val expected = stripped.drop("sstable")
      assert(back.drop("sstable").exceptAll(expected).count() === 0)
      assert(expected.exceptAll(back.drop("sstable")).count() === 0)
    } finally { Scratch.delete(in); Scratch.delete(out) }
  }

  test("static+counter lifecycle: statics strip, counters pass through, both survive the rewrite") {
    val in = SSTableBinaryV2.writeStaticFixture(spark, sfDir)
    val out = Scratch.dir("graft-static-spec-")
    try {
      val frame = SSTableBinaryV2.readBinary(spark, in.toString)
        .localCheckpoint()
      // static rows: NULL clustering, one per partition
      val statics = frame.filter(col("clustering").isNull &&
        col("row_kind") === "ROW")
      assert(statics.count() ===
        frame.select("partition_key").distinct().count())
      assert(statics.select("name").distinct().collect()
        .map(_.getString(0)).toSeq === Seq("stitle"))
      // some static cells carry TTL before the strip
      assert(statics.filter(col("cell.ttl_s").isNotNull).count() > 0)
      // counters: never a TTL, 16-hex values
      val counters = frame.filter(col("name") === "hits")
      assert(counters.filter(col("cell.ttl_s").isNotNull).count() === 0)
      assert(counters.filter(length(col("cell.value")) =!= 16)
        .count() === 0)
      val stripped = frame.withColumn("cell",
        graft.model.CellModel.stripCellKeepDeletion(col("cell")))
      SSTableBinaryV2.writeSSTables(stripped, out.toString,
        "graft", "documents")
      val back = SSTableBinaryV2.readBinary(spark, out.toString)
        .localCheckpoint()
      // stripped statics, untouched counters, full frame equality
      assert(back.filter(col("cell.ttl_s").isNotNull).count() === 0)
      val expected = stripped.drop("sstable")
      assert(back.drop("sstable").exceptAll(expected).count() === 0)
      assert(expected.exceptAll(back.drop("sstable")).count() === 0)
      // counter VALUES are bit-identical through the whole lifecycle
      assert(back.filter(col("name") === "hits")
        .select("cell.value").exceptAll(
          frame.filter(col("name") === "hits").select("cell.value"))
        .count() === 0)
    } finally { Scratch.delete(in); Scratch.delete(out) }
  }

  test("typed sink honors declared STATIC columns and rejects static/regular disagreement") {
    import spark.implicits._
    val cql = "CREATE TABLE graft.t (id text, ck text, " +
      "stitle text static, len text, PRIMARY KEY (id, ck))"
    val parsed = graft.model.CqlSchema.parse(cql)
      .fold(e => fail(e), identity)
    val wt = 1609459200L * 1000000L
    def mk(rows: Seq[(String, Seq[String], String, Option[String])]) =
      rows.map { case (pk, cl, kind, name) =>
        (pk, cl, kind, name,
          Some(("v", wt, None: Option[Int], None: Option[Long])),
          None: Option[Long], "t/nb-1-big-Data.db")
      }.toDF("partition_key", "clustering", "row_kind", "name",
        "cell_t", "deletion_us", "sstable")
        .withColumn("cell", org.apache.spark.sql.functions.struct(
          col("cell_t._1").as("value"),
          col("cell_t._2").as("writetime_us"),
          col("cell_t._3").as("ttl_s"), col("cell_t._4").as("expire_us")))
        .drop("cell_t")
    val good = mk(Seq(
      ("p1", null, "ROW", Some("stitle")), // static: NULL clustering
      ("p1", Seq("c1"), "ROW", Some("len"))))
    val out = Scratch.dir("graft-cqlstatic-")
    try {
      SSTableBinaryV2.writeSSTables(good, out.toString, "graft", "t",
        Some(parsed))
      val back = SSTableBinaryV2.readBinary(spark, out.toString)
      val rows = back.select("partition_key", "clustering", "name")
        .collect().map(r => (r.getString(0),
          Option(r.getSeq[String](1)).map(_.toSeq), r.getString(2)))
      assert(rows.toSet === Set(
        ("p1", None, "stitle"), ("p1", Some(Seq("c1")), "len")))
      // a declared-STATIC column arriving on a CLUSTERED row is a
      // contradiction, refused with the column named
      val bad = mk(Seq(("p1", Seq("c1"), "ROW", Some("stitle"))))
      val ex = intercept[org.apache.spark.SparkException] {
        SSTableBinaryV2.writeSSTables(bad, out.toString + "-x",
          "graft", "t", Some(parsed))
      }
      assert((ex.toString +
        Option(ex.getCause).map(_.toString).getOrElse(""))
        .contains("stitle"))
    } finally Scratch.delete(out)
  }

  test("binary sink: unknown row_kind refuses the write loudly") {
    import spark.implicits._
    val rows = Seq(("p1", Seq("c"), "SOMETHING_NEW", None: Option[String],
      Some(1L), "t/nb-1-big-Data.db"))
      .toDF("partition_key", "clustering", "row_kind", "name",
        "deletion_us", "sstable")
      .withColumn("cell", lit(null).cast(SSTableBinaryV2.cellType))
    val out = Scratch.dir("graft-badkind-")
    try {
      val ex = intercept[org.apache.spark.SparkException] {
        SSTableBinaryV2.writeSSTables(rows, out.toString, "ks", "t")
      }
      assert(ex.toString.contains("SOMETHING_NEW") ||
        Option(ex.getCause).exists(_.toString.contains("SOMETHING_NEW")))
    } finally Scratch.delete(out)
  }

  test("binary sink: same-generation sources in different dirs never clobber") {
    // t1/nb-1 and t2/nb-1 under one load root: without driver-side
    // generation assignment both map to out/ks/t/nb-1-big-Data.db and
    // one file silently vanishes while the manifest reports both
    import spark.implicits._
    val wt = 1609459200L * 1000000L
    def row(pk: String, src: String) =
      (pk, Seq("c"), "ROW", Some("v"),
        Some(("x", wt, None: Option[Int], None: Option[Long])),
        None: Option[Long], src)
    val rows = Seq(row("p1", "t1/nb-1-big-Data.db"),
      row("p2", "t2/nb-1-big-Data.db"))
      .toDF("partition_key", "clustering", "row_kind", "name",
        "cell_t", "deletion_us", "sstable")
      .withColumn("cell", org.apache.spark.sql.functions.struct(
        col("cell_t._1").as("value"), col("cell_t._2").as("writetime_us"),
        col("cell_t._3").as("ttl_s"), col("cell_t._4").as("expire_us")))
      .drop("cell_t")
    val out = Scratch.dir("graft-gencollide-")
    try {
      val manifest = SSTableBinaryV2.writeSSTables(
        rows, out.toString, "ks", "t")
      // two DISTINCT output files, both rows present after read-back
      assert(manifest.map(_._1).distinct.length === 2)
      val back = SSTableBinaryV2.readBinary(spark, out.toString)
      assert(back.count() === 2)
      assert(back.select("partition_key").as[String].collect().toSet ===
        Set("p1", "p2"))
    } finally Scratch.delete(out)
  }

  test("full pipeline runs unchanged over the binary path") {
    val out = SSTableBinaryV2.writeBinaryFixture(spark, sfDir)
    try {
      val rows = SSTableBinaryV2.readBinary(spark, out.toString)
      val stripped = SSTableDumpBridge.stripTtl(rows.drop("sstable"))
      // every live cell lost its TTL, kept value + writetime
      assert(stripped.filter(col("row_kind") === "ROW")
        .filter(col("cell.ttl_s").isNotNull).count() === 0)
      assert(stripped.filter(col("row_kind") === "ROW")
        .filter(col("cell.writetime_us").isNull).count() === 0)
      // tombstones survive verbatim
      val kinds = stripped.select("row_kind").distinct()
        .collect().map(_.getString(0)).toSet
      assert(kinds.contains("PARTITION_DELETION"))
      assert(kinds.contains("ROW_DELETION"))
    } finally graft.Scratch.delete(out)
  }

  test("sink emits unfiltereds in comparator order: typed clusterings, markers interleaved at their bounds") {
    import spark.implicits._
    val wt = 1609459200L * 1000000L
    def row(ck: Long) = ("pk", Seq(ck.toString), "ROW", Some("v"),
      Some((s"x$ck", wt, None: Option[Int], None: Option[Long])),
      None: Option[Long], "t/nb-1-big-Data.db")
    def marker(ck: Long, bound: String) =
      ("pk", Seq(ck.toString), "RANGE_TOMBSTONE_BOUND", Some(bound),
        None: Option[(String, Long, Option[Int], Option[Long])],
        Some(wt - 1), "t/nb-1-big-Data.db")
    val parsed = graft.model.CqlSchema.parse(
      "CREATE TABLE ks.t (pk text, ck bigint, v text, " +
        "PRIMARY KEY (pk, ck))").fold(e => fail(e), identity)
    // one partition's unfiltereds as written, in input order (one input
    // partition, so the sink's task sees the rows as listed)
    def written(input: Seq[(String, Seq[String], String, Option[String],
        Option[(String, Long, Option[Int], Option[Long])], Option[Long],
        String)]): Seq[(String, String)] = {
      val rows = input
        .toDF("partition_key", "clustering", "row_kind", "name",
          "cell_t", "deletion_us", "sstable")
        .coalesce(1)
        .withColumn("cell", struct(
          col("cell_t._1").as("value"), col("cell_t._2").as("writetime_us"),
          col("cell_t._3").as("ttl_s"), col("cell_t._4").as("expire_us")))
        .drop("cell_t")
      val out = Scratch.dir("graft-clorder-")
      try {
        SSTableBinaryV2.writeSSTables(rows, out.toString, "ks", "t",
          Some(parsed))
        val dir = out.resolve("ks").resolve("t")
        val h = BigFormat.readStats(java.nio.file.Files.readAllBytes(
          dir.resolve("nb-1-big-Statistics.db")))
        BigFormat.partitions(h,
          new java.io.ByteArrayInputStream(
            java.nio.file.Files.readAllBytes(dir.resolve("nb-1-big-Data.db"))),
          "clorder-test").toSeq.head.atoms.map {
          case r: BigFormat.RowAtom => ("row", r.clustering.head.get)
          case m: BigFormat.MarkerAtom =>
            (s"marker${m.kind}", m.clustering.head.get)
        }
      } finally Scratch.delete(out)
    }
    import BigFormat.Kind._
    // string order would park the markers first and sort rows
    // -5 < 10 < 2; comparator order is -5, 2, [3 .. 9], 10
    assert(written(Seq(row(2), row(10), row(-5),
      marker(3, "start:inclusive"), marker(9, "end:inclusive"))) === Seq(
      ("row", "-5"), ("row", "2"),
      (s"marker$InclStartBound", "3"),
      (s"marker$InclEndBound", "9"),
      ("row", "10")))
    // ranges meeting at one clustering, each pair fed start-first:
    // [3, 5) + [5, 9] (exclusive end / inclusive start) and
    // [11, 13] + (13, 15] (inclusive end / exclusive start). Each pair's
    // kinds compare equal, so only the kind tiebreak writes the end
    // before the start it meets
    assert(written(Seq(
      marker(5, "start:inclusive"), marker(5, "end:exclusive"),
      marker(13, "start:exclusive"), marker(13, "end:inclusive"),
      marker(3, "start:inclusive"), marker(9, "end:inclusive"),
      marker(11, "start:inclusive"), marker(15, "end:inclusive"))) === Seq(
      (s"marker$InclStartBound", "3"),
      (s"marker$ExclEndBound", "5"), (s"marker$InclStartBound", "5"),
      (s"marker$InclEndBound", "9"),
      (s"marker$InclStartBound", "11"),
      (s"marker$InclEndBound", "13"), (s"marker$ExclStartBound", "13"),
      (s"marker$InclEndBound", "15")))
  }

  test("chunk-map seeks: point lookups and split scans serve a COMPRESSED generation exactly like the full scan") {
    import graft.sources.CompressedData
    val in = SSTableBinaryV2.writeBinaryFixture(spark, sfDir)
    val out = Scratch.dir("graft-chunkseek-")
    try {
      SSTableBinaryV2.writeSSTables(
        SSTableBinaryV2.readBinary(spark, in.toString),
        out.toString, "graft", "documents",
        compression = Some(CompressedData.Lz4))
      val dir = s"$out/graft/documents"
      // generations really are compressed (CompressionInfo siblings)
      val names = {
        val s = java.nio.file.Files.list(
          java.nio.file.Paths.get(dir))
        try { import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString).toVector
        } finally s.close()
      }
      assert(names.count(_.endsWith("-CompressionInfo.db")) === 4)
      val full = SSTableBinaryV2.readBinary(spark, dir).localCheckpoint()
      // 1. point lookup seeks THROUGH the chunk map
      val viaPoint = SSTableBinaryV2.readBinary(spark, dir)
        .filter(col("partition_key") === "8").collect().toSet
      assert(viaPoint === full.filter(col("partition_key") === "8")
        .collect().toSet)
      assert(viaPoint.nonEmpty)
      // 2. split scan: blind ON-DISK ranges claim whole chunks, their
      // logical span partition-aligns — nothing lost, nothing doubled
      val split = spark.read.format("sstable-big")
        .option("splitBytes", "512").load(dir)
      assert(split.count() === full.count())
      assert(split.exceptAll(full).count() === 0)
      assert(full.exceptAll(split).count() === 0)
    } finally { Scratch.delete(in); Scratch.delete(out) }
  }

  test("token-range reads: exact ring membership, wrap-around, and summary-gated file skips (garbled foreign files untouched)") {
    import spark.implicits._
    val out = Scratch.dir("graft-tokenspec-")
    try {
      // four single-partition generations — each key its own file, so
      // file-level skip behavior is deterministic per range
      val frame = (0 to 3).map { i =>
        (i.toString, Seq(s"c$i"), "ROW", Some("v"),
          Some((s"val$i", 1609459200000000L + i, None: Option[Int],
            None: Option[Long])), None: Option[Long],
          s"t/nb-${i + 1}-big-Data.db")
      }.toDF("partition_key", "clustering", "row_kind", "name",
        "cell_t", "deletion_us", "sstable")
        .withColumn("cell", struct(
          col("cell_t._1").as("value"),
          col("cell_t._2").as("writetime_us"),
          col("cell_t._3").as("ttl_s"), col("cell_t._4").as("expire_us")))
        .drop("cell_t")
      SSTableBinaryV2.writeSSTables(frame, out.toString, "graft",
        "documents")
      val dir = s"$out/graft/documents"
      def tok(k: String): Long = BigFormat.murmur3Token(
        BigFormat.encodeValue(BigFormat.Utf8Type, k))
      def ranged(lo: Long, hi: Long) = spark.read.format("sstable-big")
        .option("tokenLo", lo.toString).option("tokenHi", hi.toString)
        .load(dir)
      // single-token range serves exactly its key
      val t2 = tok("2")
      assert(ranged(t2, t2).select("partition_key").collect()
        .map(_.getString(0)).toSet === Set("2"))
      // wrap-complement serves exactly the others
      assert(ranged(t2 + 1, t2 - 1).select("partition_key").collect()
        .map(_.getString(0)).toSet === Set("0", "1", "3"))
      // point lookup + token range COMPOSE: a pushed key outside the
      // ring bounds must not serve even though its bloom+index match
      assert(ranged(t2, t2)
        .filter(col("partition_key").isin("2", "3"))
        .select("partition_key").collect()
        .map(_.getString(0)).toSet === Set("2"))
      // the planner rule derives the range from a murmur3_token
      // predicate — no options, the Filter alone carries the ring
      // bounds into the scan
      graft.plans.GraftExtensions.enable(spark)
      import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
      val tokCol = graft.functions.GraftFunctions
        .murmur3_token(col("partition_key"))
      val auto = SSTableBinaryV2.readBinary(spark, dir)
        .filter(tokCol.between(t2, t2))
      val bounds = auto.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation =>
          SSTableBinaryV2.tokenRangeOf(r.scan)
      }.flatten
      assert(bounds === Seq((t2, t2)),
        "PushClusteringSlice did not derive the token range")
      assert(auto.select("partition_key").collect()
        .map(_.getString(0)).toSet === Set("2"))
      // the pruning state is VISIBLE in explain output (Scan
      // description) — users verify engagement from the plan alone
      val explained = auto.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(explained.contains(s"tokenRange=[$t2,$t2]"),
        s"scan description lacks the token range:\n$explained")
      // summary-gated FILE skip: garble every other generation's
      // Data.db — the single-token read must still answer (their
      // Summary.db token spans are disjoint, so they are never
      // opened), while a full scan now fails loudly
      val files = {
        val st = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        try { import scala.jdk.CollectionConverters._
          st.iterator().asScala.filter(
            _.getFileName.toString.endsWith("-Data.db")).toVector
        } finally st.close()
      }
      val t2name = SSTableBinaryV2.readBinary(spark, dir)
        .filter(col("partition_key") === "2")
        .select("sstable").head().getString(0).split('/').last
      files.filterNot(_.getFileName.toString == t2name).foreach { f =>
        java.nio.file.Files.write(f,
          Array.fill[Byte](64)(0x7f))
        java.nio.file.Files.deleteIfExists(
          f.getParent.resolve("." + f.getFileName + ".crc"))
      }
      assert(ranged(t2, t2).select("partition_key").collect()
        .map(_.getString(0)).toSet === Set("2"),
        "token-range read touched a generation its summary excludes")
      intercept[org.apache.spark.SparkException] {
        SSTableBinaryV2.readBinary(spark, dir).count()
      }
    } finally Scratch.delete(out)
  }

  test("derived token ranges DISENGAGE on non-text partition keys; manual options keep real-token semantics") {
    import spark.implicits._
    val out = Scratch.dir("graft-tokguard-")
    try {
      val wt = 1609459200000000L
      val frame = (1 to 8).map { i =>
        (i.toString, Seq("c"), "ROW", Some("v"),
          Some((s"val$i", wt, None: Option[Int], None: Option[Long])),
          None: Option[Long], s"t/nb-$i-big-Data.db")
      }.toDF("partition_key", "clustering", "row_kind", "name",
        "cell_t", "deletion_us", "sstable")
        .withColumn("cell", struct(
          col("cell_t._1").as("value"),
          col("cell_t._2").as("writetime_us"),
          col("cell_t._3").as("ttl_s"), col("cell_t._4").as("expire_us")))
        .drop("cell_t")
      val cql = graft.model.CqlSchema.parse(
        "CREATE TABLE graft.documents (pk bigint, ck text, v text, " +
          "PRIMARY KEY (pk, ck))").fold(e => fail(e), identity)
      SSTableBinaryV2.writeSSTables(frame, out.toString, "graft",
        "documents", Some(cql))
      val dir = s"$out/graft/documents"
      graft.plans.GraftExtensions.enable(spark)
      import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
      // a bigint key's murmur3_token(partition_key) hashes the RENDERED
      // decimal string; the ring token hashes the 8-byte encoding —
      // the two MUST differ for this fixture to prove anything
      val k = "5"
      val tokStr = BigFormat.murmur3Token(k.getBytes("UTF-8"))
      val tokEnc = BigFormat.murmur3Token(
        BigFormat.encodeValue(BigFormat.LongType, k))
      assert(tokStr !== tokEnc)
      val tokCol = graft.functions.GraftFunctions
        .murmur3_token(col("partition_key"))
      val auto = SSTableBinaryV2.readBinary(spark, dir)
        .filter(tokCol.between(tokStr, tokStr))
      // the rule still fires (the PLAN cannot know the key type —
      // only the file's serialization header declares it) ...
      val bounds = auto.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation =>
          SSTableBinaryV2.tokenRangeOf(r.scan)
      }.flatten
      assert(bounds === Seq((tokStr, tokStr)),
        "rule did not derive the token range")
      // ... but the READER must disengage it: pruning by the encoded-
      // key token against string-space bounds would drop key 5 (a
      // residual Filter can only narrow, never restore). Correctness
      // = exactly what the residual predicate keeps.
      assert(auto.select("partition_key").collect()
        .map(_.getString(0)).toSet === Set("5"),
        "derived token range pruned by the wrong token space")
      // manual tokenLo/tokenHi are REAL ring positions — they stay
      // engaged on the bigint key and serve exactly the member
      val manual = spark.read.format("sstable-big")
        .option("tokenLo", tokEnc.toString)
        .option("tokenHi", tokEnc.toString).load(dir)
      assert(manual.select("partition_key").collect()
        .map(_.getString(0)).toSet === Set("5"))
      // the TYPED form computes REAL ring tokens for the declared key
      // type — it ENGAGES on the bigint table, in SQL too
      graft.functions.GraftFunctions.register(spark)
      assert(spark.sql(s"SELECT murmur3_token_typed('5', " +
        s"'${BigFormat.LongType}') AS t").head().getLong(0) === tokEnc)
      val typedCol = graft.functions.GraftFunctions
        .murmur3_token_typed(col("partition_key"), BigFormat.LongType)
      val typed = SSTableBinaryV2.readBinary(spark, dir)
        .filter(typedCol.between(tokEnc, tokEnc))
      val tBounds = typed.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation =>
          SSTableBinaryV2.tokenRangeOf(r.scan)
      }.flatten
      assert(tBounds === Seq((tokEnc, tokEnc)),
        "rule did not derive the typed token range")
      assert(typed.select("partition_key").collect()
        .map(_.getString(0)).toSet === Set("5"))
      // and it genuinely PRUNES IO: garble every other generation —
      // their Summary token spans exclude the ring point, so the
      // typed ranged read never opens them; a full scan fails loudly
      val keep = SSTableBinaryV2.readBinary(spark, dir)
        .filter(col("partition_key") === "5")
        .select("sstable").head().getString(0).split('/').last
      val files = {
        val st = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        try { import scala.jdk.CollectionConverters._
          st.iterator().asScala.filter(
            _.getFileName.toString.endsWith("-Data.db")).toVector
        } finally st.close()
      }
      files.filterNot(_.getFileName.toString == keep).foreach { f =>
        java.nio.file.Files.write(f, Array.fill[Byte](64)(0x7f))
        java.nio.file.Files.deleteIfExists(
          f.getParent.resolve("." + f.getFileName + ".crc"))
      }
      assert(SSTableBinaryV2.readBinary(spark, dir)
        .filter(typedCol.between(tokEnc, tokEnc))
        .select("partition_key").collect()
        .map(_.getString(0)).toSet === Set("5"),
        "typed token range opened a generation its summary excludes")
      intercept[org.apache.spark.SparkException] {
        SSTableBinaryV2.readBinary(spark, dir).count()
      }
    } finally Scratch.delete(out)
  }

  test("point lookups over COMPOSITE partition keys: the ':'-joined carry encodes to the real blob") {
    val in = SSTableBinaryV2.writeCompositeFixture(spark, sfDir)
    val out = Scratch.dir("graft-comppoint-")
    try {
      val cql = graft.model.CqlSchema.parse(
        """CREATE TABLE graft.documents (
          |  src text, d bigint, ck text, len text, origin text,
          |  PRIMARY KEY ((src, d), ck))""".stripMargin)
        .fold(e => fail(e), identity)
      SSTableBinaryV2.writeSSTables(
        SSTableBinaryV2.readBinary(spark, in.toString),
        out.toString, "graft", "documents", Some(cql))
      val dir = s"$out/graft/documents"
      val full = SSTableBinaryV2.readBinary(spark, dir).localCheckpoint()
      val key = full.select("partition_key").head().getString(0)
      assert(key.contains(":"), s"not a composite carry: $key")
      // the pushed ':'-joined key must bloom/index-match the REAL
      // CompositeType blob the typed sink wrote
      val viaPoint = SSTableBinaryV2.readBinary(spark, dir)
        .filter(col("partition_key") === key).collect().toSet
      assert(viaPoint ===
        full.filter(col("partition_key") === key).collect().toSet)
      assert(viaPoint.nonEmpty)
      // a well-formed composite that exists nowhere: zero rows
      assert(SSTableBinaryV2.readBinary(spark, dir)
        .filter(col("partition_key") === "no-such-src:999999")
        .count() === 0)
      // typed token pruning reaches COMPOSITE keys: the typed
      // expression encodes the ':'-joined carry through the declared
      // CompositeType before hashing — the token the sink sorted by
      graft.plans.GraftExtensions.enable(spark)
      val compType = BigFormat.compositeType(
        Seq(BigFormat.Utf8Type, BigFormat.LongType))
      val tokEnc = BigFormat.murmur3Token(
        BigFormat.encodeValue(compType, key))
      val typedCol = graft.functions.GraftFunctions
        .murmur3_token_typed(col("partition_key"), compType)
      val typed = SSTableBinaryV2.readBinary(spark, dir)
        .filter(typedCol.between(tokEnc, tokEnc))
      import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
      val tBounds = typed.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation =>
          SSTableBinaryV2.tokenRangeOf(r.scan)
      }.flatten
      assert(tBounds === Seq((tokEnc, tokEnc)),
        "rule did not derive the composite-typed token range")
      assert(typed.select("partition_key").distinct().collect()
        .map(_.getString(0)).toSet === Set(key))
    } finally { Scratch.delete(in); Scratch.delete(out) }
  }

  test("SQL surface: CREATE TEMPORARY VIEW USING sstable-big + murmur3_token() WHERE clause prunes via the rule") {
    import spark.implicits._
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val out = Scratch.dir("graft-sqlview-")
    try {
      val frame = (0 to 3).map { i =>
        (i.toString, Seq(s"c$i"), "ROW", Some("v"),
          Some((s"val$i", 1609459200000000L + i, None: Option[Int],
            None: Option[Long])), None: Option[Long],
          s"t/nb-${i + 1}-big-Data.db")
      }.toDF("partition_key", "clustering", "row_kind", "name",
        "cell_t", "deletion_us", "sstable")
        .withColumn("cell", struct(
          col("cell_t._1").as("value"),
          col("cell_t._2").as("writetime_us"),
          col("cell_t._3").as("ttl_s"), col("cell_t._4").as("expire_us")))
        .drop("cell_t")
      SSTableBinaryV2.writeSSTables(frame, out.toString, "graft",
        "documents")
      val dir = s"$out/graft/documents"
      graft.functions.GraftFunctions.register(spark)
      graft.plans.GraftExtensions.enable(spark)
      spark.sql("CREATE OR REPLACE TEMPORARY VIEW sst " +
        s"USING `sstable-big` OPTIONS (path '$dir')")
      val t2 = BigFormat.murmur3Token(
        BigFormat.encodeValue(BigFormat.Utf8Type, "2"))
      val q = spark.sql("SELECT partition_key FROM sst WHERE " +
        s"murmur3_token(partition_key) BETWEEN ${t2}L AND ${t2}L")
      assert(q.collect().map(_.getString(0)).toSet === Set("2"))
      val ranges = q.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation =>
          SSTableBinaryV2.tokenRangeOf(r.scan)
      }.flatten
      assert(ranges === Seq((t2, t2)),
        "SQL WHERE clause did not reach the scan as a token range")
    } finally Scratch.delete(out)
  }

  test("digest verification: clean generations serve; a flipped Data.db byte refuses loudly; absent digest refuses") {
    val in = SSTableBinaryV2.writeBinaryFixture(spark, sfDir)
    val out = Scratch.dir("graft-digestspec-")
    try {
      SSTableBinaryV2.writeSSTables(
        SSTableBinaryV2.readBinary(spark, in.toString),
        out.toString, "graft", "documents")
      val dir = s"$out/graft/documents"
      val clean = SSTableBinaryV2
        .readBinary(spark, dir, None, verify = true).count()
      assert(clean ===
        SSTableBinaryV2.readBinary(spark, dir).count())
      // flip one Data.db byte: the verify pass must refuse loudly,
      // naming the digest — not serve silently-corrupt rows
      val data = {
        val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        try { import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .filter(_.getFileName.toString.endsWith("-Data.db"))
            .toVector.head
        } finally s.close()
      }
      // nio writes bypass Hadoop's LocalFileSystem, whose stale .crc
      // sibling would otherwise trip first — drop it so the failure
      // exercised is OUR Digest.crc32 pass, not Hadoop's transport
      def dropHadoopCrc(): Unit = {
        val crc = data.getParent.resolve("." + data.getFileName + ".crc")
        java.nio.file.Files.deleteIfExists(crc)
      }
      val original = java.nio.file.Files.readAllBytes(data)
      val bytes = original.clone()
      bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x5a).toByte
      java.nio.file.Files.write(data, bytes)
      dropHadoopCrc()
      val e = intercept[org.apache.spark.SparkException] {
        SSTableBinaryV2.readBinary(spark, dir, None, verify = true)
          .count()
      }
      assert(e.getMessage.contains("Digest.crc32") ||
        Option(e.getCause).exists(_.getMessage.contains("Digest.crc32")))
      java.nio.file.Files.write(data, original)
      dropHadoopCrc()
      // a generation with NO digest sibling refuses an explicit
      // verify request instead of silently verifying nothing
      val digest = java.nio.file.Paths.get(
        data.toString.stripSuffix("-Data.db") + "-Digest.crc32")
      java.nio.file.Files.delete(digest)
      val e2 = intercept[org.apache.spark.SparkException] {
        SSTableBinaryV2.readBinary(spark, dir, None, verify = true)
          .count()
      }
      assert(e2.getMessage.contains("no Digest.crc32") ||
        Option(e2.getCause).exists(_.getMessage.contains("no Digest.crc32")))
      // the unverified read path is untouched by a missing digest
      assert(SSTableBinaryV2.readBinary(spark, dir).count() > 0)
    } finally { Scratch.delete(in); Scratch.delete(out) }
  }

  test("2.x point and split pushdown: ka sidecars serve like the full scan; unknown keys bloom-skip") {
    val dir = SSTableBinaryV2.writeOldFixture(spark, sfDir)
    try {
      // the fixture ships the 2.x sidecars
      val names = {
        val s = java.nio.file.Files.list(
          java.nio.file.Paths.get(s"$dir/documents"))
        try { import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString).toVector
        } finally s.close()
      }
      assert(names.count(_.endsWith("-Index.db")) === 4)
      assert(names.count(_.endsWith("-Filter.db")) === 4)
      val full = SSTableBinaryV2
        .readBinary(spark, dir.toString, Some(SSTableBinaryV2.Cql2x))
        .localCheckpoint()
      // point lookups through the ka Index.db ≡ filtered full scan
      val keys = Seq("8", "13", "15", "17")
      val viaPoint = SSTableBinaryV2
        .readBinary(spark, dir.toString, Some(SSTableBinaryV2.Cql2x))
        .filter(col("partition_key").isin(keys: _*)).collect().toSet
      assert(viaPoint === full
        .filter(col("partition_key").isin(keys: _*)).collect().toSet)
      assert(viaPoint.nonEmpty)
      // a key in NO generation: bloom-negative everywhere, zero rows
      assert(SSTableBinaryV2
        .readBinary(spark, dir.toString, Some(SSTableBinaryV2.Cql2x))
        .filter(col("partition_key") === "no-such-key").count() === 0)
      // split scans align through the same index: nothing lost/doubled
      val split = spark.read.format("sstable-big")
        .option("cql", SSTableBinaryV2.Cql2x)
        .option("splitBytes", "512").load(dir.toString)
      assert(split.count() === full.count())
      assert(split.exceptAll(full).count() === 0)
      assert(full.exceptAll(split).count() === 0)
    } finally Scratch.delete(dir)
  }

  test("promoted index end-to-end: wide partitions promote; point, split and full scans agree; envelopes parse") {
    // wideAudit's own in-query checks are the meat: ≥1 promoted entry
    // per generation, readPromoted invariants (contiguous ascending
    // blocks from headerLength, non-final widths ≥ threshold), and
    // point-lookup ≡ full-scan equality over promoted generations
    val audit = SSTableBinaryV2.wideAudit(spark, sfDir).collect()
    assert(audit.length === 1)
    val r = audit.head
    assert(r.getString(0) === "ROW")
    val docs = graft.Tables.load(spark, sfDir, "documents").count()
    assert(r.getLong(1) === 4 * docs)
    assert(r.getLong(2) === 4)
  }

  test("clustering slice end-to-end: promoted blocks consumed, sliced ≡ residual-filtered scan") {
    // sliceAudit's in-query checks carry the weight: the middle-third
    // slice selects a STRICT subset of blocks (skippable flanks
    // required), and the sliced read equals the residual-filtered
    // full scan; here the oracle arithmetic is replayed on documents
    val audit = SSTableBinaryV2.sliceAudit(spark, sfDir).collect()
    assert(audit.length === 1)
    val r = audit.head
    assert(r.getString(0) === "ROW")
    import org.apache.spark.sql.functions.{col, min => smin, max => smax}
    import spark.implicits._
    val (dMin, dMax) = graft.Tables.load(spark, sfDir, "documents")
      .agg(smin(col("doc_id").cast("long")),
        smax(col("doc_id").cast("long"))).as[(Long, Long)].head()
    val ckMin = 4 * dMin
    val span = 4 * (dMax - dMin + 1)
    val (lo, hi) = (ckMin + span / 3, ckMin + (2 * span) / 3)
    val expected = (dMin to dMax)
      .filter(_ % 4 == 2)
      .map(d => (0 to 3).count(j => d * 4 + j >= lo && d * 4 + j <= hi))
      .sum
    assert(r.getLong(1) === expected)
    assert(expected > 0 && expected < (dMax - dMin + 1))
    assert(r.getLong(2) === 1) // one generation serves pk=2
  }

  test("PushClusteringSlice: a plain Filter slices automatically; the space gate never wrong-prunes text clusterings") {
    import spark.implicits._
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    graft.plans.GraftExtensions.enable(spark)
    def scanBounds(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation =>
          SSTableBinaryV2.sliceOf(r.scan)
      }.flatten
    def mkFrame(ck: Long => String) =
      (0L until 100L).map { i =>
        ("0", Seq(ck(i)), "ROW", Some("v"),
          Some(("x" * 40, 1609459200000000L + i, None: Option[Int],
            None: Option[Long])), None: Option[Long],
          "t/nb-1-big-Data.db")
      }.toDF("partition_key", "clustering", "row_kind", "name",
        "cell_t", "deletion_us", "sstable")
        .withColumn("cell", struct(
          col("cell_t._1").as("value"),
          col("cell_t._2").as("writetime_us"),
          col("cell_t._3").as("ttl_s"), col("cell_t._4").as("expire_us")))
        .drop("cell_t")
    val out = Scratch.dir("graft-sliceauto-")
    try {
      // 1. bigint clustering: the rule injects bounds and the reader
      // prunes — results equal the unassisted filter's
      val schemaL = graft.model.CqlSchema.parse(
        "CREATE TABLE graft.documents (pk text, ck bigint, v text, " +
          "PRIMARY KEY (pk, ck))").toOption
      SSTableBinaryV2.writeSSTables(mkFrame(_.toString),
        s"$out/l", "graft", "documents", schemaL, columnIndexSize = 512)
      val dirL = s"$out/l/graft/documents"
      val ckL = col("clustering")(0).cast("long")
      val auto = SSTableBinaryV2.readBinary(spark, dirL)
        .filter(col("partition_key") === "0" && ckL >= 40 && ckL <= 60)
      assert(scanBounds(auto) === Seq((Some("40"), Some("60"))),
        "rule did not inject slice bounds")
      val expected = SSTableBinaryV2.readBinary(spark, dirL)
        .collect().filter { r =>
          val ck = r.getSeq[String](1).head.toLong
          ck >= 40 && ck <= 60
        }.toSet
      assert(auto.collect().toSet === expected)
      assert(expected.size === 21)
      // strict bounds widen to an inclusive (conservative) slice
      val strict = SSTableBinaryV2.readBinary(spark, dirL)
        .filter(col("partition_key") === "0" && ckL > 40 && ckL < 60)
      assert(scanBounds(strict) === Seq((Some("40"), Some("60"))))
      assert(strict.count() === 19)
      // 1b. SLICE-SCAN: no partition-key predicate at all — the
      // reader walks Index.db and serves every partition through the
      // promoted-block seek (ClusteringIndexSliceFilter's shape)
      val scanAuto = SSTableBinaryV2.readBinary(spark, dirL)
        .filter(ckL >= 40 && ckL <= 60)
      assert(scanBounds(scanAuto) === Seq((Some("40"), Some("60"))))
      assert(scanAuto.collect().toSet === expected)
      // 1c. split + slice compose: ranged tasks claim index entries
      // by logical offset, each serving its share sliced
      val splitAuto = spark.read.format("sstable-big")
        .option("splitBytes", "512").load(dirL)
        .filter(ckL >= 40 && ckL <= 60)
      assert(splitAuto.collect().toSet === expected)
      // 2. TEXT clustering + numeric predicate: bounds inject but the
      // reader's space gate must ABSTAIN — text order would prune
      // blocks holding "9" (> "60" as text, inside [40,60] as long)
      val schemaT = graft.model.CqlSchema.parse(
        "CREATE TABLE graft.documents (pk text, ck text, v text, " +
          "PRIMARY KEY (pk, ck))").toOption
      SSTableBinaryV2.writeSSTables(mkFrame(_.toString),
        s"$out/t", "graft", "documents", schemaT, columnIndexSize = 512)
      val dirT = s"$out/t/graft/documents"
      val ckT = col("clustering")(0).cast("long")
      val autoT = SSTableBinaryV2.readBinary(spark, dirT)
        .filter(col("partition_key") === "0" && ckT >= 40 && ckT <= 60)
      assert(scanBounds(autoT) === Seq((Some("40"), Some("60"))))
      assert(autoT.count() === 21, "space gate failed: numeric bounds " +
        "pruned a text-comparator generation")
      // 3. a STRING predicate over the text clustering does engage
      val autoS = SSTableBinaryV2.readBinary(spark, dirT)
        .filter(col("partition_key") === "0" &&
          col("clustering")(0) >= "40" && col("clustering")(0) <= "60")
      assert(scanBounds(autoS) === Seq((Some("40"), Some("60"))))
      val expectedS = SSTableBinaryV2.readBinary(spark, dirT)
        .collect().filter { r =>
          val ck = r.getSeq[String](1).head
          ck >= "40" && ck <= "60"
        }.toSet
      assert(autoS.collect().toSet === expectedS)
    } finally Scratch.delete(out)
  }

  test("multi-component clustering slice: ':'-joined prefix bounds prune under tuple comparator semantics") {
    import spark.implicits._
    val out = Scratch.dir("graft-slicemulti-")
    try {
      // one wide partition, (ck1 bigint, ck2 int) clustering, enough
      // value bytes that 512-byte blocks promote the index entry
      val frame = (0L until 100L).flatMap(i => (0 to 3).map(j =>
        ("0", Seq(i.toString, j.toString), "ROW", Some("v"),
          Some(("x" * 40, 1609459200000000L + i, None: Option[Int],
            None: Option[Long])), None: Option[Long],
          "t/nb-1-big-Data.db")))
        .toDF("partition_key", "clustering", "row_kind", "name",
          "cell_t", "deletion_us", "sstable")
        .withColumn("cell", struct(
          col("cell_t._1").as("value"),
          col("cell_t._2").as("writetime_us"),
          col("cell_t._3").as("ttl_s"), col("cell_t._4").as("expire_us")))
        .drop("cell_t")
      val schema = graft.model.CqlSchema.parse(
        "CREATE TABLE graft.documents (pk text, ck1 bigint, ck2 int, " +
          "v text, PRIMARY KEY (pk, ck1, ck2))").toOption
      SSTableBinaryV2.writeSSTables(frame, out.toString, "graft",
        "documents", schema, columnIndexSize = 512)
      val dir = s"$out/graft/documents"
      val full = SSTableBinaryV2.readBinary(spark, dir).localCheckpoint()
      val c1 = col("clustering")(0).cast("long")
      val c2 = col("clustering")(1).cast("int")
      // tuple bounds (33,2) <= (ck1,ck2) <= (66,1): the comparator
      // order a ':'-joined two-component bound pins
      def restricted(df: org.apache.spark.sql.DataFrame) = df.filter(
        col("partition_key") === "0" &&
          (c1 > 33 || (c1 === 33 && c2 >= 2)) &&
          (c1 < 66 || (c1 === 66 && c2 <= 1)))
      val sliced = restricted(spark.read.format("sstable-big")
        .option("sliceLo", "33:2").option("sliceHi", "66:1").load(dir))
        .collect().toSet
      assert(sliced === restricted(full).collect().toSet)
      assert(sliced.size === (32 * 4 + 2 + 2))
      // a PREFIX bound (leading component only) serves the same way
      def prefRestricted(df: org.apache.spark.sql.DataFrame) =
        df.filter(col("partition_key") === "0" && c1.between(40, 50))
      val viaPrefix = prefRestricted(spark.read.format("sstable-big")
        .option("sliceLo", "40").option("sliceHi", "50").load(dir))
        .collect().toSet
      assert(viaPrefix === prefRestricted(full).collect().toSet)
      assert(viaPrefix.size === 11 * 4)
      // more bound components than declared clusterings: loud reject,
      // never a silently shifted (wrongly pruning) boundary
      val e = intercept[org.apache.spark.SparkException] {
        spark.read.format("sstable-big")
          .option("sliceLo", "1:2:3").option("sliceHi", "4:5:6")
          .load(dir).filter(col("partition_key") === "0").count()
      }
      assert(e.getMessage.contains("components") ||
        Option(e.getCause).exists(_.getMessage.contains("components")))
    } finally Scratch.delete(out)
  }

  test("clustering slice over a COMPRESSED wide generation: chunk-map seeks compose with promoted blocks") {
    import graft.sources.CompressedData
    import org.apache.spark.sql.functions.{max => smax, min => smin}
    val out = Scratch.dir("graft-slicelz4-")
    try {
      val schema = graft.model.CqlSchema.parse(
        "CREATE TABLE graft.documents (pk text, ck bigint, v text, " +
          "PRIMARY KEY (pk, ck))").toOption
      SSTableBinaryV2.writeSSTables(
        SSTableBinaryV2.wideFrame(spark, sfDir), out.toString,
        "graft", "documents", schema,
        compression = Some(CompressedData.Lz4), columnIndexSize = 1024)
      val dir = s"$out/graft/documents"
      val names = {
        val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        try { import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString).toVector
        } finally s.close()
      }
      assert(names.exists(_.endsWith("-CompressionInfo.db")),
        "fixture is not compressed")
      val full = SSTableBinaryV2.readBinary(spark, dir).localCheckpoint()
      val ckCol = col("clustering")(0).cast("long")
      val (ckMin, ckMax) = {
        val r = full.agg(smin(ckCol), smax(ckCol)).head()
        (r.getLong(0), r.getLong(1))
      }
      val lo = ckMin + (ckMax - ckMin) / 3
      val hi = ckMin + 2 * (ckMax - ckMin) / 3
      def restricted(df: org.apache.spark.sql.DataFrame) =
        df.filter(col("partition_key") === "2" && ckCol.between(lo, hi))
      // sliced read = promoted-block seek THROUGH the chunk map;
      // must equal the residual-filtered full scan exactly
      val sliced = restricted(spark.read.format("sstable-big")
        .option("sliceLo", lo.toString).option("sliceHi", hi.toString)
        .load(dir)).collect().toSet
      assert(sliced === restricted(full).collect().toSet)
      assert(sliced.nonEmpty)
      // slice-SCAN (no pk) composes with the chunk map too: index
      // walk + per-partition chunk-seeks
      val scanSliced = spark.read.format("sstable-big")
        .option("sliceLo", lo.toString).option("sliceHi", hi.toString)
        .load(dir).filter(ckCol.between(lo, hi)).collect().toSet
      assert(scanSliced ===
        full.filter(ckCol.between(lo, hi)).collect().toSet)
    } finally Scratch.delete(out)
  }

  test("typed lifecycle with a date clustering: the 2.2-era quartet is live end-to-end") {
    import spark.implicits._
    val wt = 1609459200L * 1000000L
    def row(d: String) = ("pk", Seq(d), "ROW", Some("v"),
      Some((s"@$d", wt, None: Option[Int], None: Option[Long])),
      None: Option[Long], "t/nb-1-big-Data.db")
    val rows = Seq(row("2026-08-14"), row("1969-12-31"),
      row("2026-01-02"))
      .toDF("partition_key", "clustering", "row_kind", "name",
        "cell_t", "deletion_us", "sstable")
      .withColumn("cell", struct(
        col("cell_t._1").as("value"), col("cell_t._2").as("writetime_us"),
        col("cell_t._3").as("ttl_s"), col("cell_t._4").as("expire_us")))
      .drop("cell_t")
    val parsed = graft.model.CqlSchema.parse(
      "CREATE TABLE ks.t (pk text, ck date, v text, " +
        "PRIMARY KEY (pk, ck))").fold(e => fail(e), identity)
    val out = Scratch.dir("graft-datelc-")
    try {
      SSTableBinaryV2.writeSSTables(rows, out.toString, "ks", "t",
        Some(parsed))
      // read back through the connector: dates render canonically
      val back = SSTableBinaryV2.readBinary(spark, s"$out/ks/t")
      val cks = back.select(col("clustering").getItem(0)).as[String]
        .collect().sorted
      assert(cks === Array("1969-12-31", "2026-01-02", "2026-08-14"))
      // and the FILE order is date order, not string order
      val dir = out.resolve("ks").resolve("t")
      val h = BigFormat.readStats(java.nio.file.Files.readAllBytes(
        dir.resolve("nb-1-big-Statistics.db")))
      assert(h.clusteringTypes === Seq(BigFormat.SimpleDateType))
      val atoms = BigFormat.partitions(h,
        new java.io.ByteArrayInputStream(
          java.nio.file.Files.readAllBytes(dir.resolve("nb-1-big-Data.db"))),
        "datelc").toSeq.head.atoms
      assert(atoms.collect { case r: BigFormat.RowAtom =>
        r.clustering.head.get
      } === Seq("1969-12-31", "2026-01-02", "2026-08-14"))
    } finally Scratch.delete(out)
  }

  test("sink orders complex cell paths by the PATH TYPE's comparator, not rendered strings") {
    import spark.implicits._
    val wt = 1609459200L * 1000000L
    def cellRow(key: Int, v: String) =
      ("pk", Seq.empty[String], "ROW", Some(s"attrs[$key]"),
        Some((v, wt, None: Option[Int], None: Option[Long])),
        None: Option[Long], "t/nb-1-big-Data.db")
    val rows = Seq(cellRow(10, "ten"), cellRow(2, "two"),
      cellRow(-3, "minus"))
      .toDF("partition_key", "clustering", "row_kind", "name",
        "cell_t", "deletion_us", "sstable")
      .withColumn("cell", struct(
        col("cell_t._1").as("value"), col("cell_t._2").as("writetime_us"),
        col("cell_t._3").as("ttl_s"), col("cell_t._4").as("expire_us")))
      .drop("cell_t")
    val parsed = graft.model.CqlSchema.parse(
      "CREATE TABLE ks.t (pk text PRIMARY KEY, attrs map<int, text>)")
      .fold(e => fail(e), identity)
    val out = Scratch.dir("graft-pathorder-")
    try {
      SSTableBinaryV2.writeSSTables(rows, out.toString, "ks", "t",
        Some(parsed))
      val dir = out.resolve("ks").resolve("t")
      val h = BigFormat.readStats(java.nio.file.Files.readAllBytes(
        dir.resolve("nb-1-big-Statistics.db")))
      val atoms = BigFormat.partitions(h,
        new java.io.ByteArrayInputStream(
          java.nio.file.Files.readAllBytes(dir.resolve("nb-1-big-Data.db"))),
        "pathorder-test").toSeq.head.atoms
      val paths = atoms.collect { case r: BigFormat.RowAtom =>
        r.cells.map(_.path.get)
      }.flatten
      // Int32 comparator order — a string sort would say 10 < 2
      assert(paths === Seq("-3", "2", "10"))
    } finally Scratch.delete(out)
  }
}
