package graft.sources

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.CRC32

/** The non-Data components that make a big-format SSTable generation
  * LOADABLE: the primary index (`Index.db`), bloom filter
  * (`Filter.db`), sampled index summary (`Summary.db`), component
  * manifest (`TOC.txt`) and data checksum (`Digest.crc32`). The
  * reference's whole output contract is load-back-into-Cassandra (its
  * test bulk-loads the stripped files,
  * `Cassandra3TTLRemoverTest.java:100-105,168-176`), and a C* node
  * will not accept a generation without these components — writing
  * only Data+Statistics made the binary sink readable solely by this
  * engine.
  *
  * Layout knowledge from the PUBLIC Apache Cassandra source:
  *
  *   - Index.db   → `o.a.c.io.sstable.format.big.BigTableWriter.IndexWriter`
  *     + `o.a.c.db.RowIndexEntry.Serializer` (3.0+ layout): per
  *     partition a short-length key, then the entry — unsigned-vint
  *     Data.db position, unsigned-vint promoted-index size, then for
  *     partitions spanning ≥ 2 column-index blocks (64 KiB each by
  *     default) the RowIndexEntry.IndexedEntry payload
  *     ([[BigFormat.writePromoted]]).
  *   - Filter.db  → `o.a.c.utils.BloomFilterSerializer` (int
  *     hashCount, then `OffHeapBitSet.serialize`: int word count +
  *     big-endian longs) and `o.a.c.utils.BloomFilter`'s index
  *     ladder: with (h1, h2) = `MurmurHash.hash3_x64_128(key, 0)`,
  *     bit i = `FBUtilities.abs((h2 + i*h1) mod capacity)` —
  *     reproducing the port's abs quirk (Long.MinValue stays put)
  *     and seeding base with the SECOND word, exactly as
  *     `BloomFilter.indexes` does. Sizing per
  *     `o.a.c.utils.BloomCalculations` for the default 1% false-
  *     positive chance: 10 buckets/element, 5 hashes.
  *   - Summary.db → `o.a.c.io.sstable.IndexSummary.serialize` + the
  *     first/last key tail `SSTableReader.saveSummary` appends:
  *     big-endian header (minIndexInterval, offsetCount, offheap
  *     size, sizeAtFullSampling), then the raw memory dump whose
  *     ints/longs are NATIVE-endian (deserialize copies the stream
  *     into `Memory` and reads with unsafe native order) — offsets
  *     rebased by `offsetCount*4`, entries = key bytes + position
  *     long, then writeWithLength(first), writeWithLength(last).
  *     Little-endian is used here (every platform Cassandra ships on
  *     is little-endian; a big-endian node would rebuild the summary
  *     from Index.db, which Cassandra does on ANY summary
  *     deserialization failure — the component is a cache).
  *   - Digest.crc32 → the CRC32 of the as-on-disk Data.db bytes as a
  *     decimal ASCII string (`o.a.c.io.util.DataIntegrityMetadata`).
  *   - TOC.txt    → newline-separated component names
  *     (`o.a.c.io.sstable.SSTable.appendTOC`).
  */
object SSTableComponents {

  // =====================================================================
  // Index.db
  // =====================================================================

  def writeIndex(entries: Seq[BigFormat.IndexEntry]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    entries.foreach { case (key, position, promoted) =>
      out.writeShort(key.length)
      out.write(key)
      BigFormat.writeUnsignedVInt(position, out)
      BigFormat.writeUnsignedVInt(promoted.length.toLong, out)
      out.write(promoted)
    }
    out.flush()
    bos.toByteArray
  }

  /** Stream Index.db entries one at a time — the split-scan aligner
    * reads only a prefix (it stops at the first data position past its
    * range), so a materializing parse would defeat the bounding. A
    * promoted payload's length is explicit in the entry, so carrying
    * it is exact — pushdown over wide-partition generations (the ones
    * real compactions produce) never falls back, let alone fails;
    * [[BigFormat.readPromoted]] decodes the payload when a caller
    * wants the blocks. */
  def indexEntries(in: DataInputStream,
      file: String): Iterator[BigFormat.IndexEntry] =
    new Iterator[BigFormat.IndexEntry] {
      private def fetch(): Option[BigFormat.IndexEntry] = {
        val first = in.read()
        if (first < 0) None
        else {
          val len = ((first & 0xff) << 8) | {
            val b = in.read()
            if (b < 0) throw new EOFException(s"$file: Index.db truncated")
            b & 0xff
          }
          val key = new Array[Byte](len)
          in.readFully(key)
          val position = BigFormat.readUnsignedVInt(in)
          val promotedLen = BigFormat.readUnsignedVInt(in)
          if (promotedLen < 0 || promotedLen > Int.MaxValue)
            throw new EOFException(
              s"$file: absurd promoted-index size $promotedLen")
          val promoted = new Array[Byte](promotedLen.toInt)
          in.readFully(promoted)
          Some((key, position, promoted))
        }
      }
      private var nextEntry: Option[BigFormat.IndexEntry] = fetch()
      override def hasNext: Boolean = nextEntry.isDefined
      override def next(): BigFormat.IndexEntry = {
        val e = nextEntry.getOrElse(throw new NoSuchElementException)
        nextEntry = fetch()
        e
      }
    }

  def readIndex(bytes: Array[Byte], file: String): Seq[BigFormat.IndexEntry] =
    indexEntries(new DataInputStream(
      new java.io.ByteArrayInputStream(bytes)), file).toSeq

  // =====================================================================
  // Index.db — pre-3.0 ("ka"/"la") layout
  // =====================================================================

  /** The 2.x `Index.db` entry layout (`o.a.c.db.RowIndexEntry
    * .Serializer`, 2.1: `ByteBufferUtil.writeWithShortLength(key)`,
    * fixed 8-byte Data.db position, fixed 4-byte promoted-index size,
    * then the promoted payload verbatim) — fixed-width where 3.0 went
    * vint. The promoted payload is the 2.1 `IndexedEntry` body
    * (`OldFormat.writePromoted2x` — DeletionTime + IndexInfo list);
    * empty for unpromoted (single-block) partitions. Point lookups and
    * split alignment consume only (key, position); the 2.x sliced read
    * (`OldFormat.readPartitionSliced2x`) consumes the payload. */
  def writeIndex2x(
      entries: Seq[(Array[Byte], Long, Array[Byte])]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    entries.foreach { case (key, position, promoted) =>
      out.writeShort(key.length)
      out.write(key)
      out.writeLong(position)
      out.writeInt(promoted.length)
      out.write(promoted)
    }
    out.flush()
    bos.toByteArray
  }

  /** Stream 2.x Index.db entries; same streaming contract as
    * [[indexEntries]] (split alignment reads only a prefix). */
  def indexEntries2x(in: DataInputStream,
      file: String): Iterator[BigFormat.IndexEntry] =
    new Iterator[BigFormat.IndexEntry] {
      private def fetch(): Option[BigFormat.IndexEntry] = {
        val first = in.read()
        if (first < 0) None
        else {
          val len = ((first & 0xff) << 8) | {
            val b = in.read()
            if (b < 0) throw new EOFException(
              s"$file: 2.x Index.db truncated")
            b & 0xff
          }
          val key = new Array[Byte](len)
          in.readFully(key)
          val position = in.readLong()
          val promotedLen = in.readInt()
          if (promotedLen < 0)
            throw new EOFException(
              s"$file: absurd 2.x promoted-index size $promotedLen")
          val promoted = new Array[Byte](promotedLen)
          in.readFully(promoted)
          Some((key, position, promoted))
        }
      }
      private var nextEntry: Option[BigFormat.IndexEntry] = fetch()
      override def hasNext: Boolean = nextEntry.isDefined
      override def next(): BigFormat.IndexEntry = {
        val e = nextEntry.getOrElse(throw new NoSuchElementException)
        nextEntry = fetch()
        e
      }
    }

  def readIndex2x(bytes: Array[Byte],
      file: String): Seq[BigFormat.IndexEntry] =
    indexEntries2x(new DataInputStream(
      new java.io.ByteArrayInputStream(bytes)), file).toSeq

  // =====================================================================
  // Filter.db
  // =====================================================================

  /** Default-config sizing (BloomCalculations for fp_chance 0.01). */
  val BucketsPerElement = 10
  val HashCount = 5
  private val BitsetExcess = 20 // FilterFactory.BITSET_EXCESS

  /** `oldHashOrder` selects the PRE-3.0 bit derivation: Cassandra
    * swapped the two 128-bit hash words' roles in 3.0
    * (`BloomFilter.setIndexes`'s `oldBfHashOrder` flag, kept exactly
    * for reading pre-"ma" files) — 2.x seeds base with the FIRST
    * word and steps by the second; 3.0+ seeds with the SECOND and
    * steps by the first. Probing a genuine ka/la Filter.db with the
    * modern order yields false NEGATIVES, which in a bloom-gated
    * read path means silently dropped partitions — the order must
    * follow the file's format era. */
  final class Bloom(val hashCount: Int, val words: Array[Long],
      val oldHashOrder: Boolean = false) {
    def capacity: Long = words.length.toLong * 64

    private def bitIndexes(key: Array[Byte]): Array[Long] = {
      val (h1, h2) = BigFormat.murmur3Hash128(key)
      val out = new Array[Long](hashCount)
      // BloomFilter.indexes seeds base with the 2nd word (3.0+);
      // oldBfHashOrder swaps the pair
      var base = if (oldHashOrder) h1 else h2
      val inc = if (oldHashOrder) h2 else h1
      var i = 0
      while (i < hashCount) {
        val m = base % capacity
        out(i) = if (m < 0) -m else m // FBUtilities.abs
        base += inc
        i += 1
      }
      out
    }

    def add(key: Array[Byte]): Unit =
      bitIndexes(key).foreach { b =>
        words((b >>> 6).toInt) |= (1L << (b & 63))
      }

    def mightContain(key: Array[Byte]): Boolean =
      bitIndexes(key).forall { b =>
        (words((b >>> 6).toInt) & (1L << (b & 63))) != 0
      }
  }

  def newBloom(numElements: Long, oldHashOrder: Boolean = false): Bloom = {
    val bits = numElements * BucketsPerElement + BitsetExcess
    new Bloom(HashCount, new Array[Long](((bits + 63) / 64).toInt.max(1)),
      oldHashOrder)
  }

  def writeFilter(bloom: Bloom): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(bloom.hashCount)
    out.writeInt(bloom.words.length)
    bloom.words.foreach(out.writeLong)
    out.flush()
    bos.toByteArray
  }

  def readFilter(bytes: Array[Byte], oldHashOrder: Boolean = false): Bloom = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val hashCount = in.readInt()
    val nWords = in.readInt()
    new Bloom(hashCount, Array.fill(nWords)(in.readLong()), oldHashOrder)
  }

  // =====================================================================
  // Summary.db
  // =====================================================================

  val MinIndexInterval = 128 // the table-schema default

  /** Serialize the sampled summary + first/last key tail. `entries`
    * are (key bytes, Index.db position) of every `interval`-th
    * partition starting with the first, in token order. */
  def writeSummary(sampled: Seq[(Array[Byte], Long)], totalKeys: Long,
      firstKey: Array[Byte], lastKey: Array[Byte],
      interval: Int = MinIndexInterval): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(interval)
    out.writeInt(sampled.size)
    val entriesLen = sampled.map(_._1.length + 8L).sum
    out.writeLong(4L * sampled.size + entriesLen) // off-heap size
    out.writeInt(((totalKeys + interval - 1) / interval).toInt)
    // offsets: entry position within the contiguous (offsets+entries)
    // structure; the memory-dump regions are native(little)-endian
    var pos = 4 * sampled.size
    sampled.foreach { case (key, _) =>
      out.writeInt(Integer.reverseBytes(pos))
      pos += key.length + 8
    }
    sampled.foreach { case (key, idxPos) =>
      out.write(key)
      out.writeLong(java.lang.Long.reverseBytes(idxPos))
    }
    // SSTableReader.saveSummary tail: first/last partition keys
    out.writeInt(firstKey.length); out.write(firstKey)
    out.writeInt(lastKey.length); out.write(lastKey)
    out.flush()
    bos.toByteArray
  }

  case class Summary(minIndexInterval: Int,
      sampled: Seq[(Array[Byte], Long)], sizeAtFullSampling: Int,
      firstKey: Array[Byte], lastKey: Array[Byte])

  /** Serialize a PRE-3.0 ("ka"/"la") Summary.db — the layout the
    * reference's own fork loads (`NoTTLReader.loadSummary` /
    * `saveSummary`, `NoTTLReader.java:766-814,886-911`; body from the
    * PUBLIC Cassandra 2.1 `IndexSummary.IndexSummarySerializer` with
    * `hasSamplingLevel`): int minIndexInterval, int entry count, long
    * off-heap size, int samplingLevel, int sizeAtFullSampling, then
    * the memory dump (offsets based from the STRUCTURE start, then
    * key+position entries — native little-endian words, the x86 dump
    * real clusters produce), then the `saveSummary` tail: first/last
    * partition keys with int lengths, the two SegmentedFile.Builder
    * bounds (the disk-access-mode UTF each — "standard" here; an
    * mmap-mode builder appends its boundary array), and the
    * accurate-boundaries magic. Positions are INDEX-file offsets, as
    * the era's summary records. */
  def writeSummary2x(sampled: Seq[(Array[Byte], Long)], totalKeys: Long,
      firstKey: Array[Byte], lastKey: Array[Byte],
      interval: Int = MinIndexInterval,
      samplingLevel: Int = 128): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(interval)
    out.writeInt(sampled.size)
    val entriesLen = sampled.map(_._1.length + 8L).sum
    out.writeLong(4L * sampled.size + entriesLen)
    out.writeInt(samplingLevel)
    out.writeInt(((totalKeys + interval - 1) / interval).toInt)
    var pos = 4 * sampled.size
    sampled.foreach { case (key, _) =>
      out.writeInt(Integer.reverseBytes(pos))
      pos += key.length + 8
    }
    sampled.foreach { case (key, idxPos) =>
      out.write(key)
      out.writeLong(java.lang.Long.reverseBytes(idxPos))
    }
    out.writeInt(firstKey.length); out.write(firstKey)
    out.writeInt(lastKey.length); out.write(lastKey)
    out.writeUTF("standard") // ibuilder bounds (disk access mode)
    out.writeUTF("standard") // dbuilder bounds
    out.writeInt(248923458)  // ACCURATE_BOUNDARIES_MAGIC_NUMBER
    out.flush()
    bos.toByteArray
  }

  /** The summary marks of a PRE-3.0 Index.db written from `index` (the
    * entries of [[OldFormat.writeDataFileIndexed]]): every
    * [[MinIndexInterval]]-th key with its Index.db offset under the
    * fixed-width 2.x entry framing (short keyLen + key + long position
    * + int promoted size + promoted bytes) — what [[writeSummary2x]]
    * takes as `sampled`. */
  def sampleIndex2x(index: Seq[(Array[Byte], Long, Array[Byte])])
      : Seq[(Array[Byte], Long)] = {
    var pos = 0L
    index.zipWithIndex.flatMap { case ((k, _, prom), i) =>
      val here = pos
      pos += 2L + k.length + 8 + 4 + prom.length
      if (i % MinIndexInterval == 0) Some((k, here)) else None
    }
  }

  /** Parse a pre-3.0 Summary.db back into [[Summary]] — the LITERAL
    * read the reference performs at open, closing the one component
    * this engine previously always regenerated from Index.db. A
    * downsampled summary (samplingLevel < 128) parses fine: the
    * marks stand on their own for elision and bounded index reads,
    * and `sizeAtFullSampling × minIndexInterval` is the key-count
    * bound regardless of level. mmap-mode builder bounds (boundary
    * arrays after the mode name) are consumed; a malformed stream
    * throws and the caller falls back to the rebuild — the
    * reference's own corrupted-summary posture (`loadSummary`
    * deletes and resamples, `NoTTLReader.java:798-806`). The
    * trailing magic is optional (pre-CASSANDRA-10357 files lack
    * it). */
  def readSummary2x(bytes: Array[Byte]): Summary = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val interval = in.readInt()
    val n = in.readInt()
    require(n >= 0 && n <= bytes.length / 4,
      s"2.x Summary.db: implausible entry count $n")
    val offheap = in.readLong()
    in.readInt() // samplingLevel — any level's marks serve
    val fullSampling = in.readInt()
    val offsets = Array.fill(n)(Integer.reverseBytes(in.readInt()))
    val entriesLen = (offheap - 4L * n).toInt
    require(entriesLen >= 0 && entriesLen <= bytes.length,
      s"2.x Summary.db: implausible entries length $entriesLen")
    val entries = new Array[Byte](entriesLen)
    in.readFully(entries)
    val sampled = (0 until n).map { i =>
      val start = offsets(i) - 4 * n
      val end = (if (i + 1 < n) offsets(i + 1) - 4 * n else entriesLen) - 8
      require(start >= 0 && end >= start && end + 8 <= entriesLen,
        s"2.x Summary.db: entry $i offsets out of range ($start, $end)")
      val key = java.util.Arrays.copyOfRange(entries, start, end)
      val idxPos = java.lang.Long.reverseBytes(
        java.nio.ByteBuffer.wrap(entries, end, 8).getLong)
      (key, idxPos)
    }
    def keyWithLength(): Array[Byte] = {
      val len = in.readInt()
      require(len >= 0 && len <= bytes.length,
        s"2.x Summary.db: implausible key length $len")
      val k = new Array[Byte](len); in.readFully(k); k
    }
    val first = keyWithLength()
    val last = keyWithLength()
    // the two SegmentedFile.Builder bounds; an mmap builder appends
    // its boundary positions after the mode name
    (0 until 2).foreach { _ =>
      val mode = in.readUTF()
      if (mode.startsWith("mmap")) {
        val b = in.readInt()
        require(b >= 0 && b <= bytes.length / 8,
          s"2.x Summary.db: implausible boundary count $b")
        (0 until b).foreach(_ => in.readLong())
      } else require(mode == "standard" || mode == "auto",
        s"2.x Summary.db: unknown disk access mode '$mode'")
    }
    Summary(interval, sampled, fullSampling, first, last)
  }

  def readSummary(bytes: Array[Byte]): Summary = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val interval = in.readInt()
    val n = in.readInt()
    val offheap = in.readLong()
    val fullSampling = in.readInt()
    val offsets = Array.fill(n)(Integer.reverseBytes(in.readInt()))
    val entriesLen = (offheap - 4L * n).toInt
    val entries = new Array[Byte](entriesLen)
    in.readFully(entries)
    val sampled = (0 until n).map { i =>
      val start = offsets(i) - 4 * n
      val end = (if (i + 1 < n) offsets(i + 1) - 4 * n else entriesLen) - 8
      val key = java.util.Arrays.copyOfRange(entries, start, end)
      val idxPos = java.lang.Long.reverseBytes(
        java.nio.ByteBuffer.wrap(entries, end, 8).getLong)
      (key, idxPos)
    }
    def keyWithLength(): Array[Byte] = {
      val k = new Array[Byte](in.readInt()); in.readFully(k); k
    }
    Summary(interval, sampled, fullSampling, keyWithLength(), keyWithLength())
  }

  /** REBUILD an index summary from Index.db bytes — Cassandra's own
    * recovery path when Summary.db is missing or corrupt
    * (`SSTableReader.buildSummary` streams the primary index through
    * an `IndexSummaryBuilder`), generalized over the sampling level
    * the way index-summary downsampling is (`IndexSummaryManager`
    * redistributes summaries across sampling levels; a coarser
    * `interval` trades summary memory for wider index reads). Every
    * `interval`-th entry is recorded with its Index.db byte offset;
    * works on both the modern vint framing and the 2.x fixed-width
    * form. The result round-trips through [[writeSummary]]/
    * [[readSummary]], so a rebuilt summary caches like any sidecar. */
  def rebuildSummary(bytes: Array[Byte], oldEra: Boolean, file: String,
      interval: Int = MinIndexInterval): Summary =
    rebuildSummary(new DataInputStream(
      new java.io.ByteArrayInputStream(bytes)), oldEra, file, interval)

  /** Streaming form of the rebuild: consumes the index STRICTLY
    * sequentially (one entry's working set at a time), so an
    * arbitrarily large Index.db — a 2 GB index of a major-compacted
    * 100 TB-lake generation — rebuilds without ever materializing
    * on-heap. */
  def rebuildSummary(in: DataInputStream, oldEra: Boolean, file: String,
      interval: Int): Summary = {
    require(interval >= 1, s"$file: sampling interval must be >= 1")
    var offset = 0L
    var n = 0L
    var first: Array[Byte] = null
    var last: Array[Byte] = null
    // Vector: the rebuilt summary serves positional probes
    // (keySamples / firstKeyBeyond) — a List here would turn every
    // index into a walk
    val sampled = Vector.newBuilder[(Array[Byte], Long)]
    def skipFully(want: Long): Unit = {
      var s = 0L
      while (s < want) {
        val k = in.skip(want - s)
        if (k <= 0) throw new EOFException(s"$file: Index.db truncated")
        s += k
      }
    }
    var eof = false
    while (!eof) {
      val firstByte = in.read()
      if (firstByte < 0) { eof = true }
      else {
      val secondByte = in.read()
      if (secondByte < 0)
        throw new EOFException(s"$file: Index.db truncated mid-entry")
      val keyLen = ((firstByte & 0xff) << 8) | (secondByte & 0xff)
      val key = new Array[Byte](keyLen)
      in.readFully(key)
      var consumed = 2L + keyLen
      if (oldEra) {
        in.readLong()                  // data position (fixed 8)
        val plen = in.readInt()
        if (plen < 0) throw new EOFException(
          s"$file: absurd 2.x promoted-index size $plen")
        skipFully(plen)
        consumed += 12L + plen
      } else {
        val position = BigFormat.readUnsignedVInt(in)
        val plen = BigFormat.readUnsignedVInt(in)
        if (plen < 0 || plen > Int.MaxValue) throw new EOFException(
          s"$file: absurd promoted-index size $plen")
        skipFully(plen)
        consumed += BigFormat.unsignedVIntSize(position) +
          BigFormat.unsignedVIntSize(plen) + plen
      }
      if (n % interval == 0) sampled += ((key, offset))
      if (first == null) first = key
      last = key
      n += 1
      offset += consumed
      }
    }
    if (n == 0)
      Summary(interval, Nil, 0, Array.emptyByteArray, Array.emptyByteArray)
    else Summary(interval, sampled.result(),
      ((n + interval - 1) / interval).toInt, first, last)
  }

  /** In-place summary DOWNSAMPLING: derive a coarser summary from an
    * existing one WITHOUT touching Index.db — the memory-relief path
    * `IndexSummaryManager` applies to cold sstables
    * (`NoTTLReader.java:1062-1140` carries the downsample plumbing;
    * `IndexSummaryBuilder.downsample` does the entry removal). This
    * implements the divisor ladder (sampling level 128 → 128/factor):
    * every `factor`-th retained mark keeps its key AND its Index.db
    * position, so the result is IDENTICAL to a full
    * [[rebuildSummary]] at `factor ×` the interval — with zero index
    * IO, which is the point: a multi-GB Index.db never streams just
    * to shrink its summary's memory. `sizeAtFullSampling` folds by
    * the nested-ceiling identity ⌈n/(fI)⌉ = ⌈⌈n/I⌉/f⌉, so the
    * est_keys_max bound stays exact-to-the-formula too. */
  def downsampleSummary(s: Summary, factor: Int): Summary = {
    require(factor >= 1, s"downsample factor must be >= 1, got $factor")
    if (factor == 1) s
    else Summary(
      minIndexInterval = s.minIndexInterval * factor,
      sampled = s.sampled.zipWithIndex
        .collect { case (e, i) if i % factor == 0 => e },
      sizeAtFullSampling = ((s.sizeAtFullSampling + factor - 1) / factor),
      firstKey = s.firstKey, lastKey = s.lastKey)
  }

  /** Cassandra 2.1's `Downsampling.getSamplingPattern` (the PUBLIC
    * `o.a.c.io.sstable.Downsampling`): the canonical order in which
    * "mod `size`" slots DROP as the sampling level falls — slot 0
    * first, then each round the midpoints of the surviving spread
    * ([0, 64, 32, 96, 16, 48, 80, 112, 8, …] at the base level 128).
    * Levels nest: the entries alive at level L are exactly the slots
    * not named by the first `size − L` pattern values. */
  private[graft] def samplingPattern2x(size: Int): IndexedSeq[Int] = {
    if (size <= 1) IndexedSeq(0)
    else {
      // Downsampling.getSamplingPattern's literal recursion: the odd
      // slots (permuted by the half-size pattern) are removed FIRST,
      // then the evens — "especially for latter rounds, it's important
      // that we spread out the removals, so commingle evens and odds".
      // pattern(2) = [1, 0], pattern(4) = [3, 1, 2, 0]: slot 0 is
      // removed LAST (a minimal summary always keeps its first mark),
      // and one halving (128 → 64) removes exactly the odd slots, so a
      // level-64 summary retains the EVEN-indexed marks of each block.
      val sub = samplingPattern2x(size / 2)
      val odds = (1 until size by 2).toIndexedSeq
      val evens = (0 until size by 2).toIndexedSeq
      sub.map(odds) ++ sub.map(evens)
    }
  }

  /** `Downsampling.getStartPoints(currentLevel, newLevel)`: the
    * removal start slots for one downsample call, each adjusted for
    * the slots already gone in earlier (prior-call) rounds. */
  private[sources] def startPoints2x(currentLevel: Int,
      newLevel: Int): Seq[Int] = {
    val all = samplingPattern2x(BaseSamplingLevel)
    val initialRound = BaseSamplingLevel - currentLevel
    (0 until (currentLevel - newLevel)).map { i =>
      val start = all(initialRound + i)
      start - (0 until initialRound).count(j => all(j) < start)
    }
  }

  /** `IndexSummaryBuilder.downsample` in the 2.1 samplingLevel layout
    * — the reference's own 2.x redistribution branch
    * (`cassandra-2/NoTTLReader.cloneWithNewSummarySamplingLevel`,
    * the `samplingLevel < current` arm): entries at the pattern's
    * removal slots (stepped by `currentLevel` across blocks) drop IN
    * PLACE off the existing summary — zero index IO — and
    * `minIndexInterval`/`sizeAtFullSampling` stay untouched (unlike
    * the modern interval ladder, where the interval itself widens).
    * Returns the thinned summary and the applied new level. A target
    * below level 1 clamps (Cassandra's `IndexSummaryManager` never
    * goes below its min level either). */
  def downsampleSummary2x(s: Summary, currentLevel: Int,
      factor: Int): (Summary, Int) = {
    require(factor >= 1 && currentLevel >= 1 &&
      currentLevel <= BaseSamplingLevel,
      s"downsample2x(level=$currentLevel, factor=$factor)")
    val newLevel = math.max(1, currentLevel / factor)
    if (newLevel == currentLevel) (s, currentLevel)
    else {
      val sps = startPoints2x(currentLevel, newLevel)
      val kept = s.sampled.zipWithIndex.filterNot { case (_, i) =>
        sps.exists(st => i >= st && (i - st) % currentLevel == 0)
      }.map(_._1)
      (s.copy(sampled = kept), newLevel)
    }
  }

  /** The samplingLevel word of a 2.x Summary.db (fixed offset: after
    * int interval, int count, long off-heap size). */
  def readSummaryLevel2x(bytes: Array[Byte]): Int = {
    require(bytes.length >= 20, "2.x Summary.db too short for a level")
    java.nio.ByteBuffer.wrap(bytes, 16, 4).getInt
  }

  private[sources] val BaseSamplingLevel = 128

  /** `cloneWithNewSummarySamplingLevel`'s decision tree
    * (`NoTTLReader.java:1062-1140`), interval-ladder form: a COARSER
    * target derives from the existing summary in place (zero index
    * IO — `IndexSummaryBuilder.downsample`'s branch); a FINER target,
    * or one off the current ladder, needs entries the summary no
    * longer holds and rebuilds from the streamed index
    * (`buildSummaryAtLevel`'s branch); an equal target refuses, as
    * the reference's AssertionError does. `index` is by-name: the
    * downsample branch never opens it. */
  def resampleSummary(current: Summary, targetInterval: Int,
      index: => java.io.DataInputStream, oldEra: Boolean,
      file: String): Summary = {
    require(targetInterval != current.minIndexInterval,
      s"$file: resample to the current interval $targetInterval is a bug")
    if (targetInterval % current.minIndexInterval == 0)
      downsampleSummary(current, targetInterval / current.minIndexInterval)
    else
      rebuildSummary(index, oldEra, file, targetInterval)
  }

  /** The `IndexSummaryManager` role over a generation set: fit the
    * summaries into a memory budget by coarsening the COLDEST files
    * first — in place, never re-streaming an index. Cost unit is
    * summary MARKS (each mark is one key + offset entry; bytes are
    * marks × entry size). Greedy and fully deterministic: while the
    * pool overflows, double the factor of the lowest-read-rate file
    * (ties: most marks after its current factor, then name) until the
    * budget holds or everything sits at `maxFactor`. Returns the
    * factor per file, ready for [[downsampleSummary]].
    *
    * At 100 TB this is the knob that keeps a million summaries
    * resident: hot generations keep fine sampling (tight index
    * reads), cold ones trade read width for memory — the same trade
    * Cassandra's summary redistribution makes, expressed on the
    * divisor ladder. */
  def redistributeSummaries(
      files: Seq[(String, Int, Double)], // (name, marks, readRate)
      budgetMarks: Long,
      maxFactor: Int = 8): Map[String, Int] = {
    require(maxFactor >= 1 && Integer.bitCount(maxFactor) == 1,
      s"maxFactor must be a power of two, got $maxFactor")
    def after(marks: Int, f: Int): Long = (marks + f - 1L) / f
    // heap-driven: the pool total updates incrementally and each file
    // keeps exactly one live heap entry (re-queued at its new factor
    // after a doubling, dropped once capped) — O((n + steps)·log n),
    // the shape the million-summary claim requires, not an O(n²)
    // rescan per doubling
    final case class Cand(name: String, marks: Int, rate: Double,
        factor: Int)
    // PriorityQueue dequeues the MAX: invert (rate asc, marksAfter
    // desc, name asc) into the heap's comparison
    val ord = new Ordering[Cand] {
      def compare(a: Cand, b: Cand): Int = {
        val r = java.lang.Double.compare(b.rate, a.rate)
        if (r != 0) r
        else {
          val m = java.lang.Long.compare(
            after(a.marks, a.factor), after(b.marks, b.factor))
          if (m != 0) m else b.name.compareTo(a.name)
        }
      }
    }
    val factor = scala.collection.mutable.Map.empty[String, Int]
    files.foreach { case (name, _, _) => factor(name) = 1 }
    var total = files.map { case (_, marks, _) => after(marks, 1) }.sum
    val pq = scala.collection.mutable.PriorityQueue(
      files.map { case (n, m, r) => Cand(n, m, r, 1) }: _*)(ord)
    while (total > budgetMarks && pq.nonEmpty) {
      val c = pq.dequeue()
      if (c.factor < maxFactor) {
        val nf = c.factor * 2
        total += after(c.marks, nf) - after(c.marks, c.factor)
        factor(c.name) = nf
        pq.enqueue(c.copy(factor = nf))
      } // capped entries drop; the loop ends when everything has
    }
    factor.toMap
  }

  /** `NoTTLReader.getSampleIndexesForRanges`
    * (`NoTTLReader.java:1326-1366`): the summary-mark index spans
    * [left, right] covered by each (start-exclusive, end-inclusive]
    * TOKEN range, binary-searched over the marks' ring positions —
    * O(log marks) per range, no index or data IO. A wrap-around
    * range (left ≥ right — Cassandra's (x, x] is the FULL ring)
    * unwraps into its two tail segments first, `Range.normalize`'s
    * job in the reference. */
  def sampleIndexesForRanges(s: Summary,
      ranges: Seq[(Long, Long)]): Seq[(Int, Int)] = {
    val toks = s.sampled.map(e => BigFormat.murmur3Token(e._1)).toArray
    // first mark index with token > t (tokens are mark-sorted: the
    // summary is sampled in ring order)
    def upperBound(t: Long): Int = {
      var lo = 0; var hi = toks.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (toks(mid) <= t) lo = mid + 1 else hi = mid
      }
      lo
    }
    val unwrapped = ranges.flatMap { case (l, r) =>
      if (l < r) Seq((l, r))
      else Seq((l, Long.MaxValue), (Long.MinValue, r)) // full ring too
    }
    unwrapped.flatMap { case (l, r) =>
      val left = upperBound(l)          // start-exclusive
      val right = upperBound(r) - 1     // end-inclusive
      if (left >= toks.length || right < left) None
      else Some((left, right))
    }
  }

  /** `NoTTLReader.getPositionsForRanges` (`NoTTLReader.java:1420-1448`):
    * the Data.db byte spans the token ranges cover — what streaming
    * and repair hand to the disk layer. One forward pass over the
    * ring-ordered index entries; each (start-exclusive, end-inclusive]
    * range's span runs from its first member's data position to the
    * first position PAST its last member (`dataLength` when the file
    * ends inside the range — the reference's `uncompressedLength()`
    * arm); memberless ranges contribute nothing (the reference's
    * `left == right` skip). Wrap-around ranges unwrap first; the
    * unwrapped ranges must be disjoint and lo-sorted (`Range
    * .normalize`'s output shape — enforced loudly, not assumed). */
  def positionsForRanges(index: Iterator[(Array[Byte], Long)],
      ranges: Seq[(Long, Long)], dataLength: Long): Seq[(Long, Long)] = {
    val unwrapped = ranges.flatMap { case (l, r) =>
      if (l < r) Seq((l, r))
      else Seq((l, Long.MaxValue), (Long.MinValue, r))
    }.sortBy(_._1)
    unwrapped.sliding(2).foreach {
      case Seq((_, r1), (l2, _)) => require(r1 <= l2,
        s"ranges overlap after unwrap: ($r1) > ($l2) — normalize first")
      case _ => ()
    }
    val spans = Seq.newBuilder[(Long, Long)]
    var i = 0                  // current range
    var open = -1L             // open span's start, -1 when closed
    index.foreach { case (key, pos) =>
      val t = BigFormat.murmur3Token(key)
      // close/advance past every range this entry has moved beyond
      while (i < unwrapped.size && t > unwrapped(i)._2) {
        if (open >= 0) { spans += ((open, pos)); open = -1L }
        i += 1
      }
      if (i < unwrapped.size && open < 0 &&
          t > unwrapped(i)._1 && t <= unwrapped(i)._2)
        open = pos
    }
    if (open >= 0) spans += ((open, dataLength))
    spans.result()
  }

  /** `NoTTLReader.getKeySamples` (`NoTTLReader.java:1368-1415`): the
    * sampled keys themselves inside the ranges — what repair uses to
    * pick split points without streaming an index. Same mark spans as
    * [[sampleIndexesForRanges]], materialized lazily. */
  def keySamples(s: Summary,
      ranges: Seq[(Long, Long)]): Iterator[Array[Byte]] = {
    val marks = s.sampled.toIndexedSeq // O(1) probes whatever the Seq
    sampleIndexesForRanges(s, ranges).iterator.flatMap { case (l, r) =>
      (l to r).iterator.map(i => marks(i)._1)
    }
  }

  /** `NoTTLReader.firstKeyBeyond` — the first partition key whose
    * ring position lies STRICTLY beyond `token` (cleanup's "where
    * does my ownership end" probe): binary-search the summary for
    * the mark at or before the bound, stream Index.db from that
    * mark's offset, return the first key that crosses — at most one
    * summary interval of index reads, never a scan. None when the
    * generation ends first. `openAt` seeks the index (by-need — an
    * all-marks-beyond bound starts at offset 0). */
  def firstKeyBeyond(s: Summary, token: Long, oldEra: Boolean,
      file: String,
      openAt: Long => DataInputStream): Option[Array[Byte]] = {
    if (s.sampled.isEmpty) return None
    // hash-on-demand binary search: O(log marks) token computations,
    // never a decoration pass over the whole summary
    val marks = s.sampled.toIndexedSeq
    var lo = 0; var hi = marks.size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (BigFormat.murmur3Token(marks(mid)._1) <= token) lo = mid + 1
      else hi = mid
    }
    val startIdx = math.max(lo - 1, 0)
    val in = openAt(marks(startIdx)._2)
    try {
      val entries =
        if (oldEra) indexEntries2x(in, file).map(e => e._1)
        else indexEntries(in, file).map(e => e._1)
      entries.find(k => BigFormat.murmur3Token(k) > token)
    } finally in.close()
  }

  /** `NoTTLReader.estimatedKeysForRanges` (`NoTTLReader.java:1289-1299`):
    * marks inside the ranges × the effective index interval — an O(1)
    * per-range key estimate off Summary.db alone, never Index.db. At
    * full sampling the reference's
    * `count × BASE_SAMPLING_LEVEL × minIndexInterval / samplingLevel`
    * is `count × minIndexInterval`; a [[downsampleSummary]]'d summary
    * carries its coarser interval, which IS that formula's sampling
    * adjustment. Never less than 1, as the reference pins. */
  def estimatedKeysForRanges(s: Summary,
      ranges: Seq[(Long, Long)]): Long = {
    val sampleKeyCount = sampleIndexesForRanges(s, ranges)
      .map { case (l, r) => (r - l + 1).toLong }.sum
    math.max(1L, sampleKeyCount * s.minIndexInterval)
  }

  // =====================================================================
  // Digest.crc32 + TOC.txt
  // =====================================================================

  def writeDigest(dataBytes: Array[Byte]): Array[Byte] = {
    val crc = new CRC32()
    crc.update(dataBytes)
    String.valueOf(crc.getValue).getBytes(UTF_8)
  }

  /** The component set this sink writes, TOC.txt included (as
    * Cassandra's own TOC lists itself); compressed generations add
    * CompressionInfo.db. */
  val Components: Seq[String] = Seq("Data.db", "Statistics.db",
    "Index.db", "Filter.db", "Summary.db", "Digest.crc32", "TOC.txt")

  def writeTOC(compressed: Boolean = false): Array[Byte] =
    (if (compressed) Components :+ "CompressionInfo.db" else Components)
      .mkString("", "\n", "\n").getBytes(UTF_8)

  /** Default output chunk length — Cassandra 4.1's
    * chunk_length_in_kb default. */
  val ChunkLength: Int = 16 * 1024

  /** Every per-generation artifact, built from one indexed encode:
    * name → bytes, ready for the sink's file loop. With `compression`
    * the Data.db bytes are chunk-compressed and CompressionInfo.db
    * joins the set; Index.db positions stay UNCOMPRESSED offsets
    * (Cassandra's contract — `CompressionMetadata.chunkFor` maps
    * them at read time) and Digest.crc32 covers the AS-ON-DISK
    * (compressed) bytes. */
  def buildAll(dataBytes: Array[Byte], index: Seq[BigFormat.IndexEntry],
      header: BigFormat.Header,
      version: String = "nb",
      compression: Option[String] = None,
      stats: Option[BigFormat.StatsCollected] = None)
      : Seq[(String, Array[Byte])] = {
    compression match {
      case None =>
        buildAll0(dataBytes, index, header, version,
          stats = stats)
      case Some(comp) =>
        val (cbytes, meta) =
          CompressedData.compress(dataBytes, ChunkLength, comp)
        buildAll0(dataBytes, index, header, version,
          dataOnDisk = cbytes,
          extra = Seq("CompressionInfo.db" ->
            CompressedData.writeMeta(meta,
              hasMaxCompressedSize = true)),
          stats = stats)
    }
  }

  private def buildAll0(dataBytes: Array[Byte],
      index: Seq[BigFormat.IndexEntry], header: BigFormat.Header,
      version: String,
      dataOnDisk: Array[Byte] = null,
      extra: Seq[(String, Array[Byte])] = Nil,
      stats: Option[BigFormat.StatsCollected] = None)
      : Seq[(String, Array[Byte])] = {
    val indexBytes = writeIndex(index)
    // Index.db positions of each entry (for summary sampling)
    val idxPositions = {
      var pos = 0L
      index.map { case (key, dataPos, promoted) =>
        val here = pos
        pos += 2 + key.length + BigFormat.unsignedVIntSize(dataPos) +
          BigFormat.unsignedVIntSize(promoted.length.toLong) +
          promoted.length
        here
      }
    }
    val bloom = newBloom(index.size.toLong)
    index.foreach { case (key, _, _) => bloom.add(key) }
    val sampled = index.zip(idxPositions)
      .zipWithIndex.collect {
        case (((key, _, _), idxPos), i) if i % MinIndexInterval == 0 =>
          (key, idxPos)
      }
    val summary =
      if (index.isEmpty) Array.emptyByteArray
      else writeSummary(sampled, index.size.toLong,
        index.head._1, index.last._1)
    val onDisk = if (dataOnDisk == null) dataBytes else dataOnDisk
    // the COMPACTION key-count sketch every real write path collects
    // (MetadataCollector.addKey per appended partition): hashes of
    // the SAME encoded key bytes the index carries
    val sketch = KeyCardinality.sketchOf(
      index.iterator.map { case (key, _, _) => key })
    // StatsMetadata completed with the sizes only this builder knows:
    // partition count, uncompressed length, and the on-disk ratio
    // (-1 = Cassandra's NO_COMPRESSION_RATIO on uncompressed files)
    val statsModern = stats.map(c => BigFormat.StatsModern(
      nPartitions = index.size.toLong,
      partitionSizeTotal = dataBytes.length.toLong,
      columnCountTotal = c.totalColumnsSet,
      minTimestampUs = c.minTimestampUs,
      maxTimestampUs = c.maxTimestampUs,
      minLdtS = c.minLdtS, maxLdtS = c.maxLdtS,
      minTtlS = c.minTtlS, maxTtlS = c.maxTtlS,
      compressionRatio =
        if (dataOnDisk == null || dataBytes.isEmpty) -1.0
        else dataOnDisk.length.toDouble / dataBytes.length,
      tombstoneDropTime = c.tombstoneDropTime,
      sstableLevel = c.sstableLevel,
      repairedAt = c.repairedAt,
      totalColumnsSet = c.totalColumnsSet,
      totalRows = c.totalRows,
      minClusteringValues = c.minClusteringValues,
      maxClusteringValues = c.maxClusteringValues))
    Seq(
      "Data.db" -> onDisk,
      "Statistics.db" -> BigFormat.writeStats(header, version,
        compaction = Some(KeyCardinality.writeComponent(sketch)),
        stats = statsModern,
        // the VALIDATION declaration every real generation carries:
        // the ring this file was written under + the bloom FP chance
        // (table default) — what open-time validation compares
        validation = Some((BigFormat.Murmur3PartitionerClass, 0.01))),
      "Index.db" -> indexBytes,
      "Filter.db" -> writeFilter(bloom),
      "Summary.db" -> summary,
      "Digest.crc32" -> writeDigest(onDisk),
      "TOC.txt" -> writeTOC(compressed = extra.nonEmpty)) ++ extra
  }
}
