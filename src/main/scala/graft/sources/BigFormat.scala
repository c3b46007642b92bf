package graft.sources

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException, InputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.CRC32

/** Cassandra big-format SSTable codec — the 3.0-storage-engine
  * on-disk subset the graft cell model needs, decoded AND encoded
  * WITHOUT linking Cassandra: partition keys, partition/row deletion,
  * row liveness (timestamp + TTL), regular cells with per-cell
  * liveness overrides, and range-tombstone bound/boundary markers.
  * Both format eras are served: the 4.x n-series ("na"/"nb",
  * checksummed metadata) and the 3.x m-series ("ma".."me",
  * checksumless) — the row codec is identical across them. The
  * encoder is a real SINK (`SSTableBinaryV2.writeSSTables` rewrites
  * tables file-for-file in Murmur3 token order), not just fixture
  * scaffolding.
  *
  * This is the step the reference performs by embedding the whole
  * Cassandra runtime (`Cassandra4TTLRemover.java:74` opens `*-Data.db`
  * through `SSTableReader.open`; the reference repo carries one
  * Cassandra fork per major version for exactly this reason). A Spark
  * library cannot link four Cassandra trees, but the BIG format's data
  * file is a plain sequential stream — so one modern version ("nb",
  * written by Cassandra 4.0/4.1) is decoded directly here, removing
  * the external `sstabledump` pre-pass (one single-threaded CLI run
  * per SSTable) from the common-case ingestion path.
  *
  * Layout knowledge comes from the PUBLIC Apache Cassandra source, and
  * each piece cites the class it mirrors:
  *
  *   - vint coding              → `org.apache.cassandra.utils.vint.VIntCoding`
  *   - Data.db partition layout → `o.a.c.io.sstable.format.big.BigTableWriter`
  *     (key with short length, legacy-serialized partition-level
  *     `DeletionTime`, unfiltereds, END_OF_PARTITION flag byte)
  *   - rows / markers / flags   → `o.a.c.db.rows.UnfilteredSerializer`
  *   - cells                    → `o.a.c.db.rows.Cell.Serializer`
  *   - clustering values + null/empty header words
  *                              → `o.a.c.db.ClusteringPrefix.Serializer`
  *   - bound/boundary kinds     → `o.a.c.db.ClusteringPrefix.Kind` ordinals
  *   - column-subset bitmap     → `o.a.c.db.Columns.Serializer`
  *     (set bits mark columns MISSING from the superset, vint-encoded)
  *   - delta-encoded timestamps/TTLs/deletion times against
  *     `EncodingStats` minima → `o.a.c.db.SerializationHeader`
  *   - Statistics.db TOC + checksums → `o.a.c.io.sstable.metadata.MetadataSerializer`
  *     (version "nb" has metadata checksums: CRC32 after the count,
  *     after the TOC, and after every component)
  *   - the serialization-header component (stats epochs, key type,
  *     clustering types, static/regular columns with types)
  *                              → `o.a.c.db.SerializationHeader.Component`
  *
  * Subset boundaries, enforced loudly (never silently misread):
  * complex (collection) columns, static rows, counter cells and
  * row-body extension flags raise with the offending file/flag; the
  * supported marshal types are the variable-length UTF8/Ascii/Bytes
  * and fixed-length Int32/Long types (values surface as STRINGS in
  * the cell model — the same lossless value-opaque carry the bridge
  * and the reference both use; the reference never interprets values
  * either, `Cassandra4TTLRemover.java:171-175` copies cell buffers).
  */
object BigFormat {

  // ---- constants (o.a.c.db.LivenessInfo / DeletionTime) ----
  val NoTimestamp: Long = Long.MinValue
  val NoTtl: Int = 0
  val NoDeletionTime: Int = Int.MaxValue // "live" localDeletionTime

  /** EncodingStats epochs — `o.a.c.db.rows.EncodingStats` pins them to
    * 2015-09-22T00:00:00Z (the 3.0 format's release era) so that the
    * all-defaults case vint-encodes small. */
  val TimestampEpochUs: Long =
    java.time.LocalDate.of(2015, 9, 22).toEpochDay * 86400L * 1000000L
  val DeletionTimeEpochS: Int =
    (java.time.LocalDate.of(2015, 9, 22).toEpochDay * 86400L).toInt
  val TtlEpoch: Int = 0

  // ---- unfiltered flags (o.a.c.db.rows.UnfilteredSerializer) ----
  val EndOfPartition = 0x01
  val IsMarker = 0x02
  val HasTimestamp = 0x04
  val HasTtl = 0x08
  val HasDeletion = 0x10
  val HasAllColumns = 0x20
  val HasComplexDeletion = 0x40
  val ExtensionFlag = 0x80

  // ---- extended flags (UnfilteredSerializer; follow ExtensionFlag) ----
  val ExtendedIsStatic = 0x01
  val ExtendedShadowableDeletion = 0x02

  // ---- cell flags (o.a.c.db.rows.Cell.Serializer) ----
  val CellIsDeleted = 0x01
  val CellIsExpiring = 0x02
  val CellHasEmptyValue = 0x04
  val CellUseRowTimestamp = 0x08
  val CellUseRowTtl = 0x10

  /** `o.a.c.db.ClusteringPrefix.Kind` ordinals for bounds/boundaries
    * (rows themselves never serialize a kind byte — only markers do). */
  object Kind {
    val ExclEndBound = 0
    val InclStartBound = 1
    val ExclEndInclStartBoundary = 2
    val StaticClustering = 3
    val Clustering = 4
    val InclEndExclStartBoundary = 5
    val InclEndBound = 6
    val ExclStartBound = 7
  }

  // ---- marshal types (o.a.c.db.marshal.*; toString() forms) ----
  val Utf8Type = "org.apache.cassandra.db.marshal.UTF8Type"
  val AsciiType = "org.apache.cassandra.db.marshal.AsciiType"
  val BytesType = "org.apache.cassandra.db.marshal.BytesType"
  val Int32Type = "org.apache.cassandra.db.marshal.Int32Type"
  val LongType = "org.apache.cassandra.db.marshal.LongType"
  val TimeUuidType = "org.apache.cassandra.db.marshal.TimeUUIDType"
  val UuidType = "org.apache.cassandra.db.marshal.UUIDType"
  /** Timestamps: 8-byte big-endian epoch MILLIS
    * (`o.a.c.db.marshal.TimestampType`); rendered as the millis
    * long's decimal string — the value-opaque carry stays numeric. */
  val TimestampType = "org.apache.cassandra.db.marshal.TimestampType"
  /** 8-byte big-endian IEEE double; rendered via Java's
    * shortest-round-trip `Double.toString`. */
  val DoubleType = "org.apache.cassandra.db.marshal.DoubleType"
  /** 4-byte big-endian IEEE float. */
  val FloatType = "org.apache.cassandra.db.marshal.FloatType"
  /** 1 byte, 0 = false. */
  val BooleanType = "org.apache.cassandra.db.marshal.BooleanType"
  /** 4 (v4) or 16 (v6) address bytes; rendered as the literal
    * address. Encode accepts ONLY literals (a hostname would mean a
    * resolver call inside a codec — loud reject instead). */
  val InetAddressType = "org.apache.cassandra.db.marshal.InetAddressType"
  /** CQL `varint`: minimal two's-complement big-endian bytes
    * (`BigInteger.toByteArray`), rendered as the decimal string. */
  val VarintType = "org.apache.cassandra.db.marshal.IntegerType"
  /** CQL `decimal`: 4-byte big-endian scale + unscaled varint bytes;
    * rendered via `BigDecimal.toString` (which round-trips scale,
    * including negative scales like 1E+2). */
  val DecimalType = "org.apache.cassandra.db.marshal.DecimalType"
  /** CQL `date`: 4-byte UNSIGNED days-since-epoch with a 2^31 bias
    * (0x80000000 = 1970-01-01, `o.a.c.serializers.SimpleDateSerializer`
    * — the bias makes unsigned byte order the date order); rendered
    * as the ISO local date. */
  val SimpleDateType = "org.apache.cassandra.db.marshal.SimpleDateType"
  /** CQL `time`: 8-byte nanoseconds-of-day long
    * (`o.a.c.serializers.TimeSerializer`); rendered canonically as
    * HH:MM:SS.nnnnnnnnn (fraction always 9 digits, so render∘encode
    * is the identity). */
  val TimeType = "org.apache.cassandra.db.marshal.TimeType"
  /** CQL `smallint`: 2-byte big-endian signed short. */
  val ShortType = "org.apache.cassandra.db.marshal.ShortType"
  /** CQL `tinyint`: 1 signed byte. */
  val ByteType = "org.apache.cassandra.db.marshal.ByteType"

  /** Counter columns: the on-disk cell is a plain cell whose value is
    * the serialized counter context (shard list); counter-ness lives
    * in the column TYPE, not the cell flags. The value rides the same
    * opaque hex carry as BytesType — the strip passes counters
    * through untouched (`NoTTLColumnSerializer.java:26-50`'s
    * counter→passthrough dispatch; counters cannot expire). */
  val CounterColumnType = "org.apache.cassandra.db.marshal.CounterColumnType"

  /** Non-frozen collection type strings (`o.a.c.db.marshal.MapType`
    * etc. print as `MapType(keyType,valueType)`). */
  def mapType(k: String, v: String): String =
    s"org.apache.cassandra.db.marshal.MapType($k,$v)"
  def setType(e: String): String =
    s"org.apache.cassandra.db.marshal.SetType($e)"
  def listType(e: String): String =
    s"org.apache.cassandra.db.marshal.ListType($e)"

  /** Composite partition keys (`o.a.c.db.marshal.CompositeType` —
    * the key type Cassandra writes for a multi-column partition key
    * `PRIMARY KEY ((a, b), ...)`, identical blob layout in every era
    * from 2.x thrift composites to 4.x): per component an unsigned
    * short length, the component bytes, then one end-of-component
    * byte (0 for a whole key). Rendered as the ':'-joined component
    * renderings — the SAME string the dump bridge produces via
    * `concat_ws(":", partition.key)`, so the binary and JSON paths
    * agree on composite-key identity. */
  def compositeType(components: Seq[String]): String =
    s"org.apache.cassandra.db.marshal.CompositeType(${components.mkString(",")})"

  /** Some(component marshal types) for a CompositeType, else None. */
  def compositeOf(tpe: String): Option[Seq[String]] = {
    val prefix = "org.apache.cassandra.db.marshal.CompositeType("
    if (tpe.startsWith(prefix) && tpe.endsWith(")")) {
      val inner = tpe.stripPrefix(prefix).stripSuffix(")")
      val parts = Seq.newBuilder[String]
      var depth = 0
      var start = 0
      var i = 0
      while (i < inner.length) {
        val c = inner.charAt(i)
        if (c == '(') depth += 1
        else if (c == ')') depth -= 1
        else if (c == ',' && depth == 0) {
          parts += inner.substring(start, i); start = i + 1
        }
        i += 1
      }
      parts += inner.substring(start)
      Some(parts.result())
    } else None
  }

  /** Complex-column decomposition: Some((cellPathType, valueType))
    * for a non-frozen collection, None for a simple column. The
    * CellPath is the reference's per-element identity
    * (`Cassandra3TTLRemover.java:180-186` re-attaches `cell.path()`):
    * map → the key, set → the element (value empty), list → a
    * 16-byte timeuuid position. */
  def complexOf(tpe: String): Option[(String, String)] = {
    val prefix = "org.apache.cassandra.db.marshal."
    def args(inner: String): Seq[String] = {
      // split on the ONE top-level comma (nested parens respected)
      var depth = 0
      val cut = inner.indexWhere { c =>
        if (c == '(') { depth += 1; false }
        else if (c == ')') { depth -= 1; false }
        else c == ',' && depth == 0
      }
      if (cut < 0) Seq(inner) else Seq(inner.take(cut), inner.drop(cut + 1))
    }
    if (tpe.startsWith(prefix + "MapType(") && tpe.endsWith(")")) {
      val Seq(k, v) = args(
        tpe.stripPrefix(prefix + "MapType(").stripSuffix(")"))
      Some((k, v))
    } else if (tpe.startsWith(prefix + "SetType(") && tpe.endsWith(")")) {
      val e = tpe.stripPrefix(prefix + "SetType(").stripSuffix(")")
      Some((e, Utf8Type)) // set-cell values are empty; type is moot
    } else if (tpe.startsWith(prefix + "ListType(") && tpe.endsWith(")")) {
      val e = tpe.stripPrefix(prefix + "ListType(").stripSuffix(")")
      Some((TimeUuidType, e))
    } else None
  }

  private def fixedLength(tpe: String): Int = tpe match {
    case Int32Type | SimpleDateType => 4
    case LongType | TimestampType | DoubleType | TimeType => 8
    case FloatType => 4
    case BooleanType => 1
    case ShortType => 2
    case ByteType => 1
    case TimeUuidType | UuidType => 16
    case Utf8Type | AsciiType | BytesType | CounterColumnType => -1
    case InetAddressType | VarintType | DecimalType => -1
    case c if compositeOf(c).isDefined => -1
    case other => throw new UnsupportedOperationException(
      s"unsupported marshal type in this decoder subset: $other")
  }

  /** CQL type name → marshal class string (the mapping Cassandra's
    * own `CQL3Type.Native` enum pins); collection types recurse.
    * Frozen collections serialize as one blob (not per-element
    * cells) and sit outside the subset — loudly. The `static`
    * modifier is the caller's to strip (it is a column property,
    * not a type). */
  def marshalOfCql(cqlType: String): Either[String, String] = {
    val t = cqlType.trim.toLowerCase
    def coll(prefix: String): Option[Seq[String]] =
      if (t.startsWith(prefix + "<") && t.endsWith(">")) {
        val inner = t.stripPrefix(prefix + "<").stripSuffix(">")
        var depth = 0
        val cut = inner.indexWhere { c =>
          if (c == '<') { depth += 1; false }
          else if (c == '>') { depth -= 1; false }
          else c == ',' && depth == 0
        }
        Some(if (cut < 0) Seq(inner)
        else Seq(inner.take(cut), inner.drop(cut + 1)))
      } else None
    t match {
      case "text" | "varchar" => Right(Utf8Type)
      case "ascii" => Right(AsciiType)
      case "int" => Right(Int32Type)
      case "bigint" => Right(LongType)
      case "blob" => Right(BytesType)
      case "uuid" => Right(UuidType)
      case "timeuuid" => Right(TimeUuidType)
      case "timestamp" => Right(TimestampType)
      case "counter" => Right(CounterColumnType)
      case "double" => Right(DoubleType)
      case "float" => Right(FloatType)
      case "boolean" => Right(BooleanType)
      case "inet" => Right(InetAddressType)
      case "varint" => Right(VarintType)
      case "decimal" => Right(DecimalType)
      case "date" => Right(SimpleDateType)
      case "time" => Right(TimeType)
      case "smallint" => Right(ShortType)
      case "tinyint" => Right(ByteType)
      case _ if t.startsWith("frozen<") =>
        Left(s"frozen collections are outside the subset: $cqlType")
      case _ =>
        coll("map").map {
          case Seq(k, v) => for {
            km <- marshalOfCql(k); vm <- marshalOfCql(v)
          } yield mapType(km, vm)
          case _ => Left(s"map needs two type params: $cqlType")
        }.orElse(coll("set").map {
          case Seq(e) => marshalOfCql(e).map(setType)
          case _ => Left(s"set needs one type param: $cqlType")
        }).orElse(coll("list").map {
          case Seq(e) => marshalOfCql(e).map(listType)
          case _ => Left(s"list needs one type param: $cqlType")
        }).getOrElse(
          Left(s"CQL type outside the engine's subset: $cqlType"))
    }
  }

  // =====================================================================
  // vint coding — o.a.c.utils.vint.VIntCoding. NOT protobuf varints:
  // the count of leading ONE bits in the first byte gives the number
  // of extra bytes; remaining first-byte bits are the value's high
  // bits, extra bytes follow big-endian.
  // =====================================================================

  def unsignedVIntSize(value: Long): Int = {
    val magnitude = java.lang.Long.numberOfLeadingZeros(value | 1L)
    (639 - magnitude * 9) >> 6
  }

  def writeUnsignedVInt(value: Long, out: DataOutputStream): Unit = {
    val size = unsignedVIntSize(value)
    if (size == 1) { out.write(value.toInt & 0xff); return }
    val extra = size - 1
    val buf = new Array[Byte](size)
    var v = value
    var i = extra
    while (i >= 0) { buf(i) = v.toByte; v >>>= 8; i -= 1 }
    // leading-ones mask: ~(0xff >>> extra)
    buf(0) = (buf(0) | (~(0xff >>> extra)).toByte).toByte
    out.write(buf, 0, size)
  }

  /** Signed vint = zigzag then unsigned (VIntCoding.writeVInt). */
  def writeVInt(value: Long, out: DataOutputStream): Unit =
    writeUnsignedVInt((value >> 63) ^ (value << 1), out)

  def readUnsignedVInt(in: DataInputStream): Long = {
    val first = in.read()
    if (first < 0) throw new EOFException("vint at EOF")
    val extra = Integer.numberOfLeadingZeros(~first & 0xff) - 24
    var value: Long = (first & (0xff >>> extra)).toLong
    var i = 0
    while (i < extra) {
      val b = in.read()
      // a stream truncated mid-vint must raise, not sign-mask -1 into
      // 0xff continuation bytes and decode garbage (the loud-corruption
      // contract readPartition wraps with the file name)
      if (b < 0) throw new EOFException("vint truncated mid-value")
      value = (value << 8) | b.toLong
      i += 1
    }
    value
  }

  /** One flag/kind byte with the EOF contract vints have: -1 raises
    * instead of silently decoding as an all-bits-set flag word. */
  private def readFlagByte(in: DataInputStream, what: String): Int = {
    val b = in.read()
    if (b < 0) throw new EOFException(s"$what byte at EOF")
    b
  }

  def readVInt(in: DataInputStream): Long = {
    val n = readUnsignedVInt(in)
    (n >>> 1) ^ -(n & 1L)
  }

  // =====================================================================
  // value + clustering serialization
  // =====================================================================

  /** AbstractType.writeValue: fixed-length types write raw bytes,
    * variable-length write an unsigned-vint length prefix. */
  private def writeValue(tpe: String, bytes: Array[Byte],
      out: DataOutputStream): Unit = {
    val fixed = fixedLength(tpe)
    if (fixed >= 0) {
      require(bytes.length == fixed,
        s"$tpe expects $fixed bytes, got ${bytes.length}")
      out.write(bytes)
    } else {
      writeUnsignedVInt(bytes.length.toLong, out)
      out.write(bytes)
    }
  }

  private def readValue(tpe: String, in: DataInputStream): Array[Byte] = {
    val fixed = fixedLength(tpe)
    val len = if (fixed >= 0) fixed else readUnsignedVInt(in).toInt
    val buf = new Array[Byte](len)
    in.readFully(buf)
    buf
  }

  /** Render a decoded value as the cell model's string carry. */
  def renderValue(tpe: String, bytes: Array[Byte]): String = tpe match {
    case Utf8Type | AsciiType => new String(bytes, UTF_8)
    case Int32Type => java.nio.ByteBuffer.wrap(bytes).getInt.toString
    case LongType | TimestampType =>
      java.nio.ByteBuffer.wrap(bytes).getLong.toString
    case UuidType =>
      val bb = java.nio.ByteBuffer.wrap(bytes)
      new java.util.UUID(bb.getLong, bb.getLong).toString
    case DoubleType =>
      java.lang.Double.toString(
        java.nio.ByteBuffer.wrap(bytes).getDouble)
    case FloatType =>
      java.lang.Float.toString(java.nio.ByteBuffer.wrap(bytes).getFloat)
    case BooleanType =>
      require(bytes.length == 1, s"boolean expects 1 byte, got ${bytes.length}")
      if (bytes(0) != 0) "true" else "false"
    case InetAddressType =>
      require(bytes.length == 4 || bytes.length == 16,
        s"inet expects 4 or 16 bytes, got ${bytes.length}")
      java.net.InetAddress.getByAddress(bytes).getHostAddress
    case VarintType =>
      require(bytes.nonEmpty, "varint expects at least one byte")
      new java.math.BigInteger(bytes).toString
    case DecimalType =>
      require(bytes.length >= 4, s"decimal expects scale + unscaled bytes")
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val scale = bb.getInt
      val unscaled = new Array[Byte](bytes.length - 4)
      bb.get(unscaled)
      new java.math.BigDecimal(
        new java.math.BigInteger(unscaled), scale).toString
    case SimpleDateType =>
      require(bytes.length == 4, s"date expects 4 bytes, got ${bytes.length}")
      val raw = java.nio.ByteBuffer.wrap(bytes).getInt
      java.time.LocalDate
        .ofEpochDay((raw.toLong & 0xffffffffL) - 0x80000000L).toString
    case TimeType =>
      require(bytes.length == 8, s"time expects 8 bytes, got ${bytes.length}")
      val ns = java.nio.ByteBuffer.wrap(bytes).getLong
      require(ns >= 0 && ns < 86400L * 1000000000L,
        s"time value $ns outside a day's nanos")
      f"${ns / 3600000000000L}%02d:${ns / 60000000000L % 60}%02d:" +
        f"${ns / 1000000000L % 60}%02d.${ns % 1000000000L}%09d"
    case ShortType =>
      require(bytes.length == 2, s"smallint expects 2 bytes, got ${bytes.length}")
      java.nio.ByteBuffer.wrap(bytes).getShort.toString
    case ByteType =>
      require(bytes.length == 1, s"tinyint expects 1 byte, got ${bytes.length}")
      bytes(0).toString
    case BytesType | TimeUuidType | CounterColumnType =>
      bytes.map("%02x".format(_)).mkString
    case c if compositeOf(c).isDefined =>
      val types = compositeOf(c).get
      val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
      val rendered = types.map { t =>
        val len = in.readUnsignedShort()
        val b = new Array[Byte](len)
        in.readFully(b)
        val eoc = in.read()
        if (eoc < 0) throw new EOFException(
          "composite key truncated before its end-of-component byte")
        require(eoc == 0,
          s"non-zero end-of-component byte $eoc in a composite " +
            "partition key")
        renderValue(t, b)
      }
      require(in.available() == 0,
        s"composite key carries more components than the declared " +
          s"${types.size} (${in.available()} trailing bytes)")
      rendered.mkString(":")
    case other => throw new UnsupportedOperationException(other)
  }

  /** Encode a string back to the marshal type's bytes (fixture writer). */
  def encodeValue(tpe: String, s: String): Array[Byte] = tpe match {
    case Utf8Type | AsciiType => s.getBytes(UTF_8)
    case Int32Type =>
      java.nio.ByteBuffer.allocate(4).putInt(s.toInt).array()
    case LongType | TimestampType =>
      java.nio.ByteBuffer.allocate(8).putLong(s.toLong).array()
    case UuidType =>
      val u = java.util.UUID.fromString(s)
      java.nio.ByteBuffer.allocate(16)
        .putLong(u.getMostSignificantBits)
        .putLong(u.getLeastSignificantBits).array()
    case DoubleType =>
      java.nio.ByteBuffer.allocate(8).putDouble(s.toDouble).array()
    case FloatType =>
      java.nio.ByteBuffer.allocate(4).putFloat(s.toFloat).array()
    case BooleanType =>
      Array((if (s.toBoolean) 1 else 0).toByte)
    case InetAddressType =>
      // literals only: a hostname here would mean a resolver call
      // inside a codec
      require(s.matches("[0-9a-fA-F:.]+"),
        s"inet encode takes address literals only, got '$s'")
      java.net.InetAddress.getByName(s).getAddress
    case VarintType =>
      new java.math.BigInteger(s).toByteArray
    case DecimalType =>
      val bd = new java.math.BigDecimal(s)
      val unscaled = bd.unscaledValue.toByteArray
      java.nio.ByteBuffer.allocate(4 + unscaled.length)
        .putInt(bd.scale).put(unscaled).array()
    case SimpleDateType =>
      val days = java.time.LocalDate.parse(s).toEpochDay
      require(days >= -0x80000000L && days <= 0x7fffffffL,
        s"date '$s' outside the 4-byte biased range")
      java.nio.ByteBuffer.allocate(4)
        .putInt((days + 0x80000000L).toInt).array()
    case TimeType =>
      val m = "(\\d{2}):(\\d{2}):(\\d{2})\\.(\\d{9})".r
      s match {
        case m(h, mi, sec, nano) =>
          val ns = h.toLong * 3600000000000L + mi.toLong * 60000000000L +
            sec.toLong * 1000000000L + nano.toLong
          require(ns < 86400L * 1000000000L, s"time '$s' past 24h")
          java.nio.ByteBuffer.allocate(8).putLong(ns).array()
        case _ => throw new IllegalArgumentException(
          s"time encode takes HH:MM:SS.nnnnnnnnn, got '$s'")
      }
    case ShortType =>
      java.nio.ByteBuffer.allocate(2).putShort(s.toShort).array()
    case ByteType =>
      Array(s.toByte)
    case BytesType | TimeUuidType | CounterColumnType =>
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    case c if compositeOf(c).isDefined =>
      // ':'-joined components, the renderValue inverse. A component
      // whose OWN rendering contains ':' (only possible for a
      // text/ascii component) inflates the split count past the
      // declared arity — a LOUD reject, never a silently shifted
      // component boundary (the same lossiness the dump bridge's
      // concat_ws key carry has).
      val types = compositeOf(c).get
      val parts = s.split(":", -1)
      require(parts.length == types.size,
        s"composite key '$s' splits into ${parts.length} components " +
          s"against ${types.size} declared (a ':' inside a text " +
          "component is outside the string-carry subset)")
      val bos = new ByteArrayOutputStream()
      val out = new DataOutputStream(bos)
      types.zip(parts).foreach { case (t, v) =>
        val b = encodeValue(t, v)
        out.writeShort(b.length)
        out.write(b)
        out.write(0)
      }
      out.flush()
      bos.toByteArray
    case other => throw new UnsupportedOperationException(other)
  }

  /** `AbstractType.compare` for the marshal subset — the byte order
    * each type's comparator pins (public layouts: Int32/Long/Timestamp
    * compare the decoded signed value, UTF8/Ascii/Bytes/Inet compare
    * unsigned-lexicographic, Boolean false<true, Float/Double by IEEE
    * total order, UUIDType by version then v1 timestamp then raw
    * bytes, TimeUUIDType by the reassembled 60-bit timestamp,
    * IntegerType/DecimalType by the decoded big number). Cassandra
    * binary-searches clusterings and complex-cell paths in exactly
    * this order, so the SINK must emit it — a rendered-string sort
    * would put 10 before 2 for numeric types and break loadability. */
  def compareEncoded(tpe: String, a: Array[Byte], b: Array[Byte]): Int = {
    def unsignedLex(x: Array[Byte], y: Array[Byte]): Int = {
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    }
    // reassemble a v1 uuid's 60-bit timestamp from time_low|mid|hi
    def v1Timestamp(raw: Array[Byte]): Long = {
      val msb = java.nio.ByteBuffer.wrap(raw).getLong
      ((msb & 0x0000000000000fffL) << 48) |
        ((msb & 0x00000000ffff0000L) << 16) |
        (msb >>> 32)
    }
    tpe match {
      // SimpleDateType's 2^31 bias makes unsigned byte order the
      // date order; TimeType nanos are non-negative so signed works
      case Utf8Type | AsciiType | BytesType | InetAddressType |
          SimpleDateType =>
        unsignedLex(a, b)
      case Int32Type =>
        Integer.compare(java.nio.ByteBuffer.wrap(a).getInt,
          java.nio.ByteBuffer.wrap(b).getInt)
      case LongType | TimestampType | TimeType =>
        java.lang.Long.compare(java.nio.ByteBuffer.wrap(a).getLong,
          java.nio.ByteBuffer.wrap(b).getLong)
      case ShortType =>
        java.lang.Short.compare(java.nio.ByteBuffer.wrap(a).getShort,
          java.nio.ByteBuffer.wrap(b).getShort)
      case ByteType =>
        java.lang.Byte.compare(a(0), b(0))
      case DoubleType =>
        java.lang.Double.compare(java.nio.ByteBuffer.wrap(a).getDouble,
          java.nio.ByteBuffer.wrap(b).getDouble)
      case FloatType =>
        java.lang.Float.compare(java.nio.ByteBuffer.wrap(a).getFloat,
          java.nio.ByteBuffer.wrap(b).getFloat)
      case BooleanType =>
        java.lang.Byte.compare(a(0), b(0))
      case TimeUuidType =>
        val c = java.lang.Long.compare(v1Timestamp(a), v1Timestamp(b))
        if (c != 0) c else unsignedLex(a, b)
      case UuidType =>
        val va = (a(6) >> 4) & 0xf
        val vb = (b(6) >> 4) & 0xf
        if (va != vb) va - vb
        else if (va == 1) {
          val c = java.lang.Long.compare(v1Timestamp(a), v1Timestamp(b))
          if (c != 0) c else unsignedLex(a, b)
        } else unsignedLex(a, b)
      case VarintType =>
        new java.math.BigInteger(a).compareTo(new java.math.BigInteger(b))
      case DecimalType =>
        def dec(raw: Array[Byte]): java.math.BigDecimal = {
          val bb = java.nio.ByteBuffer.wrap(raw)
          val scale = bb.getInt
          val unscaled = new Array[Byte](raw.length - 4)
          bb.get(unscaled)
          new java.math.BigDecimal(new java.math.BigInteger(unscaled), scale)
        }
        dec(a).compareTo(dec(b))
      case other => throw new UnsupportedOperationException(
        s"no comparator for marshal type in this sink subset: $other")
    }
  }

  /** `ClusteringPrefix.Kind.comparison` (public enum value): how two
    * prefixes of EQUAL component length order by kind alone. */
  def kindComparison(kind: Int): Int = kind match {
    case Kind.ExclEndBound | Kind.InclStartBound |
        Kind.ExclEndInclStartBoundary => 0
    case Kind.StaticClustering => 1
    case Kind.Clustering => 2
    case _ => 3 // InclEndExclStartBoundary | InclEndBound | ExclStartBound
  }

  /** `ClusteringPrefix.Kind.comparedToClustering`: how a SHORTER
    * prefix orders against anything it is a strict prefix of. */
  def kindComparedToClustering(kind: Int): Int = kind match {
    case Kind.Clustering => 0
    case Kind.InclEndExclStartBoundary | Kind.InclEndBound |
        Kind.ExclStartBound => 1
    case _ => -1
  }

  /** `ClusteringComparator.compare` over (encoded prefix values,
    * kind): component-wise [[compareEncoded]] under the declared
    * clustering types, then kind resolution — equal lengths order by
    * [[kindComparison]], a strict prefix by its
    * [[kindComparedToClustering]]. This is the order the 3.0 data
    * file REQUIRES of its unfiltereds (rows AND range-tombstone
    * markers interleaved), and what Cassandra's reader binary-searches
    * promoted-index blocks by. A null component orders before any
    * value (deterministic; the sink's own rows never carry mid-prefix
    * nulls). */
  def compareClusterable(types: Seq[String],
      va: Seq[Option[Array[Byte]]], ka: Int,
      vb: Seq[Option[Array[Byte]]], kb: Int): Int = {
    val n = math.min(va.size, vb.size)
    var i = 0
    while (i < n) {
      val c = (va(i), vb(i)) match {
        case (Some(x), Some(y)) => compareEncoded(types(i), x, y)
        case (None, None) => 0
        case (None, _) => -1
        case (_, None) => 1
      }
      if (c != 0) return c
      i += 1
    }
    if (va.size == vb.size)
      Integer.compare(kindComparison(ka), kindComparison(kb))
    else if (va.size < vb.size) kindComparedToClustering(ka)
    else -kindComparedToClustering(kb)
  }

  /** ClusteringPrefix.Serializer.serializeValuesWithoutSize: per 32
    * values one unsigned-vint header word (bit 2i = empty, bit 2i+1 =
    * null), then each non-null non-empty value via its type. */
  private def writeClusteringValues(values: Seq[Option[String]],
      types: Seq[String], out: DataOutputStream): Unit = {
    var offset = 0
    while (offset < values.size) {
      val limit = math.min(values.size, offset + 32)
      var header = 0L
      var i = offset
      while (i < limit) {
        values(i) match {
          case None => header |= 1L << (((i - offset) * 2) + 1)
          case Some("") => header |= 1L << ((i - offset) * 2)
          case Some(_) =>
        }
        i += 1
      }
      writeUnsignedVInt(header, out)
      i = offset
      while (i < limit) {
        values(i) match {
          case Some(v) if v.nonEmpty =>
            writeValue(types(i), encodeValue(types(i), v), out)
          case _ =>
        }
        i += 1
      }
      offset = limit
    }
  }

  private def readClusteringValues(n: Int, types: Seq[String],
      in: DataInputStream): Array[Option[String]] = {
    val out = new Array[Option[String]](n)
    var offset = 0
    while (offset < n) {
      val limit = math.min(n, offset + 32)
      val header = readUnsignedVInt(in)
      var i = offset
      while (i < limit) {
        val isNull = (header & (1L << (((i - offset) * 2) + 1))) != 0
        val isEmpty = (header & (1L << ((i - offset) * 2))) != 0
        out(i) =
          if (isNull) None
          else if (isEmpty) Some("")
          else Some(renderValue(types(i), readValue(types(i), in)))
        i += 1
      }
      offset = limit
    }
    out
  }

  // =====================================================================
  // promoted ("column") index — o.a.c.db.RowIndexEntry.IndexedEntry
  // =====================================================================

  /** `column_index_size` default (64 KiB): a partition whose
    * unfiltereds span at least two such blocks gets its index entry
    * "promoted" — block metadata rides Index.db so a reader can seek
    * WITHIN the partition (`NoTTLSSTableNamesIterator.java:156-225`
    * is the reference's consumer of exactly this structure). */
  val ColumnIndexSize: Int = 64 * 1024

  /** `IndexInfo.WIDTH_BASE` — block widths serialize as signed vints
    * relative to it (widths cluster around the 64 KiB threshold). */
  val WidthBase: Long = 65536L

  /** One `o.a.c.io.sstable.IndexInfo` block: clustering prefixes
    * ((values, kind)) of the block's first and last unfiltered, byte
    * offset from the PARTITION start, byte width, and the range-
    * tombstone deletion left OPEN across the block's end (a reader
    * entering mid-partition must know it). */
  case class IndexInfo(
      firstName: (Seq[Option[String]], Int),
      lastName: (Seq[Option[String]], Int),
      offset: Long,
      width: Long,
      endOpenMarkerUs: Option[Long])

  /** A decoded promoted payload: the partition-header length (key +
    * deletion + static row — everything before the first indexed
    * unfiltered), the partition deletion, the blocks. */
  case class Promoted(headerLength: Long, deletionUs: Option[Long],
      blocks: Seq[IndexInfo])

  /** `ClusteringPrefix.serializer.serialize`: kind ordinal byte; a
    * bound adds a 16-bit size (a full clustering's size is the
    * comparator's, not repeated); then the values. */
  private def writeIndexPrefix(name: (Seq[Option[String]], Int),
      types: Seq[String], out: DataOutputStream): Unit = {
    val (values, kind) = name
    require(kind != Kind.StaticClustering,
      "static clustering cannot appear in an IndexInfo block")
    out.write(kind)
    if (kind != Kind.Clustering) out.writeShort(values.size)
    writeClusteringValues(values, types.take(values.size), out)
  }

  private def readIndexPrefix(types: Seq[String], in: DataInputStream,
      file: String): (Seq[Option[String]], Int) = {
    val kind = in.read()
    if (kind < 0) throw new EOFException(s"$file: IndexInfo prefix at EOF")
    require(kind != Kind.StaticClustering,
      s"$file: static clustering in an IndexInfo block")
    val n =
      if (kind == Kind.Clustering) types.size else in.readUnsignedShort()
    (readClusteringValues(n, types, in).toSeq, kind)
  }

  /** RowIndexEntry.IndexedEntry serialization: vint headerLength,
    * legacy DeletionTime (int ldt + long markedForDeleteAt), vint
    * block count, the IndexInfo blocks, then each block's int offset
    * within the blob (the tail array RowIndexEntry binary-searches). */
  def writePromoted(p: Promoted, types: Seq[String]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    writeUnsignedVInt(p.headerLength, out)
    p.deletionUs match {
      case Some(del) => out.writeInt(NoDeletionTime - 1); out.writeLong(del)
      case None => out.writeInt(NoDeletionTime); out.writeLong(NoTimestamp)
    }
    writeUnsignedVInt(p.blocks.size.toLong, out)
    val blockBos = new ByteArrayOutputStream()
    val blockOut = new DataOutputStream(blockBos)
    val offsets = p.blocks.map { b =>
      blockOut.flush()
      val here = blockBos.size()
      writeIndexPrefix(b.firstName, types, blockOut)
      writeIndexPrefix(b.lastName, types, blockOut)
      writeUnsignedVInt(b.offset, blockOut)
      writeVInt(b.width - WidthBase, blockOut)
      blockOut.writeBoolean(b.endOpenMarkerUs.isDefined)
      b.endOpenMarkerUs.foreach { del =>
        blockOut.writeInt(NoDeletionTime - 1); blockOut.writeLong(del)
      }
      here
    }
    blockOut.flush()
    out.write(blockBos.toByteArray)
    offsets.foreach(out.writeInt)
    out.flush()
    bos.toByteArray
  }

  def readPromoted(bytes: Array[Byte], types: Seq[String],
      file: String): Promoted = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val headerLength = readUnsignedVInt(in)
    val del = {
      val ldt = in.readInt(); val mfda = in.readLong()
      if (ldt == NoDeletionTime && mfda == NoTimestamp) None
      else Some(mfda)
    }
    val n = readUnsignedVInt(in).toInt
    val blocks = (0 until n).map { _ =>
      val first = readIndexPrefix(types, in, file)
      val last = readIndexPrefix(types, in, file)
      val offset = readUnsignedVInt(in)
      val width = readVInt(in) + WidthBase
      val open =
        if (in.readBoolean()) { in.readInt(); Some(in.readLong()) }
        else None
      IndexInfo(first, last, offset, width, open)
    }
    val offs = (0 until n).map(_ => in.readInt())
    require(in.available() == 0,
      s"$file: promoted entry carries ${in.available()} trailing bytes")
    require(offs.isEmpty || (offs.head == 0 &&
      offs.zip(offs.tail).forall { case (a, b) => a < b }),
      s"$file: promoted block offsets not ascending from 0")
    Promoted(headerLength, del, blocks)
  }

  /** Build the column-index blocks for one partition from its atom
    * offsets (relative to the partition's start byte). Mirrors
    * `o.a.c.db.ColumnIndex`: the static row belongs to the header
    * region, blocks accumulate unfiltereds until one crosses
    * `columnIndexSize`, the open range-tombstone (if any) rides each
    * block boundary, and only a partition spanning ≥ 2 blocks
    * promotes (a one-block partition gains nothing over its Index.db
    * position). `atomsEnd` = offset just past the last unfiltered
    * (before the end-of-partition marker byte). */
  def buildPromoted(partitionDeletionUs: Option[Long],
      atoms: Seq[(Atom, Long)], atomsEnd: Long,
      columnIndexSize: Int): Option[Promoted] = {
    val body = atoms.dropWhile {
      case (r: RowAtom, _) => r.static
      case _ => false
    }
    if (body.isEmpty) return None
    val headerLength = body.head._2
    def prefixOf(a: Atom): (Seq[Option[String]], Int) = a match {
      case r: RowAtom => (r.clustering, Kind.Clustering)
      case m: MarkerAtom => (m.clustering, m.kind)
    }
    var open: Option[Long] = None
    def updateOpen(a: Atom): Unit = a match {
      case m: MarkerAtom => m.kind match {
        case Kind.InclStartBound | Kind.ExclStartBound |
            Kind.ExclEndInclStartBoundary |
            Kind.InclEndExclStartBoundary =>
          open = Some(m.deletions.last)
        case Kind.InclEndBound | Kind.ExclEndBound => open = None
        case _ =>
      }
      case _ =>
    }
    val blocks = Seq.newBuilder[IndexInfo]
    var blockStart = -1L
    var first: (Seq[Option[String]], Int) = null
    var last: (Seq[Option[String]], Int) = null
    body.indices.foreach { i =>
      val (a, off) = body(i)
      val end = if (i + 1 < body.size) body(i + 1)._2 else atomsEnd
      if (blockStart < 0) { blockStart = off; first = prefixOf(a) }
      last = prefixOf(a)
      updateOpen(a)
      if (end - blockStart >= columnIndexSize) {
        blocks += IndexInfo(first, last, blockStart,
          end - blockStart, open)
        blockStart = -1L
      }
    }
    if (blockStart >= 0)
      blocks += IndexInfo(first, last, blockStart,
        atomsEnd - blockStart, open)
    val bs = blocks.result()
    if (bs.size < 2) None
    else Some(Promoted(headerLength, partitionDeletionUs, bs))
  }

  // =====================================================================
  // serialization header (the Statistics.db HEADER component)
  // =====================================================================

  /** The decoded `SerializationHeader.Component`: everything the data
    * file's delta/subset encodings resolve against. */
  case class Header(
      minTimestampUs: Long,
      minLocalDeletionTimeS: Int,
      minTtlS: Int,
      keyType: String,
      clusteringTypes: Seq[String],
      staticColumns: Seq[(String, String)],
      regularColumns: Seq[(String, String)]) {
    def tsOut(ts: Long): Long = ts - minTimestampUs
    def tsIn(delta: Long): Long = delta + minTimestampUs
    def ldtOut(ldt: Int): Long = (ldt.toLong - minLocalDeletionTimeS)
    def ldtIn(delta: Long): Int = (delta + minLocalDeletionTimeS).toInt
    def ttlOut(ttl: Int): Long = (ttl.toLong - minTtlS)
    def ttlIn(delta: Long): Int = (delta + minTtlS).toInt
  }

  private def writeWithVIntLength(bytes: Array[Byte],
      out: DataOutputStream): Unit = {
    writeUnsignedVInt(bytes.length.toLong, out)
    out.write(bytes)
  }

  private def readWithVIntLength(in: DataInputStream): Array[Byte] = {
    val len = readUnsignedVInt(in).toInt
    val buf = new Array[Byte](len)
    in.readFully(buf)
    buf
  }

  private def writeColumnsWithTypes(cols: Seq[(String, String)],
      out: DataOutputStream): Unit = {
    writeUnsignedVInt(cols.size.toLong, out)
    cols.foreach { case (name, tpe) =>
      writeWithVIntLength(name.getBytes(UTF_8), out)
      writeWithVIntLength(tpe.getBytes(UTF_8), out)
    }
  }

  private def readColumnsWithTypes(in: DataInputStream): Seq[(String, String)] = {
    val n = readUnsignedVInt(in).toInt
    (0 until n).map { _ =>
      val name = new String(readWithVIntLength(in), UTF_8)
      val tpe = new String(readWithVIntLength(in), UTF_8)
      (name, tpe)
    }
  }

  /** SerializationHeader.Component serialization: EncodingStats (three
    * unsigned vints of epoch deltas), key type, clustering types,
    * static then regular columns with types. */
  private def writeHeaderComponent(h: Header, out: DataOutputStream): Unit = {
    writeUnsignedVInt(h.minTimestampUs - TimestampEpochUs, out)
    writeUnsignedVInt((h.minLocalDeletionTimeS - DeletionTimeEpochS).toLong, out)
    writeUnsignedVInt((h.minTtlS - TtlEpoch).toLong, out)
    writeWithVIntLength(h.keyType.getBytes(UTF_8), out)
    writeUnsignedVInt(h.clusteringTypes.size.toLong, out)
    h.clusteringTypes.foreach(t => writeWithVIntLength(t.getBytes(UTF_8), out))
    writeColumnsWithTypes(h.staticColumns, out)
    writeColumnsWithTypes(h.regularColumns, out)
  }

  private def readHeaderComponent(in: DataInputStream): Header = {
    val minTs = readUnsignedVInt(in) + TimestampEpochUs
    val minLdt = (readUnsignedVInt(in) + DeletionTimeEpochS).toInt
    val minTtl = (readUnsignedVInt(in) + TtlEpoch).toInt
    val keyType = new String(readWithVIntLength(in), UTF_8)
    val nClust = readUnsignedVInt(in).toInt
    val clust = (0 until nClust)
      .map(_ => new String(readWithVIntLength(in), UTF_8))
    val statics = readColumnsWithTypes(in)
    val regulars = readColumnsWithTypes(in)
    Header(minTs, minLdt, minTtl, keyType, clust, statics, regulars)
  }

  /** MetadataType.SERIALIZATION ordinal (o.a.c.io.sstable.metadata.
    * MetadataType: VALIDATION=0, COMPACTION=1, STATS=2, HEADER=3). */
  val HeaderComponentOrdinal = 3

  private def crcOfInt(crc: CRC32, v: Int): Unit = {
    crc.update((v >>> 24) & 0xff); crc.update((v >>> 16) & 0xff)
    crc.update((v >>> 8) & 0xff); crc.update(v & 0xff)
  }

  /** Whether an SSTable format version carries metadata checksums in
    * its Statistics.db: the n-series (4.x: "na"/"nb") does, the
    * m-series (3.x: "ma".."me") does not — the ONLY difference between
    * the two eras in this decoder's subset (the unfiltered row/cell
    * layout is the 3.0 storage engine's in both). */
  def versionHasMetadataChecksum(version: String): Boolean =
    version.nonEmpty && version.charAt(0) >= 'n'

  /** Version-gated StatsMetadata TAIL fields, following the PUBLIC
    * Apache Cassandra `BigFormat.BigVersion` feature flags: the
    * commit-log lower bound since 3.0.1 ("mb"), the commit-log
    * interval set since 3.0.8 ("mc"), pendingRepair + isTransient
    * since 4.0 ("na"), and originatingHostId since 3.0.26/3.11.12
    * ("me") on the m-series and 4.0.2 ("nb") on the n-series —
    * CASSANDRA-16619's dual backport, Cassandra's own
    * `matches("(m[e-9])|(n[b-9])")` gate. A plain "ma" (3.0.0) file
    * ENDS at totalRows; parsing any tail there would consume the
    * next component's bytes. */
  def versionHasCommitLogLowerBound(version: String): Boolean =
    version >= "mb"
  def versionHasCommitLogIntervals(version: String): Boolean =
    version >= "mc"
  def versionHasPendingRepair(version: String): Boolean =
    version >= "na"
  def versionHasOriginatingHostId(version: String): Boolean =
    (version.startsWith("m") && version >= "me") || version >= "nb"

  /** MetadataType.COMPACTION ordinal — the per-file HLL++ key-count
    * sketch's slot in the Statistics.db TOC. */
  val CompactionComponentOrdinal = 1

  /** MetadataType.VALIDATION ordinal — the partitioner/bloom-chance
    * declaration's slot in the Statistics.db TOC. */
  val ValidationComponentOrdinal = 0

  /** The one ring this engine serves — the reference hard-codes the
    * same (`Cassandra3TTLRemover.java:69`). */
  val Murmur3PartitionerClass =
    "org.apache.cassandra.dht.Murmur3Partitioner"

  /** ValidationMetadata's body (`o.a.c.io.sstable.metadata
    * .ValidationMetadata.serializer`, identical 2.1→4.x): the
    * partitioner FQCN as modified-UTF plus the bloom-filter FP
    * chance — what `SSTableReader.open`'s validation compares before
    * serving a file (a mismatched partitioner would mis-route every
    * token predicate). */
  private def writeValidationBody(partitioner: String,
      bloomFpChance: Double): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeUTF(partitioner)
    out.writeDouble(bloomFpChance)
    out.flush()
    bos.toByteArray
  }

  /** One TOC walk for every component reader: the byte offset of
    * `ordinal`'s component in a Statistics.db container of either
    * era (the 2.x container is the modern one without checksums),
    * or -1 when absent. Malformed TOCs (counts/offsets outside the
    * container) return -1 — the shared degrade every caller then
    * applies to ABSENCE, keeping one corruption posture across the
    * VALIDATION/COMPACTION/STATS readers. */
  private def componentOffset(bytes: Array[Byte], checksummed: Boolean,
      ordinal: Int): Int =
    try {
      val in = new DataInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val count = in.readInt()
      if (count < 0 || count > 16) return -1
      if (checksummed) in.readInt() // count CRC (verified by readStats)
      var off = -1
      (0 until count).foreach { _ =>
        val ord = in.readInt()
        val o = in.readInt()
        if (ord == ordinal) off = o
      }
      if (off >= 0 && off < bytes.length) off else -1
    } catch { case scala.util.control.NonFatal(_) => -1 }

  /** The end of the component starting at `offset`: the smallest TOC
    * offset past it (each component's CRC word sits between it and
    * the next in the n-series), else the container end. */
  private def componentEnd(bytes: Array[Byte], checksummed: Boolean,
      offset: Int): Int = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val count = in.readInt()
    if (checksummed) in.readInt()
    var end = bytes.length
    (0 until count).foreach { _ =>
      in.readInt()
      val o = in.readInt()
      if (o > offset && o < end) end = o
    }
    if (checksummed) end - 4 else end
  }

  /** The VALIDATION component out of a Statistics.db container of
    * either era, or None when the TOC has no such entry. In
    * checksummed (n-series) files the component CRC is verified. */
  def readValidation(bytes: Array[Byte], checksummed: Boolean)
      : Option[(String, Double)] = {
    val off = componentOffset(bytes, checksummed,
      ValidationComponentOrdinal)
    if (off < 0) None
    else {
      val body = new DataInputStream(new java.io.ByteArrayInputStream(
        bytes, off, bytes.length - off))
      val avail0 = body.available()
      val partitioner = body.readUTF()
      val fp = body.readDouble()
      if (checksummed) {
        val consumed = avail0 - body.available()
        require(off + consumed + 4 <= bytes.length,
          "Statistics.db: VALIDATION component missing its checksum")
        val ccrc = new CRC32()
        ccrc.update(bytes, off, consumed)
        val stored = java.nio.ByteBuffer
          .wrap(bytes, off + consumed, 4).getInt
        require(stored == ccrc.getValue.toInt,
          "Statistics.db: VALIDATION component checksum mismatch")
      }
      Some((partitioner, fp))
    }
  }

  /** Statistics.db in MetadataSerializer's layout: component count,
    * TOC of (type ordinal, offset) pairs, then each component's
    * bytes. With `checksummed` (the n-series / 4.x layout) a CRC32
    * follows the count, the TOC and every component, and offsets
    * account for those 4-byte words; the m-series / 3.x layout is the
    * same stream without any checksum. Components are the
    * serialization HEADER the scan needs and — when the sink provides
    * one — the COMPACTION key-count sketch
    * ([[graft.sources.KeyCardinality]]); the TOC is written in
    * ordinal order, as `MetadataSerializer` (an EnumMap walk) does.
    * The reader walks the TOC, so real files carrying
    * VALIDATION/STATS as well parse identically (their components are
    * never visited). */
  def writeStats(header: Header, version: String = "nb",
      compaction: Option[Array[Byte]] = None,
      stats: Option[StatsModern] = None,
      validation: Option[(String, Double)] = None): Array[Byte] = {
    val checksummed = versionHasMetadataChecksum(version)
    val body = new ByteArrayOutputStream()
    writeHeaderComponent(header, new DataOutputStream(body))
    val components: Seq[(Int, Array[Byte])] =
      validation.map { case (part, fp) =>
        ValidationComponentOrdinal -> writeValidationBody(part, fp)
      }.toSeq ++
        compaction.map(CompactionComponentOrdinal -> _).toSeq ++
        stats.map(s => StatsComponentOrdinal ->
          writeStatsModern(s, version)).toSeq :+
        (HeaderComponentOrdinal -> body.toByteArray)

    val out = new ByteArrayOutputStream()
    val d = new DataOutputStream(out)
    val crc = new CRC32()
    val n = components.size
    d.writeInt(n)
    crcOfInt(crc, n)
    if (checksummed) d.writeInt(crc.getValue.toInt)
    var offset = 4 + 8 * n + (if (checksummed) 2 * 4 else 0)
    components.foreach { case (ordinal, bytes) =>
      d.writeInt(ordinal)
      crcOfInt(crc, ordinal)
      d.writeInt(offset)
      crcOfInt(crc, offset)
      offset += bytes.length + (if (checksummed) 4 else 0)
    }
    if (checksummed) d.writeInt(crc.getValue.toInt)
    components.foreach { case (_, bytes) =>
      d.write(bytes)
      if (checksummed) {
        val ccrc = new CRC32()
        ccrc.update(bytes)
        d.writeInt(ccrc.getValue.toInt)
      }
    }
    d.flush()
    out.toByteArray
  }

  /** The COMPACTION component's bytes out of a modern Statistics.db
    * (the `[int length][HyperLogLogPlus bytes]` body — framing parsed
    * by [[graft.sources.KeyCardinality.readComponent]]), None when
    * the TOC has no such entry — real lakes DO lack it
    * (CASSANDRA-10676), and the inventory must degrade, not throw.
    * In checksummed (n-series) files the component CRC is verified. */
  def readCompaction(bytes: Array[Byte],
      checksummed: Boolean = true): Option[Array[Byte]] = {
    val compOffset = componentOffset(bytes, checksummed,
      CompactionComponentOrdinal)
    if (compOffset < 0 || compOffset + 4 > bytes.length) None
    else {
      val len = java.nio.ByteBuffer.wrap(bytes, compOffset, 4).getInt
      if (len < 0 || compOffset + 4L + len > bytes.length) None
      else {
        val end = compOffset + 4 + len
        if (checksummed) {
          require(end + 4 <= bytes.length,
            "Statistics.db: COMPACTION component missing its checksum")
          val ccrc = new CRC32()
          ccrc.update(bytes, compOffset, 4 + len)
          val stored = java.nio.ByteBuffer.wrap(bytes, end, 4).getInt
          require(stored == ccrc.getValue.toInt,
            "Statistics.db: COMPACTION component checksum mismatch")
        }
        Some(java.util.Arrays.copyOfRange(bytes, compOffset, end))
      }
    }
  }

  /** MetadataType.STATS ordinal — the per-file StatsMetadata
    * component's slot in the Statistics.db TOC. */
  val StatsComponentOrdinal = 2

  /** The modern-era (3.x "m" / 4.x "n" series) StatsMetadata subset
    * this engine writes and serves — the figures the reference reads
    * off every opened file (`NoTTLReader.getSSTableMetadata`,
    * `NoTTLReader.java:1982`; the per-field getters at
    * `:1912-1945,1963,1851,1932`) and `sstablemetadata` prints.
    * Semantics follow Cassandra's `MetadataCollector` literally:
    *   - every cell updates the TTL bound with its ttl, 0 when
    *     non-expiring, so `minTtlS` is 0 whenever any plain cell
    *     exists;
    *   - every cell updates the local-deletion bound with its
    *     localDeletionTime, `Int.MaxValue` (NO_DELETION_TIME) when
    *     live, so `maxLdtS` is 2147483647 whenever any live cell
    *     exists;
    *   - only FINITE deletion times (tombstones, expirations) feed
    *     the drop-time histogram — the droppability estimate's input.
    * `partitionSizeTotal` / `columnCountTotal` are the two
    * EstimatedHistograms' exact mean()×count() reconstructions (the
    * serialized bucket encoding is total-exact, see
    * [[writeStatsModern]]). */
  /** The row-level facts a write path collects while serializing
    * partitions (Cassandra's `MetadataCollector` role); the sink's
    * component builder completes them into a [[StatsModern]] with
    * the sizes only it knows (partition count, uncompressed data
    * length, on-disk/uncompressed compression ratio). */
  case class StatsCollected(
      minTimestampUs: Long,
      maxTimestampUs: Long,
      minLdtS: Int,
      maxLdtS: Int,
      minTtlS: Int,
      maxTtlS: Int,
      tombstoneDropTime: OldFormat.TombstoneHistogram,
      totalColumnsSet: Long,
      totalRows: Long,
      sstableLevel: Int = 0,
      repairedAt: Long = 0L,
      /** Per-clustering-column minima/maxima of the ENCODED values,
        * compared under each column's own type comparator —
        * `MetadataCollector.updateClusteringValues`' accounting
        * (`ColumnNameHelper.minComponents`/`maxComponents` in 3.x),
        * the bounds a real reader elides clustering slices with.
        * Seq[Byte] (not Array) so the case class keeps structural
        * equality — the round-trip specs compare whole instances. */
      minClusteringValues: Seq[Seq[Byte]] = Nil,
      maxClusteringValues: Seq[Seq[Byte]] = Nil)

  case class StatsModern(
      nPartitions: Long,
      partitionSizeTotal: Long,
      columnCountTotal: Long,
      minTimestampUs: Long,
      maxTimestampUs: Long,
      minLdtS: Int,
      maxLdtS: Int,
      minTtlS: Int,
      maxTtlS: Int,
      compressionRatio: Double,
      tombstoneDropTime: OldFormat.TombstoneHistogram,
      sstableLevel: Int,
      repairedAt: Long,
      totalColumnsSet: Long,
      totalRows: Long,
      /** 4.0+ ("na") incremental-repair session this file belongs to
        * — a 16-byte UUID behind a presence byte on disk. */
      pendingRepair: Option[java.util.UUID] = None,
      /** 4.0+ ("na") transient-replica flag. */
      isTransient: Boolean = false,
      /** The host that wrote the file ("me"/"nb"+, CASSANDRA-16619)
        * — non-null on every cluster-written file; null from offline
        * writers (CQLSSTableWriter and this sink). */
      originatingHostId: Option[java.util.UUID] = None,
      /** Commit-log positions as (segmentId, position): the upper
        * bound (all modern eras), the lower bound ("mb"+), and the
        * interval set ("mc"+ — CASSANDRA-8844's ranges). NONE /
        * empty from this sink (an offline writer has no commit log);
        * a real cluster file's values round-trip bit-exact. */
      commitLogUpper: (Long, Int) = (-1L, 0),
      commitLogLower: (Long, Int) = (-1L, 0),
      commitLogIntervals: Seq[((Long, Int), (Long, Int))] = Nil,
      /** Per-clustering-column min/max ENCODED values (short-length-
        * prefixed buffers on disk) — empty from pre-round-15 sink
        * files; real on every cluster-written generation and on this
        * sink's clustered writes. Seq[Byte] for structural equality. */
      minClusteringValues: Seq[Seq[Byte]] = Nil,
      maxClusteringValues: Seq[Seq[Byte]] = Nil)

  /** An EstimatedHistogram whose mean()×count() reconstructs `total`
    * EXACTLY and whose count() is exactly `count`: with q = ⌊total /
    * count⌋ and r the remainder, `count − r` points sit in a bucket
    * at offset q and `r` in one at q+1 — Σ(offset×bucket) = total.
    * The single zero-count bucket keeps the "at least one bucket"
    * shape a real reader allocates offsets from. */
  private def exactHistogram(total: Long, count: Long)
      : Seq[(Long, Long)] = {
    require(total >= 0 && count >= 0, s"histogram($total, $count)")
    if (count == 0) Seq((1L, 0L))
    else {
      val q = total / count
      val r = total - q * count
      if (r == 0) Seq((q, count)) else Seq((q, count - r), (q + 1, r))
    }
  }

  private def writeHistogram(bins: Seq[(Long, Long)],
      out: DataOutputStream): Unit = {
    out.writeInt(bins.size)
    bins.foreach { case (off, cnt) =>
      out.writeLong(off); out.writeLong(cnt)
    }
  }

  /** Returns (Σ offset×bucket, Σ bucket) — the mean()×count() and
    * count() accounting Cassandra reconstructs from a serialized
    * EstimatedHistogram. */
  private def readHistogramTotals(in: DataInputStream): (Long, Long) = {
    val n = in.readInt()
    require(n >= 0 && n <= (1 << 20), s"EstimatedHistogram size $n")
    var total = 0L; var count = 0L
    (0 until n).foreach { _ =>
      val off = in.readLong(); val cnt = in.readLong()
      total += off * cnt; count += cnt
    }
    (total, count)
  }

  /** Serialize the modern STATS component body. Layout from the
    * PUBLIC Apache Cassandra 3.11 source
    * (`o.a.c.io.sstable.metadata.StatsMetadata.serializer`):
    * two EstimatedHistograms (partition size, cells per partition),
    * the commit-log upper bound (long segmentId + int position,
    * NONE = (-1, 0)), long min/max timestamp, int min/max
    * localDeletionTime, int min/max TTL, double compressionRatio
    * (-1 = NO_COMPRESSION_RATIO), the tombstone drop-time
    * StreamingHistogram (int maxBinSize, int bin count, (double,
    * long) per bin), int sstableLevel, long repairedAt, min/max
    * clustering-value lists (int size + short-length-prefixed
    * buffers), boolean hasLegacyCounterShards, long totalColumnsSet,
    * long totalRows, then the version-gated tail: the commit-log
    * lower bound (3.0.1 "mb"+) and interval set (3.0.8 "mc"+ — int
    * count then position pairs); the n-series (4.0 "na"+) adds the
    * pending-repair marker byte (1 ⇒ a 16-byte session UUID follows)
    * and the isTransient boolean; "me"/"nb"+ append originatingHostId
    * (presence byte + 16-byte UUID) — see the
    * [[versionHasOriginatingHostId]] family for the exact gates. */
  def writeStatsModern(s: StatsModern, version: String): Array[Byte] = {
    def writeUuid(out: DataOutputStream,
        u: Option[java.util.UUID]): Unit = u match {
      case Some(id) =>
        out.writeByte(1)
        out.writeLong(id.getMostSignificantBits)
        out.writeLong(id.getLeastSignificantBits)
      case None => out.writeByte(0)
    }
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    writeHistogram(exactHistogram(s.partitionSizeTotal, s.nPartitions), out)
    writeHistogram(exactHistogram(s.columnCountTotal, s.nPartitions), out)
    out.writeLong(s.commitLogUpper._1)    // commitLogUpperBound
    out.writeInt(s.commitLogUpper._2)
    out.writeLong(s.minTimestampUs)
    out.writeLong(s.maxTimestampUs)
    out.writeInt(s.minLdtS)
    out.writeInt(s.maxLdtS)
    out.writeInt(s.minTtlS)
    out.writeInt(s.maxTtlS)
    out.writeDouble(s.compressionRatio)
    out.writeInt(s.tombstoneDropTime.maxBinSize)
    out.writeInt(s.tombstoneDropTime.bins.size)
    s.tombstoneDropTime.bins.foreach { case (p, m) =>
      out.writeDouble(p); out.writeLong(m)
    }
    out.writeInt(s.sstableLevel)
    out.writeLong(s.repairedAt)
    // min/max clustering-value lists: int size, then each value
    // short-length-prefixed (ByteBufferUtil.writeWithShortLength —
    // the StatsMetadata.serializer wire shape the parser reads back)
    def writeValueList(vs: Seq[Seq[Byte]]): Unit = {
      out.writeInt(vs.size)
      vs.foreach { v =>
        require(v.length <= 0xFFFF,
          s"clustering bound value of ${v.length} bytes exceeds the " +
            "short-length-prefixed wire form")
        out.writeShort(v.length)
        out.write(v.toArray)
      }
    }
    writeValueList(s.minClusteringValues)
    writeValueList(s.maxClusteringValues)
    out.writeBoolean(false)               // hasLegacyCounterShards
    out.writeLong(s.totalColumnsSet)
    out.writeLong(s.totalRows)
    if (versionHasCommitLogLowerBound(version)) {
      out.writeLong(s.commitLogLower._1)  // commitLogLowerBound
      out.writeInt(s.commitLogLower._2)
    }
    if (versionHasCommitLogIntervals(version)) {
      // the read path bounds the count at 2^16 — never emit a
      // component this engine's own reader would refuse
      require(s.commitLogIntervals.size <= (1 << 16),
        s"commit-log interval count ${s.commitLogIntervals.size} " +
          "exceeds the serializable bound (65536)")
      out.writeInt(s.commitLogIntervals.size)
      s.commitLogIntervals.foreach { case ((ls, lp), (us, up)) =>
        out.writeLong(ls); out.writeInt(lp)
        out.writeLong(us); out.writeInt(up)
      }
    }
    if (versionHasPendingRepair(version)) {
      writeUuid(out, s.pendingRepair)
      out.writeBoolean(s.isTransient)
    }
    if (versionHasOriginatingHostId(version))
      writeUuid(out, s.originatingHostId)
    out.flush()
    bos.toByteArray
  }

  /** The STATS component out of a modern Statistics.db, or None when
    * the TOC has no such entry — this engine's own pre-round-13
    * generations (and header-only fixtures) lack it, and the
    * inventory must degrade to NULLs, not throw. Corrupt bodies
    * (truncated, checksum-mismatched in the n-series) throw — a
    * PRESENT component must parse. */
  def readStatsModern(bytes: Array[Byte], version: String)
      : Option[StatsModern] = {
    val checksummed = versionHasMetadataChecksum(version)
    val statsOffset = componentOffset(bytes, checksummed,
      StatsComponentOrdinal)
    if (statsOffset < 0) None
    else {
      val body = new DataInputStream(new java.io.ByteArrayInputStream(
        bytes, statsOffset, bytes.length - statsOffset))
      val avail0 = body.available()
      val (psTotal, psCount) = readHistogramTotals(body)
      val (ccTotal, ccCount) = readHistogramTotals(body)
      require(ccCount == psCount,
        s"StatsMetadata: histogram counts disagree ($psCount, $ccCount)")
      val clUpper = (body.readLong(), body.readInt())
      val minTs = body.readLong(); val maxTs = body.readLong()
      val minLdt = body.readInt(); val maxLdt = body.readInt()
      val minTtl = body.readInt(); val maxTtl = body.readInt()
      val ratio = body.readDouble()
      val maxBins = body.readInt()
      val nBins = body.readInt()
      require(maxBins > 0 && nBins >= 0 && nBins <= maxBins,
        s"StatsMetadata: drop-time histogram shape ($maxBins, $nBins)")
      val bins = Vector.tabulate(nBins) { _ =>
        val p = body.readDouble(); val m = body.readLong(); (p, m)
      }
      val level = body.readInt()
      val repairedAt = body.readLong()
      val Seq(minClustering, maxClustering) = Seq.fill(2) {
        val n = body.readInt()
        require(n >= 0 && n <= (1 << 16),
          s"StatsMetadata: clustering-value list size $n")
        Vector.fill(n) {
          val len = body.readUnsignedShort()
          val v = new Array[Byte](len)
          body.readFully(v)
          v.toIndexedSeq: Seq[Byte]
        }
      }
      body.readBoolean()                  // hasLegacyCounterShards
      val totalColumnsSet = body.readLong()
      val totalRows = body.readLong()
      def readUuid(): Option[java.util.UUID] =
        if (body.readByte() == 0) None
        else Some(new java.util.UUID(body.readLong(), body.readLong()))
      val clLower =
        if (versionHasCommitLogLowerBound(version))
          (body.readLong(), body.readInt())
        else (-1L, 0)
      val clIntervals =
        if (versionHasCommitLogIntervals(version)) {
          val nIntervals = body.readInt()
          require(nIntervals >= 0 && nIntervals <= (1 << 16),
            s"StatsMetadata: commit-log interval count $nIntervals")
          Vector.tabulate(nIntervals) { _ =>
            ((body.readLong(), body.readInt()),
              (body.readLong(), body.readInt()))
          }
        } else Vector.empty

      val pendingRepair =
        if (versionHasPendingRepair(version)) readUuid() else None
      val isTransient =
        versionHasPendingRepair(version) && body.readBoolean()
      val originatingHostId =
        if (versionHasOriginatingHostId(version)) readUuid() else None
      if (checksummed) {
        val consumed = avail0 - body.available()
        val ccrc = new CRC32()
        ccrc.update(bytes, statsOffset, consumed)
        require(statsOffset + consumed + 4 <= bytes.length,
          "Statistics.db: STATS component missing its checksum")
        val stored = java.nio.ByteBuffer
          .wrap(bytes, statsOffset + consumed, 4).getInt
        require(stored == ccrc.getValue.toInt,
          "Statistics.db: STATS component checksum mismatch")
      }
      Some(StatsModern(psCount, psTotal, ccTotal, minTs, maxTs,
        minLdt, maxLdt, minTtl, maxTtl, ratio,
        OldFormat.TombstoneHistogram(maxBins, bins), level, repairedAt,
        totalColumnsSet, totalRows,
        pendingRepair, isTransient, originatingHostId,
        clUpper, clLower, clIntervals,
        minClusteringValues = minClustering,
        maxClusteringValues = maxClustering))
    }
  }

  /** BYTE-SURGICAL `sstableLevel` / `repairedAt` replacement inside
    * an existing Statistics.db: the container is returned bit-exact
    * except for the two patched fields (and the n-series STATS
    * component CRC). Everything this engine's parser does NOT model
    * — clustering-value lists, commit-log intervals, pending-repair
    * sessions, any newer tail a real cluster's file carries —
    * survives untouched, which is what makes the offline surgery
    * honest on foreign files. The level field's offset is found by
    * walking the parseable PREFIX of the component (two
    * EstimatedHistograms, the commit-log upper bound, the fixed
    * min/max fields, the drop-time histogram); field sizes don't
    * change, so the TOC and every other component stay valid. */
  def patchStatsFields(bytes: Array[Byte], checksummed: Boolean,
      level: Option[Int], repairedAt: Option[Long]): Array[Byte] = {
    val statsOffset = componentOffset(bytes, checksummed,
      StatsComponentOrdinal)
    require(statsOffset >= 0,
      "Statistics.db carries no STATS component to patch")
    val body = new DataInputStream(new java.io.ByteArrayInputStream(
      bytes, statsOffset, bytes.length - statsOffset))
    val avail0 = body.available()
    def skipHistogram(): Unit = {
      val n = body.readInt()
      require(n >= 0 && n <= (1 << 20), s"EstimatedHistogram size $n")
      body.skipBytes(16 * n)
    }
    skipHistogram(); skipHistogram()      // partition size, cell count
    body.skipBytes(8 + 4)                 // commitLogUpperBound
    body.skipBytes(8 + 8 + 4 + 4 + 4 + 4 + 8) // ts/ldt/ttl bounds, ratio
    val maxBins = body.readInt()
    val nBins = body.readInt()
    require(maxBins > 0 && nBins >= 0 && nBins <= maxBins,
      s"StatsMetadata: drop-time histogram shape ($maxBins, $nBins)")
    body.skipBytes(16 * nBins)
    val levelOffset = statsOffset + (avail0 - body.available())
    require(levelOffset + 12 <= bytes.length,
      "StatsMetadata: truncated before the level/repairedAt fields")
    val out = bytes.clone()
    val bb = java.nio.ByteBuffer.wrap(out)
    level.foreach(bb.putInt(levelOffset, _))
    repairedAt.foreach(bb.putLong(levelOffset + 4, _))
    if (checksummed) {
      val end = componentEnd(out, checksummed, statsOffset)
      require(end > statsOffset && end + 4 <= out.length,
        "StatsMetadata: cannot locate the component CRC to fix")
      val crc = new CRC32()
      crc.update(out, statsOffset, end - statsOffset)
      bb.putInt(end, crc.getValue.toInt)
    }
    out
  }

  /** Parse Statistics.db far enough to return the serialization
    * header; in checksummed (n-series) files the count, TOC and
    * component checksums are verified. */
  def readStats(bytes: Array[Byte], checksummed: Boolean = true): Header = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val crc = new CRC32()
    val count = in.readInt()
    crcOfInt(crc, count)
    if (checksummed) {
      val countCrc = in.readInt()
      require(countCrc == crc.getValue.toInt,
        "Statistics.db: count checksum mismatch")
    }
    var headerOffset = -1
    (0 until count).foreach { _ =>
      val ordinal = in.readInt(); crcOfInt(crc, ordinal)
      val offset = in.readInt(); crcOfInt(crc, offset)
      if (ordinal == HeaderComponentOrdinal) headerOffset = offset
    }
    if (checksummed) {
      val tocCrc = in.readInt()
      require(tocCrc == crc.getValue.toInt,
        "Statistics.db: TOC checksum mismatch")
    }
    require(headerOffset >= 0,
      "Statistics.db carries no SERIALIZATION header component")
    val hin = new DataInputStream(
      new java.io.ByteArrayInputStream(bytes, headerOffset,
        bytes.length - headerOffset))
    val header = readHeaderComponent(hin)
    if (checksummed) {
      // re-serialize to know the component's length, then verify CRC
      val rt = new ByteArrayOutputStream()
      writeHeaderComponent(header, new DataOutputStream(rt))
      val len = rt.size()
      val ccrc = new CRC32()
      ccrc.update(bytes, headerOffset, len)
      val stored = java.nio.ByteBuffer
        .wrap(bytes, headerOffset + len, 4).getInt
      require(stored == ccrc.getValue.toInt,
        "Statistics.db: HEADER component checksum mismatch")
    }
    header
  }

  // =====================================================================
  // atoms — the decoded model the connector maps to bridge rows
  // =====================================================================

  case class CellAtom(
      name: String,
      tsUs: Long,
      ttlS: Option[Int],
      ldtS: Option[Int],
      value: Option[String],
      deleted: Boolean,
      /** CellPath for cells of a complex (collection) column — the
        * map key / set element / list timeuuid, rendered through the
        * column's path type. None for simple columns. */
      path: Option[String] = None)

  sealed trait Atom
  case class RowAtom(
      clustering: Seq[Option[String]],
      livenessTsUs: Option[Long],
      livenessTtlS: Option[Int],
      livenessLdtS: Option[Int],
      deletionUs: Option[Long],
      cells: Seq[CellAtom],
      /** Whole-collection tombstones, (column → deletion timestamp):
        * the `complexDeletion()` a non-frozen collection overwrite
        * leaves behind. */
      complexDeletions: Seq[(String, Long)] = Nil,
      /** The partition's STATIC row: no clustering (it precedes every
        * clustered row on disk), cells resolve against the header's
        * STATIC column set, and it carries no primary-key liveness
        * (its cells' own timestamps are the liveness). */
      static: Boolean = false) extends Atom
  case class MarkerAtom(
      kind: Int,
      clustering: Seq[Option[String]],
      // bound markers carry one deletion; boundaries carry (end, start)
      deletions: Seq[Long]) extends Atom

  case class PartitionData(
      key: String,
      deletionUs: Option[Long],
      atoms: Seq[Atom])

  // =====================================================================
  // partition encode (fixture writer / round-trip specs)
  // =====================================================================

  private def writeCell(c: CellAtom, rowTs: Option[Long],
      rowTtl: Option[Int], rowLdt: Option[Int], tpe: String, h: Header,
      out: DataOutputStream, pathType: Option[String] = None): Unit = {
    val useRowTs = rowTs.contains(c.tsUs)
    val isExpiring = !c.deleted && c.ttlS.isDefined
    val useRowTtl = isExpiring && rowTtl.isDefined &&
      c.ttlS == rowTtl && c.ldtS == rowLdt
    val hasValue = c.value.exists(_.nonEmpty)
    var flags = 0
    if (!hasValue) flags |= CellHasEmptyValue
    if (c.deleted) flags |= CellIsDeleted
    else if (isExpiring) flags |= CellIsExpiring
    if (useRowTs) flags |= CellUseRowTimestamp
    if (useRowTtl) flags |= CellUseRowTtl
    out.write(flags)
    if (!useRowTs) writeUnsignedVInt(h.tsOut(c.tsUs), out)
    if ((c.deleted || isExpiring) && !useRowTtl)
      writeUnsignedVInt(h.ldtOut(c.ldtS.getOrElse(NoDeletionTime)), out)
    if (isExpiring && !useRowTtl)
      writeUnsignedVInt(h.ttlOut(c.ttlS.get), out)
    // CellPath between liveness and value (Cell.Serializer's order):
    // always vint-length-prefixed, whatever the path's type
    pathType.foreach { pt =>
      val p = c.path.getOrElse(throw new IllegalArgumentException(
        s"cell of complex column '${c.name}' carries no CellPath"))
      writeWithVIntLength(encodeValue(pt, p), out)
    }
    if (hasValue) writeValue(tpe, encodeValue(tpe, c.value.get), out)
  }

  private def readCell(name: String, tpe: String, rowTs: Option[Long],
      rowTtl: Option[Int], rowLdt: Option[Int], h: Header,
      in: DataInputStream, pathType: Option[String] = None): CellAtom = {
    val flags = readFlagByte(in, "cell flags")
    val hasValue = (flags & CellHasEmptyValue) == 0
    val deleted = (flags & CellIsDeleted) != 0
    val expiring = (flags & CellIsExpiring) != 0
    val useRowTs = (flags & CellUseRowTimestamp) != 0
    val useRowTtl = (flags & CellUseRowTtl) != 0
    val ts = if (useRowTs) rowTs.getOrElse(
      throw new IllegalStateException("cell uses row timestamp but row has none"))
    else h.tsIn(readUnsignedVInt(in))
    val ldt =
      if ((deleted || expiring) && !useRowTtl) Some(h.ldtIn(readUnsignedVInt(in)))
      else if (useRowTtl) rowLdt
      else None
    val ttl =
      if (expiring && !useRowTtl) Some(h.ttlIn(readUnsignedVInt(in)))
      else if (useRowTtl) rowTtl
      else None
    val path = pathType.map(pt => renderValue(pt, readWithVIntLength(in)))
    val value =
      if (hasValue) Some(renderValue(tpe, readValue(tpe, in)))
      else if (deleted) None
      else Some("")
    CellAtom(name, ts, ttl, ldt, value, deleted, path)
  }

  /** Columns.Serializer.serializeSubset for supersets < 64 wide: 0 if
    * all present, else a vint bitmap whose SET bits are the missing
    * superset positions. (The ≥64 large-subset path is outside this
    * fixture subset and raises on read.) */
  private def writeColumnSubset(present: Set[String],
      superset: Seq[(String, String)], out: DataOutputStream): Unit = {
    require(superset.size < 64, "large column sets unsupported in subset")
    var bitmap = 0L
    superset.zipWithIndex.foreach { case ((name, _), i) =>
      if (!present.contains(name)) bitmap |= 1L << i
    }
    writeUnsignedVInt(bitmap, out)
  }

  private def writeRow(r: RowAtom, h: Header, out: DataOutputStream): Unit = {
    if (r.static) {
      require(r.livenessTsUs.isEmpty && r.livenessTtlS.isEmpty,
        "a static row carries no primary-key liveness")
      require(r.clustering.isEmpty,
        "a static row has no clustering values")
    }
    val superset = if (r.static) h.staticColumns else h.regularColumns
    // a cell whose column is missing from the header superset would
    // VANISH silently (the subset bitmap can only mark superset
    // members) — refuse instead
    val outside = (r.cells.map(_.name) ++ r.complexDeletions.map(_._1))
      .filterNot(superset.map(_._1).toSet)
    require(outside.isEmpty,
      s"cells of ${if (r.static) "static" else "regular"} columns " +
        s"${outside.distinct.mkString(",")} missing from header superset")
    val hasTs = r.livenessTsUs.isDefined
    val hasTtl = r.livenessTtlS.isDefined
    val hasDeletion = r.deletionUs.isDefined
    val hasComplexDeletion = r.complexDeletions.nonEmpty
    val present =
      r.cells.map(_.name).toSet ++ r.complexDeletions.map(_._1)
    val allColumns = present == superset.map(_._1).toSet
    var flags = 0
    if (hasTs) flags |= HasTimestamp
    if (hasTtl) flags |= HasTtl
    if (hasDeletion) flags |= HasDeletion
    if (hasComplexDeletion) flags |= HasComplexDeletion
    if (allColumns) flags |= HasAllColumns
    if (r.static) {
      // the static row's marker is an EXTENSION flag + extended byte
      // (UnfilteredSerializer.ExtendedFlags.IS_STATIC); no clustering
      out.write(flags | ExtensionFlag)
      out.write(ExtendedIsStatic)
    } else {
      out.write(flags)
      writeClusteringValues(r.clustering, h.clusteringTypes, out)
    }
    // body buffered first: the format prefixes its byte size (and the
    // previous unfiltered's, for reverse iteration) as unsigned vints
    val body = new ByteArrayOutputStream()
    val b = new DataOutputStream(body)
    if (hasTs) writeUnsignedVInt(h.tsOut(r.livenessTsUs.get), b)
    if (hasTtl) {
      writeUnsignedVInt(h.ttlOut(r.livenessTtlS.get), b)
      writeUnsignedVInt(h.ldtOut(r.livenessLdtS.getOrElse(NoDeletionTime)), b)
    }
    if (hasDeletion) {
      writeUnsignedVInt(h.tsOut(r.deletionUs.get), b)
      writeUnsignedVInt(h.ldtOut(NoDeletionTime - 1), b)
    }
    if (!allColumns) writeColumnSubset(present, superset, b)
    superset.filter(c => present(c._1)).foreach {
      case (name, tpe) =>
        complexOf(tpe) match {
          case None =>
            val c = r.cells.find(_.name == name).getOrElse(
              throw new IllegalArgumentException(
                s"simple column '$name' present but cell-less"))
            require(c.path.isEmpty,
              s"simple column '$name' cannot carry a CellPath")
            writeCell(c, r.livenessTsUs, r.livenessTtlS, r.livenessLdtS,
              tpe, h, b)
          case Some((pathType, valueType)) =>
            // UnfilteredSerializer.writeComplexColumn: when the ROW
            // flag is set, EVERY present complex column writes its
            // deletion (LIVE when it has none); then vint cell count,
            // then the path-bearing cells in path order
            if (hasComplexDeletion) {
              r.complexDeletions.find(_._1 == name) match {
                case Some((_, del)) =>
                  writeUnsignedVInt(h.tsOut(del), b)
                  writeUnsignedVInt(h.ldtOut(NoDeletionTime - 1), b)
                case None =>
                  writeUnsignedVInt(h.tsOut(NoTimestamp), b)
                  writeUnsignedVInt(h.ldtOut(NoDeletionTime), b)
              }
            }
            // cells in the PATH TYPE's comparator order (Cassandra
            // binary-searches ComplexColumnData by path; a rendered-
            // string sort would misorder numeric keys, e.g. 10 < 2)
            val cells = r.cells.filter(_.name == name)
              .map { c =>
                val p = c.path.getOrElse(
                  throw new IllegalArgumentException(
                    s"complex column '$name' cell without a CellPath"))
                (encodeValue(pathType, p), c)
              }
              .sortWith((x, y) => compareEncoded(pathType, x._1, y._1) < 0)
              .map(_._2)
            writeUnsignedVInt(cells.size.toLong, b)
            cells.foreach { c =>
              writeCell(c, r.livenessTsUs, r.livenessTtlS,
                r.livenessLdtS, valueType, h, b, Some(pathType))
            }
        }
    }
    b.flush()
    writeUnsignedVInt(body.size().toLong, out)
    writeUnsignedVInt(0L, out) // prev unfiltered size (reverse-iteration hint)
    out.write(body.toByteArray)
  }

  private def writeMarker(m: MarkerAtom, h: Header,
      out: DataOutputStream): Unit = {
    out.write(IsMarker)
    out.write(m.kind)
    out.writeShort(m.clustering.size)
    writeClusteringValues(m.clustering, h.clusteringTypes, out)
    val body = new ByteArrayOutputStream()
    val b = new DataOutputStream(body)
    m.deletions.foreach { del =>
      writeUnsignedVInt(h.tsOut(del), b)
      writeUnsignedVInt(h.ldtOut(NoDeletionTime - 1), b)
    }
    b.flush()
    writeUnsignedVInt(body.size().toLong, out)
    writeUnsignedVInt(0L, out)
    out.write(body.toByteArray)
  }

  /** Serialize one partition (BigTableWriter layout: short-length key,
    * legacy partition DeletionTime, unfiltereds, END_OF_PARTITION). */
  def writePartition(p: PartitionData, h: Header,
      out: DataOutputStream): Unit = {
    writePartitionIndexed(p, h, out); ()
  }

  /** [[writePartition]] that also reports each atom's byte offset and
    * the offset just past the last atom, both relative to the
    * partition's first byte — the inputs [[buildPromoted]] chunks
    * into column-index blocks. Uses `DataOutputStream.size()` (bytes
    * written, no flush needed), so `out` must be the partition
    * writer's own stream. */
  def writePartitionIndexed(p: PartitionData, h: Header,
      out: DataOutputStream): (Seq[(Atom, Long)], Long) = {
    val start = out.size().toLong
    val keyBytes = encodeValue(h.keyType, p.key)
    out.writeShort(keyBytes.length)
    out.write(keyBytes)
    p.deletionUs match {
      case Some(del) =>
        out.writeInt(NoDeletionTime - 1) // localDeletionTime (seconds)
        out.writeLong(del)
      case None =>
        out.writeInt(NoDeletionTime) // DeletionTime.LIVE
        out.writeLong(NoTimestamp)
    }
    val offs = p.atoms.map { a =>
      val off = out.size().toLong - start
      a match {
        case r: RowAtom => writeRow(r, h, out)
        case m: MarkerAtom => writeMarker(m, h, out)
      }
      (a, off)
    }
    val atomsEnd = out.size().toLong - start
    out.write(EndOfPartition)
    (offs, atomsEnd)
  }

  // =====================================================================
  // partition decode
  // =====================================================================

  private def readRow(flags: Int, h: Header, in: DataInputStream,
      file: String): RowAtom = {
    val extended =
      if ((flags & ExtensionFlag) != 0) readFlagByte(in, "extended flags")
      else 0
    if ((extended & ExtendedShadowableDeletion) != 0)
      throw new UnsupportedOperationException(
        s"$file: shadowable (materialized-view) deletions outside " +
          "decoder subset")
    val isStatic = (extended & ExtendedIsStatic) != 0
    if ((flags & ExtensionFlag) != 0 && !isStatic)
      throw new UnsupportedOperationException(
        s"$file: unknown extended row flags 0x${extended.toHexString}")
    val clustering: Array[Option[String]] =
      if (isStatic) Array.empty
      else readClusteringValues(h.clusteringTypes.size, h.clusteringTypes, in)
    readUnsignedVInt(in) // row body size (skip-ahead hint; body is parsed)
    readUnsignedVInt(in) // previous unfiltered size
    val ts = if ((flags & HasTimestamp) != 0)
      Some(h.tsIn(readUnsignedVInt(in))) else None
    val (ttl, ldt) = if ((flags & HasTtl) != 0) {
      val t = h.ttlIn(readUnsignedVInt(in))
      val l = h.ldtIn(readUnsignedVInt(in))
      (Some(t), Some(l))
    } else (None, None)
    val deletion = if ((flags & HasDeletion) != 0) {
      val mfda = h.tsIn(readUnsignedVInt(in))
      readUnsignedVInt(in) // deletion's localDeletionTime
      Some(mfda)
    } else None
    val superset = if (isStatic) h.staticColumns else h.regularColumns
    val present: Seq[(String, String)] =
      if ((flags & HasAllColumns) != 0) superset
      else {
        require(superset.size < 64,
          s"$file: large column sets outside decoder subset")
        val missing = readUnsignedVInt(in)
        superset.zipWithIndex
          .filter { case (_, i) => (missing & (1L << i)) == 0 }
          .map(_._1)
      }
    val hasComplexDeletion = (flags & HasComplexDeletion) != 0
    val cells = Seq.newBuilder[CellAtom]
    val complexDeletions = Seq.newBuilder[(String, Long)]
    present.foreach { case (name, tpe) =>
      complexOf(tpe) match {
        case None =>
          cells += readCell(name, tpe, ts, ttl, ldt, h, in)
        case Some((pathType, valueType)) =>
          if (hasComplexDeletion) {
            val mfda = h.tsIn(readUnsignedVInt(in))
            val dldt = h.ldtIn(readUnsignedVInt(in))
            // DeletionTime.LIVE (NoTimestamp/NoDeletionTime) = none
            if (!(mfda == NoTimestamp && dldt == NoDeletionTime))
              complexDeletions += ((name, mfda))
          }
          val n = readUnsignedVInt(in).toInt
          (0 until n).foreach { _ =>
            cells += readCell(name, valueType, ts, ttl, ldt, h, in,
              Some(pathType))
          }
      }
    }
    RowAtom(clustering.toSeq, ts, ttl, ldt, deletion, cells.result(),
      complexDeletions.result(), static = isStatic)
  }

  private def readMarker(h: Header, in: DataInputStream): MarkerAtom = {
    val kind = readFlagByte(in, "marker kind")
    val n = in.readUnsignedShort()
    val clustering = readClusteringValues(n, h.clusteringTypes, in)
    readUnsignedVInt(in) // marker body size
    readUnsignedVInt(in) // previous unfiltered size
    val isBoundary =
      kind == Kind.ExclEndInclStartBoundary ||
        kind == Kind.InclEndExclStartBoundary
    val nDel = if (isBoundary) 2 else 1
    val deletions = (0 until nDel).map { _ =>
      val mfda = h.tsIn(readUnsignedVInt(in))
      readUnsignedVInt(in) // localDeletionTime
      mfda
    }
    MarkerAtom(kind, clustering.toSeq, deletions)
  }

  /** Decode the next partition off the stream, or None at EOF. The
    * stream is consumed strictly forward; memory is bounded by one
    * partition's atoms — the same bound the reference's scanner has
    * (`Cassandra4TTLRemover.java:89-105` streams partitions, never the
    * table). */
  def readPartition(h: Header, in: DataInputStream,
      file: String): Option[PartitionData] =
    try readPartition0(h, in, file)
    catch {
      // a truncation ANYWHERE inside a partition must name the file:
      // the raw vint/readFully EOF carries no context, and a corrupt
      // SSTable diagnosed as "EOF somewhere" is an operations dead end
      case e: EOFException => throw new EOFException(
        s"$file: truncated/corrupt SSTable data (${e.getMessage})")
    }

  private def readPartition0(h: Header, in: DataInputStream,
      file: String): Option[PartitionData] = {
    val first = in.read()
    if (first < 0) return None
    val keyLen = ((first & 0xff) << 8) | (in.read() & 0xff)
    val keyBuf = new Array[Byte](keyLen)
    in.readFully(keyBuf)
    val key = renderValue(h.keyType, keyBuf)
    val ldt = in.readInt()
    val mfda = in.readLong()
    val partitionDeletion =
      if (mfda == NoTimestamp && ldt == NoDeletionTime) None else Some(mfda)
    val atoms = Seq.newBuilder[Atom]
    var done = false
    while (!done) {
      val flags = in.read()
      if (flags < 0) throw new EOFException(
        s"$file: partition $key truncated before END_OF_PARTITION")
      if ((flags & EndOfPartition) != 0) done = true
      else if ((flags & IsMarker) != 0) atoms += readMarker(h, in)
      else atoms += readRow(flags, h, in, file)
    }
    Some(PartitionData(key, partitionDeletion, atoms.result()))
  }

  /** Caps a stream at a byte budget so the atom decoder sees clean
    * EOF exactly at the selected blocks' end. Never closes the
    * underlying stream (it is typically a shared seekable handle). */
  private class BoundedIn(in: java.io.InputStream,
      private var remaining: Long) extends java.io.InputStream {
    override def read(): Int =
      if (remaining <= 0) -1
      else { val b = in.read(); if (b >= 0) remaining -= 1; b }
    override def read(buf: Array[Byte], off: Int, len: Int): Int =
      if (remaining <= 0) -1
      else {
        val n = in.read(buf, off, math.min(len.toLong, remaining).toInt)
        if (n > 0) remaining -= n
        n
      }
    override def close(): Unit = ()
  }

  /** Block-bounded ("sliced") partition decode — the promoted-index
    * SERVING path. Given an Index.db entry's [[Promoted]] payload,
    * decode the partition's header region (key, partition deletion,
    * and the static row when one precedes the first indexed block)
    * plus ONLY the unfiltereds of the column-index blocks that can
    * overlap the clustering slice `[lo, hi]` (inclusive bounds on the
    * LEADING clustering component, compared under the declared type's
    * comparator with prefix semantics). This is exactly what the
    * reference's names iterator does with the same structure
    * (`NoTTLSSTableNamesIterator.java:156-225`: `IndexHelper.indexFor`
    * over the IndexInfo list, seek `basePosition + offset`, read
    * `width` bytes) — an in-partition seek, so a slice of a multi-GB
    * production partition decodes O(overlapping blocks), not O(the
    * partition).
    *
    * Selection is CONSERVATIVE (boundary blocks are decoded whole) and
    * the caller's slice predicate stays RESIDUAL, so correctness never
    * depends on this pruning. Range-tombstone bounds whose markers sit
    * in unselected blocks are NOT re-synthesized: this serves row
    * reads (the reference's names path has the same property of only
    * including tombstones it walks past) — the REWRITE path never
    * slices. `openAt(logicalPos)` must yield a stream positioned at an
    * absolute logical Data.db offset; streams are NOT closed here (the
    * caller owns the shared handle's lifecycle). */
  /** Decode a BYTE-OWNED subrange of one promoted partition: the
    * blocks whose absolute Data.db start (`partitionPos + offset`)
    * falls in [loAbs, hiAbs). This is the sub-partition split unit —
    * an oversized partition (one bigger than the scan's split target)
    * stops serializing in a single task because each blind range owns
    * exactly the promoted blocks that START inside it (the same
    * disjoint-tiling ownership rule the split aligner uses for whole
    * partitions). `serveHeader` marks the shard owning the partition
    * START: only it emits the partition deletion and the static row,
    * so header artifacts surface exactly once across the shards.
    * Splitting between atoms is sound because 3.0 unfiltereds are
    * self-framed (full clustering per row, deltas against the
    * header's EncodingStats minima, never against a running
    * predecessor) — the property the promoted index exists to exploit
    * (`o.a.c.db.RowIndexEntry`'s indexed entries seek the same way).
    * Range-tombstone bounds are independent atoms on the bridge
    * frame, so an open marker in one shard and its close in another
    * together emit the same rows a whole-partition decode would. */
  def readPartitionBlocks(h: Header,
      openAt: Long => java.io.InputStream, partitionPos: Long,
      promoted: Promoted, loAbs: Long, hiAbs: Long,
      serveHeader: Boolean, file: String): PartitionData = try {
    val head = new DataInputStream(new java.io.BufferedInputStream(
      new BoundedIn(openAt(partitionPos), promoted.headerLength)))
    val keyLen = head.readUnsignedShort()
    val keyBuf = new Array[Byte](keyLen)
    head.readFully(keyBuf)
    val key = renderValue(h.keyType, keyBuf)
    val ldt = head.readInt()
    val mfda = head.readLong()
    val partitionDeletion =
      if (mfda == NoTimestamp && ldt == NoDeletionTime) None else Some(mfda)
    val atoms = Seq.newBuilder[Atom]
    if (serveHeader && 2L + keyLen + 4 + 8 < promoted.headerLength) {
      val flags = readFlagByte(head, "static-region flags")
      require((flags & (EndOfPartition | IsMarker)) == 0,
        s"$file: partition $key: header region holds a non-row " +
          s"unfiltered (flags 0x${flags.toHexString})")
      val static = readRow(flags, h, head, file)
      require(static.static,
        s"$file: partition $key: non-static row inside the promoted " +
          "header region")
      atoms += static
    }
    val blocks = promoted.blocks
    val i0 = blocks.indexWhere(b => partitionPos + b.offset >= loAbs)
    val i1 = blocks.lastIndexWhere(b => partitionPos + b.offset < hiAbs)
    if (i0 >= 0 && i1 >= 0 && i0 <= i1) {
      val span = blocks(i1).offset + blocks(i1).width - blocks(i0).offset
      val in = new DataInputStream(new java.io.BufferedInputStream(
        new BoundedIn(openAt(partitionPos + blocks(i0).offset), span)))
      var done = false
      while (!done) {
        val flags = in.read()
        if (flags < 0 || (flags & EndOfPartition) != 0) done = true
        else if ((flags & IsMarker) != 0) atoms += readMarker(h, in)
        else atoms += readRow(flags, h, in, file)
      }
    }
    PartitionData(key,
      if (serveHeader) partitionDeletion else None, atoms.result())
  } catch {
    case e: EOFException => throw new EOFException(
      s"$file: truncated/corrupt SSTable data in block-subrange read " +
        s"(${e.getMessage})")
  }

  def readPartitionSliced(h: Header,
      openAt: Long => java.io.InputStream, partitionPos: Long,
      promoted: Promoted, lo: Seq[Array[Byte]],
      hi: Seq[Array[Byte]], file: String): PartitionData = try {
    val types = h.clusteringTypes
    // prefix-compare an IndexInfo clustering name against a bound
    // PREFIX — one or more leading components under the declared
    // comparators, ClusteringComparator's own prefix semantics
    // (render∘encode identity is spec-pinned, so re-encoding the
    // carried rendered values is exact). A strict prefix compares
    // EQUAL here (both sides Kind.Clustering), keeping boundary-block
    // selection conservative.
    def cmp(name: (Seq[Option[String]], Int),
        bound: Seq[Array[Byte]]): Int = {
      val (values, kind) = name
      val enc = values.zipWithIndex.map { case (v, i) =>
        v.map(encodeValue(types(i), _))
      }
      compareClusterable(types, enc, kind,
        bound.map(b => Some(b)), Kind.Clustering)
    }
    val blocks = promoted.blocks
    val i0 =
      if (lo.isEmpty) 0
      else blocks.indexWhere(b => cmp(b.lastName, lo) >= 0)
    val i1 =
      if (hi.isEmpty) blocks.size - 1
      else blocks.lastIndexWhere(b => cmp(b.firstName, hi) <= 0)
    // header region: key + partition deletion, then the static row iff
    // the first indexed unfiltered starts past them (buildPromoted's
    // rule: statics belong to the header, never to a block)
    val head = new DataInputStream(new java.io.BufferedInputStream(
      new BoundedIn(openAt(partitionPos), promoted.headerLength)))
    val keyLen = head.readUnsignedShort()
    val keyBuf = new Array[Byte](keyLen)
    head.readFully(keyBuf)
    val key = renderValue(h.keyType, keyBuf)
    val ldt = head.readInt()
    val mfda = head.readLong()
    val partitionDeletion =
      if (mfda == NoTimestamp && ldt == NoDeletionTime) None else Some(mfda)
    val atoms = Seq.newBuilder[Atom]
    if (2L + keyLen + 4 + 8 < promoted.headerLength) {
      val flags = readFlagByte(head, "static-region flags")
      require((flags & (EndOfPartition | IsMarker)) == 0,
        s"$file: partition $key: header region holds a non-row " +
          s"unfiltered (flags 0x${flags.toHexString})")
      val static = readRow(flags, h, head, file)
      require(static.static,
        s"$file: partition $key: non-static row inside the promoted " +
          "header region")
      atoms += static
    }
    if (i0 >= 0 && i1 >= 0 && i0 <= i1) {
      val span = blocks(i1).offset + blocks(i1).width - blocks(i0).offset
      val in = new DataInputStream(new java.io.BufferedInputStream(
        new BoundedIn(openAt(partitionPos + blocks(i0).offset), span)))
      var done = false
      while (!done) {
        val flags = in.read()
        // bounded EOF = the selected blocks are drained; an
        // END_OF_PARTITION byte can only be the final block's own end
        if (flags < 0 || (flags & EndOfPartition) != 0) done = true
        else if ((flags & IsMarker) != 0) atoms += readMarker(h, in)
        else atoms += readRow(flags, h, in, file)
      }
    }
    PartitionData(key, partitionDeletion, atoms.result())
  } catch {
    case e: EOFException => throw new EOFException(
      s"$file: truncated/corrupt SSTable data in sliced read " +
        s"(${e.getMessage})")
  }

  // =====================================================================
  // Murmur3 partitioner tokens — o.a.c.utils.MurmurHash.hash3_x64_128
  // (Cassandra's port of Appleby's MurmurHash3 x64/128) and
  // o.a.c.dht.Murmur3Partitioner.getToken: token = first 64-bit word,
  // with Long.MinValue normalized to MaxValue. Cassandra's port reads
  // input bytes SIGNED (a known divergence from e.g. Guava's unsigned
  // reads) — faithfulness requires reproducing exactly that.
  // =====================================================================

  /** Murmur3 token = first 64-bit word of the 128-bit hash, with
    * Long.MinValue normalized to MaxValue. */
  def murmur3Token(key: Array[Byte]): Long = {
    val token = murmur3Hash128(key)._1
    if (token == Long.MinValue) Long.MaxValue else token
  }

  /** The full 128-bit hash — the bloom filter needs BOTH words
    * (`o.a.c.utils.BloomFilter` seeds its index ladder with
    * (h2, h1) from `MurmurHash.hash3_x64_128(key, 0)`). */
  def murmur3Hash128(key: Array[Byte]): (Long, Long) = {
    val length = key.length
    val nblocks = length >> 4
    val c1 = 0x87c37b91114253d5L
    val c2 = 0x4cf5ad432745937fL
    var h1 = 0L
    var h2 = 0L
    def block(i: Int): Long = {
      val o = i << 3
      (key(o) & 0xffL) | ((key(o + 1) & 0xffL) << 8) |
        ((key(o + 2) & 0xffL) << 16) | ((key(o + 3) & 0xffL) << 24) |
        ((key(o + 4) & 0xffL) << 32) | ((key(o + 5) & 0xffL) << 40) |
        ((key(o + 6) & 0xffL) << 48) | ((key(o + 7) & 0xffL) << 56)
    }
    def rotl(x: Long, r: Int): Long = (x << r) | (x >>> (64 - r))
    def fmix(k0: Long): Long = {
      var k = k0
      k ^= k >>> 33
      k *= 0xff51afd7ed558ccdL
      k ^= k >>> 33
      k *= 0xc4ceb9fe1a85ec53L
      k ^= k >>> 33
      k
    }
    var i = 0
    while (i < nblocks) {
      var k1 = block(i * 2)
      var k2 = block(i * 2 + 1)
      k1 *= c1; k1 = rotl(k1, 31); k1 *= c2; h1 ^= k1
      h1 = rotl(h1, 27); h1 += h2; h1 = h1 * 5 + 0x52dce729
      k2 *= c2; k2 = rotl(k2, 33); k2 *= c1; h2 ^= k2
      h2 = rotl(h2, 31); h2 += h1; h2 = h2 * 5 + 0x38495ab5
      i += 1
    }
    val tail = nblocks << 4
    var k1 = 0L
    var k2 = 0L
    // the Java switch's fall-through as a descending if-chain; byte
    // reads are SIGNED (`.toLong` of a Byte sign-extends) — the
    // Cassandra port's quirk, reproduced deliberately
    val rem = length & 15
    if (rem >= 15) k2 ^= key(tail + 14).toLong << 48
    if (rem >= 14) k2 ^= key(tail + 13).toLong << 40
    if (rem >= 13) k2 ^= key(tail + 12).toLong << 32
    if (rem >= 12) k2 ^= key(tail + 11).toLong << 24
    if (rem >= 11) k2 ^= key(tail + 10).toLong << 16
    if (rem >= 10) k2 ^= key(tail + 9).toLong << 8
    if (rem >= 9) {
      k2 ^= key(tail + 8).toLong
      k2 *= c2; k2 = rotl(k2, 33); k2 *= c1; h2 ^= k2
    }
    if (rem >= 8) k1 ^= key(tail + 7).toLong << 56
    if (rem >= 7) k1 ^= key(tail + 6).toLong << 48
    if (rem >= 6) k1 ^= key(tail + 5).toLong << 40
    if (rem >= 5) k1 ^= key(tail + 4).toLong << 32
    if (rem >= 4) k1 ^= key(tail + 3).toLong << 24
    if (rem >= 3) k1 ^= key(tail + 2).toLong << 16
    if (rem >= 2) k1 ^= key(tail + 1).toLong << 8
    if (rem >= 1) {
      k1 ^= key(tail).toLong
      k1 *= c1; k1 = rotl(k1, 31); k1 *= c2; h1 ^= k1
    }
    h1 ^= length.toLong
    h2 ^= length.toLong
    h1 += h2
    h2 += h1
    h1 = fmix(h1)
    h2 = fmix(h2)
    h1 += h2
    h2 += h1
    (h1, h2)
  }

  /** Serialize a whole SSTable data file's partitions, in Murmur3
    * TOKEN order — the on-disk ordering a real big-format writer
    * produces (`Cassandra4TTLRemover.java:63` pins the
    * Murmur3Partitioner; the key-order contract is what lets
    * Cassandra's index/summary binary-search work). The decoder never
    * relies on inter-partition order, so token ordering is pure
    * faithfulness, not a reader requirement. */
  def writeDataFile(partitions: Seq[PartitionData], h: Header): Array[Byte] =
    writeDataFileIndexed(partitions, h)._1

  /** Index entry triple: (encoded key, Data.db position, promoted
    * payload — empty unless the partition spans ≥ 2 column-index
    * blocks). */
  type IndexEntry = (Array[Byte], Long, Array[Byte])

  /** [[writeDataFile]] plus the primary-index entries the component
    * writer needs: (key bytes, Data.db start offset) per partition,
    * in the on-disk token order — exactly what `BigTableWriter`'s
    * `IndexWriter` records as it appends. */
  def writeDataFileIndexed(partitions: Seq[PartitionData], h: Header,
      columnIndexSize: Int = ColumnIndexSize)
      : (Array[Byte], Seq[IndexEntry]) =
    writeSortedDataFile(tokenOrder(partitions, h.keyType), h,
      columnIndexSize)

  /** Partitions in on-disk order: by Murmur3 token of the key encoded
    * under `keyType`, ties by key. Each token is computed once. */
  def tokenOrder(partitions: Seq[PartitionData],
      keyType: String): Seq[PartitionData] =
    partitions.map(p => (murmur3Token(encodeValue(keyType, p.key)), p))
      .sortBy(t => (t._1, t._2.key)).map(_._2)

  /** [[writeDataFileIndexed]] over partitions already in
    * [[tokenOrder]]. */
  def writeSortedDataFile(partitions: Seq[PartitionData], h: Header,
      columnIndexSize: Int = ColumnIndexSize)
      : (Array[Byte], Seq[IndexEntry]) = {
    val out = new ByteArrayOutputStream()
    val d = new DataOutputStream(out)
    val index = Seq.newBuilder[IndexEntry]
    partitions
      .foreach { p =>
        val pos = d.size().toLong
        val (atomOffs, atomsEnd) = writePartitionIndexed(p, h, d)
        val promoted =
          buildPromoted(p.deletionUs, atomOffs, atomsEnd, columnIndexSize)
            .map(writePromoted(_, h.clusteringTypes))
            .getOrElse(Array.emptyByteArray)
        index += ((encodeValue(h.keyType, p.key), pos, promoted))
      }
    d.flush()
    (out.toByteArray, index.result())
  }

  /** Iterate every partition of a data stream (closing is the
    * caller's job — the DSv2 reader owns stream lifecycle). */
  def partitions(h: Header, in: InputStream,
      file: String): Iterator[PartitionData] = {
    val d = new DataInputStream(new java.io.BufferedInputStream(in))
    Iterator.continually(readPartition(h, d, file))
      .takeWhile(_.isDefined).map(_.get)
  }
}
