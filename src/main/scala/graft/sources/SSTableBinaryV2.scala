package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.functions.{col, struct, when}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSourceV2 connector reading Cassandra big-format SSTables
  * DIRECTLY — `spark.read.format("sstable-big").load(dataDir)`, both
  * the 4.x (nb) and 3.x (me/md) eras, batch AND micro-batch streaming
  * — the ingestion paths that need NO `sstabledump` pre-pass: the
  * [[BigFormat]] codec decodes `*-Data.db` partitions
  * straight into the same bridge-row frame
  * [[SSTableDumpBridge.readTree]] produces, so the whole operator
  * surface (TTL strip, LWW merge, sorted sink) runs unchanged behind
  * it. This is the reference's own
  * entry point (`Cassandra4TTLRemover.java:45-74` opens the Data.db
  * via the embedded Cassandra runtime) re-expressed as a thin
  * self-contained decoder.
  *
  * Scale shape: one InputPartition per Data.db file (the reference's
  * parallelism unit — its CLI loops files,
  * `TTLRemoverCLI.java:147-163`), or per split of a large indexed
  * one (`BinScan.planInputPartitions`), partitions streamed
  * sequentially so per-task memory is bounded by the largest Cassandra
  * PARTITION, never the SSTable; the serialization header is one tiny
  * Statistics.db sibling read per file. Column pruning is pushed down
  * (a `row_kind` count never renders values). The session's Hadoop
  * conf ships to executors via [[SerializableConfiguration]], same as
  * the dump connector.
  *
  * Row-kind mapping is the [[SSTableDumpBridge]] contract verbatim —
  * `src_sstable_binary` shares `src_sstabledump_tree`'s DuckDB oracle
  * word for word, holding every IO path to ONE semantic contract:
  *   - partition-level deletion  → one PARTITION_DELETION row
  *   - row with deletion         → ROW_DELETION (tombstones survive)
  *   - live cells                → one ROW row per cell, cell-level
  *     liveness overriding the row default (the USE_ROW_TIMESTAMP /
  *     USE_ROW_TTL flags decode to exactly the dump bridge's
  *     `coalesce(cell, row)` rule)
  *   - primary-key-only insert   → PK_LIVENESS carrying row liveness
  *   - cell tombstone            → CELL_DELETION (richer than the dump
  *     path: sstabledump's row schema can't express per-cell deletes)
  *   - range-tombstone bounds / boundaries → RANGE_TOMBSTONE_BOUND
  *     rows, `name` = "start|end:inclusive|exclusive" (a boundary
  *     emits both sides, as `sstabledump` renders it)
  */
class SSTableBinaryV2 extends TableProvider with DataSourceRegister {
  override def shortName(): String = "sstable-big"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SSTableBinaryV2.schema

  override def getTable(schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new SSTableBinaryV2.BinTable(properties.get("path"))
}

object SSTableBinaryV2 {

  val cellType: StructType = StructType(Seq(
    StructField("value", StringType),
    StructField("writetime_us", LongType),
    StructField("ttl_s", IntegerType),
    StructField("expire_us", LongType)))

  /** The bridge-row frame, directly — identical shape to
    * [[SSTableDumpBridge.readTree]]'s output. */
  val schema: StructType = StructType(Seq(
    StructField("partition_key", StringType, nullable = false),
    StructField("clustering", ArrayType(StringType, containsNull = true)),
    StructField("row_kind", StringType, nullable = false),
    StructField("name", StringType),
    StructField("cell", cellType),
    StructField("deletion_us", LongType),
    StructField("sstable", StringType, nullable = false)))

  private[sources] class BinTable(path: String)
      extends Table with SupportsRead {
    override def name(): String = s"sstable-big($path)"
    override def schema(): StructType = SSTableBinaryV2.schema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.MICRO_BATCH_READ)
    override def newScanBuilder(
        options: CaseInsensitiveStringMap): ScanBuilder =
      new BinScanBuilder(Option(path).getOrElse(options.get("path")),
        Option(options.get("maxFilesPerTrigger")).map(_.toInt),
        Option(options.get("cql")),
        Option(options.get("splitBytes")).map(_.toLong),
        (Option(options.get("sliceLo")), Option(options.get("sliceHi"))),
        Option(options.get("verify")).exists(_.toBoolean),
        (Option(options.get("tokenLo")),
          Option(options.get("tokenHi"))) match {
          case (Some(lo), Some(hi)) => Some((lo.toLong, hi.toLong))
          case (None, None) => None
          case _ => throw new IllegalArgumentException(
            "tokenLo and tokenHi come as a pair (the ring has no " +
              "implicit end for a manual option — pass Long.MinValue/" +
              "MaxValue to leave a side open)")
        },
        Option(options.get("scrub")).exists(_.toBoolean),
        Option(options.get("maxBytesPerSec")).map(_.toDouble),
        Option(options.get("activityEpoch")).map(e =>
          (e, Option(options.get("activityClockNanos")).map(_.toLong))))
  }

  private class BinScanBuilder(path: String, maxFiles: Option[Int],
      cql: Option[String], splitBytes: Option[Long],
      slice: (Option[String], Option[String]) = (None, None),
      verify: Boolean = false,
      tokenRange: Option[(Long, Long)] = None,
      scrub: Boolean = false,
      maxBytesPerSec: Option[Double] = None,
      activity: Option[(String, Option[Long])] = None)
      extends ScanBuilder with SupportsPushDownRequiredColumns
      with SupportsPushDownFilters {
    private var required: StructType = SSTableBinaryV2.schema
    private var pointKeys: Option[Seq[String]] = None
    private var accepted: Array[Filter] = Array.empty
    /** Point-lookup pushdown — the reference's bloom-gated
      * index-seek read path (`NoTTLReader.getPosition`,
      * `NoTTLReader.java:1519-1575`) over OUR component files:
      * a `partition_key = k` / IN (...) predicate lets each task
      * consult Filter.db (skip the whole file on a bloom miss) and
      * Index.db (seek straight to the partition) instead of
      * scanning. Every filter stays RESIDUAL (Spark re-applies it),
      * so bloom false positives and unsupported shapes cost nothing
      * in correctness. */
    override def pushFilters(filters: Array[Filter]): Array[Filter] = {
      val keys = filters.collect {
        case EqualTo("partition_key", v: String) => Seq(v)
        case In("partition_key", vs) if vs.forall(_.isInstanceOf[String]) =>
          vs.toSeq.map(_.asInstanceOf[String])
      }
      if (keys.nonEmpty) {
        // conjunction: every predicate must hold, so the candidate
        // set is the INTERSECTION of the pushed key sets
        pointKeys = Some(keys.reduce(_ intersect _))
        accepted = filters.filter {
          case EqualTo("partition_key", _: String) => true
          case In("partition_key", vs) =>
            vs.forall(_.isInstanceOf[String])
          case _ => false
        }
      }
      filters // all residual
    }
    override def pushedFilters(): Array[Filter] = accepted
    // TOP-LEVEL pruning only (the contract explicitly allows partial
    // pruning): Catalyst's nested-schema pruning may request a `cell`
    // struct with a subset of fields, but the decoder always emits the
    // full canonical cell — honoring the narrowed struct shape would
    // misalign field ordinals (a pruned 1-field struct read against
    // our 4-field rows casts garbage). readSchema() reflects what the
    // reader actually produces.
    override def pruneColumns(requiredSchema: StructType): Unit =
      required = StructType(
        requiredSchema.fieldNames.map(SSTableBinaryV2.schema(_)))
    override def build(): Scan =
      new BinScan(path, required, maxFiles, cql, pointKeys, splitBytes,
        slice, verify, tokenRange = tokenRange, scrub = scrub,
        maxBytesPerSec = maxBytesPerSec, activity = activity)
  }

  private class BinScan(path: String, required: StructType,
      private[sources] val maxFiles: Option[Int] = None,
      cql: Option[String] = None,
      pointKeys: Option[Seq[String]] = None,
      splitBytesOpt: Option[Long] = None,
      private[sources] val slice: (Option[String], Option[String]) =
        (None, None),
      verify: Boolean = false,
      sliceSpace: Option[String] = None,
      tokenRange: Option[(Long, Long)] = None,
      tokenSpace: Option[String] = None,
      scrub: Boolean = false,
      maxBytesPerSec: Option[Double] = None,
      activity: Option[(String, Option[Long])] = None)
      extends Scan with Batch {

    /** A copy of this scan with planner-derived slice bounds — the
      * [[graft.plans.PushClusteringSlice]] hook. `space` names the
      * comparison order the bounds were derived under ("long" /
      * "string"); the reader engages pruning only when the declared
      * leading clustering type's comparator is order-isomorphic to
      * it, so a rule misfire can never prune wrong blocks. */
    private[graft] def withSlice(lo: Option[String], hi: Option[String],
        space: String): BinScan =
      new BinScan(path, required, maxFiles, cql, pointKeys,
        splitBytesOpt, (lo, hi), verify, Some(space), tokenRange,
        tokenSpace, scrub, maxBytesPerSec, activity)

    /** `space` names the token space PLANNER-derived bounds were
      * computed in: [[RenderedTokenSpace]] for a
      * `murmur3_token(partition_key)` predicate (tokens of the
      * rendered string — real ring positions only on text key
      * types), or a marshal key type for
      * `murmur3_token_typed(partition_key, <type>)` (real ring
      * positions iff the file declares that exact key type). The
      * reader engages a derived range only when the file's key type
      * matches the space; manual tokenLo/tokenHi options pass None
      * and keep real-token semantics on every key type. */
    private[graft] def withTokenRange(lo: Long, hi: Long,
        space: Option[String]): BinScan =
      new BinScan(path, required, maxFiles, cql, pointKeys,
        splitBytesOpt, slice, verify, sliceSpace, Some((lo, hi)),
        space, scrub, maxBytesPerSec, activity)

    private[graft] def currentTokenRange: Option[(Long, Long)] =
      tokenRange

    /** Surfaced by `.explain("formatted")` — the IO-pruning state a
      * user needs to SEE to trust (pushed point keys, slice bounds,
      * token range, split size, verify): plan-shape iteration is how
      * this engine is meant to be tuned, so the scan says what it
      * will and won't read. */
    override def description(): String = {
      val parts = Seq(
        Some(s"path=$path"),
        pointKeys.map(k => s"pointKeys=${k.size}"),
        slice._1.map(v => s"sliceLo=$v"),
        slice._2.map(v => s"sliceHi=$v"),
        sliceSpace.map(v => s"sliceSpace=$v"),
        tokenRange.map { case (lo, hi) =>
          s"tokenRange=[$lo,$hi]" +
            tokenSpace.map(s => s" (derived, space=$s)").getOrElse("") },
        splitBytesOpt.map(b => s"splitBytes=$b"),
        if (verify) Some("verify=true") else None,
        if (scrub) Some("scrub=true") else None,
        maxBytesPerSec.map(r => s"maxBytesPerSec=$r"),
        activity.map { case (e, _) => s"activityEpoch=$e" }
      ).flatten
      s"sstable-big(${parts.mkString(", ")})"
    }
    private val hconf = new SerializableConfiguration(
      SparkSession.active.sessionState.newHadoopConf())
    /** Target split size: the `splitBytes` option, else the session's
      * `spark.sql.files.maxPartitionBytes` — the same dial that sizes
      * parquet splits. 0 disables splitting. */
    private val splitBytes: Long = splitBytesOpt.getOrElse(
      SparkSession.active.sessionState.conf.filesMaxPartitionBytes)

    override def readSchema(): StructType = required
    override def toBatch: Batch = this

    /** UI-visible IO-pruning counters — gate engagement must be
      * READABLE off the executed query at scale, not inferred. */
    override def supportedCustomMetrics()
        : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
      Array(new PartitionsServedMetric, new FilesSkippedBloomMetric,
        new FilesSkippedTokenSpanMetric, new PartitionsScrubSkippedMetric,
        new ComponentCacheHitsMetric, new ComponentCacheMissesMetric,
        new ThrottledBytesMetric, new ThrottleWaitNanosMetric,
        new ActivityMarksMetric, new FilesSkippedClusteringMetric)

    private[sources] def listDataFiles(): Seq[(String, SiblingInfo)] =
      listLake(path, hconf.value)

    /** Parallelism units. Default: one InputPartition per `*-Data.db`
      * (sorted for deterministic partition ids; sibling components are
      * not data files). A file bigger than the split target whose
      * Index.db sibling exists SPLITS into partition-aligned byte
      * ranges — the straggler killer at 100 TB, where one major-
      * compacted SSTable can be hundreds of GB and a file-per-task
      * scan would serialize on it. The planner splits BLINDLY (no
      * index IO on the driver — the same contract as Hadoop text
      * splits); each task aligns its range to real partition
      * boundaries through the index sidecar. Chunk-compressed files
      * split too (unlike gzip in Hadoop, the chunk map gives random
      * access): the blind range is over ON-DISK bytes, the task maps
      * it to whole chunks via CompressionInfo.db and aligns their
      * LOGICAL span through the index. 2.x-era files split too when
      * their Index.db sidecar is present (the fixed-width ka/la entry
      * framing parses in [[SSTableComponents.indexEntries2x]]); an
      * index-less file stays one task. */
    override def planInputPartitions(): Array[InputPartition] =
      listDataFiles().flatMap { case (f, info) =>
        val splittable = splitBytes > 0 && info.hasIndex &&
          info.dataLen > splitBytes
        if (!splittable)
          Seq(BinFilePartition(f, info = Some(info)): InputPartition)
        else {
          val n = ((info.dataLen + splitBytes - 1) / splitBytes).toInt
          (0 until n).map(i => BinFilePartition(f, i * splitBytes,
            if (i == n - 1) Long.MaxValue else (i + 1) * splitBytes,
            Some(info)): InputPartition)
        }
      }.toArray

    override def createReaderFactory(): PartitionReaderFactory =
      new BinReaderFactory(required.fieldNames, hconf, cql, pointKeys,
        slice, verify, sliceSpace, tokenRange, tokenSpace, scrub,
        maxBytesPerSec, activity)

    /** Streaming form — `spark.readStream.format("sstable-big")`: the
      * source's offset is a position in the SORTED file listing (new
      * SSTables land strictly after already-seen names in a
      * generation-numbered directory — the landing-zone contract a
      * compaction-export feed satisfies; files are immutable once
      * written, as SSTables are by definition). `maxFilesPerTrigger`
      * paces micro-batches exactly like the file sources (S11's
      * admission-control dial); each micro-batch decodes whole files
      * through the SAME reader factory as the batch scan — one codec,
      * both execution modes. */
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      new BinMicroBatchStream(this)
  }

  private[sources] case class FileIndexOffset(index: Int) extends Offset {
    override def json(): String = index.toString
  }

  private class BinMicroBatchStream(scan: BinScan)
      extends MicroBatchStream with SupportsAdmissionControl {
    private var snapshot: Seq[(String, SiblingInfo)] = Nil
    private def refresh(): Seq[(String, SiblingInfo)] = {
      snapshot = scan.listDataFiles()
      snapshot
    }
    override def initialOffset(): Offset = FileIndexOffset(0)
    override def deserializeOffset(json: String): Offset =
      FileIndexOffset(json.trim.toInt)
    override def latestOffset(): Offset = FileIndexOffset(refresh().size)
    override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
      val all = refresh().size
      val s = start.asInstanceOf[FileIndexOffset].index
      limit match {
        case r: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles =>
          FileIndexOffset(math.min(all, s + r.maxFiles()))
        case _ => FileIndexOffset(all)
      }
    }
    override def getDefaultReadLimit: ReadLimit =
      scan.maxFiles.map(ReadLimit.maxFiles)
        .getOrElse(ReadLimit.allAvailable())
    override def planInputPartitions(start: Offset,
        end: Offset): Array[InputPartition] = {
      val s = start.asInstanceOf[FileIndexOffset].index
      val e = end.asInstanceOf[FileIndexOffset].index
      val files = if (snapshot.size >= e) snapshot else refresh()
      files.slice(s, e).map { case (f, info) =>
        BinFilePartition(f, info = Some(info)): InputPartition
      }.toArray
    }
    override def createReaderFactory(): PartitionReaderFactory =
      scan.createReaderFactory()
    override def commit(end: Offset): Unit = ()
    override def stop(): Unit = ()
  }

  /** Format-version token of an SSTable filename. New-style (2.2+)
    * names are `<version>-<gen>-big-<Component>`; OLD-style (≤2.1,
    * the "ka"/"jb" eras) are `<ks>-<cf>-<version>-<gen>-<Component>`
    * with the version third-from-last — real 2.1 files in the wild
    * carry their keyspace/table in the name, so taking the first
    * token would misread the era. (A keyspace literally named "big"
    * defeats the discriminator; Cassandra's own Descriptor has the
    * same new-style marker.) */
  private[graft] def versionOf(name: String): String = {
    val parts = name.split('-')
    if (parts.contains("big") || parts.length < 3) parts.head
    else parts(parts.length - 3)
  }

  /** Whether a format version is a pre-3.0 era ("ka"/"la"/"jb"…): a
    * different storage engine, with no serialization header and the
    * 2.x layouts of every sidecar. */
  private[graft] def isOldEra(version: String): Boolean =
    version.nonEmpty && version.charAt(0) < 'm'

  /** A format-version token as Cassandra writes one: two lowercase
    * letters. */
  private val VersionToken = "[a-z]{2}".r

  /** Refuses a `*-Data.db` whose name is not a Cassandra data-file
    * name, naming the path and the two shapes Cassandra writes. A
    * visible `copy-of-nb-1-big-Data.db` would otherwise read as a
    * `copy`-era 2.x file. */
  private def requireDataFileName(path: String): Unit =
    require(VersionToken.matches(versionOf(path.split('/').last)),
      s"$path: not an SSTable data file " +
      "name. Cassandra names one <version>-<generation>-big-Data.db " +
      "(2.2 and later, e.g. nb-1-big-Data.db) or " +
      "<keyspace>-<table>-<version>-<generation>-Data.db (2.1 and " +
      "earlier, e.g. ks-t-ka-1-Data.db), where <version> is two " +
      "lowercase letters")

  private val Digits = "\\d+".r

  /** Listing order for SSTable paths: by directory, then NUMERIC
    * generation, then name. Plain lexicographic order breaks the
    * streaming source's "new files land strictly after seen names"
    * contract the moment a directory reaches generation 10
    * (`nb-10-big-Data.db` sorts before `nb-2-big-Data.db` as strings),
    * which would shift positional offsets — re-reading processed files
    * and skipping the new one. Generation-numeric order restores it:
    * a compaction feed's generations are monotonically increasing, so
    * every new file sorts strictly after all seen ones. */
  private[graft] def generationSortKey(path: String): (String, Long, String) = {
    val slash = path.lastIndexOf('/')
    val dir = if (slash < 0) "" else path.substring(0, slash)
    val name = path.substring(slash + 1)
    val gen = Digits.findFirstIn(name).map(_.toLong).getOrElse(Long.MaxValue)
    (dir, gen, name)
  }

  /** Every lake file under `root` with its length, from ONE recursive
    * walk: [[listLake]], the sidecar tools' [[lakeGenerations]] and the
    * sstabledump connector all list through it. A name starting with
    * `.` or `_` is not a lake file (Spark's file-source rule): checksum
    * side files, hidden copies and `_SUCCESS` markers are never
    * generations, components or dumps. The walk is `listStatus` per
    * directory, depth first. `listFiles` would build located statuses,
    * whose permissions Hadoop's local filesystem reads by forking a
    * process per file when the native library is absent. */
  private[graft] def walkLake(root: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[(String, Long)] = {
    val fs = FileSystem.get(java.net.URI.create(root), conf)
    def walk(p: HPath): Seq[(String, Long)] =
      fs.listStatus(p).toSeq.flatMap { f =>
        val name = f.getPath.getName
        if (f.isDirectory) walk(f.getPath)
        else if (name.startsWith(".") || name.startsWith("_")) Nil
        else Seq(f.getPath.toString -> f.getLen)
      }
    walk(new HPath(root))
  }

  /** The data files AND their sibling component sets WITH lengths, from
    * the one walk (no per-file exists()/status RPCs at plan time — and,
    * because the result ships inside each [[BinFilePartition]], none in
    * the TASKS either: at a 100k-file lake, per-reader exists() probes
    * are pure namenode chatter the planner's listing already answered).
    * The scan plans its partitions from this listing and
    * [[dataSourceIdentities]] renders the sink's source set from it, so
    * the two cannot drift apart; the sidecar tools group the same walk
    * ([[lakeGenerations]]). Both refuse a `*-Data.db` that is not named
    * the way Cassandra names one ([[requireDataFileName]]). */
  private[sources] def listLake(root: String,
      conf: org.apache.hadoop.conf.Configuration)
      : Seq[(String, SiblingInfo)] = {
    val seen = walkLake(root, conf).toMap
    seen.toSeq.filter(_._1.endsWith("-Data.db"))
      .sortBy(f => generationSortKey(f._1)).map { case (p, len) =>
        requireDataFileName(p)
        val base = p.stripSuffix("-Data.db")
        (p, SiblingInfo(len,
          hasIndex = seen.contains(base + "-Index.db"),
          hasFilter = seen.contains(base + "-Filter.db"),
          hasSummary = seen.contains(base + "-Summary.db"),
          hasCompression = seen.contains(base + "-CompressionInfo.db"),
          indexLen = seen.getOrElse(base + "-Index.db", -1L),
          hasDigest = seen.contains(base + "-Digest.crc32"),
          hasStats = seen.contains(base + "-Statistics.db")))
      }
  }

  /** The one walk grouped by generation, in path order: each `*-Data.db`
    * with every file that shares its `<base>-` prefix (its components,
    * Data.db included, sorted) — the sidecar tools' unit of work. */
  private[sources] def lakeGenerations(root: String,
      conf: org.apache.hadoop.conf.Configuration)
      : Seq[(String, Seq[String])] =
    walkLake(root, conf).map(_._1).groupBy { p =>
      p.stripSuffix("-" + p.split('/').last.split('-').last)
    }.collect {
      case (base, comps) if comps.exists(_.endsWith("-Data.db")) =>
        requireDataFileName(base + "-Data.db")
        (base + "-Data.db", comps.sorted)
    }.toSeq.sortBy(_._1)

  /** The `sstable` column's rendering of a Data.db path: its last two
    * components, `<table dir>/<basename>`. */
  private[graft] def sstableIdentity(path: String): String =
    path.split('/').takeRight(2).mkString("/")

  /** The planner-listed sibling component set of one Data.db, shipped
    * inside its [[BinFilePartition]] so tasks never re-probe the
    * filesystem for components the driver's single recursive listing
    * already saw. `indexLen` is -1 when no Index.db exists. */
  private[graft] case class SiblingInfo(dataLen: Long, hasIndex: Boolean,
      hasFilter: Boolean, hasSummary: Boolean, hasCompression: Boolean,
      indexLen: Long, hasDigest: Boolean = false,
      hasStats: Boolean = true)

  /** [start, end) is a BLIND byte range of the Data.db; the reader
    * aligns it to partition boundaries via Index.db. (0, MaxValue) =
    * the whole file, no index needed. `info` carries the planner's
    * sibling listing; None (foreign callers) falls back to exists()
    * probes in the reader. */
  private case class BinFilePartition(file: String, start: Long = 0L,
      end: Long = Long.MaxValue, info: Option[SiblingInfo] = None)
      extends InputPartition

  /** Opening one generation, shared by the DSv2 reader and the file
    * route ([[writeFileRoute]]): sibling presence
    * from the planner's listing, sidecar reads through the
    * [[ComponentCache]], the Statistics.db header with its declared-
    * ring check, the CompressionInfo.db chunk map (per-chunk
    * checksums), the digest check and positioned opens. Construction
    * reads sidecars only; Data.db opens through [[openData]] when a
    * caller asks for a stream. */
  private[sources] class SSTableOpen(file: String,
      conf: org.apache.hadoop.conf.Configuration,
      info: Option[SiblingInfo]) {
    protected val fs: FileSystem =
      FileSystem.get(java.net.URI.create(file), conf)
    /** Every Data.db byte stream opens here (the reader meters and
      * throttles it). Never called during construction, so an
      * override may use its own class's fields. */
    protected def openData(p: HPath): org.apache.hadoop.fs.FSDataInputStream =
      fs.open(p)
    // format version from the filename prefix (nb-1-big-Data.db →
    // "nb"): the n-series (4.x) metadata carries checksums and the
    // maxCompressedSize word, the m-series (3.x) does not — the row
    // codec itself is the same 3.0 storage engine either way, so one
    // decoder serves both eras
    protected val version = versionOf(file.split('/').last)
    protected def sibling(suffix: String): HPath =
      new HPath(file.stripSuffix("-Data.db") + suffix)
    /** Component presence, answered from the planner-shipped listing
      * when available — the reader's hot construction path issues NO
      * per-file exists() RPCs under the DSv2 scan (the fallback
      * serves foreign/spec callers constructing readers directly). */
    protected def hasSibling(suffix: String): Boolean = info match {
      case Some(i) => suffix match {
        case "-Index.db" => i.hasIndex
        case "-Filter.db" => i.hasFilter
        case "-Summary.db" => i.hasSummary
        case "-CompressionInfo.db" => i.hasCompression
        case "-Digest.crc32" => i.hasDigest
        case "-Statistics.db" => i.hasStats
        case _ => fs.exists(sibling(suffix))
      }
      case None => fs.exists(sibling(suffix))
    }
    protected var cacheHits = 0L
    protected var cacheMisses = 0L
    protected def readSibling(path: HPath): Array[Byte] = {
      val st = fs.getFileStatus(path)
      val (bytes, hit) = SSTableBinaryV2.ComponentCache
        .getFlagged(path.toString, st.getLen, st.getModificationTime) {
          val buf = new Array[Byte](st.getLen.toInt)
          val in = fs.open(path)
          try in.readFully(0, buf) finally in.close()
          buf
        }
      if (hit) cacheHits += 1 else cacheMisses += 1
      bytes
    }
    /** Pre-3.0 eras ("ka"/"la"/"jb"…): a different storage engine
      * entirely — the [[OldFormat]] codec, with the schema DECLARED
      * via the `cql` option (2.x files carry no serialization
      * header; the reference's cassandra-2 module loads live system
      * tables instead, `Cassandra2TTLRemover.java:48`). */
    protected val oldEra = isOldEra(version)
    /** Open-time ring validation (`SSTableReader.open` refuses a
      * file whose Statistics.db declares a foreign partitioner — the
      * C2 fork keeps the check, `NoTTLReader.java:357-408`): serving
      * rows under the wrong ring would silently mis-route every
      * token predicate, so a declared mismatch refuses loudly, scrub
      * or not (it is mis-configuration, not corruption). An ABSENT
      * or unparseable VALIDATION component passes — nothing declared
      * or readable, nothing to contradict (the sketch reader's own
      * degrade posture; a truncated component must not kill a scan
      * the way a genuine mismatch must). */
    private def validateDeclaredRing(statsBytes: Array[Byte],
        checksummed: Boolean): Unit =
      (try BigFormat.readValidation(statsBytes, checksummed)
      catch { case scala.util.control.NonFatal(_) => None })
        .foreach { case (fqcn, _) =>
          if (fqcn != BigFormat.Murmur3PartitionerClass)
            throw new IllegalStateException(
              s"$file: Statistics.db declares partitioner $fqcn; " +
                "this engine serves Murmur3Partitioner rings only")
        }

    val header: BigFormat.Header =
      if (oldEra) {
        // the 2.x path reads no header, but a ka/la generation's
        // Statistics.db carries the SAME VALIDATION declaration (no
        // checksums) — a foreign-ring 2.x file must refuse exactly
        // like a modern one
        if (hasSibling("-Statistics.db"))
          validateDeclaredRing(
            readSibling(sibling("-Statistics.db")), checksummed = false)
        null
      } else {
        val statsBytes = readSibling(sibling("-Statistics.db"))
        val checksummed = BigFormat.versionHasMetadataChecksum(version)
        validateDeclaredRing(statsBytes, checksummed)
        BigFormat.readStats(statsBytes, checksummed)
      }

    /** A CompressionInfo.db sibling means the Data.db is chunk-
      * compressed (Cassandra's DEFAULT) — decompress on the fly;
      * absent, the bytes are the plain partition stream. Detection is
      * by component presence, exactly how Cassandra itself decides
      * (`Descriptor`'s component set), so a compressed table can
      * never reach the row decoder as garbage. */
    protected lazy val onDiskLen: Long = info.map(_.dataLen)
      .getOrElse(fs.getFileStatus(new HPath(file)).getLen)

    /** The decoded CompressionInfo.db sibling, once per file — the
      * chunk map every compressed access path (full scan, point seek,
      * split alignment) resolves logical offsets through. The
      * checksum era follows the format version: 2.x ("ka"/"la")
      * chunks carry Adler32, 3.0+ CRC32 — both verified on every
      * chunk ([[CompressedData.versionUsesAdler32]]; the reference
      * reads both natively, `NoTTLReader.java:343,623`). */
    protected lazy val compressionMeta: Option[CompressedData.Meta] = {
      val ci = sibling("-CompressionInfo.db")
      if (!hasSibling("-CompressionInfo.db")) None
      else Some(CompressedData.readMeta(readSibling(ci),
        CompressedData.versionHasMaxCompressedSize(version), file,
        CompressedData.versionUsesAdler32(version)))
    }

    def openFullStream(): java.io.InputStream = {
      val raw = openData(new HPath(file))
      compressionMeta match {
        case Some(meta) =>
          CompressedData.decompressingStream(raw, onDiskLen, meta, file)
        case None => raw
      }
    }

    private var seekStream: org.apache.hadoop.fs.FSDataInputStream = null
    /** The partition stream at logical Data.db offset `p` (an Index.db
      * position): a plain seek, or a chunk-map seek on a compressed
      * file (CompressionMetadata.chunkFor's role). Every call wraps ONE
      * shared seekable handle, so a stream is valid until the next
      * call; [[close]] releases the handle. */
    def openDataAt(p: Long): java.io.InputStream = {
      if (seekStream == null) seekStream = openData(new HPath(file))
      compressionMeta match {
        case Some(m) =>
          CompressedData.seekableStream(seekStream, onDiskLen, m,
            file, p)
        case None => seekStream.seek(p); seekStream
      }
    }

    /** Streams this generation's Index.db entries (key, Data.db
      * position, promoted payload) in on-disk order through `body`,
      * then closes the component. Modern-era framing. */
    def withIndexEntries[A](body: Iterator[BigFormat.IndexEntry] => A): A = {
      val in = fs.open(sibling("-Index.db"))
      try body(SSTableComponents.indexEntries(new java.io.DataInputStream(
        new java.io.BufferedInputStream(in, 64 * 1024)), file))
      finally in.close()
    }

    def close(): Unit = if (seekStream != null) seekStream.close()

    /** Read-side data-integrity pass (`.option("verify", "true")` /
      * the CLI's `--verify`): CRC32 the AS-ON-DISK Data.db bytes and
      * compare with the `Digest.crc32` sibling —
      * `o.a.c.io.util.DataIntegrityMetadata.FileDigestValidator`'s
      * check, the first pass of Cassandra's standalone verifier.
      * Callers run it at most ONCE per file (a split scan's
      * zero-offset range owns it), and a missing digest under an
      * explicit verify request refuses loudly rather than silently
      * verifying nothing. The digest covers on-disk bytes, so
      * compressed files verify without decompressing (chunk CRCs
      * separately guard the decompression path). */
    def verifyDigest(): Unit = {
      require(hasSibling("-Digest.crc32"),
        s"$file: verify requested but no Digest.crc32 sibling exists")
      val expected = new String(readSibling(sibling("-Digest.crc32")),
        java.nio.charset.StandardCharsets.US_ASCII).trim
      val crc = new java.util.zip.CRC32()
      // through the throttle like every other Data.db byte — a
      // verify pass at full disk bandwidth would defeat the rate cap
      // exactly when a co-resident workload is the reason it is set
      val din = openData(new HPath(file))
      try {
        val buf = new Array[Byte](64 * 1024)
        var n = din.read(buf)
        while (n >= 0) {
          if (n > 0) crc.update(buf, 0, n)
          n = din.read(buf)
        }
      } finally din.close()
      val actual = java.lang.Long.toString(crc.getValue)
      if (actual != expected)
        throw new IllegalStateException(
          s"$file: Digest.crc32 mismatch — stored $expected, computed " +
            s"$actual (corrupt or truncated Data.db); refusing to serve")
    }
  }

  private class BinReaderFactory(cols: Array[String],
      hconf: SerializableConfiguration, cql: Option[String],
      pointKeys: Option[Seq[String]] = None,
      slice: (Option[String], Option[String]) = (None, None),
      verify: Boolean = false,
      sliceSpace: Option[String] = None,
      tokenRange: Option[(Long, Long)] = None,
      tokenSpace: Option[String] = None,
      scrub: Boolean = false,
      maxBytesPerSec: Option[Double] = None,
      activity: Option[(String, Option[Long])] = None)
      extends PartitionReaderFactory {
    override def createReader(
        partition: InputPartition): PartitionReader[InternalRow] = {
      val p = partition.asInstanceOf[BinFilePartition]
      new BinPartitionReader(p.file, cols, hconf.value, cql, pointKeys,
        p.start, p.end, p.info, slice, verify, sliceSpace, tokenRange,
        tokenSpace, scrub, maxBytesPerSec, activity)
    }
  }

  /** Streams one Data.db: header from the Statistics.db sibling, then
    * one Cassandra partition decoded at a time, its bridge rows
    * buffered (memory bound = one partition, the reference's own
    * bound) and drained before the next partition is touched. */
  private class BinPartitionReader(file: String, cols: Array[String],
      conf: org.apache.hadoop.conf.Configuration,
      cql: Option[String] = None,
      pointKeys: Option[Seq[String]] = None,
      rangeStart: Long = 0L, rangeEnd: Long = Long.MaxValue,
      info: Option[SiblingInfo] = None,
      slice: (Option[String], Option[String]) = (None, None),
      verify: Boolean = false,
      sliceSpace: Option[String] = None,
      tokenRangeOpt: Option[(Long, Long)] = None,
      tokenSpace: Option[String] = None,
      scrub: Boolean = false,
      maxBytesPerSec: Option[Double] = None,
      activity: Option[(String, Option[Long])] = None)
      extends SSTableOpen(file, conf, info)
      with PartitionReader[InternalRow] {
    /** A split task owns the partitions whose Data.db start offset
      * falls in its BLIND [rangeStart, rangeEnd) — blind ranges tile
      * the file disjointly, so every partition has exactly one owner
      * regardless of alignment. */
    private val ranged = rangeStart != 0L || rangeEnd != Long.MaxValue
    private val sstable = sstableIdentity(file)
    /** S11 literal — the scanner's RateLimiter
      * (`NoTTLReader.getScanner(RateLimiter)` /
      * `openDataReader(limiter)`, `NoTTLReader.java:1791-1794,
      * 1987-1991`): when `maxBytesPerSec` is set, every Data.db byte
      * this task consumes passes the executor-shared token bucket;
      * sidecar (Index/Filter/Summary/Statistics) reads stay
      * unthrottled, as the reference's do. Waits and bytes are
      * tallied per reader into the DSv2 task metrics so engagement
      * is UI-readable. */
    private val throttleAccount = new ReadThrottle.Account
    /** Read-activity mark, once per reader, at the Data.db-open choke
      * point — the reference reader's `readMeter.mark()` on actual
      * access (`NoTTLReader.java:126`). Bloom-rejected, token-
      * disjoint and index-missed files never open Data.db, so a
      * tracked point read meters EXACTLY the files it touched —
      * Cassandra's `sstable_activity` semantics, not "files listed".
      * The clock is the supplied option when tracking a designed
      * schedule (deterministic, oracle-replayable) or the JVM
      * monotonic clock on a real scan. */
    private var activityMarked = 0L
    private def markActivity(): Unit = activity.foreach {
      case (epoch, clk) =>
        if (activityMarked == 0L) {
          activityMarked = 1L
          ActivityRegistry.mark(epoch, sstable, 1L,
            clk.getOrElse(System.nanoTime()))
        }
    }
    override protected def openData(
        p: HPath): org.apache.hadoop.fs.FSDataInputStream = {
      markActivity()
      val raw = fs.open(p)
      maxBytesPerSec match {
        case Some(r) => ReadThrottle.wrap(raw, r, throttleAccount)
        case None => raw
      }
    }
    /** The generation's index summary: Summary.db when present (modern
      * era — the 2.x IndexSummary layout predates the 3.0 serializer,
      * so a foreign 2.x summary is never parsed), else REBUILT from
      * Index.db at MinIndexInterval sampling
      * ([[SSTableComponents.rebuildSummary]] — `SSTableReader
      * .buildSummary`'s recovery path, both eras). The rebuilt
      * serialized form is cached under a synthetic component name, so
      * the one-pass index stream is paid once per executor and every
      * later task gets summary economics (file-level token elision,
      * bounded point/split index reads) as if Summary.db existed. */
    /** Memoized: up to three sites consult the summary per task
      * (token-span elision, split alignment, point/split index reads);
      * the getFileStatus RPC + parse are paid once per reader. */
    private lazy val summaryMemo: Option[SSTableComponents.Summary] =
      summaryOrRebuilt0()
    /** The LITERAL pre-3.0 Summary.db read (`NoTTLReader.loadSummary`,
      * `NoTTLReader.java:766-814`) — the one component this engine
      * previously always regenerated. A malformed/foreign summary
      * degrades to None and the Index.db rebuild takes over, the
      * reference's own corrupted-summary posture (`:798-806` deletes
      * and resamples). */
    private lazy val parsed2xSummary: Option[SSTableComponents.Summary] =
      try Some(SSTableComponents.readSummary2x(
        readSibling(sibling("-Summary.db"))))
      catch { case scala.util.control.NonFatal(_) => None }
    private def summaryOrRebuilt(): Option[SSTableComponents.Summary] =
      summaryMemo
    private def summaryOrRebuilt0(): Option[SSTableComponents.Summary] =
      if (!oldEra && hasSibling("-Summary.db"))
        Some(SSTableComponents.readSummary(
          readSibling(sibling("-Summary.db"))))
      else if (oldEra && hasSibling("-Summary.db") &&
        parsed2xSummary.isDefined)
        parsed2xSummary
      else if (!hasSibling("-Index.db")) None
      else {
        val indexP = sibling("-Index.db")
        val st = fs.getFileStatus(indexP)
        val (bytes, hit) = SSTableBinaryV2.ComponentCache.getFlagged(
          indexP.toString + "#rebuilt-summary", st.getLen,
          st.getModificationTime) {
          // the index STREAMS through the rebuild once (strictly
          // sequential, one entry's working set — a multi-GB Index.db
          // of a major-compacted generation must neither materialize
          // on-heap nor evict the cache's working set); what caches
          // is the small serialized summary
          val in = fs.open(indexP)
          val s = try SSTableComponents.rebuildSummary(
            new java.io.DataInputStream(
              new java.io.BufferedInputStream(in, 64 * 1024)),
            oldEra, file, SSTableComponents.MinIndexInterval)
          finally in.close()
          // ceil(totalKeys/interval) must round-trip to the rebuilt
          // sizeAtFullSampling; size*interval reconstructs it exactly
          SSTableComponents.writeSummary(
            s.sampled, s.sizeAtFullSampling.toLong * s.minIndexInterval,
            s.firstKey, s.lastKey, s.minIndexInterval)
        }
        if (hit) cacheHits += 1 else cacheMisses += 1
        Some(SSTableComponents.readSummary(bytes))
      }
    private val oldSchema: OldFormat.Schema =
      if (!oldEra) null
      else OldFormat.schemaOfCql(
        graft.model.CqlSchema.parse(cql.getOrElse(
          throw new IllegalArgumentException(
            s"$file: a '$version'-era (2.x) SSTable carries no " +
              "serialization header — declare the table with " +
              ".option(\"cql\", \"CREATE TABLE ...\") " +
              "(the reference CLI's --cql)")))
          .fold(e => throw new IllegalArgumentException(s"$file: $e"),
            identity))
    /** The token range this reader actually prunes by. A PLANNER-
      * derived range (lifted by [[graft.plans.PushClusteringSlice]])
      * carries the token SPACE its bounds were computed in, and the
      * reader's gates hash the TYPED key encoding — so a derived
      * range engages only when the file's declared key type matches:
      * [[RenderedTokenSpace]] (a `murmur3_token(partition_key)`
      * predicate over the rendered string) matches text key types,
      * whose encoding IS the rendered bytes; a marshal-type space (a
      * `murmur3_token_typed(partition_key, <type>)` predicate, which
      * computes REAL ring tokens for that type) matches exactly that
      * declared key type. Any mismatch DISENGAGES entirely — the
      * predicate stays residual in the plan, so the filter still
      * holds, just without IO pruning; pruning in the wrong space
      * would silently drop partitions, because a residual Filter can
      * only narrow what the reader serves. Manual tokenLo/tokenHi
      * options are real-token semantics on every key type and pass
      * through untouched. */
    private val tokenRange: Option[(Long, Long)] = tokenSpace match {
      case None => tokenRangeOpt
      case Some(space) =>
        val kt = if (oldEra) oldSchema.keyType else header.keyType
        val compatible =
          if (space == SSTableBinaryV2.RenderedTokenSpace)
            kt == BigFormat.Utf8Type || kt == BigFormat.AsciiType
          else kt == space
        if (compatible) tokenRangeOpt else None
    }
    /** The point-lookup plan for this file when partition-key
      * predicates were pushed: None = full scan (no components or
      * the 2.x era); Some(positions) = consult
      * Filter.db then Index.db and decode EXACTLY those Data.db
      * offsets — the reference's bloom-gated `getPosition` path
      * (`NoTTLReader.java:1519-1575`) over our own components. A
      * bloom miss for every key skips the file without touching
      * Data.db at all. Keys that don't parse under the table's key
      * type simply cannot match. Index matches are exact, so bloom
      * false positives only cost the Index.db read. */
    private val lookup: Option[Seq[(Long, Array[Byte])]] =
      pointKeys.flatMap { keys =>
        val filterP = sibling("-Filter.db")
        val indexP = sibling("-Index.db")
        if (!hasSibling("-Filter.db") || !hasSibling("-Index.db")) None
        else {
          // the serialized bloom LAYOUT (hashCount + word array) is
          // identical across 2.1→3.x, but the BIT derivation is not:
          // 3.0 swapped the two hash words' roles
          // (`BloomFilter.setIndexes`'s oldBfHashOrder) — probe
          // pre-"ma" filters with the 2.x order or suffer silent
          // false negatives. Only the Index.db entry framing differs
          // beyond that.
          val keyType = if (oldEra) oldSchema.keyType else header.keyType
          val keyBytes = keys.flatMap(k =>
            scala.util.Try(BigFormat.encodeValue(keyType, k))
              .toOption)
          val bloom = SSTableComponents.readFilter(
            readSibling(filterP), oldHashOrder = oldEra)
          val candidates = keyBytes.filter(bloom.mightContain)
          if (candidates.isEmpty) Some(Nil)
          else {
            val wanted = candidates.map(_.toSeq).toSet
            // each owned position rides with its promoted payload so a
            // pushed clustering slice can seek WITHIN the partition; a
            // token range composes (a matched key OUTSIDE the ring
            // bounds must not serve — same exactness as every path)
            Some(readIndexFor(candidates, indexP)
              .collect { case (k, pos, prom) if wanted(k.toSeq) &&
                tokenIn(BigFormat.murmur3Token(k)) =>
                (pos, prom)
              }
              .sortBy(_._1))
          }
        }
      }

    /** Pushed clustering-slice bounds — a ':'-joined PREFIX of the
      * declared clustering columns (the composite string-carry
      * convention), each component encoded under its type — engaged
      * only on the point-lookup path against partitions whose index
      * entry was promoted (the reference's names-iterator shape). A
      * bound with MORE components than declared refuses loudly (the
      * composite-carry rule: a ':' inside a text component must never
      * silently shift a boundary — a shifted bound would prune WRONG
      * blocks); a component that doesn't encode under its type simply
      * disables pruning (conservative). The slice predicate always
      * stays residual in the caller's plan. */
    /** When the slice was PLANNER-derived (sliceSpace set by
      * [[graft.plans.PushClusteringSlice]]), pruning engages only if
      * the declared leading clustering type's comparator orders
      * exactly like the comparison space the predicate used — a
      * numeric predicate over a text clustering (or any type whose
      * comparator isn't the literal's order) must never prune.
      * Manual options (no space) keep the caller's assertion. */
    /** The clustering comparators slice bounds encode under —
      * era-dispatched: the 3.0+ serialization header's, or the 2.x
      * declared schema's (a COMPACT STORAGE 2.x table's names carry no
      * composite framing, so its bounds never engage — partitions
      * serve whole and the residual filter does the work). */
    private def sliceClusteringTypes: Seq[String] =
      if (oldEra) {
        if (oldSchema == null || oldSchema.compactStorage) Nil
        else oldSchema.clusteringTypes
      } else if (header == null) Nil
      else header.clusteringTypes

    private def sliceSpaceCompatible: Boolean = sliceSpace match {
      case None => true
      case Some(space) =>
        val leading = sliceClusteringTypes.head
        space match {
          case "long" => Set(BigFormat.Int32Type, BigFormat.LongType,
            BigFormat.ShortType, BigFormat.ByteType).contains(leading)
          case "string" => Set(BigFormat.Utf8Type, BigFormat.AsciiType)
            .contains(leading)
          case _ => false
        }
    }

    private val sliceBounds: (Seq[Array[Byte]], Seq[Array[Byte]]) =
      if (sliceClusteringTypes.isEmpty || !sliceSpaceCompatible)
        (Nil, Nil)
      else {
        val types = sliceClusteringTypes
        def enc(v: Option[String]): Seq[Array[Byte]] = v match {
          case None => Nil
          case Some(s) =>
            // planner-derived bounds (sliceSpace set) are ONE leading
            // component verbatim — a ':' in a text literal is data,
            // not a composite separator; only manual options use the
            // ':'-joined multi-component carry
            val parts =
              if (sliceSpace.isDefined) Seq(s)
              else s.split(":", -1).toSeq
            require(parts.size <= types.size,
              s"$file: slice bound '$s' carries ${parts.size} " +
                s"components against ${types.size} " +
                "declared clustering columns (a ':' inside a text " +
                "component is outside the string-carry subset)")
            val enc = parts.zip(types).map {
              case (p, t) =>
                scala.util.Try(BigFormat.encodeValue(t, p)).toOption
            }
            if (enc.exists(_.isEmpty)) Nil else enc.map(_.get)
        }
        (enc(slice._1), enc(slice._2))
      }

    /** Index entries that can match the candidate keys. With a
      * Summary.db present, its sampled (key, Index.db position)
      * marks bound the read to the candidate tokens' intervals — the
      * reference's index-summary binary search
      * (`NoTTLReader.java:1571-1575`) — so a point lookup reads
      * O(sampled-interval) index bytes, not the whole component
      * (one interval = MinIndexInterval partitions; one extra
      * interval is included conservatively because the summary marks
      * order by (token, key) while we search by token alone).
      * Without a summary, the full Index.db parses. */
    private def readIndexFor(candidates: Seq[Array[Byte]],
        indexP: HPath): Seq[BigFormat.IndexEntry] = {
      // 2.x: fixed-width entry framing — the summary-bounded slices
      // below parse with the MODERN framing, so the whole (small)
      // component parses instead
      if (oldEra)
        return SSTableComponents.readIndex2x(readSibling(indexP), file)
      // Summary.db when present, else rebuilt from the index (the
      // rebuild's one full read is this same component — no loss on
      // the first probe, and every later probe reads O(interval))
      val summary = summaryOrRebuilt().getOrElse(
        return SSTableComponents.readIndex(readSibling(indexP), file))
      val marks = summary.sampled.map { case (k, ip) =>
        (BigFormat.murmur3Token(k), ip)
      }
      if (marks.isEmpty) return Nil
      val idxLen = info.map(_.indexLen).filter(_ >= 0)
        .getOrElse(fs.getFileStatus(indexP).getLen)
      val ranges = candidates.flatMap { kb =>
        val t = BigFormat.murmur3Token(kb)
        val i = marks.lastIndexWhere(_._1 <= t)
        if (i < 0) None // token precedes the first partition: no match
        else {
          val startIdx = math.max(0, i - 1)
          val endIdx = i + 1
          Some((marks(startIdx)._2,
            if (endIdx < marks.length) marks(endIdx)._2 else idxLen))
        }
      }.sorted
      // merge overlapping ranges, then parse each slice
      val merged = ranges.foldLeft(List.empty[(Long, Long)]) {
        case (Nil, r) => List(r)
        case (acc @ ((s0, e0) :: rest), (s1, e1)) =>
          if (s1 <= e0) (s0, math.max(e0, e1)) :: rest else (s1, e1) :: acc
      }.reverse
      val in = fs.open(indexP)
      try merged.flatMap { case (start, end) =>
        val buf = new Array[Byte]((end - start).toInt)
        in.readFully(start, buf)
        SSTableComponents.readIndex(buf, file)
      } finally in.close()
    }

    /** Align the blind range to partition boundaries via the index
      * sidecar: Some((seekPos, stopPos)) = decode Data.db bytes
      * [seekPos, stopPos) exactly; None = no partition starts in the
      * range. A Summary.db bounds the index read — binary search over
      * the sampled marks by PROBED data position (one-entry reads at
      * mark offsets) finds where to start streaming, so a task parses
      * O(its own share) of the index, not all of it; without a
      * summary the stream starts at 0 but still stops at the first
      * entry past the range. */
    /** The task's owned span in LOGICAL (uncompressed) offsets. On a
      * plain file that IS the blind range. On a compressed file the
      * blind range is over ON-DISK bytes but Index.db positions are
      * logical offsets — Cassandra's contract — so the task claims
      * the chunks whose slot START falls inside its range (chunk
      * slots map 1:1 to logical spans: no chunk owned twice, none
      * orphaned) and works in their logical span. */
    private def logicalRange(): Option[(Long, Long)] =
      compressionMeta match {
        case None => Some((rangeStart, rangeEnd))
        case Some(m) =>
          val i0 = m.offsets.indexWhere(_ >= rangeStart)
          if (i0 < 0) None
          else {
            val i1 = m.offsets.indexWhere(_ >= rangeEnd)
            val s = i0.toLong * m.chunkLength
            val e =
              if (i1 < 0) m.dataLength else i1.toLong * m.chunkLength
            if (s >= e) None else Some((s, e))
          }
      }

    /** The ranged task's serving plan, three disjoint pieces:
      *  - `head`: a PROMOTED partition that STARTED in an earlier
      *    range and extends into this one — this task owns its blocks
      *    whose absolute start falls in [uncStart, uncEnd), headerless
      *    (the starting shard emits the partition deletion + static).
      *  - `stream`: whole partitions starting in the range, decoded
      *    sequentially (the existing bounded-stream path).
      *  - `tail`: the last owned partition when it is promoted AND
      *    crosses uncEnd — truncated to the blocks starting before
      *    uncEnd (with the header), the rest owned by later ranges.
      * A NON-promoted oversized partition stays whole-owned by its
      * starting range (there is nothing to re-frame by), the pre-
      * sub-split behavior. This is the straggler killer's second
      * stage: after file splits, ONE 100 GB Cassandra partition no
      * longer serializes its own decode — its promoted blocks tile
      * across the blind ranges like partitions tile across the file. */
    private case class RangePlan(
        head: Option[(Long, BigFormat.Promoted)],
        stream: Option[(Long, Long)],
        tail: Option[(Long, BigFormat.Promoted)],
        uncStart: Long, uncEnd: Long)

    private def alignRangePlan(): Option[RangePlan] = {
      val indexP = sibling("-Index.db")
      require(hasSibling("-Index.db"),
        s"$file: a split scan needs the Index.db sidecar")
      val (uncStart, uncEnd) = logicalRange().getOrElse(return None)
      val dataLen = compressionMeta.map(_.dataLength).getOrElse(onDiskLen)
      val in = fs.open(indexP)
      try {
        val startIndexPos: Long =
          // the old-era index (small, fixed-width entries) streams
          // from 0 and still stops at the first entry past the range;
          // `dataPosAt` below probes with the MODERN framing, so the
          // summary bound stays modern-only — but a summaryless
          // modern file gets it via the cached rebuild
          if (oldEra) 0L
          else {
            val marks = summaryOrRebuilt().map(_.sampled.map(_._2))
              .getOrElse(Nil)
            def dataPosAt(ip: Long): Long = {
              in.seek(ip)
              SSTableComponents.indexEntries(new java.io.DataInputStream(
                new java.io.BufferedInputStream(in, 4096)), file)
                .next()._2
            }
            var lo = 0
            var hi = marks.length - 1
            var best = 0L
            while (lo <= hi) {
              val mid = (lo + hi) / 2
              if (dataPosAt(marks(mid)) <= uncStart) {
                best = marks(mid); lo = mid + 1
              } else hi = mid - 1
            }
            best
          }
        in.seek(startIndexPos)
        val entryStream = new java.io.DataInputStream(
          new java.io.BufferedInputStream(in))
        val entries =
          if (oldEra) SSTableComponents.indexEntries2x(entryStream, file)
          else SSTableComponents.indexEntries(entryStream, file)
        var prevPos = -1L
        var prevPromoted: Array[Byte] = Array.emptyByteArray
        var lastPos = -1L
        var lastPromoted: Array[Byte] = Array.emptyByteArray
        var seekPos = -1L
        var stopPos = dataLen
        var done = false
        while (!done && entries.hasNext) {
          val e = entries.next()
          val pos = e._2
          if (pos >= uncEnd) { stopPos = pos; done = true }
          else if (pos >= uncStart) {
            if (seekPos < 0) seekPos = pos
            lastPos = pos; lastPromoted = e._3
          } else { prevPos = pos; prevPromoted = e._3 }
        }
        def parse(bytes: Array[Byte]): BigFormat.Promoted =
          BigFormat.readPromoted(bytes, header.clusteringTypes, file)
        val head =
          if (oldEra || prevPos < 0 || prevPromoted.isEmpty) None
          else {
            val pr = parse(prevPromoted)
            // own a continuation only when a block genuinely starts
            // here — a slim predecessor ends before uncStart and a
            // sub-block-sized range may own nothing of a giant
            if (pr.blocks.exists(b => prevPos + b.offset >= uncStart &&
              prevPos + b.offset < uncEnd)) Some((prevPos, pr))
            else None
          }
        // the last owned partition ends at stopPos (partitions tile
        // the data file); past uncEnd = it crosses into later ranges
        val tail =
          if (oldEra || lastPos < 0 || stopPos <= uncEnd ||
            lastPromoted.isEmpty) None
          else Some((lastPos, parse(lastPromoted)))
        val stream =
          if (seekPos < 0) None
          else if (tail.isDefined) {
            if (seekPos == lastPos) None else Some((seekPos, lastPos))
          } else Some((seekPos, stopPos))
        if (head.isEmpty && stream.isEmpty && tail.isEmpty) None
        else Some(RangePlan(head, stream, tail, uncStart, uncEnd))
      } finally in.close()
    }

    /** Caps a stream at the range's byte budget so the partition
      * decoder sees clean EOF exactly at the split boundary. */
    private class BoundedStream(in: java.io.InputStream,
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
      override def close(): Unit = in.close()
    }

    if (verify && rangeStart == 0L) verifyDigest()

    private var fullStream: java.io.InputStream = null
    private var indexStream: org.apache.hadoop.fs.FSDataInputStream = null

    /** Serve one indexed partition: sliced (promoted blocks consumed)
      * when slice bounds are engaged and the entry promoted, whole
      * otherwise — shared by the point-lookup and slice-scan modes. */
    private def servePosition(pos: Long,
        promoted: Array[Byte]): Iterator[InternalRow] = {
      val slicing = (sliceBounds._1.nonEmpty ||
        sliceBounds._2.nonEmpty) && promoted.nonEmpty
      if (slicing && !oldEra) {
        val pr = BigFormat.readPromoted(promoted,
          header.clusteringTypes, file)
        expand(BigFormat.readPartitionSliced(header, openDataAt, pos,
          pr, sliceBounds._1, sliceBounds._2, file))
      } else if (slicing && oldEra) {
        // the 2.x promoted entry (2.1 IndexedEntry) consumed — the
        // reference's readIndexedColumns shape applied to a slice
        val pr = OldFormat.readPromoted2x(promoted, file)
        expand2(OldFormat.readPartitionSliced2x(oldSchema, openDataAt,
          pos, pr, sliceBounds._1, sliceBounds._2, file))
      } else if (oldEra)
        expand2(OldFormat.partitions(oldSchema, openDataAt(pos), file)
          .next())
      else
        expand(BigFormat.partitions(header, openDataAt(pos), file)
          .next())
    }

    /** SLICE-SCAN mode: no partition-key predicate, but clustering
      * slice bounds are engaged and an Index.db sidecar exists — so
      * instead of streaming Data.db whole, walk the primary index and
      * serve every (owned) partition through [[servePosition]]: wide
      * partitions decode ONLY their overlapping promoted blocks, slim
      * ones decode whole. This is the reference's
      * ClusteringIndexSliceFilter read shape applied to a scan: at
      * 100 TB a narrow slice over wide partitions reads O(overlap),
      * not O(table). The index streams (never materializes — its size
      * scales with the file) and ranged tasks claim entries by the
      * same logical-offset ownership the split aligner uses. */
    private def sliceScan(): Iterator[Iterator[InternalRow]] = {
      val indexIn = fs.open(sibling("-Index.db"))
      indexStream = indexIn
      val din = new java.io.DataInputStream(
        new java.io.BufferedInputStream(indexIn))
      val entries =
        if (oldEra) SSTableComponents.indexEntries2x(din, file)
        else SSTableComponents.indexEntries(din, file)
      val owned: Iterator[BigFormat.IndexEntry] =
        if (!ranged) entries
        else logicalRange() match {
          case None => Iterator.empty
          case Some((ls, le)) => entries
            .dropWhile(_._2 < ls).takeWhile(_._2 < le)
        }
      // token filtering rides the walk: entries stream in token order,
      // so a non-wrapping range stops at the first token past hi
      val inRange: Iterator[BigFormat.IndexEntry] = tokenRange match {
        case None => owned
        case Some((lo, hi)) if lo <= hi =>
          owned.map(e => (BigFormat.murmur3Token(e._1), e))
            .takeWhile(_._1 <= hi)
            .collect { case (t, e) if t >= lo => e }
        case Some(_) =>
          owned.filter(e => tokenIn(BigFormat.murmur3Token(e._1)))
      }
      inRange.map { case (_, pos, promoted) =>
        servePosition(pos, promoted)
      }
    }

    /** Exact token filtering for the INDEX-LESS fallback: a manual
      * token range must never over-serve just because a file has no
      * Index.db to walk — the whole file still streams (nothing to
      * seek by), but only member partitions surface, and a
      * non-wrapping range stops decoding at the first key past `hi`
      * (partitions stream in token order). Keeps the option's
      * semantics uniform across component-rich and bare files. */
    private def tokenGate[P](it: Iterator[P],
        keyOf: P => String): Iterator[P] = tokenRange match {
      case None => it
      case Some((lo, hi)) =>
        def tok(p: P): Long = {
          val kt = if (oldEra) oldSchema.keyType else header.keyType
          BigFormat.murmur3Token(BigFormat.encodeValue(kt, keyOf(p)))
        }
        if (lo <= hi)
          it.map(p => (tok(p), p)).takeWhile(_._1 <= hi)
            .collect { case (t, p) if t >= lo => p }
        else it.filter(p => tokenIn(tok(p)))
    }

    private def sliceScanEligible: Boolean =
      (sliceBounds._1.nonEmpty || sliceBounds._2.nonEmpty ||
        tokenRange.isDefined || scrub) &&
        hasSibling("-Index.db")

    /** FILE-level clustering-slice skip — Cassandra's
      * `ClusteringIndexSliceFilter.shouldInclude(sstable)`: the
      * STATS component's min/maxClusteringValues bound every
      * clustering prefix in the file, so a pushed slice whose window
      * sits entirely above the file's maximum LEADING value (or
      * below its minimum) skips the whole file without touching
      * Index.db or Data.db — the elision those bounds exist FOR, and
      * at 100 TB the difference between "scan every generation" and
      * "touch the two that can match" on time-ordered clusterings.
      * Engages only through [[sliceBounds]] (already typed-encoded
      * and space-gated) and only on STRICT leading-component
      * inequality — an equal bound can still match, and later slice
      * components can never un-skip soundly. Absent bounds
      * (pre-round-15 sink output, clusterless tables) never skip. */
    private lazy val fileClusteringDisjoint: Boolean = {
      if (oldEra || header == null || header.clusteringTypes.isEmpty ||
        (sliceBounds._1.isEmpty && sliceBounds._2.isEmpty) ||
        !hasSibling("-Statistics.db")) false
      else {
        val bounds =
          try BigFormat.readStatsModern(
            readSibling(sibling("-Statistics.db")), version)
          catch { case scala.util.control.NonFatal(_) => None }
        bounds match {
          case None => false
          case Some(s) if s.minClusteringValues.isEmpty ||
            s.maxClusteringValues.isEmpty => false
          case Some(s) =>
            val t = header.clusteringTypes.head
            val fMin = s.minClusteringValues.head.toArray
            val fMax = s.maxClusteringValues.head.toArray
            val loKills = sliceBounds._1.headOption.exists(lo =>
              BigFormat.compareEncoded(t, lo, fMax) > 0)
            val hiKills = sliceBounds._2.headOption.exists(hi =>
              BigFormat.compareEncoded(t, hi, fMin) < 0)
            loKills || hiKills
        }
      }
    }

    /** Wrap-around-aware Murmur3 token-range membership — the
      * reference's S4 range semantics (`lo > hi` wraps through the
      * ring's ends, exactly how Cassandra token ranges do). */
    private def tokenIn(t: Long): Boolean = tokenRange match {
      case None => true
      case Some((lo, hi)) =>
        if (lo <= hi) t >= lo && t <= hi else t >= lo || t <= hi
    }

    /** FILE-level token skip: the Summary.db tail carries the
      * generation's first/last keys (`SSTableReader.saveSummary`'s
      * appendix); a file whose [token(first), token(last)] span —
      * contiguous, files are token-ordered — is disjoint from the
      * requested range is skipped without touching Index.db or
      * Data.db, the way Cassandra's getScanner(ranges) elides
      * non-overlapping sstables. Absent summary = no skip (serve and
      * let the per-partition walk filter). */
    private def fileTokenDisjoint: Boolean = tokenRange match {
      case None => false
      case Some((lo, hi)) =>
        // a summaryless (or 2.x) generation still gets file-level
        // elision: the summary rebuilds from Index.db once per
        // executor and caches — losing Summary.db must not turn a
        // ranged scan back into reading every file
        summaryOrRebuilt() match {
          case None => false
          case Some(sm) if sm.sampled.isEmpty => false
          case Some(sm) =>
            val tFirst = BigFormat.murmur3Token(sm.firstKey)
            val tLast = BigFormat.murmur3Token(sm.lastKey)
            val overlaps =
              if (lo <= hi) !(hi < tFirst || lo > tLast)
              else tLast >= lo || tFirst <= hi
            !overlaps
        }
    }

    /** SCRUB mode — Cassandra's `sstablescrub` re-expressed as a read
      * option: salvage every decodable partition of a damaged
      * generation instead of failing the job (at 100 TB one corrupt
      * partition must not kill a multi-hour scan). With an Index.db
      * sidecar the scan is forced INDEX-PACED (each partition an
      * independent seek via [[servePosition]] — `resync = true`), so
      * a decode failure skips exactly that partition and resumes at
      * the next index entry. Without an index there is nothing to
      * re-frame by, so the salvage keeps the intact PREFIX and
      * abandons the file remainder loudly — strictly more than the
      * all-or-nothing alternative. One partition is materialized at
      * a time (the reader's existing memory bound); every skip is
      * WARN-logged with the file and cause. Trade-off stated: index
      * pacing seeks per partition where a healthy scan would stream
      * sequentially — scrub is a recovery mode, not the default. */
    private var scrubSkipped = 0
    private def salvaged(src: Iterator[Iterator[InternalRow]],
        resync: Boolean): Iterator[Iterator[InternalRow]] =
      new Iterator[Iterator[InternalRow]] {
        private var queued: Iterator[InternalRow] = null
        private var dead = false
        private def warn(e: Throwable, where: String,
            outcome: String): Unit = {
          scrubSkipped += 1
          org.slf4j.LoggerFactory.getLogger(classOf[BinPartitionReader])
            .warn(s"$file: scrub skipped $where " +
              s"(${e.getClass.getSimpleName}: ${e.getMessage}); " +
              outcome)
        }
        private def advance(): Unit =
          while (queued == null && !dead) {
            val hasMore =
              try src.hasNext
              catch { case scala.util.control.NonFatal(e) =>
                // the WALK itself broke (e.g. a corrupt Index.db
                // entry): nothing left to resync by, whatever mode —
                // say so, don't claim resumption
                warn(e, "the partition walk",
                  "abandoning the file remainder (the walk cannot " +
                    "be re-framed)")
                dead = true; false }
            if (!hasMore) dead = true
            else try queued = src.next().toArray.iterator
            catch {
              case scala.util.control.NonFatal(e) =>
                warn(e, "a corrupt partition",
                  if (resync) "resuming at the next index entry"
                  else "abandoning the file remainder (no Index.db " +
                    "to re-frame by)")
                if (!resync) dead = true
            }
          }
        override def hasNext: Boolean = { advance(); queued != null }
        override def next(): Iterator[InternalRow] = {
          advance()
          if (queued == null) throw new NoSuchElementException
          val q = queued; queued = null; q
        }
      }

    private var partitionsServed = 0L
    private var filesSkippedBloom = 0L
    private var filesSkippedTokenSpan = 0L
    private var filesSkippedClustering = 0L
    // file-level skip metrics count once per FILE: a split file makes
    // one reader per range, and every range evaluates the same gate —
    // only the zero-offset owner reports, or the UI would show N
    // skips for one file (the digest-verify ownership rule)
    private val ownsFileMetrics = rangeStart == 0L
    private val parts: Iterator[Iterator[InternalRow]] = {
      val base: Iterator[Iterator[InternalRow]] =
      if (fileTokenDisjoint) {
        if (ownsFileMetrics) filesSkippedTokenSpan += 1
        Iterator.empty
      }
      else if (fileClusteringDisjoint) {
        if (ownsFileMetrics) filesSkippedClustering += 1
        Iterator.empty
      }
      else lookup match {
      case Some(Seq()) => // bloom-negative: file skipped
        if (ownsFileMetrics) filesSkippedBloom += 1
        Iterator.empty
      case Some(positions) =>
        // a split task serves only the indexed positions it owns —
        // compared in LOGICAL offsets (positions always are)
        val owned =
          if (!ranged) positions
          else logicalRange() match {
            case None => Nil
            case Some((ls, le)) =>
              positions.filter { case (p, _) => p >= ls && p < le }
          }
        owned.iterator.map { case (pos, promoted) =>
          servePosition(pos, promoted)
        }
      case None if sliceScanEligible => sliceScan()
      case None if ranged =>
        alignRangePlan() match {
          case None => Iterator.empty
          case Some(plan) =>
            // head/tail are sub-partition shards of promoted giants:
            // headerless continuation blocks, then the sequential
            // whole-partition stream, then the truncated tail owner
            val headIt = plan.head.iterator.map { case (pos, pr) =>
              expand(BigFormat.readPartitionBlocks(header, openDataAt,
                pos, pr, plan.uncStart, plan.uncEnd,
                serveHeader = false, file))
            }
            // LAZY: the shared seekable handle serves all three
            // pieces, so the stream must not position it until the
            // head shard has been fully consumed
            val streamIt: Iterator[Iterator[InternalRow]] =
              plan.stream.iterator.flatMap { case (seekPos, stopPos) =>
                fullStream = new BoundedStream(openDataAt(seekPos),
                  stopPos - seekPos)
                if (oldEra)
                  OldFormat.partitions(oldSchema, fullStream, file)
                    .map(expand2)
                else BigFormat.partitions(header, fullStream, file)
                  .map(expand)
              }
            val tailIt = plan.tail.iterator.map { case (pos, pr) =>
              expand(BigFormat.readPartitionBlocks(header, openDataAt,
                pos, pr, pos, plan.uncEnd, serveHeader = true, file))
            }
            headIt ++ streamIt ++ tailIt
        }
      case None =>
        fullStream = openFullStream()
        if (oldEra)
          tokenGate[OldFormat.Partition2](
            OldFormat.partitions(oldSchema, fullStream, file), _.key)
            .map(expand2)
        else tokenGate[BigFormat.PartitionData](
          BigFormat.partitions(header, fullStream, file), _.key)
          .map(expand)
      }
      if (!scrub) base
      // resync iff partitions are independently seeked: pushed point
      // positions, or the index-paced walk scrub itself forces on
      else salvaged(base, resync = lookup.isDefined || sliceScanEligible)
    }
    private var pending: Iterator[InternalRow] = Iterator.empty
    private var row: InternalRow = _

    private def utf8(s: String): UTF8String = UTF8String.fromString(s)

    private def cellRow(value: Option[String], wtUs: Long,
        ttlS: Option[Int], expireUs: Option[Long]): InternalRow =
      InternalRow(value.map(utf8).orNull, wtUs, ttlS.map(Int.box).orNull,
        expireUs.map(Long.box).orNull)

    private def cellStruct(value: Option[String], wtUs: Long,
        ttlS: Option[Int]): InternalRow =
      cellRow(value, wtUs, ttlS, expiryUs(wtUs, ttlS))

    private def project(pk: String, clustering: Seq[Option[String]],
        rowKind: String, name: String, cell: InternalRow,
        deletionUs: java.lang.Long): InternalRow = {
      val clust =
        if (clustering == null) null
        else new GenericArrayData(
          clustering.map(_.map(utf8).orNull).toArray[Any])
      InternalRow.fromSeq(cols.toIndexedSeq.map {
        case "partition_key" => utf8(pk)
        case "clustering" => clust
        case "row_kind" => utf8(rowKind)
        case "name" => if (name == null) null else utf8(name)
        case "cell" => cell
        case "deletion_us" => deletionUs
        case "sstable" => utf8(sstable)
        case other =>
          throw new IllegalArgumentException(s"unknown column $other")
      })
    }

    /** A decoded partition's bridge rows ([[bridgeRows]]). */
    private def expand(p: BigFormat.PartitionData): Iterator[InternalRow] =
      bridgeRows[InternalRow, InternalRow](p, file, everyLiveness = false)(
        cellRow, project(p.key, _, _, _, _, _))

    /** Bridge rows from a 2.x partition — the same row-kind contract
      * as [[expand]]: the CQL3 row-marker cell (empty column name) is
      * the row's PK_LIVENESS; deleted cells are CELL_DELETION with
      * their local-deletion second riding in expire_us; counter and
      * plain cells are ROW; 2.x range tombstones (which is also how
      * that era stores CQL row deletes) are RANGE_TOMBSTONE_BOUND
      * pairs with eoc-derived inclusivity. */
    private def expand2(p: OldFormat.Partition2): Iterator[InternalRow] = {
      val out = Seq.newBuilder[InternalRow]
      p.deletionUs.foreach(del =>
        out += project(p.key, null, "PARTITION_DELETION", null, null, del))
      p.atoms.foreach {
        case c: OldFormat.Cell2 =>
          val clust = c.clustering.map(Option(_))
          if (c.name.isEmpty && !c.deleted)
            out += project(p.key, clust, "PK_LIVENESS", null,
              cellStruct(None, c.tsUs, c.ttlS), null)
          else if (c.deleted)
            out += project(p.key, clust, "CELL_DELETION", c.name,
              InternalRow(null, c.tsUs, null,
                c.ldtS.map(l => Long.box(l.toLong * 1000000L)).orNull),
              c.tsUs)
          else
            out += project(p.key, clust, "ROW", c.name,
              cellStruct(c.value, c.tsUs, c.ttlS), null)
        case t: OldFormat.Tombstone2 =>
          out += project(p.key, t.start.map(Option(_)),
            "RANGE_TOMBSTONE_BOUND",
            if (t.startInclusive) "start:inclusive" else "start:exclusive",
            null, t.deletionUs)
          out += project(p.key, t.end.map(Option(_)),
            "RANGE_TOMBSTONE_BOUND",
            if (t.endInclusive) "end:inclusive" else "end:exclusive",
            null, t.deletionUs)
      }
      out.result().iterator
    }

    override def next(): Boolean = {
      while (!pending.hasNext && parts.hasNext) {
        pending = parts.next()
        partitionsServed += 1
      }
      if (!pending.hasNext) false
      else { row = pending.next(); true }
    }

    override def get(): InternalRow = row

    override def currentMetricsValues()
        : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
      Array(
        TaskMetric(MetricPartitionsServed, partitionsServed),
        TaskMetric(MetricFilesSkippedBloom, filesSkippedBloom),
        TaskMetric(MetricFilesSkippedTokenSpan, filesSkippedTokenSpan),
        TaskMetric(MetricPartitionsScrubSkipped, scrubSkipped.toLong),
        TaskMetric(MetricComponentCacheHits, cacheHits),
        TaskMetric(MetricComponentCacheMisses, cacheMisses),
        TaskMetric(MetricThrottledBytes, throttleAccount.bytes),
        TaskMetric(MetricThrottleWaitNanos, throttleAccount.waitNanos),
        TaskMetric(MetricActivityMarks, activityMarked),
        TaskMetric(MetricFilesSkippedClustering, filesSkippedClustering))

    override def close(): Unit = {
      if (fullStream != null) fullStream.close()
      super[SSTableOpen].close()
      if (indexStream != null) indexStream.close()
    }
  }

  /** A live cell's expiry in micros: writetime + TTL, the bridge's
    * arithmetic (the on-disk localExpirationTime is its second-granular
    * twin). */
  private def expiryUs(wtUs: Long, ttlS: Option[Int]): Option[Long] =
    ttlS.map(t => wtUs + t.toLong * 1000000L)

  /** A cell's bridge-row name: a complex column's cell carries its path
    * name-encoded, "attrs[k1]", keeping the bridge frame's 7-column
    * shape; the sink parses it back ([[splitPath]]). */
  private def bridgeName(c: BigFormat.CellAtom): String =
    c.path.fold(c.name)(pth => s"${c.name}[$pth]")

  /** One decoded partition as bridge rows, the mapping the binary reader
    * and the merged sinks ([[mergeRows]]) share. `row` builds a row from
    * its clustering (NULL for a STATIC row, the sentinel distinguishing
    * it from a clusteringless table's rows, which carry an EMPTY
    * clustering; the sink maps it back), kind, name, cell (NULL on a
    * marker) and deletion; `cell` builds a cell from its value,
    * writetime, TTL and expiry in micros. Primary-key liveness becomes a
    * PK_LIVENESS row on a row with neither cells nor a row deletion, or
    * on every row when `everyLiveness`. `file` names the input in
    * errors. */
  private[sources] def bridgeRows[C >: Null, R](p: BigFormat.PartitionData,
      file: String, everyLiveness: Boolean)(
      cell: (Option[String], Long, Option[Int], Option[Long]) => C,
      row: (Seq[Option[String]], String, String, C, java.lang.Long) => R)
      : Iterator[R] = {
    val out = Seq.newBuilder[R]
    p.deletionUs.foreach(del =>
      out += row(null, "PARTITION_DELETION", null, null, del))
    p.atoms.foreach {
      case r: BigFormat.RowAtom =>
        val clust = if (r.static) null else r.clustering
        r.deletionUs.foreach(del =>
          out += row(clust, "ROW_DELETION", null, null, del))
        // whole-collection tombstones: their own row kind, the column
        // name bare (no path — the delete covers them all)
        r.complexDeletions.foreach { case (colName, del) =>
          out += row(clust, "COMPLEX_DELETION", colName, null, del)
        }
        r.cells.foreach { c =>
          if (c.deleted)
            // the tombstone's full identity rides along: the cell
            // carries the deletion timestamp (writetime_us) and the
            // local deletion second (expire_us, micros) so the binary
            // SINK can re-encode the atom losslessly; deletion_us stays
            // the audit-visible column
            out += row(clust, "CELL_DELETION", bridgeName(c),
              cell(None, c.tsUs, None, c.ldtS.map(_.toLong * 1000000L)),
              c.tsUs)
          else
            out += row(clust, "ROW", bridgeName(c),
              cell(c.value, c.tsUs, c.ttlS, expiryUs(c.tsUs, c.ttlS)), null)
        }
        if (r.livenessTsUs.isDefined && (everyLiveness ||
          r.cells.isEmpty && r.deletionUs.isEmpty))
          out += row(clust, "PK_LIVENESS", null,
            cell(None, r.livenessTsUs.get, r.livenessTtlS,
              expiryUs(r.livenessTsUs.get, r.livenessTtlS)), null)
      case m: BigFormat.MarkerAtom =>
        m.deletions.zipWithIndex.foreach { case (del, side) =>
          out += row(m.clustering, "RANGE_TOMBSTONE_BOUND",
            boundName(m.kind, side, file), null, del)
        }
    }
    out.result().iterator
  }

  // =====================================================================
  // fixture + registered audit
  // =====================================================================

  /** One `documents` row as the fixtures read it, with what every
    * fixture derives from it: the write time `TreeBase + doc_id` (in
    * seconds and micros) and the even-doc TTL rule — even doc_ids
    * except multiples of 100 carry TTL `doc_id % 100`. */
  private[sources] final case class FixtureDoc(docId: Long, source: String,
      nChars: Long) {
    def wtSec: Long = SSTableDumpBridge.TreeBase + docId
    def wtUs: Long = wtSec * 1000000L
    def ttl: Option[Int] =
      if (docId % 2 == 0 && docId % 100 != 0) Some((docId % 100).toInt)
      else None
    /** The expiry second of a TTL'd cell written `offS` s after the doc. */
    def ldt(offS: Long = 0L): Option[Int] =
      ttl.map(t => (wtSec + offS + t).toInt)
  }

  /** The scaffold every fixture writer shares: loads `documents`,
    * groups the docs by `doc_id % files` into one Spark task per output
    * file (the codec is the honest `mapGroups` boundary, the same place
    * the multimodal ops draw it), and hands `task` the file id, that
    * file's docs in doc_id order and a writer of `<dir>/documents/
    * <name>` through the session Hadoop FS. Returns the directory
    * (the caller owns its deletion) and each task's result — a
    * fixture-sized manifest; the data never leaves the executors. */
  private[sources] def buildFixture(spark: SparkSession, sfDir: String,
      prefix: String, files: Int = SSTableDumpBridge.TreeFiles)(
      task: (Int, Seq[FixtureDoc], (String, Array[Byte]) => Unit) => Int)
      : (java.nio.file.Path, Seq[Int]) = {
    import spark.implicits._
    val out = graft.Scratch.dir(prefix)
    val outStr = out.toString
    val hconf = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    val results = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id").cast("long"), col("source"),
        col("n_chars").cast("long"))
      .as[(Long, String, Long)]
      .groupByKey { case (docId, _, _) => (docId % files).toInt }
      .mapGroups { (fileId, docs) =>
        val fs = FileSystem.get(
          java.net.URI.create(outStr), hconf.value.value)
        def write(name: String, bytes: Array[Byte]): Unit = {
          val os = fs.create(new HPath(s"$outStr/documents/$name"), true)
          try os.write(bytes) finally os.close()
        }
        task(fileId, docs.map(FixtureDoc.tupled).toSeq.sortBy(_.docId), write)
      }
      .collect()
    (out, results.toSeq)
  }

  /** A fixture file's Data.db; with `compression`, chunked the
    * default-config Cassandra way (16 KiB chunks, the 4.1 default
    * chunk_length_in_kb; ADLER32 chunk checksums under `adler`, the
    * pre-3.0 era) beside its CompressionInfo.db. */
  private def writeFixtureData(write: (String, Array[Byte]) => Unit,
      prefix: String, version: String, data: Array[Byte],
      compression: Option[String], adler: Boolean = false): Unit =
    compression match {
      case Some(comp) =>
        val (cbytes, meta) =
          CompressedData.compress(data, 16 * 1024, comp, adler)
        write(s"${prefix}Data.db", cbytes)
        write(s"${prefix}CompressionInfo.db", CompressedData.writeMeta(meta,
          CompressedData.versionHasMaxCompressedSize(version)))
      case None => write(s"${prefix}Data.db", data)
    }

  /** The modern-era encoder of fixture file `<version>-<fileId + 1>`:
    * Data.db (see [[writeFixtureData]]) and Statistics.db. The
    * serialization header declares `keyType`, one text clustering
    * column and the `static`/`regular` columns; its EncodingStats
    * minima come from the encoded values ([[encodingMinima]], as
    * Cassandra's collector computes them), and the key-cardinality
    * sketch rides along. Returns the partition count. */
  private def encodeModernFixture(write: (String, Array[Byte]) => Unit,
      fileId: Int, parts: Seq[BigFormat.PartitionData],
      regular: Seq[(String, String)], static: Seq[(String, String)] = Nil,
      keyType: String = BigFormat.Utf8Type, version: String = "nb",
      compression: Option[String] = None): Int = {
    val (minTs, minLdt, minTtl) = encodingMinima(parts)
    val header = BigFormat.Header(minTs, minLdt, minTtl, keyType,
      clusteringTypes = Seq(BigFormat.Utf8Type), staticColumns = static,
      regularColumns = regular)
    val prefix = s"$version-${fileId + 1}-big-"
    writeFixtureData(write, prefix, version,
      BigFormat.writeDataFile(parts, header), compression)
    write(s"${prefix}Statistics.db", BigFormat.writeStats(header, version,
      compaction = Some(KeyCardinality.writeComponent(
        KeyCardinality.sketchOf(parts.iterator.map(p =>
          BigFormat.encodeValue(keyType, p.key)))))))
    parts.size
  }

  /** Every sidecar a 2.x fixture file can carry beside its Data.db. */
  private val Sidecars2x =
    Set("Index.db", "Summary.db", "Filter.db", "Statistics.db")

  /** The 2.x-era encoder of fixture file `graft-documents-ka-<fileId +
    * 1>`: the [[OldFormat]] Data.db under the `cql` declaration (LZ4
    * chunks with ADLER32 checksums under `compress`; a positive
    * `columnIndexSize` promotes wide partitions' Index.db entries),
    * then exactly the `sidecars` named — several readers are tested
    * against index-less 2.x files. Returns the Index.db entries. */
  private[sources] def encode2xFixture(write: (String, Array[Byte]) => Unit,
      fileId: Int, parts: Seq[OldFormat.Partition2], cql: String,
      sidecars: Set[String] = Set.empty, compress: Boolean = false,
      columnIndexSize: Int = 0): Seq[(Array[Byte], Long, Array[Byte])] = {
    val gen = fileId + 1
    val prefix = s"graft-documents-ka-$gen-"
    val schema = OldFormat.schemaOfCql(graft.model.CqlSchema.parse(cql)
      .fold(e => throw new IllegalArgumentException(e), identity))
    val (dataBytes, index) =
      OldFormat.writeDataFileIndexed(parts, schema, columnIndexSize)
    writeFixtureData(write, prefix, "ka", dataBytes,
      if (compress) Some(CompressedData.Lz4) else None, adler = true)
    // the 2.x sidecars the reference's own getPosition path
    // consults: fixed-width Index.db entries (logical offsets —
    // valid under compression too) and the Murmur3 bloom in the
    // PRE-3.0 hash-word order a real ka/la generation carries
    // (oldBfHashOrder — a fixture written with the modern order
    // would mask reader-side order bugs)
    if (sidecars("Index.db"))
      write(s"${prefix}Index.db", SSTableComponents.writeIndex2x(index))
    // the era's Summary.db in its literal layout (sampled marks
    // carry Index.db offsets)
    if (sidecars("Summary.db") && index.nonEmpty)
      write(s"${prefix}Summary.db", SSTableComponents.writeSummary2x(
        SSTableComponents.sampleIndex2x(index), index.size.toLong,
        index.head._1, index.last._1))
    if (sidecars("Filter.db")) {
      val bloom = SSTableComponents
        .newBloom(index.size.toLong, oldHashOrder = true)
      index.foreach { case (k, _, _) => bloom.add(k) }
      write(s"${prefix}Filter.db", SSTableComponents.writeFilter(bloom))
    }
    if (sidecars("Statistics.db"))
      write(s"${prefix}Statistics.db", fixtureStats2x(parts, index, gen))
    index
  }

  /** The pre-3.0 StatsMetadata sidecar of a 2.x fixture file (min/max
    * timestamp over every atom, max local-deletion second) — what the
    * sidecar inventory reports for ka/la generations instead of
    * NULLs. */
  private def fixtureStats2x(parts: Seq[OldFormat.Partition2],
      index: Seq[(Array[Byte], Long, Array[Byte])], gen: Int)
      : Array[Byte] = {
    val allTs = parts.iterator.flatMap(p =>
      p.deletionUs.iterator ++ p.atoms.iterator.map {
        case c: OldFormat.Cell2 => c.tsUs
        case t: OldFormat.Tombstone2 => t.deletionUs
      }).toSeq
    val maxLdt = parts.iterator.flatMap(_.atoms.iterator).map {
      case c: OldFormat.Cell2 => c.ldtS.getOrElse(Int.MaxValue)
      case t: OldFormat.Tombstone2 => (t.deletionUs / 1000000L).toInt
    }.foldLeft(Int.MinValue)(_ max _)
    // the tombstone drop-time histogram + column-count total the
    // droppability estimates read back, collected from the atoms
    // actually written (MetadataCollector's role): EVERY atom
    // with a finite local-deletion time contributes — partition
    // deletions, range tombstones AND expiring/deleted cells
    // (Cassandra 2.x's updateLocalDeletionTime skips only the
    // live sentinel; TTL'd data counting as droppable is the
    // whole point of the ratio)
    val dropTimes = parts.iterator.flatMap(p =>
      p.deletionUs.iterator.map(_ / 1000000L) ++
        p.atoms.iterator.flatMap {
          case t: OldFormat.Tombstone2 =>
            Iterator.single(t.deletionUs / 1000000L)
          case c: OldFormat.Cell2 =>
            c.ldtS.iterator.map(_.toLong)
        }).map(_.toDouble).toSeq
    val nCells = parts.iterator.map(_.atoms.count {
      case _: OldFormat.Cell2 => true
      case _ => false
    }.toLong).sum
    // 2.1's min/maxColumnNames: per-clustering-component bounds
    // over every cell's composite name AND both range-tombstone
    // bounds (ColumnFamily.getColumnStats feeds the collector
    // from cells and deletionInfo alike); the fixture's declared
    // clustering is text, so the comparator is byte-lexicographic
    val clNames = parts.iterator.flatMap(_.atoms.iterator.flatMap {
      case c: OldFormat.Cell2 => Iterator.single(c.clustering)
      case t: OldFormat.Tombstone2 => Iterator(t.start, t.end)
    }).toSeq
    def nameBound(worse: (String, String) => Boolean): Seq[Seq[Byte]] =
      if (clNames.isEmpty) Nil
      else (0 until clNames.map(_.size).min).map { i =>
        clNames.map(_(i)).reduce((a, b) => if (worse(a, b)) b else a)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          .toIndexedSeq: Seq[Byte]
      }
    OldFormat.writeStats2x(
      OldFormat.Stats2x(allTs.min, allTs.max, maxLdt,
        sstableLevel = 0, repairedAt = 0L,
        tombstoneDropTime = OldFormat.TombstoneHistogram.of(dropTimes),
        estColumnsTotal = nCells,
        minColumnNames = nameBound(_ > _),
        maxColumnNames = nameBound(_ < _)), index.size.toLong,
      compaction = Some(KeyCardinality.writeComponent2x(
        KeyCardinality.sketchOf(index.iterator.map(_._1)),
        // a designed compacted-from lineage (2.x CompactionMetadata
        // ancestors — gen arithmetic the oracle replays)
        ancestors = Seq(gen * 2, gen * 2 + 1))))
  }

  /** Binary twin of [[SSTableDumpBridge.writeTreeFixture]]: the SAME
    * logical content (each document one partition in file
    * `doc_id % 4`, shape by `doc_id % 10`: 3 → partition tombstone,
    * 7 → row tombstone, 5 → primary-key-only insert, else a live row
    * with a row-timestamp `len` cell and an own-timestamp `src` cell;
    * even doc_ids carry row TTL `doc_id % 100`) — encoded as big-format
    * `nb-<gen>-big-Data.db` + `-Statistics.db` pairs instead of JSON.
    * One genuinely binary divergence, invisible to the audit: a TTL of
    * 0 is `LivenessInfo.NO_TTL` on disk (no such thing as an expiring
    * cell with ttl=0), so `doc_id % 100 == 0` rows decode ttl as NULL
    * where the JSON path reads 0 — identical under SUM.
    *
    * Encoding runs DISTRIBUTEDLY, one task per output SSTable
    * ([[buildFixture]]). Caller owns the returned dir's deletion. */
  def writeBinaryFixture(spark: SparkSession, sfDir: String,
      version: String = "nb",
      compression: Option[String] = None): java.nio.file.Path =
    buildFixture(spark, sfDir, "graft-bintable-") { (fileId, docs, write) =>
      val parts = docs.map { d =>
        val clustering = Seq(Some(s"c${d.docId}"))
        val key = d.docId.toString
        (d.docId % 10).toInt match {
          case 3 => BigFormat.PartitionData(key, Some(d.wtUs), Seq.empty)
          case 7 => BigFormat.PartitionData(key, None, Seq(
            BigFormat.RowAtom(clustering, None, None, None, Some(d.wtUs), Nil)))
          case 5 => BigFormat.PartitionData(key, None, Seq(
            BigFormat.RowAtom(clustering, Some(d.wtUs), d.ttl, d.ldt(), None,
              Nil)))
          case _ => BigFormat.PartitionData(key, None, Seq(
            BigFormat.RowAtom(clustering, Some(d.wtUs), d.ttl, d.ldt(), None,
              Seq(
                BigFormat.CellAtom("len", d.wtUs, d.ttl, d.ldt(),
                  Some(d.nChars.toString), deleted = false),
                BigFormat.CellAtom("src", d.wtUs + 10000000L, d.ttl,
                  d.ldt(10), Some(d.source), deleted = false)))))
        }
      }
      encodeModernFixture(write, fileId, parts,
        Seq("len" -> BigFormat.Utf8Type, "src" -> BigFormat.Utf8Type),
        version = version, compression = compression)
    }._1

  /** The bridge-row frame off a big-format data directory — the
    * binary sibling of [[SSTableDumpBridge.readTree]]. A declared CQL schema
    * is REQUIRED for pre-3.0 ("ka"/"la") files, which carry no
    * serialization header. */
  def readBinary(spark: SparkSession, root: String,
      cql: Option[String]): DataFrame = {
    val r = spark.read.format("sstable-big")
    cql.foreach(c => r.option("cql", c))
    r.load(root)
  }

  def readBinary(spark: SparkSession, root: String): DataFrame =
    readBinary(spark, root, None)

  /** Planner hook for [[graft.plans.PushClusteringSlice]]: when `scan`
    * is this connector's batch scan WITHOUT slice bounds already set,
    * return a copy carrying (lo, hi) derived in comparison-order
    * `space` ("long" | "string"); None otherwise (foreign scan, or
    * bounds already present — the rule's fixed point). */
  private[graft] def scanWithSlice(
      scan: org.apache.spark.sql.connector.read.Scan,
      lo: Option[String], hi: Option[String],
      space: String): Option[org.apache.spark.sql.connector.read.Scan] =
    scan match {
      case b: BinScan if (lo.nonEmpty || hi.nonEmpty) &&
        b.slice._1.isEmpty && b.slice._2.isEmpty =>
        Some(b.withSlice(lo, hi, space))
      case _ => None
    }

  /** The slice bounds a scan carries — plan-inspection surface for
    * specs and audits (proves the rule REALLY injected bounds rather
    * than the residual filter doing all the work). */
  private[graft] def sliceOf(scan: org.apache.spark.sql.connector.read.Scan)
      : Option[(Option[String], Option[String])] = scan match {
    case b: BinScan => Some(b.slice)
    case _ => None
  }

  /** The token space of rule-derived bounds lifted from a plain
    * `murmur3_token(partition_key)` predicate: Murmur3 over the
    * RENDERED key string — a real ring position only when the key
    * type encodes as its rendered bytes (text). */
  private[graft] val RenderedTokenSpace = "rendered-utf8"

  // =====================================================================
  // DSv2 custom metrics — IO-pruning observability in the Spark UI.
  // At 100 TB "did the bloom/summary gates actually fire" must be
  // readable off the query, not inferred from wall-clock: these are
  // the connector's equivalents of Cassandra's own table metrics
  // (BloomFilterFalsePositives / sstablesPerRead family).
  // =====================================================================
  private case class TaskMetric(metricName: String, v: Long)
      extends org.apache.spark.sql.connector.metric.CustomTaskMetric {
    override def name(): String = metricName
    override def value(): Long = v
  }
  /** Executor-side cache of small immutable sidecar components — the
    * §2.11 key-cache row in its LITERAL form (the reference memoizes
    * key→index-entry lookups, `NoTTLReader.java:1450-1496`, so
    * repeated point reads skip re-reading components). SSTables are
    * immutable by definition, so size-keyed memoization is nearly
    * sound — but a foreign lake CAN rewrite a generation in place
    * with identical lengths, so the key folds in the modification
    * time too (the `FileStatus` is already in hand at every call
    * site; a same-length same-path rewrite must never serve stale
    * sidecar bytes). The cache is LRU-bounded in BYTES (not entries —
    * one 10M-key bloom is ~12 MB) and skips oversized entries (a
    * whole Index.db of a big file must not evict everything else).
    * Across the tasks of one executor JVM, repeated point lookups and
    * token ranges against a hot working set stop re-reading
    * Filter/Summary/Statistics per task — Cassandra's key-cache
    * economics, at the component granularity a scan engine wants. */
  private[graft] object ComponentCache {
    private val MaxTotalBytes = 128L * 1024 * 1024
    private val MaxEntryBytes = 4L * 1024 * 1024
    private val map = new java.util.LinkedHashMap[String, Array[Byte]](
      64, 0.75f, true) // access-order: LRU iteration starts at eldest
    private var total = 0L
    def get(path: String, len: Long, mtime: Long = 0L)
        (load: => Array[Byte]): Array[Byte] =
      getFlagged(path, len, mtime)(load)._1
    /** As [[get]], also reporting whether the bytes came from the
      * cache — the reader's hit/miss metrics feed (`_2` = hit). */
    private[graft] def getFlagged(path: String, len: Long, mtime: Long)
        (load: => Array[Byte]): (Array[Byte], Boolean) = {
      val key = s"$path@$len@$mtime"
      map.synchronized {
        val hit = map.get(key)
        if (hit != null) return (hit, true)
      }
      // load OUTSIDE the lock: a duplicate concurrent load is
      // harmless, a stalled lock across an IO round-trip is not
      val bytes = load
      if (bytes.length <= MaxEntryBytes) map.synchronized {
        if (!map.containsKey(key)) {
          map.put(key, bytes)
          total += bytes.length
          val it = map.entrySet().iterator()
          while (total > MaxTotalBytes && it.hasNext) {
            total -= it.next().getValue.length
            it.remove()
          }
        }
      }
      (bytes, false)
    }
    private[graft] def sizeBytes: Long = map.synchronized(total)
  }

  private[graft] val MetricPartitionsServed = "partitionsServed"
  private[graft] val MetricFilesSkippedBloom = "filesSkippedBloom"
  private[graft] val MetricFilesSkippedTokenSpan = "filesSkippedTokenSpan"
  private[graft] val MetricPartitionsScrubSkipped = "partitionsScrubSkipped"
  private[graft] val MetricComponentCacheHits = "componentCacheHits"
  private[graft] val MetricComponentCacheMisses = "componentCacheMisses"
  private[graft] val MetricThrottledBytes = "throttledBytes"
  private[graft] val MetricThrottleWaitNanos = "throttleWaitNanos"
  private[graft] val MetricActivityMarks = "activityReadsMarked"
  private[graft] val MetricFilesSkippedClustering =
    "filesSkippedClusteringSpan"

  /** Planner hook: copy `scan` with a Murmur3 token range when it is
    * this connector's scan without one already (fixed point).
    * `space` is the token space derived bounds were computed in
    * (see [[BinScan.withTokenRange]]). */
  private[graft] def scanWithTokenRange(
      scan: org.apache.spark.sql.connector.read.Scan,
      lo: Long, hi: Long, space: Option[String])
      : Option[org.apache.spark.sql.connector.read.Scan] =
    scan match {
      case b: BinScan if b.currentTokenRange.isEmpty =>
        Some(b.withTokenRange(lo, hi, space))
      case _ => None
    }

  /** The token range a scan carries — plan-inspection surface. */
  private[graft] def tokenRangeOf(
      scan: org.apache.spark.sql.connector.read.Scan)
      : Option[(Long, Long)] = scan match {
    case b: BinScan => b.currentTokenRange
    case _ => None
  }

  /** [[readBinary]] with the digest-verification pass engaged (the
    * CLI's `--verify true`) and/or the salvage-read scrub mode (the
    * CLI's `--scrub true`). */
  def readBinary(spark: SparkSession, root: String, cql: Option[String],
      verify: Boolean, scrub: Boolean = false): DataFrame = {
    val r = spark.read.format("sstable-big")
    cql.foreach(c => r.option("cql", c))
    if (verify) r.option("verify", "true")
    if (scrub) r.option("scrub", "true")
    r.load(root)
  }

  // =====================================================================
  // 2.x era fixture + audit
  // =====================================================================

  /** The declared schema of the 2.x fixture (2.x files carry none —
    * the reference loads live system tables instead,
    * `Cassandra2TTLRemover.java:48`; we take the v3 modules' CQL
    * declaration route). */
  val Cql2x: String = "CREATE TABLE graft.documents " +
    "(id text, ck text, len text, src text, PRIMARY KEY (id, ck))"

  /** 2.x ("ka") twin of [[writeBinaryFixture]]: the SAME logical
    * content expressed the pre-3.0 way — partition tombstones are
    * row-level DeletionTimes, CQL row DELETEs are range tombstones
    * covering the row's clustering (2.x had no row-deletion atom),
    * primary-key-only inserts and live rows carry the CQL3 row-marker
    * cell (empty column name), cells are mask-dispatched atoms with
    * composite names. One `ka-<gen>-big-Data.db` per file id, with
    * the authentic pre-3.0 StatsMetadata sidecar (the 2.x
    * Statistics.db layout carries min/max timestamps but no
    * serialization header and no TTL minima — the codec still takes
    * the schema from `cql`). With `compress`, each Data.db is
    * chunk-compressed the
    * 2.x way — LZ4 chunks with per-chunk ADLER32 checksums and a
    * CompressionInfo.db sibling without the maxCompressedSize word
    * (the era the reference reads at `NoTTLReader.java:343,623`). */
  def writeOldFixture(spark: SparkSession,
      sfDir: String, compress: Boolean = false): java.nio.file.Path =
    buildFixture(spark, sfDir, "graft-katable-") { (fileId, docs, write) =>
      val parts = docs.map { d =>
        val cl = Seq(s"c${d.docId}")
        val key = d.docId.toString
        def marker = OldFormat.Cell2(cl, "", d.wtUs, d.ttl, d.ldt(),
          Some(""), deleted = false, counter = false)
        (d.docId % 10).toInt match {
          case 3 => OldFormat.Partition2(key, Some(d.wtUs), Nil)
          case 7 => OldFormat.Partition2(key, None, Seq(
            OldFormat.Tombstone2(cl, startInclusive = true,
              cl, endInclusive = true, d.wtUs)))
          case 5 => OldFormat.Partition2(key, None, Seq(marker))
          case _ => OldFormat.Partition2(key, None, Seq(
            marker,
            OldFormat.Cell2(cl, "len", d.wtUs, d.ttl, d.ldt(),
              Some(d.nChars.toString), deleted = false, counter = false),
            OldFormat.Cell2(cl, "src", d.wtUs + 10000000L, d.ttl,
              d.ldt(10), Some(d.source), deleted = false, counter = false)))
        }
      }
      encode2xFixture(write, fileId, parts, Cql2x, Sidecars2x,
        compress).size
    }._1

  /** Registered `src_sstable_2x`: the pre-3.0 decode path — the
    * reference's whole cassandra-2 module re-expressed — under the
    * per-row_kind audit. Content mirrors the tree fixture; the oracle
    * replays the 2.x shapes (row DELETEs as range-tombstone pairs,
    * row markers as PK_LIVENESS on every live row). */
  def audit2x(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = writeOldFixture(spark, sfDir)
    val audit = SSTableDumpBridge
      .auditFrame(readBinary(spark, dir.toString, Some(Cql2x)))
      .localCheckpoint()
    graft.Scratch.delete(dir)
    audit
  }

  /** Registered `src_sstable_2x_adler`: the SAME 2.x decode under
    * the SAME oracle, but over chunk-COMPRESSED ka files — LZ4
    * chunks with Adler32 checksums, the pre-3.0 checksum era
    * (`NoTTLReader.java:343,623` reads these natively; the loud
    * reject this replaces told users to decompress first). Every
    * chunk's Adler32 is verified on the way through. */
  def audit2xAdler(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = writeOldFixture(spark, sfDir, compress = true)
    val audit = SSTableDumpBridge
      .auditFrame(readBinary(spark, dir.toString, Some(Cql2x)))
      .localCheckpoint()
    graft.Scratch.delete(dir)
    audit
  }

  /** Registered `src_sstable_2x_point`: bloom-gated point lookups over
    * PRE-3.0 files — the reference's 2.x `getPosition` path (the same
    * bloom check + primary-index seek, against the fixed-width ka/la
    * `Index.db` framing and the Murmur3 bloom whose layout 2.1 and
    * 3.x share). Four pushed keys cover every 2.x row shape
    * (cells+marker, partition deletion, marker-only, row DELETE); a
    * generation holding none of them is skipped without touching its
    * Data.db. Oracle: the 2.x tree SQL restricted to the probed keys. */
  def point2x(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = writeOldFixture(spark, sfDir)
    val audit = SSTableDumpBridge.auditFrame(
      readBinary(spark, dir.toString, Some(Cql2x))
        .filter(col("partition_key").isin("8", "13", "15", "17")))
      .localCheckpoint()
    graft.Scratch.delete(dir)
    audit
  }

  /** Registered `src_sstable_2x_split`: partition-aligned SPLIT scans
    * of 2.x files — blind byte ranges align to partition starts
    * through the ka/la `Index.db` (fixed-width entries, positions are
    * logical offsets), so one big pre-3.0 Data.db no longer
    * serializes a scan. Shares `src_sstable_2x`'s oracle VERBATIM:
    * split transport, identical logical content. */
  def split2x(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = writeOldFixture(spark, sfDir)
    // 4 KiB blind ranges: dozens of splits per generation at every SF
    // without drowning the run in task overhead (a 2.x task streams
    // its Index.db prefix from 0 — no summary to bound it — so split
    // count is the cost dial here)
    val split = spark.read.format("sstable-big")
      .option("cql", Cql2x).option("splitBytes", "4096")
      .load(dir.toString)
    val audit = SSTableDumpBridge.auditFrame(split).localCheckpoint()
    graft.Scratch.delete(dir)
    audit
  }

  /** WIDE 2.x fixture: the whole corpus as FOUR wide partitions
    * (doc_id % 4), one ka generation, `columnIndexSize` 512 — so every
    * partition's atoms span dozens of blocks and its Index.db entry
    * PROMOTES (2.1 `RowIndexEntry.IndexedEntry` with a real IndexInfo
    * list, the structure [[writeOldFixture]]'s slim partitions never
    * produce). Clustering values zero-pad (`c%09d`) so the UTF8
    * comparator orders them numerically; rows carry the CQL3 marker +
    * len/src cells, all live (the sliced-read contract is IO pruning,
    * not liveness math). */
  def writeWideOldFixture(spark: SparkSession,
      sfDir: String): java.nio.file.Path = {
    val (out, promoted) = buildFixture(spark, sfDir, "graft-ka-wide-",
        files = 1) { (fileId, docs, write) =>
      val parts = docs.groupBy(_.docId % 4).toSeq.map { case (pk, ds) =>
        OldFormat.Partition2(pk.toString, None, ds.flatMap { d =>
          val cl = Seq(f"c${d.docId}%09d")
          Seq(
            OldFormat.Cell2(cl, "", d.wtUs, None, None, Some(""),
              deleted = false, counter = false),
            OldFormat.Cell2(cl, "len", d.wtUs, None, None,
              Some(d.nChars.toString), deleted = false, counter = false),
            OldFormat.Cell2(cl, "src", d.wtUs + 10000000L, None, None,
              Some(d.source), deleted = false, counter = false))
        })
      }
      encode2xFixture(write, fileId, parts, Cql2x, Set("Index.db"),
        columnIndexSize = 512).count(_._3.nonEmpty)
    }
    require(promoted == Seq(4),
      s"wide 2.x fixture: designed 4 promoted partitions, got " +
        promoted.mkString(","))
    out
  }

  /** Registered `src_sstable_2x_slice`: the 2.x PROMOTED INDEX
    * consumed by a clustering slice — era parity for the P3
    * within-partition seek (`src_sstable_slice` proves it on 3.0+
    * promoted entries; this is the same read over 2.1's
    * `RowIndexEntry.IndexedEntry`/`IndexHelper.IndexInfo` layout, the
    * structure the reference's `NoTTLSSTableNamesIterator
    * .readIndexedColumns` (cassandra-2, lines 156-225) binary-searches
    * and seeks by). A middle-third `[lo, hi]` band over the zero-padded
    * text clustering is pushed as slice options; the reader walks
    * Index.db, and each WIDE partition decodes ONLY its overlapping
    * blocks. In-query checks: (1) the sliced read under the residual
    * filter equals the full scan under the same filter — pruning is
    * pure IO; (2) every partition's selected block range is a STRICT
    * subset with skippable blocks on BOTH flanks (the middle-third
    * bounds guarantee flanks at any SF) — a slicing break or a
    * silently-disengaged prune both fail loudly. At 100 TB this is
    * the 2.x era's point-read-vs-partition-scan difference, same as
    * the modern slice path. */
  def slice2x(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = writeWideOldFixture(spark, sfDir)
    val (dmin, dmax) = graft.Tables.load(spark, sfDir, "documents")
      .agg(org.apache.spark.sql.functions.min(col("doc_id").cast("long")),
        org.apache.spark.sql.functions.max(col("doc_id").cast("long")))
      .as[(Long, Long)].head()
    val span = dmax - dmin + 1
    val lo = dmin + span / 3
    val hi = dmin + (2L * span) / 3
    val loS = f"c$lo%09d"
    val hiS = f"c$hi%09d"
    // block-subset witness, straight off the sidecar: every promoted
    // entry must select a strict subset of its blocks with flanks on
    // both sides under these bounds — otherwise the prune proved
    // nothing about IO
    locally {
      val idxFile = Option(dir.resolve("documents").toFile.listFiles())
        .map(_.toSeq).getOrElse(Nil)
        .find(_.getName.endsWith("-Index.db"))
        .getOrElse(throw new IllegalStateException(
          "wide 2.x fixture wrote no Index.db"))
      val entries = SSTableComponents.readIndex2x(
        java.nio.file.Files.readAllBytes(idxFile.toPath), "wide-2x")
      require(entries.size == 4 && entries.forall(_._3.nonEmpty),
        s"wide 2.x fixture: 4 promoted entries expected, got " +
          s"${entries.size} (${entries.count(_._3.nonEmpty)} promoted)")
      entries.foreach { case (_, _, prom) =>
        val pr = OldFormat.readPromoted2x(prom, "wide-2x")
        def ck(name: Array[Byte]): String = {
          val in = new java.io.DataInputStream(
            new java.io.ByteArrayInputStream(name))
          val len = in.readUnsignedShort()
          val b = new Array[Byte](len)
          in.readFully(b)
          new String(b, java.nio.charset.StandardCharsets.UTF_8)
        }
        val i0 = pr.blocks.indexWhere(b => ck(b.lastName) >= loS)
        val i1 = pr.blocks.lastIndexWhere(b => ck(b.firstName) <= hiS)
        require(i0 > 0 && i1 < pr.blocks.size - 1 && i0 <= i1,
          s"wide 2.x slice selected blocks [$i0, $i1] of " +
            s"${pr.blocks.size} — not a strict subset with flanks")
      }
    }
    def resid(df: DataFrame): DataFrame =
      df.filter(col("clustering")(0).between(loS, hiS))
    val sliced = spark.read.format("sstable-big")
      .option("cql", Cql2x)
      .option("sliceLo", loS).option("sliceHi", hiS)
      .load(dir.toString)
    val audit = SSTableDumpBridge.auditFrame(resid(sliced))
      .localCheckpoint()
    // pruning is pure IO: sliced + residual == full scan + residual
    val whole = SSTableDumpBridge
      .auditFrame(resid(readBinary(spark, dir.toString, Some(Cql2x))))
      .collect().map(_.toString).sorted.toSeq
    val got = audit.collect().map(_.toString).sorted.toSeq
    require(got == whole,
      s"2.x sliced read diverged from the residual-filtered full " +
        s"scan: $got vs $whole")
    graft.Scratch.delete(dir)
    audit
  }

  /** The thrift dynamic-CF declaration: single clustering column,
    * ONE value column, `WITH COMPACT STORAGE` — cell names are raw
    * comparator bytes, no CQL3 row markers exist. */
  val CqlCompact2x: String = "CREATE TABLE graft.documents " +
    "(id text, ck text, value text, PRIMARY KEY (id, ck)) " +
    "WITH COMPACT STORAGE"

  /** COMPACT STORAGE twin of [[writeOldFixture]]: the same logical
    * content as a thrift dynamic CF — every "row" is ONE cell whose
    * name is the raw clustering value, no row-marker cells (compact
    * tables predate the CQL3 marker), row deletes are raw-bound
    * inclusive range tombstones. */
  def writeCompactFixture(spark: SparkSession,
      sfDir: String): java.nio.file.Path =
    buildFixture(spark, sfDir, "graft-compacttable-") {
        (fileId, docs, write) =>
      val parts = docs.map { d =>
        val key = d.docId.toString
        (d.docId % 10).toInt match {
          case 3 => OldFormat.Partition2(key, Some(d.wtUs), Nil)
          case 7 => OldFormat.Partition2(key, None, Seq(
            OldFormat.Tombstone2(Seq(s"c${d.docId}"),
              startInclusive = true, Seq(s"c${d.docId}"),
              endInclusive = true, d.wtUs)))
          case _ => OldFormat.Partition2(key, None, Seq(
            OldFormat.Cell2(Seq(s"c${d.docId}"), "value", d.wtUs, d.ttl,
              d.ldt(), Some(d.nChars.toString), deleted = false,
              counter = false),
            OldFormat.Cell2(Seq(s"d${d.docId}"), "value",
              d.wtUs + 10000000L, d.ttl, d.ldt(10), Some(d.source),
              deleted = false, counter = false)))
        }
      }
      encode2xFixture(write, fileId, parts, CqlCompact2x).size
    }._1

  /** Registered `src_sstable_compact`: the thrift dynamic-CF decode
    * path — raw-comparator cell names, single value column, no
    * markers — under the same per-row_kind audit as every other
    * ingestion path. */
  def auditCompact2x(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = writeCompactFixture(spark, sfDir)
    val audit = SSTableDumpBridge
      .auditFrame(readBinary(spark, dir.toString, Some(CqlCompact2x)))
      .localCheckpoint()
    graft.Scratch.delete(dir)
    audit
  }

  /** Registered `src_sstable_point`: the bloom-gated index-seek READ
    * path over the sink's own components — the reference's
    * `getPosition` machinery (`NoTTLReader.java:1519-1575`: bloom
    * check, index-summary search, seek) made a live serving path.
    * Fixture → unstripped rewrite (per-generation Index.db/Filter.db
    * land) → point lookups for four keys covering every row shape;
    * the pushed IN-predicate lets every task bloom-skip foreign
    * generations and decode exactly the indexed offsets. */
  def pointLookup(spark: SparkSession, sfDir: String): DataFrame =
    pointLookupV(spark, sfDir, None)

  /** Registered `src_sstable_point_lz4`: bloom-gated point lookups
    * over a chunk-COMPRESSED generation — the index position's chunk
    * is found through CompressionInfo.db (CompressionMetadata
    * .chunkFor's role), decompressed, and the partition decoded from
    * its logical offset. Shares the plain point oracle VERBATIM. */
  def pointLookupLz4(spark: SparkSession, sfDir: String): DataFrame =
    pointLookupV(spark, sfDir, Some(CompressedData.Lz4))

  private def pointLookupV(spark: SparkSession, sfDir: String,
      compression: Option[String]): DataFrame = {
    val in = binaryFixtureShared(spark, sfDir)
    val out = graft.Scratch.dir("graft-pointidx-")
    writeSSTables(readBinary(spark, in), out.toString,
      "graft", "documents", compression = compression,
      sources = Some(dataSourceIdentities(spark, in)))
    val audit = SSTableDumpBridge.auditFrame(
      readBinary(spark, out.toString)
        .filter(col("partition_key").isin("8", "13", "15", "17")))
      .localCheckpoint()
    graft.Scratch.delete(out)
    audit
  }

  /** Registered `src_sstable_2x_upgrade`: the reference cassandra-2
    * module's WHOLE lifecycle plus an era upgrade — ka files →
    * declared-schema decode → TTL strip → typed modern loadable
    * generations → re-read → audit. The upgrade's one semantic
    * translation (Cassandra's own `upgradesstables` rule): a 2.x
    * row-marker cell on a cell-bearing row becomes the modern row's
    * primary-key liveness (3.0+ has no separate marker cell), so
    * only pk-ONLY rows still surface as PK_LIVENESS; every value,
    * writetime and tombstone survives bit-identically, every TTL is
    * gone. */
  def upgrade2x(spark: SparkSession, sfDir: String): DataFrame = {
    val in = writeOldFixture(spark, sfDir)
    val out = graft.Scratch.dir("graft-2xup-")
    val stripped = readBinary(spark, in.toString, Some(Cql2x))
      .withColumn("cell",
        graft.model.CellModel.stripCellKeepDeletion(col("cell")))
    writeSSTables(stripped, out.toString, "graft", "documents",
      graft.model.CqlSchema.parse(Cql2x).toOption,
      sources = Some(dataSourceIdentities(spark, in.toString)))
    graft.Scratch.delete(in)
    val audit = SSTableDumpBridge
      .auditFrame(readBinary(spark, out.toString))
      .localCheckpoint()
    graft.Scratch.delete(out)
    audit
  }

  /** The declared schema for the 2.x COLLECTION fixture: all three
    * non-frozen collection kinds, each stored by the 2.x engine as
    * per-element cells whose composite names carry the element key
    * (the `CompoundSparseCellNameType.WithCollection` shape). */
  val Cql2xColl: String = "CREATE TABLE graft.documents (id text, " +
    "ck text, tags map<text, text>, labels set<text>, seq list<text>, " +
    "PRIMARY KEY (id, ck))"

  /** ka-era fixture with collection cells: per doc one row carrying
    * two map entries (source at wt, n_chars at wt+1s), one set
    * element (empty value), one list slot (deterministic timeuuid
    * position, source value); docs with `doc_id % 10 == 6` add a
    * DELETED map entry (the 2.x per-entry tombstone) at wt+2s. Even
    * doc_ids (except %100==0) TTL every live cell — the strip must
    * erase exactly that. */
  def writeOld2xCollFixture(spark: SparkSession,
      sfDir: String): java.nio.file.Path =
    buildFixture(spark, sfDir, "graft-kacoll-") { (fileId, docs, write) =>
      val parts = docs.map { d =>
        val cl = Seq(s"c${d.docId}")
        def live(name: String, v: String, dUs: Long) =
          OldFormat.Cell2(cl, name, d.wtUs + dUs, d.ttl, d.ldt(), Some(v),
            deleted = false, counter = false)
        val listPos = f"${d.docId}%032x"
        val cells = Seq(
          live("tags[k0]", d.source, 0L),
          live("tags[k1]", d.nChars.toString, 1000000L),
          live(s"labels[s${d.docId % 5}]", "", 0L),
          live(s"seq[$listPos]", d.source, 0L)) ++
          (if (d.docId % 10 == 6)
            Seq(OldFormat.Cell2(cl, "tags[gone]", d.wtUs + 2000000L,
              None, Some((d.wtSec + 2).toInt), None, deleted = true,
              counter = false))
          else Nil)
        OldFormat.Partition2(d.docId.toString, None, cells)
      }
      encode2xFixture(write, fileId, parts, Cql2xColl).size
    }._1

  /** Registered `src_sstable_2x_coll`: the cassandra-2 module's
    * lifecycle over COLLECTION columns — ka cells with
    * WithCollection composite names → declared-schema decode (each
    * element surfaces through the bridge's name-encoded CellPath,
    * "tags[k0]") → TTL strip → typed MODERN rewrite (real complex
    * cells with CellPaths, path-comparator ordered) → re-read →
    * audit. Entry tombstones survive the whole era upgrade. */
  def coll2xUpgrade(spark: SparkSession, sfDir: String): DataFrame = {
    val in = writeOld2xCollFixture(spark, sfDir)
    val out = graft.Scratch.dir("graft-2xcoll-")
    val stripped = readBinary(spark, in.toString, Some(Cql2xColl))
      .withColumn("cell",
        graft.model.CellModel.stripCellKeepDeletion(col("cell")))
    writeSSTables(stripped, out.toString, "graft", "documents",
      graft.model.CqlSchema.parse(Cql2xColl).toOption,
      sources = Some(dataSourceIdentities(spark, in.toString)))
    graft.Scratch.delete(in)
    val audit = SSTableDumpBridge
      .auditFrame(readBinary(spark, out.toString))
      .localCheckpoint()
    graft.Scratch.delete(out)
    audit
  }

  // =====================================================================
  // complex-column (collection) fixture + lifecycle
  // =====================================================================

  /** Big-format fixture with a COMPLEX column: each document one
    * partition carrying a simple `len` cell plus a non-frozen
    * `attrs map<text,text>` with per-entry CellPaths — the structure
    * the reference handles at `Cassandra3TTLRemover.java:180-186`
    * (`cdef.isComplex()`, `cell.path()`). Shape by `doc_id % 10`:
    *   - 4 → a whole-collection tombstone on `attrs` (ts wt-1) with
    *     one surviving overwrite entry k0 (the UPDATE-overwrites-map
    *     pattern that produces complex deletions in real tables)
    *   - 6 → a deleted map entry k0 (cell tombstone WITH a path) next
    *     to a live k1
    *   - else both entries live: k0 → source (ts wt), k1 → n_chars
    *     (ts wt+1s)
    * Even doc_ids (except %100==0) carry TTL `doc_id % 100` on every
    * live cell. All deterministic from the documents table, so the
    * DuckDB oracle replays every aggregate bit-for-bit. */
  def writeComplexFixture(spark: SparkSession,
      sfDir: String): java.nio.file.Path =
    buildFixture(spark, sfDir, "graft-cplxtable-") { (fileId, docs, write) =>
      val parts = docs.map { d =>
        def cell(name: String, tsOff: Long, value: String,
            path: Option[String]): BigFormat.CellAtom =
          BigFormat.CellAtom(name, d.wtUs + tsOff, d.ttl,
            d.ldt(tsOff / 1000000L), Some(value), deleted = false, path)
        val len = cell("len", 0L, d.nChars.toString, None)
        val (attrsCells, complexDels) = (d.docId % 10).toInt match {
          case 4 =>
            (Seq(cell("attrs", 0L, d.source, Some("k0"))),
              Seq("attrs" -> (d.wtUs - 1)))
          case 6 =>
            (Seq(
              BigFormat.CellAtom("attrs", d.wtUs, None, Some(d.wtSec.toInt),
                None, deleted = true, path = Some("k0")),
              cell("attrs", 1000000L, d.nChars.toString, Some("k1"))),
              Nil)
          case _ =>
            (Seq(cell("attrs", 0L, d.source, Some("k0")),
              cell("attrs", 1000000L, d.nChars.toString, Some("k1"))),
              Nil)
        }
        BigFormat.PartitionData(d.docId.toString, None, Seq(
          BigFormat.RowAtom(Seq(Some(s"c${d.docId}")), Some(d.wtUs), d.ttl,
            d.ldt(), None, len +: attrsCells, complexDels)))
      }
      encodeModernFixture(write, fileId, parts, Seq(
        "len" -> BigFormat.Utf8Type,
        "attrs" -> BigFormat.mapType(BigFormat.Utf8Type, BigFormat.Utf8Type)))
    }._1

  /** Big-format fixture with a STATIC column and a COUNTER column —
    * the two remaining cell kinds of the reference's P2 dispatch
    * (`NoTTLColumnSerializer.java:26-50`: counter → passthrough;
    * static rows are the 3.0 engine's partition-scoped row). Per
    * document one partition:
    *   - a static row (no clustering, EXTENSION/IS_STATIC flags)
    *     carrying `stitle` = source at wt, TTL'd on even doc_ids —
    *     static cells expire like any other, so the strip must reach
    *     them;
    *   - a clustered row with `len` = n_chars (row liveness, TTL
    *     rule) and a COUNTER cell `hits` whose value is the
    *     deterministic 16-hex counter-context stand-in of n_chars —
    *     counters carry NO TTL (they cannot expire) and must survive
    *     the strip bit-identically. */
  def writeStaticFixture(spark: SparkSession,
      sfDir: String): java.nio.file.Path =
    buildFixture(spark, sfDir, "graft-statictable-") {
        (fileId, docs, write) =>
      val parts = docs.map { d =>
        val staticRow = BigFormat.RowAtom(Nil, None, None, None, None,
          Seq(BigFormat.CellAtom("stitle", d.wtUs, d.ttl, d.ldt(),
            Some(d.source), false)),
          static = true)
        val clustered = BigFormat.RowAtom(Seq(Some(s"c${d.docId}")),
          Some(d.wtUs), d.ttl, d.ldt(), None, Seq(
            BigFormat.CellAtom("len", d.wtUs, d.ttl, d.ldt(),
              Some(d.nChars.toString), false),
            BigFormat.CellAtom("hits", d.wtUs + 1000000L, None, None,
              Some("%016x".format(d.nChars)), false)))
        BigFormat.PartitionData(d.docId.toString, None,
          Seq(staticRow, clustered))
      }
      encodeModernFixture(write, fileId, parts,
        regular = Seq("hits" -> BigFormat.CounterColumnType,
          "len" -> BigFormat.Utf8Type),
        static = Seq("stitle" -> BigFormat.Utf8Type))
    }._1

  /** Registered `src_sstable_static`: the lifecycle over the
    * static+counter fixture — read (static rows surface with NULL
    * clustering) → strip (static TTLs go, counters untouched) →
    * rewrite (EXTENSION/IS_STATIC re-encoded, static columns in the
    * header's static set) → re-read → audit. `n_static` pins the
    * static rows; counter values' 16-hex length pins their
    * passthrough. */
  def staticLifecycle(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val in = writeStaticFixture(spark, sfDir)
    val out = graft.Scratch.dir("graft-staticrt-")
    val stripped = readBinary(spark, in.toString)
      .withColumn("cell",
        graft.model.CellModel.stripCellKeepDeletion(col("cell")))
    writeSSTables(stripped, out.toString, "graft", "documents",
      sources = Some(dataSourceIdentities(spark, in.toString)))
    graft.Scratch.delete(in)
    val baseUs = lit(SSTableDumpBridge.TreeBase * 1000000L)
    val audit = readBinary(spark, out.toString)
      .groupBy(col("row_kind"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("clustering").isNull, 1L).otherwise(0L))
          .as("n_static"),
        countDistinct(col("sstable")).as("n_sstables"),
        sum(col("cell.writetime_us") - baseUs).as("sum_wt_off_us"),
        sum(col("cell.ttl_s").cast("long")).as("sum_ttl_s"),
        sum(length(col("cell.value")).cast("long")).as("sum_value_chars"),
        sum(length(col("name")).cast("long")).as("sum_name_chars"))
      .localCheckpoint()
    graft.Scratch.delete(out)
    audit
  }

  /** Per-row_kind audit with NAME chars summed — paths are part of a
    * name-encoded cell's identity, so the oracle pins them too. */
  private def complexAuditFrame(rows: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val baseUs = lit(SSTableDumpBridge.TreeBase * 1000000L)
    rows.groupBy(col("row_kind")).agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("sstable")).as("n_sstables"),
      sum(col("cell.writetime_us") - baseUs).as("sum_wt_off_us"),
      sum(col("cell.ttl_s").cast("long")).as("sum_ttl_s"),
      sum(col("deletion_us") - baseUs).as("sum_del_off_us"),
      sum(length(col("cell.value")).cast("long")).as("sum_value_chars"),
      sum(length(col("name")).cast("long")).as("sum_name_chars"))
  }

  /** Registered `src_sstable_complex` — the reference's lifecycle
    * over a table WITH a collection column: fixture → [[readBinary]]
    * (map entries surface as name-encoded CellPaths, whole-collection
    * tombstones as COMPLEX_DELETION rows) → TTL strip (per-element:
    * the reference's `transform_values` analogue) → [[writeSSTables]]
    * (paths re-encoded, complex deletion re-serialized) →
    * [[readBinary]] of the rewrite → per-kind audit. */
  def complexLifecycle(spark: SparkSession, sfDir: String): DataFrame = {
    val in = writeComplexFixture(spark, sfDir)
    val out = graft.Scratch.dir("graft-cplxrt-")
    val stripped = readBinary(spark, in.toString)
      .withColumn("cell",
        graft.model.CellModel.stripCellKeepDeletion(col("cell")))
    writeSSTables(stripped, out.toString, "graft", "documents",
      sources = Some(dataSourceIdentities(spark, in.toString)))
    graft.Scratch.delete(in)
    val audit = complexAuditFrame(readBinary(spark, out.toString))
      .localCheckpoint()
    graft.Scratch.delete(out)
    audit
  }

  /** Big-format fixture keyed by a COMPOSITE partition key
    * `((src, d))` — the multi-column `PRIMARY KEY ((a, b), ...)`
    * shape the reference handles through the live schema's
    * `CompositeType` key (every era serializes it as the same
    * [short len][bytes][eoc] blob). Per document one partition keyed
    * `(source, doc_id)`, one clustered row with `len` = n_chars and
    * `origin` = source, row + cells TTL'd by the usual even-doc_id
    * rule. The Statistics.db header carries the real
    * `CompositeType(UTF8Type,LongType)` key type. */
  def writeCompositeFixture(spark: SparkSession,
      sfDir: String): java.nio.file.Path =
    buildFixture(spark, sfDir, "graft-comptable-") { (fileId, docs, write) =>
      val parts = docs.map { d =>
        val row = BigFormat.RowAtom(Seq(Some(s"c${d.docId}")),
          Some(d.wtUs), d.ttl, d.ldt(), None, Seq(
            BigFormat.CellAtom("len", d.wtUs, d.ttl, d.ldt(),
              Some(d.nChars.toString), false),
            BigFormat.CellAtom("origin", d.wtUs, d.ttl, d.ldt(),
              Some(d.source), false)))
        // the ':'-joined rendering encodeValue re-splits into the
        // declared component types
        BigFormat.PartitionData(s"${d.source}:${d.docId}", None, Seq(row))
      }
      encodeModernFixture(write, fileId, parts,
        Seq("len" -> BigFormat.Utf8Type, "origin" -> BigFormat.Utf8Type),
        keyType = BigFormat.compositeType(
          Seq(BigFormat.Utf8Type, BigFormat.LongType)))
    }._1

  /** Registered `src_sstable_composite` — the whole lifecycle over a
    * composite-partition-key table: fixture → [[readBinary]] (keys
    * render ':'-joined, matching the dump bridge's
    * `concat_ws(":", partition.key)` carry) → TTL strip →
    * [[writeSSTables]] TYPED by a `PRIMARY KEY ((src, d), ck)` CQL
    * schema (keys re-encode as REAL CompositeType blobs, token order
    * computed over the blob) → re-read → audit. `n_keys` and
    * `sum_key_chars` pin the component rendering exactly. */
  def compositeLifecycle(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val in = writeCompositeFixture(spark, sfDir)
    val out = graft.Scratch.dir("graft-comprt-")
    val cql = graft.model.CqlSchema.parse(
      """CREATE TABLE graft.documents (
        |  src text, d bigint, ck text, len text, origin text,
        |  PRIMARY KEY ((src, d), ck))""".stripMargin)
      .fold(e => throw new IllegalArgumentException(e), identity)
    val stripped = readBinary(spark, in.toString)
      .withColumn("cell",
        graft.model.CellModel.stripCellKeepDeletion(col("cell")))
    writeSSTables(stripped, out.toString, "graft", "documents",
      schema = Some(cql),
      sources = Some(dataSourceIdentities(spark, in.toString)))
    graft.Scratch.delete(in)
    val baseUs = lit(SSTableDumpBridge.TreeBase * 1000000L)
    val audit = readBinary(spark, out.toString)
      .groupBy(col("row_kind"))
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("sstable")).as("n_sstables"),
        countDistinct(col("partition_key")).as("n_keys"),
        sum(length(col("partition_key")).cast("long")).as("sum_key_chars"),
        sum(col("cell.writetime_us") - baseUs).as("sum_wt_off_us"),
        sum(col("cell.ttl_s").cast("long")).as("sum_ttl_s"),
        sum(length(col("cell.value")).cast("long")).as("sum_value_chars"),
        sum(length(col("name")).cast("long")).as("sum_name_chars"))
      .localCheckpoint()
    graft.Scratch.delete(out)
    audit
  }

  // =====================================================================
  // binary sink — the reference's OUTPUT side
  // =====================================================================

  private[sources] final case class SinkCell(value: Option[String],
      writetime_us: Option[Long], ttl_s: Option[Int],
      expire_us: Option[Long])
  private[sources] final case class SinkRow(partition_key: String,
      clustering: Option[Seq[String]], row_kind: String,
      name: Option[String], cell: Option[SinkCell],
      deletion_us: Option[Long], sstable: String)

  /** "attrs[k1]" → ("attrs", Some("k1")); bare names pass through.
    * The inverse of the reader's name-encoded CellPath rendering. */
  private[sources] def splitPath(name: String): (String, Option[String]) = {
    val i = name.indexOf('[')
    if (i >= 0 && name.endsWith("]"))
      (name.substring(0, i), Some(name.substring(i + 1, name.length - 1)))
    else (name, None)
  }

  /** The bridge name of a range-tombstone marker's bound: a bound
    * marker has one, a boundary two (`side` 0 closes the range before
    * it, 1 opens the one after). */
  private def boundName(kind: Int, side: Int, file: String): String = {
    import BigFormat.Kind._
    kind match {
      case InclStartBound => "start:inclusive"
      case ExclStartBound => "start:exclusive"
      case InclEndBound => "end:inclusive"
      case ExclEndBound => "end:exclusive"
      case ExclEndInclStartBoundary =>
        if (side == 0) "end:exclusive" else "start:inclusive"
      case InclEndExclStartBoundary =>
        if (side == 0) "end:inclusive" else "start:exclusive"
      case other => throw new UnsupportedOperationException(
        s"$file: unexpected bound kind $other")
    }
  }

  private def boundKind(name: String): Int = name match {
    case "start:inclusive" => BigFormat.Kind.InclStartBound
    case "start:exclusive" => BigFormat.Kind.ExclStartBound
    case "end:inclusive" => BigFormat.Kind.InclEndBound
    case "end:exclusive" => BigFormat.Kind.ExclEndBound
    case other => throw new IllegalArgumentException(
      s"unknown range-tombstone bound name '$other'")
  }

  /** Resolved CQL typing for the sink: marshal types for the key,
    * clustering and each declared column, plus the static set. */
  private[graft] final case class SinkTyping(
      keyType: String,
      clusteringTypes: Seq[String],
      columnTypes: Map[String, String],
      staticCols: Set[String]) extends Serializable

  /** Validate + resolve a parsed CQL schema into marshal types,
    * failing fast on the driver (types outside the codec subset
    * reject loudly). A multi-column partition key `((a, b))` resolves
    * to [[BigFormat.compositeType]] — the ':'-joined composite-blob
    * carry. The `static` modifier is a column property; it is
    * stripped from the type here. A `WITH COMPACT STORAGE` schema is
    * accepted with the flag IGNORED: a modern rewrite of a compact
    * 2.x table is exactly Cassandra's own `DROP COMPACT STORAGE`
    * upgrade (C* 4 removed compact tables entirely). */
  private[graft] def resolveTyping(
      p: graft.model.CqlSchema.Parsed): SinkTyping = {
    def strip(t: String): String = t.replaceAll("(?i)\\s+static$", "")
    def isStaticDecl(t: String): Boolean =
      t.toLowerCase.trim.endsWith(" static")
    def marshal(t: String): String = BigFormat.marshalOfCql(strip(t))
      .fold(e => throw new IllegalArgumentException(e), identity)
    val colType = p.columns.toMap
    SinkTyping(
      keyType =
        if (p.partitionKey.size == 1) marshal(colType(p.partitionKey.head))
        else BigFormat.compositeType(
          p.partitionKey.map(c => marshal(colType(c)))),
      clusteringTypes = p.clustering.map(c => marshal(colType(c))),
      columnTypes = p.columns
        .filterNot(c => p.partitionKey.contains(c._1) ||
          p.clustering.contains(c._1))
        .map { case (n, t) => n -> marshal(t) }.toMap,
      staticCols = p.columns
        .collect { case (n, t) if isStaticDecl(t) => n }.toSet)
  }

  /** The sstable identities ([[sstableIdentity]]) of every
    * `*-Data.db` under `root`: a DRIVER-side listing, no Spark job,
    * taken by the same [[listLake]] the scan plans its partitions
    * from, so a hidden (`.`/`_`-prefixed) file is in neither. For a
    * [[writeSSTables]] call whose input frame is a
    * [[readBinary]] of `root` (filtered or not, scrubbed or not) this
    * is a superset of the frame's distinct `sstable` set, so passing
    * it as `sources` spares the sink its generation-assignment pass
    * over the data, a SECOND full decode of the input per sink call,
    * whenever [[sourceSetViolations]] finds nothing in it. */
  private[graft] def dataSourceIdentities(spark: SparkSession,
      root: String): Seq[String] =
    listLake(root, spark.sessionState.newHadoopConf())
      .map { case (p, _) => sstableIdentity(p) }

  /** The output generation a source identity claims: the first integer
    * of its basename (`nb-3-big-Data.db` → 3,
    * `ks-t-ka-7-Data.db` → 7), None when the basename has none. */
  private[graft] def claimedGeneration(src: String): Option[Int] =
    "\\d+".r.findFirstIn(src.split('/').last).map(_.toInt)

  /** The entries of a source set that break the premise under which a
    * SUPERSET of a frame's distinct sstables assigns the same output
    * generations as the exact set: every entry claims a generation and
    * no two claim the same one. Empty when the premise holds; else the
    * offending entries, sorted. */
  private[graft] def sourceSetViolations(sources: Seq[String]): Seq[String] = {
    val claims = sources.distinct.map(s => s -> claimedGeneration(s))
    val unclaimed = claims.collect { case (s, None) => s }
    val shared = claims.collect { case (s, Some(g)) => g -> s }
      .groupBy(_._1).values.filter(_.size > 1).flatMap(_.map(_._2))
    (unclaimed ++ shared).sorted
  }

  /** Write bridge-row cells back out as big-format SSTables under
    * `out/<ks>/<table>/` — the reference's OUTPUT contract
    * (`Cassandra4TTLRemover.java:85-87` builds an `SSTableWriter` per
    * input table and re-serializes every partition): one output
    * generation per SOURCE sstable (the reference rewrites
    * file-per-file), partitions in Murmur3 token order (the
    * partitioner the reference pins, `Cassandra4TTLRemover.java:63`),
    * per-file EncodingStats minima computed from what is actually
    * written.
    *
    * Scale shape: ONE shuffle keyed on the source sstable, then each
    * task encodes and writes its own generation through the raw local
    * FS, with no `.crc` side files ([[writeGeneration]], the encoder
    * every sink route shares). A task buffers one output SSTable
    * (the reference's own rewrite unit); tables whose per-SSTable
    * volume outgrows a task split generations upstream, not here.
    * Returns (sstable, rows written) per output file.
    *
    * Cell-model mapping (the read connector's, inverted): ROW cells
    * group per (partition, clustering) into one row atom with
    * explicit per-cell liveness (expiry second = expire_us/1e6);
    * PK_LIVENESS becomes row liveness; ROW_DELETION /
    * PARTITION_DELETION / RANGE_TOMBSTONE_BOUND become their marker
    * forms. Clustering arity must be uniform per table (heterogeneous
    * arity fails loudly — it would mean two different table schemas
    * in one write). */
  def writeSSTables(cells: DataFrame, outDir: String, keyspace: String,
      table: String,
      schema: Option[graft.model.CqlSchema.Parsed] = None,
      compression: Option[String] = None,
      columnIndexSize: Int = BigFormat.ColumnIndexSize,
      sources: Option[Seq[String]] = None)
      : Seq[(String, Long)] =
    sinkFrame(cells, col("sstable"), sources, merge = false,
      SinkTarget(s"$outDir/$keyspace/$table", schema.map(resolveTyping),
        compression, columnIndexSize), table)

  /** The frame route of the LWW compaction: [[writeSSTables]] with its
    * shuffle keyed on each row's output generation (the `generation`
    * column; `sources`, when given, lists every value it can hold)
    * instead of its source, then per key the versions of each input
    * sstable (its `sstable`) rebuilt as partitions and merged by
    * [[mergePartition]], the rule set the file route runs. `cells` are
    * stripped bridge rows. Returns (sstable, merged bridge rows written)
    * per output file. */
  private[graft] def mergeSSTables(cells: DataFrame, outDir: String,
      keyspace: String, table: String,
      schema: Option[graft.model.CqlSchema.Parsed],
      compression: Option[String], sources: Option[Seq[String]])
      : Seq[(String, Long)] =
    sinkFrame(cells, col("generation"), sources, merge = true,
      SinkTarget(s"$outDir/$keyspace/$table", schema.map(resolveTyping),
        compression, BigFormat.ColumnIndexSize), table)

  /** The frame routes' sink: rows grouped by `key` (an output
    * generation identity) in one shuffle, each group's partitions
    * rebuilt from its bridge rows ([[framePartition]]), merged per key
    * across input sstables when `merge`, and written by
    * [[writeGeneration]]. CQL typing and the compressor resolve (and reject) on the driver,
    * before any task runs, in `target`. */
  private def sinkFrame(cells: DataFrame, key: org.apache.spark.sql.Column,
      sources: Option[Seq[String]], merge: Boolean, target: SinkTarget,
      table: String): Seq[(String, Long)] = {
    val spark = cells.sparkSession
    import spark.implicits._
    val hconf = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    val selected = cells
      .select(key.as("_1"), struct(col("partition_key"), col("clustering"),
        col("row_kind"), col("name"), col("cell"), col("deletion_us"),
        col("sstable")).as("_2"))
      .as[(String, SinkRow)]
    // `sources`, when given, replaces the distinct job (a full second
    // decode of the input). It may be a SUPERSET of the frame's
    // distinct set (a driver-side listing of a filtered or scrubbed
    // read, or every name a bucketing scheme can produce), because
    // the premise below is required: each entry claims its own
    // generation, so every source keeps its claim and the entries the
    // data never mentions change nothing; they write no file. A
    // source in the data but missing from the list fails loudly at
    // its generation lookup, and duplicates collapse here.
    sources.foreach { s =>
      val bad = sourceSetViolations(s)
      require(bad.isEmpty,
        "writeSSTables: every entry of `sources` must claim a distinct " +
          "generation (the first integer of its basename); offending: " +
          bad.mkString(", "))
    }
    val genOf = assignGenerations(sources.getOrElse(
      selected.select(col("_1")).distinct().as[String].collect().toSeq))
    selected
      .groupByKey(_._1)
      .mapGroups { (src, it) =>
        val rows = it.map(_._2).toArray
        val gen = genOf.getOrElse(src, throw new IllegalArgumentException(
          s"writeSSTables: source '$src' appears in the data but not " +
            "in the caller-provided source set — the explicit `sources` " +
            "list must cover the frame's distinct sstable identities"))
        requireSinkKinds(rows)
        val byKey = rows.groupBy(_.partition_key).toSeq
        val (parts, written) =
          if (!merge) (byKey.map { case (pk, prs) =>
            framePartition(src, pk, prs) }, rows.length.toLong)
          else {
            val merged = byKey.map { case (pk, prs) =>
              mergePartition(pk, frameVersions(pk, prs)) }
            (merged.map(_._1), merged.map(_._2).sum)
          }
        writeGeneration(target, hconf.value.value, src, gen, parts)
        (s"$table/nb-$gen-big-Data.db", written)
      }
      .collect().toSeq.sortBy(_._1)
  }

  /** Where and how a sink writes its generations: the output table
    * directory, the resolved CQL typing (None = text everywhere), the
    * compressor and the column-index block size. */
  private final case class SinkTarget(dir: String,
      typing: Option[SinkTyping], compression: Option[String],
      columnIndexSize: Int) {
    compression.foreach(c => require(CompressedData.Supported(c),
      s"unsupported sink compressor '$c' (supported: " +
        s"${CompressedData.Supported.toSeq.sorted.mkString(", ")})"))
  }

  /** The bridge row kinds the binary sink encodes. */
  private val SinkRowKinds = Set("ROW", "PK_LIVENESS", "ROW_DELETION",
    "CELL_DELETION", "COMPLEX_DELETION", "PARTITION_DELETION",
    "RANGE_TOMBSTONE_BOUND")

  /** Refuses rows of a kind the partition model cannot hold: dropping
    * one would un-delete data on a later merge. */
  private def requireSinkKinds(rows: Array[SinkRow]): Unit =
    rows.find(r => !SinkRowKinds(r.row_kind))
      .foreach(r => throw new UnsupportedOperationException(
        s"${r.sstable}: row_kind '${r.row_kind}' not encodable as an " +
          "SSTable atom"))

  /** A NULL clustering on a cell-bearing kind marks a STATIC row (the
    * reader's sentinel); its columns form the header's static set,
    * disjoint from the regular set. */
  private def isStaticRow(r: SinkRow): Boolean =
    r.clustering.isEmpty && (r.row_kind == "ROW" ||
      r.row_kind == "CELL_DELETION" || r.row_kind == "COMPLEX_DELETION")

  /** Output generations for a set of source identities, assigned on the
    * driver (catalog-sized: one entry per source file), so two sources
    * in different subdirectories that share a basename generation
    * (t1/nb-1-big-Data.db and t2/nb-1-big-Data.db under one load root)
    * can never map to the same output path and silently clobber each
    * other. Rule: in sorted source order, a source keeps the first
    * integer of its basename if still free (the reference's
    * identity-partitioning contract, output generation = input
    * generation, `Cassandra3TTLRemover.java:57-61`); a collision — or a
    * nameless source — deterministically takes the smallest unused
    * generation above the maximum parsed one. */
  private def assignGenerations(sources: Seq[String]): Map[String, Int] = {
    val parsed = sources.distinct.sorted.map(s => s -> claimedGeneration(s))
    var next = parsed.flatMap(_._2).foldLeft(0)(math.max) + 1
    val used = scala.collection.mutable.Set.empty[Int]
    parsed.map { case (src, g) =>
      val gen = g.filterNot(used) match {
        case Some(free) => free
        case None => val n = next; next += 1; n
      }
      used += gen
      src -> gen
    }.toMap
  }

  /** One partition's bridge rows as the atoms they stand for, in frame
    * order; [[writeGeneration]] orders them. */
  private def framePartition(src: String, pk: String,
      prs: Array[SinkRow]): BigFormat.PartitionData = {
    val partDel = prs.filter(_.row_kind == "PARTITION_DELETION")
      .flatMap(_.deletion_us).maxOption
    val atoms = Seq.newBuilder[BigFormat.Atom]
    prs.filter(_.row_kind == "RANGE_TOMBSTONE_BOUND").foreach { r =>
      atoms += BigFormat.MarkerAtom(boundKind(r.name.get),
        r.clustering.getOrElse(Nil).map(Option(_)), Seq(r.deletion_us.get))
    }
    val staticPrs = prs.filter(isStaticRow)
    if (staticPrs.nonEmpty) {
      val (cells, complexDels) = rowPieces(src, staticPrs)
      if (cells.nonEmpty || complexDels.nonEmpty)
        atoms += BigFormat.RowAtom(Nil, None, None, None, None, cells,
          complexDels, static = true)
    }
    prs.filterNot(isStaticRow)
      .filter(r => r.row_kind == "ROW" ||
        r.row_kind == "PK_LIVENESS" || r.row_kind == "ROW_DELETION" ||
        r.row_kind == "CELL_DELETION" ||
        r.row_kind == "COMPLEX_DELETION")
      .groupBy(_.clustering.map(_.map(Option(_))).getOrElse(Nil))
      .foreach { case (cl, crs) =>
        val rowDel = crs.filter(_.row_kind == "ROW_DELETION")
          .flatMap(_.deletion_us).maxOption
        val pkLive = crs.find(_.row_kind == "PK_LIVENESS").flatMap(_.cell)
        val (cells, complexDels) = rowPieces(src, crs)
        if (rowDel.isDefined || pkLive.isDefined || cells.nonEmpty ||
          complexDels.nonEmpty)
          atoms += BigFormat.RowAtom(cl,
            pkLive.flatMap(_.writetime_us),
            pkLive.flatMap(_.ttl_s),
            pkLive.flatMap(_.expire_us).map(e => (e / 1000000L).toInt),
            rowDel, cells, complexDels)
      }
    BigFormat.PartitionData(pk, partDel, atoms.result())
  }

  /** One key's bridge rows as its versions for [[mergePartition]]: one
    * partition per input sstable, in sstable order. */
  private def frameVersions(pk: String, prs: Array[SinkRow])
      : Seq[(String, BigFormat.PartitionData)] =
    prs.groupBy(_.sstable).toSeq.sortBy(_._1)
      .map { case (in, vs) => (in, framePartition(in, pk, vs)) }

  /** The cells and whole-collection tombstones of one (static or
    * clustered) row group, in frame order. */
  private def rowPieces(src: String, crs: Array[SinkRow])
      : (Seq[BigFormat.CellAtom], Seq[(String, Long)]) = {
    // a nameless cell kind has no column to land in — and a dropped
    // cell tombstone can RESURRECT deleted data on a later merge, so
    // refuse loudly (same pattern as the unknown-row_kind guard)
    crs.find(r => r.name.isEmpty &&
      (r.row_kind == "ROW" || r.row_kind == "CELL_DELETION"))
      .foreach(r => throw new IllegalArgumentException(
        s"$src: ${r.row_kind} without a column name is not " +
          "encodable by the binary sink"))
    val complexDels = crs.toSeq
      .filter(_.row_kind == "COMPLEX_DELETION")
      .map(r => (r.name.getOrElse(throw new IllegalArgumentException(
        s"$src: COMPLEX_DELETION without a column name")),
        r.deletion_us.get))
    val cells = crs.toSeq.flatMap { r =>
      r.row_kind match {
        case "CELL_DELETION" =>
          val (nm, pth) = splitPath(r.name.get)
          val ts = r.cell.flatMap(_.writetime_us).orElse(r.deletion_us)
            .getOrElse(throw new IllegalArgumentException(
              s"$src: CELL_DELETION of '$nm' carries no timestamp"))
          val ldt = r.cell.flatMap(_.expire_us)
            .map(e => (e / 1000000L).toInt)
            .getOrElse((ts / 1000000L).toInt)
          Some(BigFormat.CellAtom(nm, ts, None, Some(ldt), None,
            deleted = true, path = pth))
        case "ROW" => r.cell.map { c =>
          val (nm, pth) = splitPath(r.name.get)
          BigFormat.CellAtom(nm, c.writetime_us.get, c.ttl_s,
            c.expire_us.map(e => (e / 1000000L).toInt), c.value,
            deleted = false, path = pth)
        }
        case _ => None
      }
    }
    (cells, complexDels)
  }

  /** The per-file EncodingStats minima (timestamp, local deletion
    * second, TTL) over what will be written, as Cassandra's
    * EncodingStats collector computes them. */
  private def encodingMinima(parts: Seq[BigFormat.PartitionData])
      : (Long, Int, Int) = {
    var ts = Long.MaxValue; var ldt = Int.MaxValue; var ttl = Int.MaxValue
    def upTs(v: Long): Unit = if (v < ts) ts = v
    parts.foreach { p =>
      p.deletionUs.foreach(upTs)
      p.atoms.foreach {
        case r: BigFormat.RowAtom =>
          r.livenessTsUs.foreach(upTs)
          r.deletionUs.foreach(upTs)
          r.complexDeletions.foreach(d => upTs(d._2))
          r.livenessLdtS.foreach(v => if (v < ldt) ldt = v)
          r.livenessTtlS.foreach(v => if (v < ttl) ttl = v)
          r.cells.foreach { c =>
            upTs(c.tsUs)
            c.ldtS.foreach(v => if (v < ldt) ldt = v)
            c.ttlS.foreach(v => if (v < ttl) ttl = v)
          }
        case m: BigFormat.MarkerAtom => m.deletions.foreach(upTs)
      }
    }
    (if (ts == Long.MaxValue) BigFormat.TimestampEpochUs else ts,
      if (ldt == Int.MaxValue) BigFormat.DeletionTimeEpochS else ldt,
      if (ttl == Int.MaxValue) BigFormat.TtlEpoch else ttl)
  }

  /** MetadataCollector role over the partitions in on-disk (token)
    * order — single pass, O(1) state beyond the drop-time histogram's
    * bounded bins. The histogram merges bins as it goes, so the order
    * it sees points in is part of its bytes: iterating the written
    * order makes them depend on the data alone. Every cell/liveness
    * updates the TTL bound with its ttl — 0 when non-expiring — and
    * the deletion-time bound with its localDeletionTime —
    * Int.MaxValue (NO_DELETION_TIME) when live; deletions of every
    * granularity update timestamp + deletion-time bounds; only FINITE
    * deletion times feed the droppability histogram. */
  private def collectStats(sorted: Seq[BigFormat.PartitionData],
      clTypes: Seq[String]): BigFormat.StatsCollected = {
    var cMinTs = Long.MaxValue; var cMaxTs = Long.MinValue
    var cMinLdt = Int.MaxValue; var cMaxLdt = Int.MinValue
    var cMinTtl = Int.MaxValue; var cMaxTtl = Int.MinValue
    var nRows = 0L; var nCells = 0L
    var drop = OldFormat.TombstoneHistogram.empty
    // MetadataCollector.updateClusteringValues' accounting: per
    // clustering column, the min/max ENCODED value under that
    // column's own comparator, fed by every clustered row AND
    // range-tombstone marker (static rows excluded — Cassandra
    // never feeds STATIC_CLUSTERING to the collector). The
    // serialized form keeps the contiguous defined prefix.
    val clMin = Array.fill[Option[Array[Byte]]](clTypes.size)(None)
    val clMax = Array.fill[Option[Array[Byte]]](clTypes.size)(None)
    def upClustering(cl: Seq[Option[String]]): Unit = {
      var i = 0
      val n = math.min(cl.size, clTypes.size)
      while (i < n) {
        cl(i) match {
          case Some(v) =>
            val enc = BigFormat.encodeValue(clTypes(i), v)
            if (clMin(i).forall(cur =>
              BigFormat.compareEncoded(clTypes(i), enc, cur) < 0))
              clMin(i) = Some(enc)
            if (clMax(i).forall(cur =>
              BigFormat.compareEncoded(clTypes(i), enc, cur) > 0))
              clMax(i) = Some(enc)
          case None =>
        }
        i += 1
      }
    }
    def upTs(v: Long): Unit = {
      if (v < cMinTs) cMinTs = v; if (v > cMaxTs) cMaxTs = v
    }
    def upLdt(v: Int): Unit = {
      if (v < cMinLdt) cMinLdt = v; if (v > cMaxLdt) cMaxLdt = v
      if (v != Int.MaxValue) drop = drop.update(v.toDouble)
    }
    def upTtl(v: Int): Unit = {
      if (v < cMinTtl) cMinTtl = v; if (v > cMaxTtl) cMaxTtl = v
    }
    def upDeletion(markedUs: Long): Unit = {
      upTs(markedUs); upLdt((markedUs / 1000000L).toInt)
    }
    sorted.foreach { p =>
      p.deletionUs.foreach(upDeletion)
      p.atoms.foreach {
        case r: BigFormat.RowAtom =>
          nRows += 1
          if (!r.static) upClustering(r.clustering)
          r.livenessTsUs.foreach { t =>
            upTs(t)
            upTtl(r.livenessTtlS.getOrElse(0))
            upLdt(r.livenessLdtS.getOrElse(Int.MaxValue))
          }
          r.deletionUs.foreach(upDeletion)
          r.complexDeletions.foreach { case (_, d) => upDeletion(d) }
          r.cells.foreach { c =>
            nCells += 1
            upTs(c.tsUs)
            upTtl(c.ttlS.getOrElse(0))
            upLdt(c.ldtS.getOrElse(Int.MaxValue))
          }
        case m: BigFormat.MarkerAtom =>
          upClustering(m.clustering)
          m.deletions.foreach(upDeletion)
      }
    }
    BigFormat.StatsCollected(
      minTimestampUs =
        if (cMinTs == Long.MaxValue) BigFormat.TimestampEpochUs
        else cMinTs,
      maxTimestampUs =
        if (cMaxTs == Long.MinValue) BigFormat.TimestampEpochUs
        else cMaxTs,
      minLdtS = cMinLdt,
      maxLdtS = if (cMaxLdt == Int.MinValue) Int.MaxValue else cMaxLdt,
      minTtlS = if (cMinTtl == Int.MaxValue) 0 else cMinTtl,
      maxTtlS = if (cMaxTtl == Int.MinValue) 0 else cMaxTtl,
      tombstoneDropTime = drop,
      totalColumnsSet = nCells,
      totalRows = nRows,
      // the contiguous defined prefix: clustering prefixes are
      // dense, so a gap can only come from mid-prefix nulls —
      // truncate there rather than serialize a hole
      minClusteringValues = clMin.takeWhile(_.isDefined)
        .flatten.map(_.toIndexedSeq: Seq[Byte]).toSeq,
      maxClusteringValues = clMax.takeWhile(_.isDefined)
        .flatten.map(_.toIndexedSeq: Seq[Byte]).toSeq)
  }

  /** Encodes and writes ONE output generation `nb-<gen>` — the step
    * every sink route ends in, so the header and ordering rules live in
    * one place. `parts` are the generation's partitions as atoms in any
    * order; no partitions write nothing. The serialization header is
    * rebuilt from their one clustering arity and every column their
    * cells and collection tombstones name (tombstone-only columns
    * included): simple columns first, then complex, each sorted by name
    * (complex columns re-encode as map<text,text> without typing, the
    * value-opaque string carry of the whole cell model). Then, under
    * the output types: cells ordered by header column (a cell
    * tombstone before a live cell of the same column), collection
    * tombstones merged per column, the static row first and every
    * other unfiltered in clustering-comparator order, partitions in
    * token order; stats, Data/Index and the other components follow
    * from that one order. Each component is written whole through
    * [[OutputFiles]]: on the local filesystem that is `java.nio`, with
    * Hadoop's file and directory modes and no `.crc` side file. */
  private def writeGeneration(target: SinkTarget,
      conf: org.apache.hadoop.conf.Configuration, src: String, gen: Int,
      parts: Seq[BigFormat.PartitionData]): Unit = {
    if (parts.isEmpty) return
    val typing = target.typing
    def atoms = parts.iterator.flatMap(_.atoms)
    val arity = atoms.collect {
      case r: BigFormat.RowAtom if !r.static => r.clustering.size
      case m: BigFormat.MarkerAtom => m.clustering.size
    }.distinct.toSeq
    require(arity.length <= 1,
      s"$src: heterogeneous clustering arity ${arity.mkString(",")}")
    val nClust = arity.headOption.getOrElse(0)
    // (static?, column, complex?) of every cell and collection tombstone
    val used = atoms.flatMap {
      case r: BigFormat.RowAtom =>
        r.cells.iterator.map(c => (r.static, c.name, c.path.isDefined)) ++
          r.complexDeletions.iterator.map(d => (r.static, d._1, true))
      case _ => Iterator.empty
    }.toSet
    def inventory(static: Boolean): Seq[(String, String)] = {
      val side = used.toSeq.filter(_._1 == static)
      val complexCols = side.collect { case (_, c, true) => c }.distinct.sorted
      val bareNames = side.collect { case (_, c, false) => c }.distinct.sorted
      val clash = bareNames.toSet.intersect(complexCols.toSet)
      require(clash.isEmpty,
        s"$src: columns used both simple and complex: " +
          clash.toSeq.sorted.mkString(","))
      def resolve(nm: String, complex: Boolean): String =
        typing match {
          case None =>
            if (complex)
              BigFormat.mapType(BigFormat.Utf8Type, BigFormat.Utf8Type)
            else BigFormat.Utf8Type
          case Some(ty) =>
            val t = ty.columnTypes.getOrElse(nm,
              throw new IllegalArgumentException(
                s"$src: column '$nm' is not declared in the CQL schema"))
            require(BigFormat.complexOf(t).isDefined == complex,
              s"$src: column '$nm' is ${if (complex) "" else "not "}" +
                s"a collection in the data but declared '$t'")
            t
        }
      bareNames.map(n => n -> resolve(n, false)) ++
        complexCols.map(n => n -> resolve(n, true))
    }
    val statics = inventory(static = true)
    val regulars = inventory(static = false)
    val dupCols = statics.map(_._1).toSet.intersect(regulars.map(_._1).toSet)
    require(dupCols.isEmpty,
      s"$src: columns used both static and regular: " +
        dupCols.toSeq.sorted.mkString(","))
    typing.foreach { ty =>
      // the frame's static/regular split must agree with the
      // schema's declared static modifiers
      statics.map(_._1).find(!ty.staticCols(_)).foreach(c =>
        throw new IllegalArgumentException(
          s"$src: column '$c' is static in the data but not " +
            "declared STATIC in the CQL schema"))
      regulars.map(_._1).find(ty.staticCols).foreach(c =>
        throw new IllegalArgumentException(
          s"$src: column '$c' is declared STATIC but appears on " +
            "clustered rows"))
      require(ty.clusteringTypes.size == nClust || nClust == 0,
        s"$src: data has $nClust clustering values but the CQL " +
          s"schema declares ${ty.clusteringTypes.size}")
    }
    val clTypes = typing.map(_.clusteringTypes.take(nClust))
      .getOrElse(Seq.fill(nClust)(BigFormat.Utf8Type))
    val keyType = typing.map(_.keyType).getOrElse(BigFormat.Utf8Type)
    val staticOrder = statics.map(_._1).zipWithIndex.toMap
    val regularOrder = regulars.map(_._1).zipWithIndex.toMap
    def ordered(r: BigFormat.RowAtom): BigFormat.RowAtom = {
      val order = if (r.static) staticOrder else regularOrder
      r.copy(
        cells = r.cells.sortBy(c =>
          2 * order(c.name) + (if (c.deleted) 0 else 1)),
        complexDeletions = newestPerColumn(r.complexDeletions))
    }
    def encPrefix(cl: Seq[Option[String]]): Seq[Option[Array[Byte]]] =
      cl.zipWithIndex.map { case (v, i) =>
        v.map(BigFormat.encodeValue(clTypes(i), _))
      }
    // the 3.0 format requires unfiltereds (rows AND range-tombstone
    // markers, INTERLEAVED) in clustering-comparator order —
    // component-wise under the declared types, kinds resolving ties —
    // not a rendered-string order (which would misorder
    // numeric/negative clusterings and park every marker at the
    // front). Cassandra refuses anything else on load, and the
    // promoted index assumes it. The comparator leaves one kind of tie
    // on canonically rendered input: two bounds at one clustering
    // whose kinds share a `kindComparison` class (an exclusive end
    // meeting an inclusive start, an inclusive end meeting an
    // exclusive start). Cassandra's ordinals order each such pair
    // end-first (0 < 1, 6 < 7), so they break it; the sort is stable
    // for whatever is left (identical kinds at one clustering).
    val comparator = new Ordering[
        (Seq[Option[Array[Byte]]], Int, BigFormat.Atom)] {
      def compare(x: (Seq[Option[Array[Byte]]], Int, BigFormat.Atom),
          y: (Seq[Option[Array[Byte]]], Int, BigFormat.Atom)): Int = {
        val c = BigFormat.compareClusterable(clTypes, x._1, x._2, y._1, y._2)
        if (c != 0) c else Integer.compare(x._2, y._2)
      }
    }
    def normalized(p: BigFormat.PartitionData): BigFormat.PartitionData = {
      val markers = p.atoms.collect { case m: BigFormat.MarkerAtom =>
        (encPrefix(m.clustering), m.kind, m: BigFormat.Atom)
      }
      val rows = p.atoms
        .collect { case r: BigFormat.RowAtom if !r.static =>
          (encPrefix(r.clustering), BigFormat.Kind.Clustering,
            ordered(r): BigFormat.Atom)
        }
      val static = p.atoms
        .collect { case r: BigFormat.RowAtom if r.static => ordered(r) }
      p.copy(atoms = static ++ (markers ++ rows).sorted(comparator).map(_._3))
    }
    val sorted = BigFormat.tokenOrder(parts.map(normalized), keyType)
    val (minTs, minLdt, minTtl) = encodingMinima(sorted)
    val header = BigFormat.Header(minTs, minLdt, minTtl, keyType = keyType,
      clusteringTypes = clTypes, staticColumns = statics,
      regularColumns = regulars)
    // no `.crc` side files: each byte is CRC'd once, by the components
    // that carry checksums
    val fs = FileSystem.get(java.net.URI.create(target.dir), conf)
    // the FULL loadable component set — primary index, bloom filter,
    // sampled summary, digest and TOC alongside Data/Statistics (the
    // reference's bulk-load-back contract,
    // `Cassandra3TTLRemoverTest.java:168-176`)
    val (dataBytes, index) = BigFormat.writeSortedDataFile(sorted, header,
      target.columnIndexSize)
    SSTableComponents.buildAll(dataBytes, index, header,
      compression = target.compression,
      stats = Some(collectStats(sorted, clTypes)))
      .foreach { case (comp, bytes) =>
        OutputFiles.write(fs, new HPath(s"${target.dir}/nb-$gen-big-$comp"),
          bytes)
      }
  }

  /** Modern-era (3.x `m*` / 4.x `n*`) generations decode through
    * [[BigFormat]] with their own serialization header. */
  private def modernEra(dataPath: String): Boolean = {
    val v = versionOf(dataPath.split('/').last)
    v.startsWith("m") || v.startsWith("n")
  }

  /** UTF8/Ascii partition keys render to their own bytes, so the
    * index's token order is the rendered key's token order. */
  private def textKey(keyType: String): Boolean =
    keyType == BigFormat.Utf8Type || keyType == BigFormat.AsciiType

  /** One output generation of the file route: the name it reports, its
    * generation number, the listing indices it reads, and the ring
    * bucket `bucket` of `buckets` it reads each of them at. */
  private[graft] final case class FileTask(name: String, gen: Int,
      inputs: Seq[Int], bucket: Int, buckets: Int)

  /** The file route's driver-built plan over a lake listing: one task
    * per output generation, merging each key's versions when `merge`. */
  private[graft] final case class FilePlan(
      listing: Seq[(String, SiblingInfo)], tasks: Seq[FileTask],
      merge: Boolean)

  /** The file route's plan for the lake at `root`, or None when the lake
    * calls for the frame route. Every Data.db must be modern-era, and
    * there must be at least one.
    *  - The rewrite (`merge` false) is one task per input, at bucket 0
    *    of 1, writing the generation [[assignGenerations]] gives it. It
    *    needs every identity to claim its own generation
    *    ([[sourceSetViolations]]), so each input keeps its generation
    *    whether or not it carries rows, as the frame route assigns.
    *  - The merge is `outGenerations` tasks; task b reads every input at
    *    ring bucket b and writes `nb-<b+1>`. One bucket streams each
    *    input whole. Several seek each input's bucket by its Index.db,
    *    which stays one contiguous run only where the index token is the
    *    rendered key's token: so every input must carry an Index.db and
    *    a UTF8/Ascii partition key (read off its Statistics.db header).
    *    On other keys a bucket is scattered over the file, one positioned
    *    open (and, compressed, one chunk decompressed) per partition. */
  private[graft] def fileRoutePlan(spark: SparkSession, root: String,
      table: String, merge: Boolean, outGenerations: Int): Option[FilePlan] = {
    val conf = spark.sessionState.newHadoopConf()
    val listing = listLake(root, conf)
    val identities = listing.map(f => sstableIdentity(f._1))
    val n = math.max(1, outGenerations)
    def name(gen: Int) = s"$table/nb-$gen-big-Data.db"
    val takes = listing.nonEmpty && listing.forall(f => modernEra(f._1)) && (
      if (!merge) sourceSetViolations(identities).isEmpty
      else n == 1 || listing.forall { case (path, info) =>
        info.hasIndex && info.hasStats &&
          textKey(new SSTableOpen(path, conf, Some(info)).header.keyType)
      })
    Option.when(takes)(FilePlan(listing,
      if (merge) (0 until n).map(b =>
        FileTask(name(b + 1), b + 1, listing.indices, b, n))
      else {
        val genOf = assignGenerations(identities)
        identities.zipWithIndex.map { case (id, i) =>
          FileTask(name(genOf(id)), genOf(id), Seq(i), 0, 1)
        }
      }, merge))
  }

  /** A decoded partition as the frame route writes it after the TTL
    * strip — the bridge model's view, which the reader's
    * [[bridgeRows]] and the sink's row grouping produce together: TTL
    * and expiry stripped from cells and row liveness; row liveness kept
    * only on a row with neither cells nor a row deletion (the reader
    * emits PK_LIVENESS for no other row); a cell tombstone keeps
    * timestamp and local deletion second, no value; range-tombstone
    * boundaries split into their two bounds; rows with nothing left
    * dropped. Also returns the bridge rows the reader emits for it, the
    * count the sink reports; a partition with none writes nothing. A static row has
    * no bridge form for a row deletion or primary-key liveness (neither
    * exists in Cassandra), so one refuses loudly. */
  private def bridgePartition(src: String, p: BigFormat.PartitionData)
      : (BigFormat.PartitionData, Long) = {
    var rows = p.deletionUs.size.toLong
    val atoms = Seq.newBuilder[BigFormat.Atom]
    p.atoms.foreach {
      case r: BigFormat.RowAtom =>
        if (r.static && (r.deletionUs.isDefined || r.livenessTsUs.isDefined))
          throw new IllegalStateException(s"$src: partition ${p.key}: a " +
            "static row with a row deletion or primary-key liveness has no " +
            "bridge-row form")
        val cells = r.cells.map(c =>
          if (c.deleted) c.copy(ttlS = None, value = None,
            ldtS = Some(c.ldtS.getOrElse((c.tsUs / 1000000L).toInt)))
          else c.copy(ttlS = None, ldtS = None))
        val live =
          if (r.cells.isEmpty && r.deletionUs.isEmpty) r.livenessTsUs
          else None
        rows += r.deletionUs.size + r.complexDeletions.size + cells.size +
          live.size
        if (live.isDefined || r.deletionUs.isDefined || cells.nonEmpty ||
          r.complexDeletions.nonEmpty)
          atoms += r.copy(livenessTsUs = live, livenessTtlS = None,
            livenessLdtS = None, cells = cells)
      case m: BigFormat.MarkerAtom =>
        rows += m.deletions.size
        m.deletions.zipWithIndex.foreach { case (d, side) =>
          atoms += BigFormat.MarkerAtom(boundKind(boundName(m.kind, side, src)),
            m.clustering, Seq(d))
        }
    }
    (p.copy(atoms = atoms.result()), rows)
  }

  /** The FILE route of `--sink sstable`, shaped like the reference's
    * rewrite (`Cassandra4TTLRemover.java:74-91`) and like Cassandra's
    * own compaction: one Spark job of one task per output generation
    * of `plan` ([[fileRoutePlan]]). A task opens each of its inputs
    * ([[SSTableOpen]]: header, ring check, chunk map), decodes the
    * partitions in its ring bucket ([[bucketPartitions]]), strips TTLs
    * on them ([[bridgePartition]]), merges each key's versions when the
    * plan merges ([[mergePartition]]) and writes its generation
    * ([[writeGeneration]]). No DSv2 scan, no bridge rows, no shuffle, no
    * window plan; a task holds one output generation's partitions. The
    * bytes equal the frame route's ([[writeSSTables]] over the stripped
    * [[readBinary]] frame, or [[mergeSSTables]] over it). With
    * `verify`, task t checks the digest of input i when t ≡ i (mod the
    * task count), so each input is verified once. Decoded partitions
    * count into the `partitionsServed` accumulator. Returns (sstable,
    * bridge rows written) per output file. */
  private[graft] def writeFileRoute(spark: SparkSession, plan: FilePlan,
      outDir: String, keyspace: String, table: String,
      compression: Option[String], verify: Boolean): Seq[(String, Long)] = {
    val FilePlan(listing, tasks, merge) = plan
    val target = SinkTarget(s"$outDir/$keyspace/$table", None,
      compression, BigFormat.ColumnIndexSize)
    val hconf = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    val served = spark.sparkContext.longAccumulator(MetricPartitionsServed)
    val n = tasks.size
    spark.sparkContext.parallelize(tasks.zipWithIndex, math.max(1, n))
      .map { case (task, t) =>
        val conf = hconf.value.value
        // the bridged partitions that carry rows, or, merging, each
        // key's bridged versions, in input order
        val bridged = Vector.newBuilder[(BigFormat.PartitionData, Long)]
        val versions = scala.collection.mutable.LinkedHashMap
          .empty[String, Vector[(String, BigFormat.PartitionData)]]
        task.inputs.foreach { i =>
          val (path, info) = listing(i)
          val src = sstableIdentity(path)
          val open = new SSTableOpen(path, conf, Some(info))
          try {
            if (verify && i % n == t) open.verifyDigest()
            bucketPartitions(open, path, task.bucket, task.buckets).foreach {
              p =>
                served.add(1)
                val (part, rows) = bridgePartition(src, p)
                if (rows > 0) {
                  if (merge) versions(p.key) =
                    versions.getOrElse(p.key, Vector.empty) :+ ((src, part))
                  else bridged += ((part, rows))
                }
            }
          } finally open.close()
        }
        val parts =
          if (merge) versions.iterator.map { case (key, vs) =>
            val (part, rows, _) = mergePartition(key, vs)
            (part, rows)
          }.toVector
          else bridged.result()
        writeGeneration(target, conf, task.name, task.gen, parts.map(_._1))
        (task.name, parts.map(_._2).sum)
      }
      .collect().filter(_._2 > 0).toSeq.sortBy(_._1)
  }

  /** The ring span 2^64 as a double: a token's ring position is
    * `token / RingSpan + 0.5`, in [0, 1]. */
  private val RingSpan: Double = 1.8446744073709552E19

  /** Output bucket in [0, n) of a Murmur3 token by fixed ring division:
    * the ring position times n, floored, capped at n - 1. Both routes
    * bucket through it (`RemoverCli.ringBucket` on the frame route), so
    * a merged partition lands in the same output generation on either. */
  private[graft] def ringBucket(token: Long, n: Int): Int =
    math.min(n - 1, math.floor((token.toDouble / RingSpan + 0.5) * n)
      .toLong.toInt)

  /** The partitions of one input whose rendered key falls in ring
    * bucket b of n. One bucket is the whole file, streamed from offset
    * 0 through the open's positioned handle (which its `close`
    * releases), with no index read. Otherwise they are decoded at
    * their Index.db positions. The keys are UTF8/Ascii
    * ([[fileRoutePlan]]), whose index token is the rendered key's
    * token, so the bucket is one contiguous run of entries and the walk
    * stops past it. Each run of bucket entries is one positioned
    * stream. A decoded key must match its index entry. */
  private def bucketPartitions(open: SSTableOpen, path: String, b: Int,
      n: Int): Iterator[BigFormat.PartitionData] =
    if (n == 1) BigFormat.partitions(open.header, open.openDataAt(0L), path)
    else seekBucket(open, path, b, n)

  private def seekBucket(open: SSTableOpen, path: String, b: Int,
      n: Int): Iterator[BigFormat.PartitionData] = {
    val keyType = open.header.keyType
    require(textKey(keyType), s"$path: the file route seeks a bucket " +
      s"by Index.db only on UTF8/Ascii keys, not $keyType")
    // (Data.db position, rendered keys) of each run
    val runs = open.withIndexEntries { entries =>
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, scala.collection.mutable.ArrayBuffer[String])]
      var inRun = false
      var past = false
      while (!past && entries.hasNext) {
        val (keyBytes, pos, _) = entries.next()
        val key = BigFormat.renderValue(keyType, keyBytes)
        val kb = ringBucket(BigFormat.murmur3Token(
          key.getBytes(java.nio.charset.StandardCharsets.UTF_8)), n)
        if (kb == b) {
          if (!inRun) out += ((pos, scala.collection.mutable.ArrayBuffer.empty))
          out.last._2 += key
          inRun = true
        } else {
          inRun = false
          past = kb > b
        }
      }
      out.toSeq
    }
    // one run at a time: every run's stream wraps the one seekable
    // handle, so a run is drained before the next one opens
    runs.iterator.flatMap { case (pos, keys) =>
      val decoded = BigFormat.partitions(open.header, open.openDataAt(pos),
        path)
      keys.iterator.map { k =>
        if (!decoded.hasNext) throw new java.io.EOFException(
          s"$path: Data.db ends before the partition of key '$k'")
        val p = decoded.next()
        if (p.key != k) throw new IllegalStateException(
          s"$path: the Index.db entry of key '$k' points at partition " +
            s"'${p.key}'")
        p
      }
    }
  }

  /** Spark's string order (unsigned UTF-8 bytes) — the order
    * [[graft.ops.TtlOps.lwwMerge]] compares values and clusterings in. */
  private[graft] def compareText(a: String, b: String): Int =
    UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))

  /** Spark's `array<string>` order over rendered clusterings: element
    * by element, NULL first, then the shorter prefix first. */
  private def compareRendered(a: Seq[Option[String]],
      b: Seq[Option[String]]): Int = {
    val it = a.iterator.zip(b.iterator)
    while (it.hasNext) {
      val c = it.next() match {
        case (None, None) => 0
        case (None, _) => -1
        case (_, None) => 1
        case (Some(x), Some(y)) => compareText(x, y)
      }
      if (c != 0) return c
    }
    Integer.compare(a.size, b.size)
  }

  /** A range tombstone paired from one start and one end bound. */
  private final case class PairedRange(scl: Seq[Option[String]],
      sinc: Boolean, ecl: Seq[Option[String]], einc: Boolean, del: Long) {
    def covers(cl: Seq[Option[String]]): Boolean = {
      val s = compareRendered(cl, scl)
      val e = compareRendered(cl, ecl)
      (if (sinc) s >= 0 else s > 0) && (if (einc) e <= 0 else e < 0)
    }
  }

  /** A partition's bound markers (src, bound) paired into ranges as
    * `lwwMerge` pairs them: starts and ends each sorted by (clustering,
    * inclusive, deletion), then zipped, each range deleted at the later
    * of its bounds. Unbalanced bounds, and paired ranges that are not
    * ordered and disjoint, fail with `lwwMerge`'s messages. */
  private def pairRanges(key: String,
      bounds: Seq[(String, BigFormat.MarkerAtom)]): Seq[PairedRange] = {
    if (bounds.isEmpty) return Nil
    val order = new Ordering[(Seq[Option[String]], Boolean, Long)] {
      def compare(x: (Seq[Option[String]], Boolean, Long),
          y: (Seq[Option[String]], Boolean, Long)): Int = {
        val c = compareRendered(x._1, y._1)
        if (c != 0) c
        else if (x._2 != y._2) java.lang.Boolean.compare(x._2, y._2)
        else java.lang.Long.compare(x._3, y._3)
      }
    }
    // (side, clustering, inclusive, deletion) of each bound
    val named = bounds.map { case (src, m) =>
      val Array(side, inclusivity) = boundName(m.kind, 0, src).split(':')
      (side, (m.clustering, inclusivity == "inclusive", m.deletions.head))
    }
    val starts = named.collect { case ("start", b) => b }.sorted(order)
    val ends = named.collect { case ("end", b) => b }.sorted(order)
    if (starts.size != ends.size) throw new IllegalStateException(
      s"unbalanced range-tombstone bounds in partition $key")
    val ranges = starts.lazyZip(ends).map { (s, e) =>
      PairedRange(s._1, s._2, e._1, e._2, math.max(s._3, e._3))
    }
    val overlapping = ranges.exists(r => compareRendered(r.scl, r.ecl) > 0) ||
      ranges.lazyZip(ranges.drop(1)).exists { (a, b) =>
        val c = compareRendered(a.ecl, b.scl)
        c > 0 || (c == 0 && a.einc && b.sinc)
      }
    if (overlapping) throw new IllegalStateException(
      s"overlapping range tombstones in partition $key (generations: " +
        bounds.map(_._1).distinct.sorted.mkString(", ") + "): paired " +
        "bounds are not ordered and disjoint, and merging boundary " +
        "markers across generations is not supported")
    ranges
  }

  /** Cassandra's `Cells.reconcile` as `lwwMerge` ranks a cell's
    * versions: the later writetime, then a tombstone over a
    * write, then the greater value, then the later deletion second.
    * True when `x` beats or ties `y`. */
  private def reconcilesOver(x: BigFormat.CellAtom,
      y: BigFormat.CellAtom): Boolean = {
    def opt[A](a: Option[A], b: Option[A])(cmp: (A, A) => Int): Int =
      (a, b) match {
        case (Some(p), Some(q)) => cmp(p, q)
        case (Some(_), None) => 1
        case (None, Some(_)) => -1
        case _ => 0
      }
    val c =
      if (x.tsUs != y.tsUs) java.lang.Long.compare(x.tsUs, y.tsUs)
      else if (x.deleted != y.deleted) java.lang.Boolean.compare(x.deleted,
        y.deleted)
      else {
        val v = opt(x.value, y.value)(compareText)
        if (v != 0) v else opt(x.ldtS, y.ldtS)(Integer.compare)
      }
    c >= 0
  }

  /** One key's bridged versions (src, partition), merged under the LWW
    * rules every remover sink runs: `--sink sstable` on both routes, and
    * the parquet and sstabledump sinks through [[mergeRows]].
    * [[graft.ops.TtlOps.lwwMerge]] implements the same rules
    * independently; the tests hold this merge to it. The rules: the
    * greatest partition and row deletion, and the greatest collection
    * deletion of each column of a row; every range-tombstone bound
    * kept, paired into ranges; each cell (a column, or a collection
    * path) and the primary-key liveness keep only their winning version,
    * and only when it is newer than every deletion covering it (a static
    * row answers to the partition deletion only). Returns the merged
    * partition, the bridge rows it renders to (a liveness counted with
    * every row that keeps one) and,
    * when `countLive`, the live versions newer than every deletion
    * covering them, per (clustering, bridge-row name) of each live cell
    * and liveness: a static row's clustering is None, a liveness's name
    * is None. */
  private def mergePartition(key: String,
      versions: Seq[(String, BigFormat.PartitionData)],
      countLive: Boolean = false)
      : (BigFormat.PartitionData, Long, Map[LiveKey, Long]) = {
    val partDel = versions.flatMap(_._2.deletionUs).maxOption
    val bounds = versions.flatMap { case (src, p) =>
      p.atoms.collect { case m: BigFormat.MarkerAtom => (src, m) }
    }
    val ranges = pairRanges(key, bounds)
    var rows = partDel.size.toLong + bounds.size
    var counts = Map.empty[LiveKey, Long]
    val groups = versions.flatMap(_._2.atoms.collect {
      case r: BigFormat.RowAtom => r
    }).groupBy(r => (r.static, r.clustering))
    val rowAtoms = groups.toSeq.flatMap { case ((static, cl), rs) =>
      val rowDel = rs.flatMap(_.deletionUs).maxOption
      val complexDels = newestPerColumn(rs.flatMap(_.complexDeletions))
      val shadow = (partDel.toSeq ++ rowDel ++ (
        if (static) Nil
        else ranges.filter(_.covers(cl)).map(_.del))).maxOption
      def ok(ts: Long): Boolean = shadow.forall(ts > _)
      val livenesses = rs.flatMap(_.livenessTsUs).filter(ok)
      val live = livenesses.maxOption
      val survivors = rs.flatMap(_.cells).filter(c => ok(c.tsUs))
      val cells = survivors.groupBy(c => (c.name, c.path)).values
        .map(_.reduce((x, y) => if (reconcilesOver(x, y)) x else y)).toSeq
      if (countLive) {
        val at = if (static) None else Some(cl)
        if (livenesses.nonEmpty)
          counts += (at, None) -> livenesses.size.toLong
        survivors.filterNot(_.deleted).groupBy(bridgeName).foreach {
          case (n, vs) => counts += (at, Some(n)) -> vs.size.toLong }
      }
      rows += rowDel.size + complexDels.size + cells.size + live.size
      if (static) {
        if (cells.isEmpty && complexDels.isEmpty) None
        else Some(BigFormat.RowAtom(Nil, None, None, None, None, cells,
          complexDels, static = true))
      } else if (rowDel.isEmpty && live.isEmpty && cells.isEmpty &&
        complexDels.isEmpty) None
      else Some(BigFormat.RowAtom(cl, live, None, None, rowDel, cells,
        complexDels))
    }
    (BigFormat.PartitionData(key, partDel, bounds.map(_._2) ++ rowAtoms),
      rows, counts)
  }

  /** A row's collection deletions with one per column, the newest, as
    * Cassandra keeps them, in column order; fewer than two pass as they
    * are. */
  private def newestPerColumn(dels: Seq[(String, Long)]): Seq[(String, Long)] =
    if (dels.size < 2) dels
    else dels.groupBy(_._1).map { case (c, ds) => (c, ds.map(_._2).max) }
      .toSeq.sortBy(_._1)

  /** A live cell's or liveness's place in a merged partition, as
    * [[mergePartition]] counts its versions: the clustering (None on a
    * static row) and the bridge-row name (None for the liveness). */
  private type LiveKey = (Option[Seq[Option[String]]], Option[String])

  /** A merged bridge row ([[mergeRows]]): the bridge columns but
    * `sstable`, plus the live versions of its cell. */
  private[sources] final case class MergedRow(partition_key: String,
      clustering: Option[Seq[String]], row_kind: String,
      name: Option[String], cell: Option[SinkCell],
      deletion_us: Option[Long], n_versions: Option[Long])

  /** The LWW merge of the parquet and sstabledump sinks, under the rules
    * `--sink sstable` writes. `cells` are stripped bridge rows carrying
    * `sstable`. One shuffle by partition key brings each key's rows to
    * one task; each input sstable's rows become one version
    * ([[framePartition]]); [[mergePartition]] merges them; the merged
    * partition renders back to bridge rows by the reader's mapping
    * ([[bridgeRows]]), with every surviving primary-key liveness kept.
    * Returns the bridge columns but `sstable`, plus `n_versions`: on a
    * ROW or PK_LIVENESS row, the live versions of its cell newer than
    * every deletion covering them; NULL on every other kind. A task holds
    * one partition at a time. */
  private[graft] def mergeRows(cells: DataFrame): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    cells
      .select(col("partition_key"), col("clustering"), col("row_kind"),
        col("name"), col("cell"), col("deletion_us"), col("sstable"))
      .as[SinkRow]
      .groupByKey(_.partition_key)
      .flatMapGroups { (pk, it) =>
        val rows = it.toArray
        requireSinkKinds(rows)
        val (merged, _, counts) =
          mergePartition(pk, frameVersions(pk, rows), countLive = true)
        bridgeRows[SinkCell, MergedRow](merged, pk, everyLiveness = true)(
          (v, wt, ttl, exp) => SinkCell(v, Some(wt), ttl, exp),
          (cl, kind, name, cell, del) => MergedRow(pk,
            Option(cl).map(_.map(_.orNull)), kind, Option(name),
            Option(cell), Option(del).map(_.longValue),
            if (kind == "ROW" || kind == "PK_LIVENESS")
              counts.get((Option(cl), Option(name)))
            else None))
      }
      .toDF()
  }

  /** Registered `src_sstable_roundtrip` — the reference's WHOLE
    * lifecycle on the binary format, no JSON anywhere: fixture
    * SSTables → [[readBinary]] → TTL strip (values, writetimes and
    * every tombstone survive; TTL metadata does not) →
    * [[writeSSTables]] (one rewritten SSTable per source, token
    * order, real format) → [[readBinary]] of the REWRITTEN files →
    * the shared per-kind audit. The oracle is the tree-audit SQL with
    * the TTL sum nulled — exactly what stripping must do to that one
    * column while changing nothing else. */
  def binaryRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val in = binaryFixtureShared(spark, sfDir)
    val out = graft.Scratch.dir("graft-binrt-")
    val stripped = readBinary(spark, in.toString)
      .withColumn("cell",
        graft.model.CellModel.stripCellKeepDeletion(col("cell")))
    writeSSTables(stripped, out.toString, "graft", "documents",
      sources = Some(dataSourceIdentities(spark, in.toString)))
    val audit = SSTableDumpBridge
      .auditFrame(readBinary(spark, out.toString))
      .localCheckpoint()
    graft.Scratch.delete(out)
    audit
  }

  /** Registered audit `src_sstable_binary`: binary fixture →
    * [[readBinary]] → the SAME per-row_kind aggregation, sharing
    * `src_sstabledump_tree`'s DuckDB oracle VERBATIM — the fourth IO
    * path held to the one ingestion contract. */
  def binaryAudit(spark: SparkSession, sfDir: String): DataFrame =
    binaryAuditV(spark, sfDir, "nb")

  /** Registered `src_sstable_split`: the SPLIT scan under the same
    * tree oracle — fixture → unstripped rewrite (Index/Summary/bloom
    * components land) → read with a tiny `splitBytes` so every
    * Data.db divides into many partition-aligned byte ranges → audit.
    * Sharing the oracle VERBATIM proves splitting is pure parallelism:
    * no partition lost at a blind boundary, none decoded twice. At
    * 100 TB this is the straggler killer — a major-compacted SSTable
    * is one FILE but many tasks. */
  def splitAudit(spark: SparkSession, sfDir: String): DataFrame =
    splitAuditV(spark, sfDir, None)

  /** Registered `src_sstable_split_lz4`: the SAME split contract over
    * a chunk-COMPRESSED generation — blind on-disk ranges map to
    * whole chunks via CompressionInfo.db, their logical span aligns
    * to partitions, and the tree oracle is shared VERBATIM. The two
    * features that used to switch off on default-config (compressed)
    * files — splitting and point seeks — now hold on them. */
  def splitAuditLz4(spark: SparkSession, sfDir: String): DataFrame =
    splitAuditV(spark, sfDir, Some(CompressedData.Lz4))

  private def splitAuditV(spark: SparkSession, sfDir: String,
      compression: Option[String]): DataFrame = {
    // the plain leg reads the shared read-only set; the lz4 leg needs
    // its own chunk-compressed write
    val dir = compression match {
      case None => plainGenSetShared(spark, sfDir)
      case Some(_) =>
        val in = binaryFixtureShared(spark, sfDir)
        val out = graft.Scratch.dir("graft-splitaudit-")
        writeSSTables(readBinary(spark, in), out.toString,
          "graft", "documents", compression = compression,
          sources = Some(dataSourceIdentities(spark, in)))
        out.toString
    }
    // 2048, not the old 512: at bench SF a 512-byte target makes each
    // ~150 KB Data.db explode into ~300 half-KB tasks per file whose
    // launch overhead dwarfs their decode work (guide §2.2/§6 — too
    // many tiny map tasks); 2048 keeps every generation multi-split at
    // every tested SF (the boundary-alignment contract this audit
    // exists to witness; BigFormatSpec additionally pins alignment at
    // 64/512/4096 on designed fixtures) at a quarter of the task
    // count. Splitting is pure parallelism — the shared-verbatim tree
    // oracle is split-count-independent by this audit's own thesis.
    val split = spark.read.format("sstable-big")
      .option("splitBytes", "2048").load(dir)
    val audit = SSTableDumpBridge.auditFrame(split).localCheckpoint()
    if (compression.isDefined) graft.Scratch.delete(
      java.nio.file.Paths.get(dir))
    audit
  }

  /** Registered `src_sstable_token_range`: the TOKEN-RANGE read path
    * over the binary connector — the reference's S4 (range-bounded
    * scan with wrap-around) in its literal on-disk form. `tokenLo`/
    * `tokenHi` bound the Murmur3 ring inclusively; the reader walks
    * Index.db in token order (early-stopping past `hi` on non-wrap
    * ranges), seeks exactly the member partitions, and skips whole
    * generations whose Summary.db first/last-key token span is
    * disjoint — `getScanner(ranges)`' sstable elision. In-query
    * checks: membership is EXACT against a driver-side token filter
    * of every key, and the wrap-complement range `[hi+1, lo-1]` tiles
    * the ring (rows(range) + rows(complement) = rows(full) — so wrap
    * semantics are exercised at every SF). The audit residually
    * restricts to the four probe keys, keeping the point oracle. */
  def tokenRangeAudit(spark: SparkSession, sfDir: String): DataFrame = {
    // read-only consumer of the shared plain set (ranged reads,
    // summary estimates, the planner-rule probe — nothing mutates)
    val dir = plainGenSetShared(spark, sfDir)
    val keys = Seq("8", "13", "15", "17")
    def tok(k: String): Long = BigFormat.murmur3Token(
      BigFormat.encodeValue(BigFormat.Utf8Type, k))
    val toks = keys.map(tok)
    val (lo, hi) = (toks.min, toks.max)
    def ranged(l: Long, h: Long): DataFrame =
      spark.read.format("sstable-big")
        .option("tokenLo", l.toString).option("tokenHi", h.toString)
        .load(dir)
    // the full scan and the ranged scan are independent reads; their
    // checkpoints and key collects overlap (guide §2.6)
    val Seq(full, inRange) = graft.Par.all(Seq(
      () => readBinary(spark, dir).localCheckpoint(),
      () => ranged(lo, hi).localCheckpoint()))
    val Seq(allKeys, gotKeys) = graft.Par.all(Seq(
      () => full.select("partition_key").distinct()
        .collect().map(_.getString(0)),
      () => inRange.select("partition_key").distinct()
        .collect().map(_.getString(0))))
    val expected = allKeys.filter(k =>
      { val t = tok(k); t >= lo && t <= hi }).toSet
    val got = gotKeys.toSet
    require(got == expected,
      s"$dir: token range served ${got.size} keys, driver-side " +
        s"membership says ${expected.size}")
    // the three tiling counts are independent actions over frames
    // that are either checkpointed or disjoint reads — overlap them
    // (guide §2.6)
    val Seq(nIn, nWrap, nFull) = graft.Par.all(Seq(
      () => inRange.count(),
      () => ranged(hi + 1, lo - 1).count(),
      () => full.count()))
    require(nIn + nWrap == nFull,
      s"$dir: range + wrap-complement do not tile the ring " +
        s"($nIn + $nWrap vs $nFull)")
    // the reference's per-range SAMPLED key estimate
    // (`estimatedKeysForRanges`, `NoTTLReader.java:1289-1299`) off
    // Summary.db alone, gated per generation against the EXACT
    // in-range key count: a window of E consecutive index positions
    // holds ⌊E/I⌋ or ⌈E/I⌉ marks, so the mark-count × interval
    // estimate must land within ±interval of E (and ≥ 1, as the
    // reference pins). Checked on the probe range, its wrap-around
    // complement, and a 4× DOWNSAMPLED summary (in-place coarsening —
    // no Index.db re-stream) whose slack widens by exactly the factor.
    val keysByGen = full.select("sstable", "partition_key").distinct()
      .collect().map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (g, ks) => g -> ks.map(_._2) }
    def gateRange(l: Long, h: Long, downsample: Int): Unit = {
      val ests = SSTableMetadata
        .describeRange(spark, dir, l, h, downsample)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // a wrap-around range unwraps into TWO mark windows whose
      // ±interval overshoots ADD — the bound doubles with the window
      // count, not with the range's width
      val slack = 128L * downsample * (if (l <= h) 1 else 2)
      keysByGen.foreach { case (g, ks) =>
        val e = ks.count(k => {
          val t = tok(k)
          if (l <= h) t >= l && t <= h else t >= l || t <= h
        })
        val est = ests.getOrElse(g, sys.error(
          s"$dir: generation $g missing from describeRange"))
        require(est <= e + slack && est + slack > e && est >= 1,
          s"$dir: per-range estimate $est for $g is outside " +
            s"±$slack of the exact in-range count $e")
      }
    }
    // three independent estimate gates (each a describeRange collect
    // over sidecars only) — overlap them (guide §2.6)
    graft.Par.all(Seq(
      () => gateRange(lo, hi, downsample = 1),
      () => gateRange(hi + 1, lo - 1, downsample = 1), // wrap-around
      () => gateRange(lo, hi, downsample = 4)))
    // the AUTOMATIC form: a murmur3_token() predicate alone derives
    // the same range via the planner rule — pinned so a rule break
    // fails the oracle run
    graft.plans.GraftExtensions.enable(spark)
    val tokCol = graft.functions.GraftFunctions
      .murmur3_token(col("partition_key"))
    val auto = readBinary(spark, dir).filter(tokCol.between(lo, hi))
    val autoRange = auto.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
        .DataSourceV2ScanRelation => tokenRangeOf(r.scan)
    }.flatten
    require(autoRange == Seq((lo, hi)),
      s"$dir: rule derived $autoRange, expected [$lo, $hi]")
    require(auto.count() == nIn,
      s"$dir: rule-ranged read served ${auto.count()} rows, " +
        s"options-ranged served $nIn")
    SSTableDumpBridge.auditFrame(
      inRange.filter(col("partition_key").isin(keys: _*)))
      .localCheckpoint()
  }

  /** Registered `src_sstable_token_typed`: ring-range reads over a
    * TYPED (bigint) partition key. `murmur3_token_typed(pk, <type>)`
    * computes the REAL ring position — the token of the 8-byte
    * encoding, not of the rendered decimal string — so the planner
    * rule's derived range carries the marshal type as its token
    * space and the reader ENGAGES it (the file's declared key type
    * matches): Summary file skips and index walks on a non-text
    * table, the reference's S4 ring semantics beyond text keys.
    * In-query `require`s pin ring-membership equality against
    * driver-side tokens and the rule's engagement; the audit of the
    * four probed keys shares `pointOracleSql`. */
  def tokenTypedAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val in = binaryFixtureShared(spark, sfDir)
    val out = graft.Scratch.dir("graft-tokentyped-")
    val cql = graft.model.CqlSchema.parse(
      "CREATE TABLE graft.documents (pk bigint, ck text, len text, " +
        "src text, PRIMARY KEY (pk, ck))")
      .fold(e => throw new IllegalArgumentException(e), identity)
    writeSSTables(readBinary(spark, in), out.toString,
      "graft", "documents", Some(cql),
      sources = Some(dataSourceIdentities(spark, in)))
    val dir = s"$out/graft/documents"
    val keys = Seq("8", "13", "15", "17")
    def tok(k: String): Long = BigFormat.murmur3Token(
      BigFormat.encodeValue(BigFormat.LongType, k))
    val toks = keys.map(tok)
    val (lo, hi) = (toks.min, toks.max)
    graft.plans.GraftExtensions.enable(spark)
    val tokCol = graft.functions.GraftFunctions
      .murmur3_token_typed(col("partition_key"), BigFormat.LongType)
    val full = readBinary(spark, dir).localCheckpoint()
    val expected = full.select("partition_key").distinct()
      .collect().map(_.getString(0))
      .filter(k => { val t = tok(k); t >= lo && t <= hi }).toSet
    val auto = readBinary(spark, dir).filter(tokCol.between(lo, hi))
    val autoRange = auto.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
        .DataSourceV2ScanRelation => tokenRangeOf(r.scan)
    }.flatten
    require(autoRange == Seq((lo, hi)),
      s"$dir: rule derived $autoRange from the typed predicate, " +
        s"expected [$lo, $hi]")
    val inRange = auto.localCheckpoint()
    val got = inRange.select("partition_key").distinct()
      .collect().map(_.getString(0)).toSet
    require(got == expected,
      s"$dir: typed token range served ${got.size} keys, driver-side " +
        s"membership says ${expected.size}")
    val audit = SSTableDumpBridge.auditFrame(
      inRange.filter(col("partition_key").isin(keys: _*)))
      .localCheckpoint()
    graft.Scratch.delete(out)
    audit
  }

  /** Registered `src_sstable_scrub`: the salvage READ path —
    * Cassandra's `sstablescrub` re-expressed as a connector option.
    * The fixture writes a capped generation set (doc_id < 1000, so
    * the poison below is deterministic at every SF), then corrupts
    * EXACTLY ONE partition: doc 378's 2-byte key-length prefix
    * becomes 0xFFFF, so its decode must overrun the (far smaller)
    * file — a guaranteed failure confined to one index slot. The
    * in-query `require`s pin that the ordinary read DIES on the
    * damage (scrub earns its keep) and that scrub serves everything
    * except the poisoned key; the oracle replays the tree SQL minus
    * doc 378. At 100 TB this is the difference between re-running a
    * multi-hour job and a WARN line per bad partition. */
  def scrubAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val in = binaryFixtureShared(spark, sfDir)
    val out = graft.Scratch.dir("graft-scrubaudit-")
    writeSSTables(
      readBinary(spark, in)
        .filter(col("partition_key").cast("long") < 1000),
      out.toString, "graft", "documents",
      // the frame is FILTERED, so the listing may be a superset of
      // its distinct sstable set — harmless here: generations parse
      // uniquely from the fixture's nb-<g> basenames (no collision
      // resolution to shift), and groups that lost every row are
      // simply never written
      sources = Some(dataSourceIdentities(spark, in)))
    val dir = s"$out/graft/documents"
    // doc 378: ROW-shaped (378%10=8), fileId 378%4=2 → generation 3
    val dataP = java.nio.file.Paths.get(dir, "nb-3-big-Data.db")
    val idxP = java.nio.file.Paths.get(dir, "nb-3-big-Index.db")
    val keyBytes = BigFormat.encodeValue(BigFormat.Utf8Type, "378").toSeq
    val pos = SSTableComponents.indexEntries(
      new java.io.DataInputStream(new java.io.ByteArrayInputStream(
        java.nio.file.Files.readAllBytes(idxP))), idxP.toString)
      .collectFirst { case (k, p, _) if k.toSeq == keyBytes => p }
      .getOrElse(throw new IllegalStateException(
        s"$idxP: fixture key 378 missing from the index"))
    val ch = java.nio.channels.FileChannel.open(dataP,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      ch.position(pos)
      ch.write(java.nio.ByteBuffer.wrap(
        Array(0xff.toByte, 0xff.toByte)))
    } finally ch.close()
    java.nio.file.Files.deleteIfExists(
      dataP.getParent.resolve("." + dataP.getFileName + ".crc"))
    val plain = scala.util.Try(readBinary(spark, dir).count())
    require(plain.isFailure,
      s"$dir: the poisoned generation still reads cleanly — the " +
        "scrub audit is proving nothing")
    val scrubbed = readBinary(spark, dir, None, verify = false,
      scrub = true).localCheckpoint()
    val got = scrubbed.select("partition_key").distinct()
      .collect().map(_.getString(0)).toSet
    require(!got.contains("378"),
      s"$dir: scrub served rows from the corrupt partition")
    val audit = SSTableDumpBridge.auditFrame(scrubbed).localCheckpoint()
    graft.Scratch.delete(out)
    audit
  }

  /** Registered `src_sstable_digest`: the read-side INTEGRITY pass —
    * every generation's as-on-disk Data.db CRC32 is recomputed and
    * compared with its `Digest.crc32` sibling before a row is served
    * (`o.a.c.io.util.DataIntegrityMetadata`'s check, the first pass of
    * Cassandra's standalone verifier). The fixture rewrites through
    * the sink (digests land per generation), then reads back with
    * `verify` on — the audit sharing the tree oracle proves
    * verification is pure assurance, never a transform; the spec
    * proves a flipped Data.db byte refuses loudly. */
  def digestAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val in = binaryFixtureShared(spark, sfDir)
    val out = graft.Scratch.dir("graft-digestaudit-")
    writeSSTables(readBinary(spark, in), out.toString,
      "graft", "documents",
      sources = Some(dataSourceIdentities(spark, in)))
    val audit = SSTableDumpBridge.auditFrame(
      readBinary(spark, out.toString, None, verify = true))
      .localCheckpoint()
    graft.Scratch.delete(out)
    audit
  }

  /** The same audit over a Cassandra 3.x fixture ("me" files,
    * checksumless metadata) — `src_sstable_binary_3x` shares the tree
    * oracle too: one decoder, both format eras the 3.0 storage engine
    * spans (the reference ships separate cassandra-3/cassandra-4
    * modules for exactly this split). */
  def binaryAudit3x(spark: SparkSession, sfDir: String): DataFrame =
    binaryAuditV(spark, sfDir, "me")

  /** The same audit over a DEFAULT-CONFIG-shaped fixture: LZ4
    * chunk-compressed Data.db with its CompressionInfo.db sibling —
    * `src_sstable_binary_lz4` shares the tree oracle VERBATIM, so
    * compression is proven a pure transport layer (identical rows out
    * of identical logical content, fifth IO path, one contract). */
  def binaryAuditLz4(spark: SparkSession, sfDir: String): DataFrame =
    binaryAuditV(spark, sfDir, "nb", Some(CompressedData.Lz4))

  /** Registered `src_sstable_wide`: WIDE partitions — the shape real
    * compactions produce and the ONE shape that "promotes" an Index.db
    * entry (RowIndexEntry.IndexedEntry: the partition's column-index
    * blocks ride the index). Documents regroup into 4 partitions of
    * 4 rows per doc (hundreds of rows each), written typed
    * (`ck bigint`, so rows land in true comparator order) with a
    * 1 KiB `column_index_size` — Cassandra's own knob at its legal
    * minimum — so every partition spans MANY IndexInfo blocks at any
    * SF. The generation is then served three ways that must agree:
    *   1. the full scan (the registered audit's input is the SPLIT
    *      scan — byte ranges aligned across promoted payloads),
    *   2. bloom-gated point lookups (Index.db iteration now skips
    *      promoted payloads by their explicit length),
    *   3. the promoted envelopes themselves parse on the driver and
    *      satisfy the ColumnIndex invariants (offsets ascending from
    *      headerLength, every non-final block ≥ the threshold).
    * The audit shares the tree-style oracle shape. */
  /** The WIDE fixture frame shared by [[wideAudit]] and
    * [[sliceAudit]]: documents regroup into 4 partitions (pk =
    * doc_id % 4) of 4 rows per doc (ck = doc_id*4+j, bigint-typed so
    * comparator order ≠ string order), value = source, writetime =
    * (TreeBase + doc_id) seconds. */
  private[graft] def wideFrame(spark: SparkSession,
      sfDir: String): DataFrame = {
    import spark.implicits._
    val base = SSTableDumpBridge.TreeBase
    graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id").cast("long"), col("source"))
      .as[(Long, String)]
      .flatMap { case (docId, source) =>
        (0 until 4).map { j =>
          ((docId % 4).toString, Seq((docId * 4 + j).toString), "ROW",
            Some("v"),
            Some((source, (base + docId) * 1000000L,
              None: Option[Int], None: Option[Long])),
            None: Option[Long],
            s"t/nb-${docId % 4 + 1}-big-Data.db")
        }
      }
      .toDF("partition_key", "clustering", "row_kind", "name",
        "cell_t", "deletion_us", "sstable")
      .withColumn("cell", struct(
        col("cell_t._1").as("value"), col("cell_t._2").as("writetime_us"),
        col("cell_t._3").as("ttl_s"), col("cell_t._4").as("expire_us")))
      .drop("cell_t")
  }

  /** The wide TYPED generation built once per corpus and shared by the
    * promoted-index audits ([[wideAudit]], [[sliceAudit]]) — both
    * consumers are read-only and the sink write is deterministic, so
    * sharing changes cost, not content (the trained-ANN memo
    * discipline). Scratch's exit hook owns the cleanup. */
  /** The DEFAULT-shape dump fixture, built once per corpus and shared
    * by every registered audit that only READS it before rewriting
    * elsewhere (token/point/split/scrub/digest/metadata/export/
    * streaming — ~10 queries each paid a full fixture write per run).
    * Deterministic content, read-only consumers ⇒ sharing changes
    * cost, not answers (the [[wideGeneration]] discipline); Scratch's
    * exit hook owns the cleanup. Parameterized shapes (2.x era,
    * pre-compressed) stay per-caller via [[writeBinaryFixture]]. */
  private val binFixtureCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def binaryFixtureShared(spark: SparkSession,
      sfDir: String): String =
    binFixtureCache.getOrElseUpdate(sfDir,
      writeBinaryFixture(spark, sfDir).toString)

  private val plainGenSetCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** The shared fixture re-written as plain nb generations
    * (`graft/documents`), memoized per (JVM, sfDir) — the sink pass
    * half a dozen read-side audits used to each pay for themselves.
    * STRICTLY READ-ONLY for consumers: anything that junks Data.db,
    * rewrites Statistics.db or deletes components (the stats/keycount
    * audits) must keep writing its own private set — a mutation here
    * would poison every later query in the JVM. The cache owns the
    * directory (Scratch cleans at exit); consumers must not delete. */
  private[graft] def plainGenSetShared(spark: SparkSession,
      sfDir: String): String =
    plainGenSetCache.getOrElseUpdate(sfDir, {
      val out = graft.Scratch.dir("graft-plainset-")
      val in = binaryFixtureShared(spark, sfDir)
      writeSSTables(readBinary(spark, in),
        out.toString, "graft", "documents",
        sources = Some(dataSourceIdentities(spark, in)))
      s"$out/graft/documents"
    })

  private val WideBlockBytes = 1024
  private val wideGenCache =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def wideGeneration(spark: SparkSession, sfDir: String): String =
    wideGenCache.getOrElseUpdate(sfDir, {
      val out = graft.Scratch.dir("graft-wide-")
      val schema = graft.model.CqlSchema.parse(
        "CREATE TABLE graft.documents (pk text, ck bigint, v text, " +
          "PRIMARY KEY (pk, ck))").toOption
      writeSSTables(wideFrame(spark, sfDir), out.toString, "graft",
        "documents", schema, columnIndexSize = WideBlockBytes,
        // wideFrame synthesizes identities t/nb-<docId%4+1> and every
        // residue class is populated at every SF (doc ids are dense
        // from 0), so the set is known without a pass over the data
        sources = Some((1 to 4).map(g => s"t/nb-$g-big-Data.db")))
      s"$out/graft/documents"
    })

  def wideAudit(spark: SparkSession, sfDir: String): DataFrame = {
    locally {
      val threshold = WideBlockBytes
      val dir = wideGeneration(spark, sfDir)
      // 3. promoted envelopes are REALLY there and parse under the
      // ColumnIndex invariants — never pass vacuously
      val fs = FileSystem.get(java.net.URI.create(dir),
        spark.sessionState.newHadoopConf())
      val idxFiles = fs.listStatus(new HPath(dir))
        .map(_.getPath).filter(_.getName.endsWith("-Index.db"))
      require(idxFiles.nonEmpty, s"$dir: no Index.db components")
      val clTypes = Seq(BigFormat.LongType)
      var promotedSeen = 0
      idxFiles.foreach { p =>
        val in = fs.open(p)
        val bytes = try {
          val b = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
          in.readFully(0, b); b
        } finally in.close()
        SSTableComponents.readIndex(bytes, p.toString).foreach {
          case (_, _, promoted) if promoted.nonEmpty =>
            promotedSeen += 1
            val pr = BigFormat.readPromoted(promoted, clTypes, p.toString)
            require(pr.blocks.size >= 2, s"$p: promoted with " +
              s"${pr.blocks.size} blocks")
            require(pr.blocks.head.offset == pr.headerLength,
              s"$p: first block not at headerLength")
            pr.blocks.sliding(2).foreach {
              case Seq(a, b2) =>
                require(a.offset + a.width == b2.offset,
                  s"$p: non-contiguous blocks")
              case _ =>
            }
            pr.blocks.dropRight(1).foreach(b2 =>
              require(b2.width >= threshold,
                s"$p: undersized non-final block (${b2.width})"))
          case _ =>
        }
      }
      require(promotedSeen >= idxFiles.length,
        s"$dir: only $promotedSeen promoted entries across " +
          s"${idxFiles.length} generations — partitions too small " +
          "to exercise the promoted path")
      // 2. point lookup (bloom + index seek over promoted entries)
      // answers exactly like the full scan filtered after the fact
      def tiny(df: DataFrame): Seq[String] =
        SSTableDumpBridge.auditFrame(df).collect()
          .map(_.toString).sorted.toSeq
      val full = readBinary(spark, dir).localCheckpoint()
      val viaPoint = tiny(readBinary(spark, dir)
        .filter(col("partition_key") === "2"))
      val viaScan = tiny(full.filter(col("partition_key") === "2"))
      require(viaPoint == viaScan,
        s"$dir: point lookup diverged from the full scan over a " +
          s"promoted generation: $viaPoint vs $viaScan")
      // 1. the registered output: the SPLIT scan's audit
      val split = spark.read.format("sstable-big")
        .option("splitBytes", "4096").load(dir)
      SSTableDumpBridge.auditFrame(split).localCheckpoint()
    }
  }

  /** Registered `src_sstable_slice`: the promoted-index blocks
    * CONSUMED — a clustering-slice point read that seeks WITHIN a wide
    * partition (the reference's names-iterator serving path,
    * `NoTTLSSTableNamesIterator.java:156-225`: binary-search the
    * IndexInfo list, seek `basePosition + offset`, decode `width`
    * bytes). The wide typed generation (1 KiB blocks) is read with
    * `partition_key = '2'` pushed AND a `[lo, hi]` slice on the bigint
    * clustering; the reader decodes ONLY the overlapping blocks while
    * the slice predicate stays residual in the plan. In-query checks:
    * the sliced read equals the full scan under the same residual
    * filter (pruning is pure IO), and the slice's block range is a
    * STRICT subset of the partition's blocks (the middle-third bounds
    * guarantee skippable blocks on both flanks at any SF) — so a
    * slicing break or a silently-disengaged prune both fail loudly.
    * At 100 TB this is the difference between a point read and a
    * partition scan: a multi-GB production partition serves a slice
    * by decoding O(overlapping blocks). */
  def sliceAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .agg(org.apache.spark.sql.functions.min(col("doc_id").cast("long")),
        org.apache.spark.sql.functions.max(col("doc_id").cast("long")))
      .as[(Long, Long)].head()
    // middle-third ck band — derived, not absolute, so every SF has
    // rows below, inside, and above the slice
    val ckMin = 4L * docs._1
    val span = 4L * (docs._2 - docs._1 + 1)
    val lo = ckMin + span / 3
    val hi = ckMin + (2L * span) / 3
    locally {
      val dir = wideGeneration(spark, sfDir)
      // the slice must select a STRICT subset of blocks in every
      // promoted entry — otherwise the prune proved nothing
      val fs = FileSystem.get(java.net.URI.create(dir),
        spark.sessionState.newHadoopConf())
      val clTypes = Seq(BigFormat.LongType)
      val loB = BigFormat.encodeValue(BigFormat.LongType, lo.toString)
      val hiB = BigFormat.encodeValue(BigFormat.LongType, hi.toString)
      def cmp(name: (Seq[Option[String]], Int), b: Array[Byte]): Int =
        BigFormat.compareClusterable(clTypes,
          name._1.map(_.map(BigFormat.encodeValue(BigFormat.LongType, _))),
          name._2, Seq(Some(b)), BigFormat.Kind.Clustering)
      var strictSubsets = 0
      fs.listStatus(new HPath(dir)).map(_.getPath)
        .filter(_.getName.endsWith("-Index.db")).foreach { p =>
          val in = fs.open(p)
          val bytes = try {
            val b = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
            in.readFully(0, b); b
          } finally in.close()
          SSTableComponents.readIndex(bytes, p.toString).foreach {
            case (_, _, promoted) if promoted.nonEmpty =>
              val pr = BigFormat.readPromoted(promoted, clTypes,
                p.toString)
              val i0 = pr.blocks.indexWhere(b => cmp(b.lastName, loB) >= 0)
              val i1 = pr.blocks.lastIndexWhere(b =>
                cmp(b.firstName, hiB) <= 0)
              require(i0 >= 0 && i1 >= i0, s"$p: middle-third slice " +
                s"selected no blocks ($i0..$i1 of ${pr.blocks.size})")
              if (i0 > 0 && i1 < pr.blocks.size - 1) strictSubsets += 1
            case _ =>
          }
        }
      require(strictSubsets > 0,
        s"$dir: no promoted entry had skippable blocks on both flanks " +
          "— the slice audit would pass without pruning anything")
      // sliced read ≡ full scan under the same residual predicate
      def restricted(df: DataFrame): DataFrame = df
        .filter(col("partition_key") === "2" &&
          col("clustering")(0).cast("long").between(lo, hi))
      val sliced = restricted(spark.read.format("sstable-big")
        .option("sliceLo", lo.toString).option("sliceHi", hi.toString)
        .load(dir))
      // the AUTOMATIC path must reach the same bounds: with the
      // planner rule active, the bare Filter alone carries the slice
      // into the scan (PushClusteringSlice) — pinned here so the rule
      // breaking or silently disengaging fails the oracle run
      graft.plans.GraftExtensions.enable(spark)
      val auto = restricted(readBinary(spark, dir))
      val autoBounds = auto.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2ScanRelation => sliceOf(r.scan)
      }.flatten
      require(autoBounds ==
        Seq((Some(lo.toString), Some(hi.toString))),
        s"$dir: PushClusteringSlice injected $autoBounds, expected " +
          s"[$lo, $hi]")
      // baseline = the checkpointed full scan, filtered AFTER
      // materialization — a frame the planner rule cannot slice
      val viaScan = SSTableDumpBridge
        .auditFrame(restricted(readBinary(spark, dir).localCheckpoint()))
        .collect().map(_.toString).sorted.toSeq
      val viaAuto = SSTableDumpBridge.auditFrame(auto)
        .collect().map(_.toString).sorted.toSeq
      val audit = SSTableDumpBridge.auditFrame(sliced).localCheckpoint()
      val viaSlice = audit.collect().map(_.toString).sorted.toSeq
      require(viaSlice == viaScan,
        s"$dir: sliced read diverged from the residual-filtered full " +
          s"scan: $viaSlice vs $viaScan")
      require(viaAuto == viaScan,
        s"$dir: rule-sliced read diverged from the residual-filtered " +
          s"full scan: $viaAuto vs $viaScan")
      audit
    }
  }

  /** Registered `src_sstable_slice_elide` — FILE-level slice elision
    * off the STATS clustering bounds, Cassandra's
    * `ClusteringIndexSliceFilter.shouldInclude(sstable)`: three
    * ck-disjoint typed generations (gen g holds ck (g−1)·1000 …
    * (g−1)·1000+31), a pushed [1005, 1015] window, and the scan's own
    * DSv2 metrics REQUIRED to show exactly two generations skipped
    * whole — the IO that separates "scan every time-ordered
    * generation" from "touch the one that can match" at 100 TB. The
    * served rows are design arithmetic the oracle replays, and an
    * in-query gate holds the elided read equal to the checkpointed
    * full scan under the same residual predicate (an over-eager skip
    * fails BOTH ways). */
  def sliceElideAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val wt = 1609459200000000L
    val frame = (for {
      g <- 1 to 3
      i <- 0 until 32
    } yield {
      val ck = (g - 1) * 1000L + i
      (s"p$g-$i", Seq(ck.toString), "ROW", Some("v"),
        Some((ck.toString, wt + ck, None: Option[Int],
          None: Option[Long])),
        None: Option[Long], s"documents/nb-$g-big-Data.db")
    })
      .toDF("partition_key", "clustering", "row_kind", "name",
        "cell_t", "deletion_us", "sstable")
      .withColumn("cell", org.apache.spark.sql.functions.struct(
        col("cell_t._1").as("value"),
        col("cell_t._2").as("writetime_us"),
        col("cell_t._3").as("ttl_s"),
        col("cell_t._4").as("expire_us")))
      .drop("cell_t")
    val out = graft.Scratch.dir("graft-sliceelide-")
    val schema = graft.model.CqlSchema.parse(
      "CREATE TABLE graft.documents (pk text, ck bigint, v text, " +
        "PRIMARY KEY (pk, ck))").toOption
    writeSSTables(frame, out.toString, "graft", "documents", schema,
      // designed frame: exactly generations 1..3 by construction
      sources = Some((1 to 3).map(g => s"documents/nb-$g-big-Data.db")))
    val dir = s"$out/graft/documents"
    def restricted(df: DataFrame): DataFrame = df
      .filter(col("clustering")(0).cast("long").between(1005L, 1015L))
    val sliced = restricted(spark.read.format("sstable-big")
      .option("sliceLo", "1005").option("sliceHi", "1015").load(dir))
      .select(col("partition_key"),
        col("clustering")(0).cast("long").as("ck"),
        col("cell.value").as("v"))
    val got = sliced.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    // the elision must have actually fired: two of three generations
    // skipped whole, readable off the executed scan's own metrics
    val metrics = sliced.queryExecution.executedPlan.collectLeaves()
      .collect {
        case s: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec =>
          s.metrics.view.mapValues(_.value.toString.toLong).toMap
      }.head
    require(metrics.getOrElse(MetricFilesSkippedClustering, -1L) == 2L,
      s"clustering-span elision did not fire: $metrics")
    // elided ≡ full-scan-then-filter (a frame the option cannot touch)
    val baseline = restricted(readBinary(spark, dir).localCheckpoint())
      .count()
    require(got.length == 11 && baseline == 11L,
      s"slice-elide divergence: served ${got.length}, baseline " +
        s"$baseline, designed 11")
    graft.Scratch.delete(out)
    spark.createDataset(got.toSeq.sortBy(_._2))
      .toDF("partition_key", "ck", "v")
  }

  private def binaryAuditV(spark: SparkSession, sfDir: String,
      version: String, compression: Option[String] = None): DataFrame = {
    val out = writeBinaryFixture(spark, sfDir, version, compression)
    val audit = SSTableDumpBridge
      .auditFrame(readBinary(spark, out.toString))
      .localCheckpoint()
    graft.Scratch.delete(out)
    audit
  }
}

// DSv2 custom-metric classes are TOP-LEVEL with zero-arg constructors:
// Spark re-instantiates them by REFLECTION on the driver to aggregate
// task values for the UI (CustomMetrics.buildV2CustomMetricTypeName's
// contract) — a nested/parameterized class makes every aggregation
// log a SparkException and fall back.
private[sources] class PartitionsServedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = SSTableBinaryV2.MetricPartitionsServed
  override def description(): String = "Cassandra partitions decoded"
}
private[sources] class FilesSkippedBloomMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = SSTableBinaryV2.MetricFilesSkippedBloom
  override def description(): String =
    "files skipped whole by a Filter.db miss"
}
private[sources] class FilesSkippedTokenSpanMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String =
    SSTableBinaryV2.MetricFilesSkippedTokenSpan
  override def description(): String =
    "files skipped whole by Summary.db token-span disjointness"
}
private[sources] class PartitionsScrubSkippedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String =
    SSTableBinaryV2.MetricPartitionsScrubSkipped
  override def description(): String =
    "corrupt partitions skipped by scrub"
}
private[sources] class ComponentCacheHitsMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = SSTableBinaryV2.MetricComponentCacheHits
  override def description(): String =
    "sidecar component reads served from the executor cache"
}
private[sources] class ComponentCacheMissesMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String =
    SSTableBinaryV2.MetricComponentCacheMisses
  override def description(): String =
    "sidecar component reads that went to storage"
}
private[sources] class ThrottledBytesMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = SSTableBinaryV2.MetricThrottledBytes
  override def description(): String =
    "Data.db bytes metered through the read rate limiter"
}
private[sources] class ThrottleWaitNanosMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = SSTableBinaryV2.MetricThrottleWaitNanos
  override def description(): String =
    "nanos tasks waited on the read rate limiter"
}
private[sources] class ActivityMarksMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = SSTableBinaryV2.MetricActivityMarks
  override def description(): String =
    "reads marked into the sstable activity meters"
}
private[sources] class FilesSkippedClusteringMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String =
    SSTableBinaryV2.MetricFilesSkippedClustering
  override def description(): String =
    "files skipped whole by STATS clustering-bound disjointness"
}
