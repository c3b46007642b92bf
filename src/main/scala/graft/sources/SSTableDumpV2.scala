package graft.sources

import java.util.{Map => JMap}

import com.fasterxml.jackson.core.{JsonParser, JsonProcessingException,
  JsonToken}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSourceV2 connector for `sstabledump` JSON trees —
  * `spark.read.format("sstabledump").load(root)`, where `root` is one
  * dump file or a directory of them — and the one batch reader behind
  * [[SSTableDumpBridge.readTree]].
  *
  * Memory: a faithful `sstabledump` of one large SSTable is one
  * multi-GB JSON array. This reader streams Jackson tokens: the
  * top-level array is never materialized, one PARTITION OBJECT at a
  * time is read into a row, so per-task memory is bounded by the
  * largest Cassandra partition (the same bound the reference's own
  * scanner has, `Cassandra3TTLRemover.java:86-103` — it streams
  * partitions off the SSTable, never the table).
  *
  * Parallelism: the sorted dump files pack into tasks by the rule
  * Spark's file sources apply — each file costs its length plus
  * `spark.sql.files.openCostInBytes`, and a task closes before it
  * would pass the split target, `spark.sql.files.maxPartitionBytes`
  * lowered to total cost per core when the tree is small. One large
  * dump is one task; a tree of many small dumps runs in few tasks
  * instead of one per file. Each task walks its files in path order,
  * one open file at a time — the reference's file-per-unit directory
  * sweep (`TTLRemoverCLI.java:147-163`), batched.
  *
  * Damage: a truncated or malformed dump fails its task with the
  * file's path, line and column in the message — never a silent
  * short read.
  *
  * The connector deliberately emits RAW per-partition JSON
  * (`sstable`, `partition_json`): IO and memory discipline live in
  * the connector, while the cell-model semantics — liveness, TTL,
  * deletion kinds, range-tombstone bounds — stay in the ONE
  * Catalyst expression pipeline ([[SSTableDumpBridge.bridgeRows]])
  * the batch and streaming ingests share. Column pruning is pushed
  * down (asking only for `sstable` skips JSON re-serialization
  * entirely).
  */
class SSTableDumpV2 extends TableProvider with DataSourceRegister {
  override def shortName(): String = "sstabledump"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SSTableDumpV2.schema

  override def getTable(schema: StructType,
      partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new SSTableDumpV2.DumpTable(properties.get("path"))
}

object SSTableDumpV2 {

  val schema: StructType = StructType(Seq(
    StructField("sstable", StringType, nullable = false),
    StructField("partition_json", StringType, nullable = false)))

  private[sources] class DumpTable(path: String)
      extends Table with SupportsRead {
    override def name(): String = s"sstabledump($path)"
    override def schema(): StructType = SSTableDumpV2.schema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(
        options: CaseInsensitiveStringMap): ScanBuilder =
      new DumpScanBuilder(
        Option(path).getOrElse(options.get("path")))
  }

  private class DumpScanBuilder(path: String)
      extends ScanBuilder with SupportsPushDownRequiredColumns {
    private var required: StructType = SSTableDumpV2.schema
    override def pruneColumns(requiredSchema: StructType): Unit =
      required = requiredSchema
    override def build(): Scan = new DumpScan(path, required)
  }

  private class DumpScan(path: String, required: StructType)
      extends Scan with Batch {
    // the SESSION's Hadoop conf, captured at scan build (fs.defaultFS,
    // object-store credentials, spark.hadoop.* overrides), and shipped
    // to executors inside the reader factory — a bare
    // `new Configuration()` would resolve default-configured
    // filesystems only, silently ignoring the lake's settings
    private val hconf = new SerializableConfiguration(
      SparkSession.active.sessionState.newHadoopConf())
    // the session's file-split dials, read where the Hadoop conf is
    private val (maxBytes, openCost, minParts) = {
      val c = SparkSession.active.sessionState.conf
      (c.filesMaxPartitionBytes, c.filesOpenCostInBytes, c.filesMinPartitionNum
        .orElse(c.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM))
        .getOrElse(SparkSession.active.sparkContext.defaultParallelism))
    }

    override def readSchema(): StructType = required
    override def toBatch: Batch = this

    /** The sorted dump files packed into tasks by Spark's file-source
      * rule (`FilePartition.maxSplitBytes` and `getFilePartitions`):
      * each file costs its length plus the open cost, the split target
      * is `maxPartitionBytes` lowered to the total cost per core (never
      * below the open cost), and a task closes before a file would push
      * it past the target. Path order keeps partition ids
      * deterministic. */
    override def planInputPartitions(): Array[InputPartition] = {
      // the binary lake's walk: same hidden-file rule as Spark's file
      // sources (_SUCCESS, _committed and hidden files are not dumps)
      val files = SSTableBinaryV2.walkLake(path, hconf.value)
      val total = files.map(_._2 + openCost).sum
      val target = math.min(maxBytes, math.max(openCost, total / minParts))
      // (files, cost) per task: a file joins the last task unless it
      // would push that task past the target
      files.sortBy(_._1).foldLeft(Vector.empty[(Vector[String], Long)]) {
        case (done :+ ((task, size)), (f, len)) if size + len <= target =>
          done :+ ((task :+ f, size + len + openCost))
        case (done, (f, len)) => done :+ ((Vector(f), len + openCost))
      }.map(t => DumpFilesPartition(t._1): InputPartition).toArray
    }

    override def createReaderFactory(): PartitionReaderFactory =
      new DumpReaderFactory(required.fieldNames, hconf)
  }

  private case class DumpFilesPartition(files: Seq[String])
      extends InputPartition

  private class DumpReaderFactory(cols: Array[String],
      hconf: SerializableConfiguration)
      extends PartitionReaderFactory {
    override def createReader(
        partition: InputPartition): PartitionReader[InternalRow] =
      new DumpPartitionReader(
        partition.asInstanceOf[DumpFilesPartition].files, cols, hconf.value)
  }

  /** Streams one task's dump files in order: each is expected to hold
    * the top-level `[ {...}, ... ]` array `sstabledump` emits, and
    * yields one row per partition object. Memory is bounded by one
    * object — the parser never holds the array, and one file is open
    * at a time. The `sstable` identity is the current file's last two
    * path components (the S2 filename→identity rule). */
  private class DumpPartitionReader(files: Seq[String], cols: Array[String],
      conf: org.apache.hadoop.conf.Configuration)
      extends PartitionReader[InternalRow] {
    private val needJson = cols.contains("partition_json")
    private val mapper = new ObjectMapper()
    private val pending = files.iterator
    private var file: String = _
    private var sstable: UTF8String = _
    private var parser: JsonParser = _
    private var row: InternalRow = _

    /** Closes the current file and opens the next past its `[`; false
      * when none is left. Files open inside next(), never in the
      * constructor: by then Spark's task-completion listener owns
      * close(), so a malformed dump fails the task without leaking
      * its stream. */
    private def openNext(): Boolean = {
      close()
      pending.hasNext && {
        file = pending.next()
        sstable = UTF8String.fromString(
          file.split('/').takeRight(2).mkString("/"))
        val p = new HPath(file)
        // the parser owns the stream: closing it closes the file
        parser = mapper.createParser(
          p.getFileSystem(conf).open(p): java.io.InputStream)
        val first = parser.nextToken()
        require(first == JsonToken.START_ARRAY,
          s"$file: expected a top-level JSON array, got $first")
        true
      }
    }

    /** The first token of the next partition object, moving on to the
      * next file wherever a file's array ends; null past the last. An
      * end of input inside an array or object is a Jackson error, so
      * a cut file cannot end the walk early. */
    @scala.annotation.tailrec
    private def advance(): JsonToken = {
      val t = if (parser == null) JsonToken.END_ARRAY else parser.nextToken()
      if (t != JsonToken.END_ARRAY) t
      else if (openNext()) advance()
      else null
    }

    override def next(): Boolean =
      try {
        val t = advance()
        t != null && {
          require(t == JsonToken.START_OBJECT,
            s"$file: expected a partition object, got $t")
          // readTree consumes exactly this object's subtree; compact
          // re-serialization is parse-equivalent for from_json
          val json =
            if (needJson) mapper.readTree[JsonNode](parser).toString
            else { parser.skipChildren(); null }
          val values = cols.map {
            case "sstable" => sstable
            case "partition_json" => UTF8String.fromString(json)
            case other =>
              throw new IllegalArgumentException(s"unknown column $other")
          }
          row = InternalRow.fromSeq(values.toIndexedSeq)
          true
        }
      } catch {
        case e: JsonProcessingException =>
          val at = Option(e.getLocation).fold("")(l =>
            s" at line ${l.getLineNr}, column ${l.getColumnNr}")
          throw new java.io.IOException(
            s"$file: malformed sstabledump JSON$at: ${e.getOriginalMessage}",
            e)
      }

    override def get(): InternalRow = row

    override def close(): Unit = {
      if (parser != null) parser.close()
      parser = null
    }
  }
}
