package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingestion bridge from `sstabledump` JSON to the engine's cell-model
  * parquet — the documented path for pointing this library at a REAL
  * Cassandra data directory without a native SSTable reader.
  *
  * The reference consumes binary SSTables directly
  * (`Cassandra3TTLRemover.java:86,103` opening `*-Data.db` via the
  * bundled Cassandra internals); a Spark library can't link those
  * internals, but every Cassandra install ships `sstabledump`, which
  * emits one JSON document per SSTable: an array of partitions, each
  * with a key, rows (clustering + liveness_info + cells), and
  * deletion markers. This bridge maps that public, stable format onto
  * the same cell structs [[graft.model.CellModel]] defines, so the
  * whole operator surface (TTL strip, liveness filters, sorted sink,
  * partitioned layout) runs unchanged on converted real data:
  *
  *   sstabledump x-Data.db > dump.json      (per SSTable, outside Spark)
  *   SSTableDumpBridge.convert(spark, dumps, out)
  *   TtlOps / CellModel.stripAll over spark.read.parquet(out)
  *
  * Liveness mapping (sstabledump field → cell field):
  *   - row `liveness_info.tstamp` (ISO-8601) → writetime_us; a cell's
  *     own `tstamp` overrides its row's (exactly Cassandra's rule:
  *     cells carry timestamps, the row-level info is the shared
  *     default).
  *   - `ttl` seconds (row-level default, cell-level override) → ttl_s;
  *     absent = NO_TTL (null).
  *   - expire_us derives as writetime + ttl (the `expires_at` field is
  *     redundant with them and ignored).
  *
  * Deletion semantics — everything the reference preserves survives
  * the bridge (`Cassandra3TTLRemover.java:106-134` keeps partitions
  * with no rows and re-serializes RangeTombstones):
  *   - a row with `deletion_info` instead of `liveness_info` is a row
  *     tombstone: kind=ROW_DELETION, deletion_us from
  *     `marked_deleted`, no cells — same contract as
  *     [[graft.ops.TtlOps.deletionPreserve]].
  *   - a PARTITION with `deletion_info` emits one PARTITION_DELETION
  *     row (even when its `rows` array is empty — a partition-level
  *     tombstone with no row data must not vanish, or deleted data
  *     resurrects downstream).
  *   - a `range_tombstone_bound` entry emits one
  *     RANGE_TOMBSTONE_BOUND row per bound, `name` holding
  *     "start:inclusive"-style bound identity and clustering/
  *     deletion_us from the bound itself; downstream pairing is the
  *     [[graft.ops.TtlOps.tombstonePairing]] shape.
  *   - a live row with NO regular cells (primary-key-only insert,
  *     which Cassandra emits with liveness_info and `cells` absent or
  *     empty) emits one PK_LIVENESS row whose cell carries only the
  *     row-level liveness — the reference's serializeRow preserves
  *     such rows through their primary-key liveness.
  *   - an entry of any OTHER type is carried visibly as
  *     row_kind=UNSUPPORTED:<type> instead of being dropped: a bridge
  *     that silently discards what it doesn't recognize loses data
  *     without a trace.
  *
  * Timestamps are parsed timezone-EXPLICITLY: a bound/liveness string
  * without a zone suffix gets "Z" appended before `to_timestamp`, so
  * the parse is UTC-fixed no matter what the caller session's
  * timezone is (the bridge mutates no session state).
  *
  * Values are kept as STRINGS (the JSON rendering): the reference
  * itself never interprets values (type-generic ByteBuffer copy,
  * `Cassandra3TTLRemover.java:185,189`), and the strip/liveness
  * operators only touch the liveness fields, so a lossless string
  * carry is the honest analogue. Scale shape: one JSON file per
  * SSTable, streamed one partition object at a time and packed into
  * tasks by file size ([[readTree]]); everything after the scan is
  * `from_json`, a projection and two explodes
  * (partitions → entries → cells), no shuffle at all until a
  * downstream operator asks for one.
  */
object SSTableDumpBridge {

  /** sstabledump's document schema, declared explicitly: schema
    * inference over a directory of dumps would both cost a pass and
    * drift with whichever optional fields happen to appear; unknown
    * extra fields are ignored by Spark's JSON reader, absent ones
    * read as null — exactly the tolerance a bridge needs. */
  val dumpSchema: StructType = StructType.fromDDL(
    """partition struct<key:array<string>,position:bigint,
      |  deletion_info:struct<marked_deleted:string,local_delete_time:string>>,
      |rows array<struct<
      |  type:string,position:bigint,clustering:array<string>,
      |  liveness_info:struct<tstamp:string,ttl:int,expires_at:string,
      |    expired:boolean>,
      |  deletion_info:struct<marked_deleted:string,local_delete_time:string>,
      |  start:struct<type:string,clustering:array<string>,
      |    deletion_info:struct<marked_deleted:string,local_delete_time:string>>,
      |  end:struct<type:string,clustering:array<string>,
      |    deletion_info:struct<marked_deleted:string,local_delete_time:string>>,
      |  cells:array<struct<name:string,value:string,tstamp:string,ttl:int,
      |    expires_at:string>>>>""".stripMargin)

  /** ISO-8601 → epoch micros, timezone-explicit: strings without an
    * explicit zone get "Z" appended, so the result is identical under
    * ANY session timezone (no session-conf mutation). */
  private def isoToMicros(c: Column): Column =
    unix_micros(to_timestamp(
      when(c.rlike("(Z|[+-][0-9]{2}:?[0-9]{2})$"), c)
        .otherwise(concat(c, lit("Z")))))

  private val cellType =
    "struct<value:string,writetime_us:bigint,ttl_s:int,expire_us:bigint>"

  /** One cell-model row per cell, plus one per deletion marker
    * (row / partition / range-tombstone bound) and one per
    * primary-key-only live row: (partition_key, clustering, row_kind,
    * name, cell, deletion_us, sstable) with `cell` the canonical
    * `struct<value, writetime_us, ttl_s, expire_us>` every graft
    * operator consumes — over one dump file or a whole DIRECTORY TREE
    * of them (the `out/<ks>/<table>/<gen>.json` layout a per-SSTable
    * `sstabledump` sweep produces). The [[SSTableDumpV2]] connector
    * streams one partition object at a time and packs small files
    * into shared tasks — the reference's directory-walk ingestion
    * (`TTLRemoverCLI.java:147-163`) re-expressed as a distributed
    * read — then `from_json` with [[dumpSchema]] and [[bridgeRows]]
    * expand each object. `sstable` is the file's last two path
    * components (`<table>/<gen>.json` in a real dump tree — the S2
    * filename→identity rule applied to dumps; one component alone
    * could collide across sibling directories). */
  def readTree(spark: SparkSession, root: String): DataFrame =
    bridgeRows(
      spark.read.format("sstabledump").load(root)
        .select(from_json(col("partition_json"), dumpSchema).as("p"),
          col("sstable"))
        .select(col("p.partition"), col("p.rows"), col("sstable")))

  /** The tree expansion over a streaming dump-schema frame read by
    * Spark's file source (the connector is batch-only): adds the file
    * identity from `_metadata.file_path` and expands through the same
    * [[bridgeRows]] as [[readTree]]. */
  private[graft] def bridgeTreeFrame(raw: DataFrame): DataFrame =
    bridgeRows(
      raw.withColumn("sstable",
        regexp_extract(col("_metadata.file_path"), "([^/]+/[^/]+)$", 1)))

  /** The partition→bridge-row expansion, as ONE expression tree over
    * ONE scan: every input partition computes an ARRAY of output rows
    * (partition deletion ∪ per-entry rows) which a single explode
    * flattens. The alternative — one filtered branch per row kind,
    * unioned — would re-scan the dump once per kind (Catalyst shares
    * no subtrees across union branches); here rows are duplicated by
    * explode, never the plan.
    */
  private def bridgeRows(raw: DataFrame): DataFrame = {
    val nullCell = lit(null).cast(cellType)
    val nullClust = lit(null).cast("array<string>")
    def out(clustering: Column, rowKind: Column, name: Column,
        cell: Column, deletionUs: Column) =
      struct(clustering.cast("array<string>").as("clustering"),
        rowKind.cast("string").as("row_kind"),
        name.cast("string").as("name"), cell.cast(cellType).as("cell"),
        deletionUs.cast("long").as("deletion_us"))
    val emptyOut = array().cast(s"array<struct<clustering:array<string>," +
      s"row_kind:string,name:string,cell:$cellType,deletion_us:bigint>>")

    val exploded = raw.select(
      concat_ws(":", col("partition.key")).as("partition_key"),
      col("partition.deletion_info").as("pdel"),
      posexplode_outer(col("rows")).as(Seq("pos", "r")),
      col("sstable"))

    val r = col("r")
    // partition-level deletion: exactly once per partition — on the
    // first exploded entry, or on the null entry of an empty `rows`
    // array (explode_outer keeps the partition; a plain explode would
    // vanish the very tombstone the reference preserves)
    val partDel = when(
      col("pdel.marked_deleted").isNotNull &&
        (col("pos").isNull || col("pos") === 0),
      array(out(nullClust, lit("PARTITION_DELETION"), lit(null),
        nullCell, isoToMicros(col("pdel.marked_deleted")))))
      .otherwise(emptyOut)
    val isRow = r.isNotNull && col("r.type") === "row"
    val rowDel = when(isRow && col("r.deletion_info").isNotNull,
      array(out(col("r.clustering"), lit("ROW_DELETION"), lit(null),
        nullCell, isoToMicros(col("r.deletion_info.marked_deleted")))))
      .otherwise(emptyOut)
    // live row: one output per cell (cell liveness overrides the row
    // default), or — when `cells` is absent/empty (primary-key-only
    // insert) — one PK_LIVENESS row carrying the row-level liveness
    val rowWt = isoToMicros(col("r.liveness_info.tstamp"))
    val rowTtl = col("r.liveness_info.ttl")
    def liveCell(wt: Column, ttl: Column, value: Column) =
      struct(value.as("value"), wt.as("writetime_us"), ttl.as("ttl_s"),
        (wt + ttl.cast("long") * 1000000L).as("expire_us"))
    val isLive = isRow && col("r.deletion_info").isNull
    val live = when(isLive && size(col("r.cells")) > 0,
      transform(col("r.cells"), c =>
        out(col("r.clustering"), lit("ROW"), c.getField("name"),
          liveCell(coalesce(isoToMicros(c.getField("tstamp")), rowWt),
            coalesce(c.getField("ttl"), rowTtl), c.getField("value")),
          lit(null))))
      .when(isLive,
        array(out(col("r.clustering"), lit("PK_LIVENESS"), lit(null),
          liveCell(rowWt, rowTtl, lit(null)), lit(null))))
      .otherwise(emptyOut)
    // range-tombstone bound: one row per bound entry; `name` carries
    // the bound identity ("start:inclusive") so downstream pairing
    // (TtlOps.tombstonePairing shape) can reconstruct the range
    val isRt = r.isNotNull && col("r.type") === "range_tombstone_bound"
    val bound = coalesce(col("r.start"), col("r.end"))
    val boundSide = when(col("r.start").isNotNull, lit("start"))
      .otherwise(lit("end"))
    val rtDel = when(isRt,
      array(out(bound.getField("clustering"), lit("RANGE_TOMBSTONE_BOUND"),
        concat_ws(":", boundSide, bound.getField("type")),
        nullCell,
        isoToMicros(bound.getField("deletion_info")
          .getField("marked_deleted")))))
      .otherwise(emptyOut)
    // anything else is carried visibly, never silently dropped
    val unsupported = when(r.isNotNull && !isRow && !isRt,
      array(out(col("r.clustering"),
        concat(lit("UNSUPPORTED:"), coalesce(col("r.type"), lit("?"))),
        lit(null), nullCell, lit(null))))
      .otherwise(emptyOut)

    exploded
      .select(col("partition_key"),
        explode(concat(partDel, rowDel, live, rtDel, unsupported)).as("o"),
        col("sstable"))
      .select(col("partition_key"), col("o.clustering"), col("o.row_kind"),
        col("o.name"), col("o.cell"), col("o.deletion_us"), col("sstable"))
  }

  /** Convert a dump (file or directory of dumps) to cell-model
    * parquet under `outDir` — the bridge's batch entry point. */
  def convert(spark: SparkSession, dumpPath: String, outDir: String): Unit =
    readTree(spark, dumpPath).drop("sstable")
      .write.mode("overwrite").parquet(outDir)

  /** Fixture epoch for the dump-tree audit: 2021-01-01T00:00:00Z. */
  val TreeBase = 1609459200L

  /** Number of dump files the audit fixture spreads partitions over. */
  val TreeFiles = 4

  /** Synthesize a multi-file sstabledump tree from the documents
    * table — DISTRIBUTEDLY (each dump file is assembled by one task
    * from one group's collect_list; the driver never touches a row).
    * Every document becomes one partition in file `doc_id % 4`, with
    * its shape chosen by `doc_id % 10`: 3 → partition tombstone with
    * an EMPTY rows array, 7 → row tombstone, 5 → primary-key-only
    * insert (no cells), else a live row with a "len" cell (row
    * liveness, value = n_chars) and a "src" cell (own tstamp at
    * +10 s, value = source). Even doc_ids carry a row TTL of
    * doc_id % 100. All timestamps derive arithmetically from
    * [[TreeBase]] + doc_id seconds, so a SQL oracle reproduces every
    * aggregate from the parquet table alone. Caller owns the returned
    * dir's deletion.
    */
  def writeTreeFixture(spark: SparkSession,
      sfDir: String): java.nio.file.Path = {
    def iso(sec: Column) =
      date_format(timestamp_seconds(sec), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("source"),
        col("n_chars"))
    val kind = col("doc_id") % 10
    val ts = iso(lit(TreeBase) + col("doc_id"))
    val delInfo = struct(ts.as("marked_deleted"),
      iso(lit(TreeBase) + col("doc_id") + 1).as("local_delete_time"))
    val rowTtl = when(col("doc_id") % 2 === 0,
      (col("doc_id") % 100).cast("int"))
    val cells = array(
      struct(lit("len").as("name"), col("n_chars").cast("string").as("value"),
        lit(null).cast("string").as("tstamp")),
      struct(lit("src").as("name"), col("source").as("value"),
        iso(lit(TreeBase) + col("doc_id") + 10).as("tstamp")))
    val rowStruct = struct(
      lit("row").as("type"),
      col("doc_id").as("position"),
      array(concat(lit("c"), col("doc_id"))).as("clustering"),
      when(kind =!= 7, struct(ts.as("tstamp"), rowTtl.as("ttl")))
        .as("liveness_info"),
      when(kind === 7, delInfo).as("deletion_info"),
      when(!kind.isin(3, 5, 7), cells).as("cells"))
    val partition = struct(
      struct(array(col("doc_id").cast("string")).as("key"),
        lit(0L).as("position"),
        when(kind === 3, delInfo).as("deletion_info")).as("partition"),
      when(kind === 3, array().cast("array<struct<type:string," +
        "position:bigint,clustering:array<string>," +
        "liveness_info:struct<tstamp:string,ttl:int>," +
        "deletion_info:struct<marked_deleted:string,local_delete_time:string>," +
        "cells:array<struct<name:string,value:string,tstamp:string>>>>"))
        .otherwise(array(rowStruct)).as("rows"))
    val out = graft.Scratch.dir("graft-dumptree-")
    docs
      .select((col("doc_id") % TreeFiles).as("file_id"), col("doc_id"),
        to_json(partition).as("j"))
      .groupBy(col("file_id"))
      // deterministic in-file order via array_sort on (doc_id, json);
      // one row per group → one dump file per group after the
      // partitioned text write
      .agg(concat(lit("["),
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("doc_id"), col("j")))),
          x => x.getField("j"))),
        lit("]")).as("doc"))
      .repartition(col("file_id"))
      .write.partitionBy("file_id").mode("overwrite").text(out.toString)
    out
  }

  /** Registered dump-tree audit: [[writeTreeFixture]] →  [[readTree]]
    * → one summary row per row_kind (counts, distinct source files,
    * liveness/deletion sums, value mass). Every number is pinned by a
    * DuckDB oracle computing the same arithmetic straight off the
    * documents parquet — the end-to-end proof that a directory-scale
    * dump ingest loses nothing: a dropped partition tombstone, a
    * vanished PK-only row, or a mis-parsed timestamp all shift an
    * aggregate. Timestamps are summed as OFFSETS from [[TreeBase]]:
    * absolute epoch-micros (~1.6e15 each) overflow a Long sum past a
    * few thousand rows — the offset sum stays exactly as
    * timestamp-sensitive (a mis-parse shifts it) while bounded by
    * rows × max(doc_id)+10 seconds at any scale. */
  def treeAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val out = writeTreeFixture(spark, sfDir)
    val audit = auditFrame(readTree(spark, out.toString)).localCheckpoint()
    graft.Scratch.delete(out)
    audit
  }

  /** The per-row_kind audit aggregation over any bridge-row frame —
    * ONE definition shared by all three ingestion paths (the dump
    * connector behind [[readTree]], the streaming ingest, and the
    * binary big-format connector [[SSTableBinaryV2]]), so every path
    * answers to the same oracle arithmetic. */
  private[graft] def auditFrame(rows: DataFrame): DataFrame = {
    val baseUs = lit(TreeBase * 1000000L)
    rows
      .groupBy(col("row_kind"))
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("sstable")).as("n_sstables"),
        sum(col("cell.writetime_us") - baseUs).as("sum_wt_off_us"),
        sum(col("cell.ttl_s").cast("long")).as("sum_ttl_s"),
        sum(col("deletion_us") - baseUs).as("sum_del_off_us"),
        sum(length(col("cell.value")).cast("long")).as("sum_value_chars"))
  }

  /** The reference's core pipeline over bridge rows: strip TTL
    * metadata from every live cell (value + writetime survive,
    * ttl/expiration nulled — PK_LIVENESS rows keep their primary-key
    * writetime the same way), keep all deletion markers verbatim —
    * then the S8 sorted-sink shape on the partition key. A deletion
    * marker's NULL cell must stay NULL (an unconditional struct
    * rewrite would turn it into a struct of nulls), hence the
    * isNotNull guard. */
  def stripTtl(cells: DataFrame): DataFrame =
    cells
      .select(
        col("partition_key"), col("clustering"), col("row_kind"),
        col("name"),
        graft.model.CellModel.stripCellKeepDeletion(col("cell")).as("cell"),
        col("deletion_us"))
      .repartition(col("partition_key"))
      .sortWithinPartitions(col("partition_key"), col("clustering"),
        col("name"))

  /** [[stripTtl]] over a CONVERTED parquet directory. */
  def removeTtl(spark: SparkSession, cellParquetDir: String): DataFrame =
    stripTtl(spark.read.parquet(cellParquetDir))

  /** The CLI's `--merge lww` parquet path: the bridge rows of EVERY
    * input generation reconcile into the table's effective state —
    * highest-writetime-wins per cell, tombstones shadowing at or before
    * their timestamp, markers kept (they may shadow SSTables outside this
    * run) — the step the reference leaves to the Cassandra server (it
    * rewrites each SSTable in isolation, `Cassandra3TTLRemover.java:
    * 86-103`). The merge is [[SSTableBinaryV2.mergeRows]], the rule set
    * `--sink sstable` writes, over the TTL-stripped rows; the output is
    * the sorted `out/<ks>/<table>/` layout of (partition_key, clustering,
    * row_kind, name, value, writetime_us, deletion_us, n_versions).
    * Returns the rows written. */
  def mergeTtlToDir(spark: SparkSession, dumpPath: String, outDir: String,
      keyspace: String, table: String,
      saveMode: String = "errorifexists",
      reader: (SparkSession, String) => DataFrame = readTree): Long =
    // no repartition here: the merge's one exchange already brings each
    // partition key to one task, so the sorted-sink shape only needs the
    // within-partition sort
    writeLayout(SSTableBinaryV2.mergeRows(reader(spark, dumpPath)
      .withColumn("cell",
        graft.model.CellModel.stripCellKeepDeletion(col("cell"))))
      .select(col("partition_key"), col("clustering"), col("row_kind"),
        col("name"), col("cell.value").as("value"),
        col("cell.writetime_us").as("writetime_us"), col("deletion_us"),
        col("n_versions"))
      .sortWithinPartitions(col("partition_key"), col("clustering"),
        col("name")), outDir, keyspace, table, saveMode)

  /** EXPORT: bridge-row frame → sstabledump JSON tree — the inverse
    * of [[readTree]], so the engine EMITS the same public format it
    * ingests (binary in → dump out closes the interop loop: any tool
    * that consumes `sstabledump` output consumes this). One dump file
    * per distinct `sstable` value, NAMED exactly after it (re-reading
    * reproduces the same `sstable` column), each an array of
    * partition objects. Assembly is Spark-expression work end-to-end
    * (entry structs → `to_json`, null fields omitted — the dump
    * convention); the only imperative code is the per-file Hadoop
    * write inside `mapGroups`, the same codec-boundary discipline as
    * the fixture writers. Deterministic: entries sort by
    * (clustering, name), partitions by key, so a re-export is
    * byte-identical.
    *
    * The dump-EXPRESSIBLE subset is exactly what `sstabledump`
    * itself prints: ROW / PK_LIVENESS / ROW_DELETION /
    * PARTITION_DELETION / RANGE_TOMBSTONE_BOUND. Binary-only shapes
    * (cell/complex tombstones, static rows) REFUSE loudly in-flight
    * (`raise_error`) — an export that silently dropped a tombstone
    * would resurrect data in whatever re-ingests it. Cells carry
    * their EXPLICIT tstamp/ttl (no row-default compression), which
    * is why readTree(writeTree(frame)) reproduces the frame exactly.
    * Timestamps render with a literal 'Z', so the session MUST be
    * UTC (all mains here are) — enforced loudly below, because
    * `date_format` renders in the session zone: a non-UTC session
    * would print local wall time labeled Z, and the deliberately
    * timezone-explicit read side ([[isoToMicros]]) would then parse
    * every instant shifted by the zone offset. Silent corruption is
    * not an acceptable failure mode for an interop writer. */
  def writeTree(frame: DataFrame, outDir: String): Unit = {
    val spark = frame.sparkSession
    import spark.implicits._
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    require(tz == "UTC" || tz == "Etc/UTC" || tz == "Z",
      s"writeTree renders ISO-8601 with a literal 'Z' but the session " +
        s"timezone is '$tz' — set spark.sql.session.timeZone=UTC " +
        "(a non-UTC session would export every timestamp shifted)")
    def iso(us: Column): Column =
      date_format(timestamp_micros(us), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
    val delInfo = struct(
      iso(col("deletion_us")).as("marked_deleted"),
      iso(col("deletion_us")).as("local_delete_time"))
    val nullLive = lit(null).cast("struct<tstamp:string,ttl:int>")
    val nullDel = lit(null)
      .cast("struct<marked_deleted:string,local_delete_time:string>")
    val nullBound = lit(null).cast("struct<type:string," +
      "clustering:array<string>," +
      "deletion_info:struct<marked_deleted:string,local_delete_time:string>>")
    val nullCells = lit(null)
      .cast("array<struct<name:string,value:string,tstamp:string,ttl:int>>")
    def entry(live: Column, del: Column, start: Column, end: Column,
        cells: Column, tpe: String) = struct(
      lit(tpe).as("type"), col("clustering"),
      live.as("liveness_info"), del.as("deletion_info"),
      start.as("start"), end.as("end"), cells.as("cells"))
    val rtBound = struct(
      element_at(split(col("name"), ":"), 2).as("type"),
      col("clustering"), delInfo.as("deletion_info"))
    val isStart = split(col("name"), ":").getItem(0) === "start"
    val expressible = col("row_kind").isin("ROW", "PK_LIVENESS",
      "ROW_DELETION", "PARTITION_DELETION", "RANGE_TOMBSTONE_BOUND") &&
      !(col("row_kind") === "ROW" && col("clustering").isNull)
    // the subset guard rides the partition_key column (an always-
    // evaluated path — a dropped side column would be pruned away
    // unevaluated by Catalyst, silently skipping the check)
    val entries = frame
      .select(col("sstable"),
        when(!expressible, raise_error(concat(
          lit("dump export: not dump-expressible: row_kind="),
          col("row_kind"),
          lit(" (cell/complex tombstones and static rows are binary-" +
            "only shapes)"))))
          .otherwise(col("partition_key")).as("partition_key"),
        col("row_kind") === "PARTITION_DELETION",
        when(col("row_kind") === "PARTITION_DELETION",
          struct(iso(col("deletion_us")).as("marked_deleted"),
            iso(col("deletion_us")).as("local_delete_time")))
          .as("pdel"),
        when(col("row_kind") === "ROW",
          entry(nullLive, nullDel, nullBound, nullBound,
            array(struct(col("name"),
              col("cell.value").as("value"),
              iso(col("cell.writetime_us")).as("tstamp"),
              col("cell.ttl_s").as("ttl"))), "row"))
          .when(col("row_kind") === "PK_LIVENESS",
            entry(struct(iso(col("cell.writetime_us")).as("tstamp"),
              col("cell.ttl_s").as("ttl")),
              nullDel, nullBound, nullBound, nullCells, "row"))
          .when(col("row_kind") === "ROW_DELETION",
            entry(nullLive, delInfo, nullBound, nullBound, nullCells,
              "row"))
          .when(col("row_kind") === "RANGE_TOMBSTONE_BOUND",
            entry(nullLive, nullDel,
              when(isStart, rtBound).otherwise(nullBound),
              when(!isStart, rtBound).otherwise(nullBound),
              nullCells, "range_tombstone_bound"))
          .as("e"))
      .toDF("sstable", "partition_key", "is_pdel", "pdel", "e")
    // ROW entries for one (partition, clustering) merge their cells
    // into ONE dump row — sstabledump prints a row once; entries sort
    // by (clustering, type, cell name) for determinism
    val merged = entries
      .groupBy(col("sstable"), col("partition_key"),
        col("e.clustering"), col("e.type"),
        col("e.liveness_info"), col("e.deletion_info"),
        col("e.start"), col("e.end"), col("is_pdel"), col("pdel"))
      .agg(flatten(collect_list(col("e.cells"))).as("cells"))
      .select(col("sstable"), col("partition_key"), col("is_pdel"),
        col("pdel"),
        when(col("type").isNotNull, struct(col("type"),
          col("clustering"), col("liveness_info"), col("deletion_info"),
          col("start"), col("end"),
          when(size(col("cells")) > 0,
            array_sort(col("cells"))).as("cells"))).as("e"))
    val partitions = merged
      .groupBy(col("sstable"), col("partition_key"))
      .agg(
        max(col("pdel")).as("pdel"),
        concat_ws(",", transform(
          array_sort(collect_list(struct(
            col("e.clustering").as("_c"), col("e.type").as("_t"),
            to_json(col("e")).as("j")))),
          x => x.getField("j"))).as("rows_json"))
      .select(col("sstable"), col("partition_key"),
        concat(
          lit("{\"partition\":"),
          to_json(struct(
            split(col("partition_key"), ":").as("key"),
            lit(0L).as("position"),
            col("pdel").as("deletion_info"))),
          lit(",\"rows\":["), col("rows_json"), lit("]}")).as("pj"))
    val hconf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf()))
    val outStr = outDir
    // one task per dump file, partitions STREAMED to it in key order
    // (flatMapSortedGroups — the shuffle sorts, the task never holds
    // more than one partition's JSON): a 100 GB source SSTable
    // exports in O(one Cassandra partition) memory, same bound as
    // every other path here
    partitions.as[(String, String, String)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("partition_key")) { (sst, it) =>
        val fs = org.apache.hadoop.fs.FileSystem.get(
          java.net.URI.create(outStr), hconf.value.value)
        var n = 0L
        OutputFiles.stream(fs,
            new org.apache.hadoop.fs.Path(s"$outStr/$sst")) { os =>
          os.write('[')
          it.foreach { case (_, _, pj) =>
            if (n > 0) os.write(',')
            os.write(pj.getBytes("UTF-8"))
            n += 1
          }
          os.write(']')
        }
        Iterator.single((sst, n))
      }
      .collect()
    ()
  }

  /** Registered `src_sstable_dump_export`: the format LOOP — binary
    * generations decode to the bridge frame, export back out as
    * sstabledump JSON ([[writeTree]]), and the re-ingested tree must
    * satisfy the same oracle as every other ingestion path. A lost
    * tombstone, a shifted timestamp or a dropped PK-liveness row in
    * either direction shifts an aggregate. */
  def exportAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val in = SSTableBinaryV2.binaryFixtureShared(spark, sfDir)
    val out = graft.Scratch.dir("graft-dumpexport-")
    writeTree(SSTableBinaryV2.readBinary(spark, in), out.toString)
    val audit = auditFrame(readTree(spark, out.toString))
      .localCheckpoint()
    graft.Scratch.delete(out)
    audit
  }

  /** Whole lifecycle from raw sstabledump JSON: read → strip →
    * sorted, `out/<ks>/<table>/`-laid-out parquet write. Returns the
    * written row count (write-side `observe`, same no-read-back
    * discipline as [[graft.Pipeline.removeTtl]]) — the CLI's
    * `--format sstabledump` entry point. */
  def removeTtlToDir(spark: SparkSession, dumpPath: String, outDir: String,
      keyspace: String, table: String,
      saveMode: String = "errorifexists",
      reader: (SparkSession, String) => DataFrame = readTree): Long =
    writeLayout(stripTtl(reader(spark, dumpPath)), outDir, keyspace, table,
      saveMode)

  /** `rows` written as the `out/<ks>/<table>/` parquet layout; returns
    * the rows written, counted by the write itself (`observe`). */
  private def writeLayout(rows: DataFrame, outDir: String, keyspace: String,
      table: String, saveMode: String): Long = {
    val written = org.apache.spark.sql.Observation()
    rows
      .withColumn("keyspace", lit(keyspace))
      .withColumn("table_name", lit(table))
      .observe(written, count(lit(1)).as("rows"))
      .write.partitionBy("keyspace", "table_name")
      .mode(saveMode).parquet(outDir)
    written.get("rows").asInstanceOf[Long]
  }
}
