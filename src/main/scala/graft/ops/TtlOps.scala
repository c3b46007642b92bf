package graft.ops

import graft.Tables
import graft.model.CellModel
import graft.model.CellModel.NowMicros
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

/** The reference's core capability re-expressed Spark-first: TTL/liveness
  * rewriting over cell-modeled data (SURVEY §2.2 P1/P2, §2.1 S7).
  *
  * All transforms are declarative struct/map rewrites — no UDFs — so
  * Catalyst keeps them inside whole-stage codegen and pushes any
  * upstream filters/pruning into the parquet scan.
  */
object TtlOps {

  /** P1 — TTL-strip row projection (`Cassandra3TTLRemover.java:167-196`).
    * Every cell is rewritten to (same value, same writetime, NO_TTL);
    * row identity, ordering and values are preserved byte-for-byte.
    * Runs through the schema-generic [[CellModel.stripAll]] — the
    * events table is just one instance of the generic strip.
    */
  def ttlStrip(spark: SparkSession, sfDir: String): DataFrame =
    ttlStripOf(Tables.load(spark, sfDir, "events"))

  /** [[ttlStrip]]'s body on an already-resolved events DataFrame — the
    * same query runs against a parquet path or a catalog table
    * (`spark.table`), the metastore analogue of C2 loading schema from
    * the data directory's system tables
    * (`Cassandra2TTLRemover.java:48`). CatalogSpec pins the
    * equivalence. */
  def ttlStripOf(events: DataFrame): DataFrame = {
    val cells = CellModel.cellify(events)
    CellModel.stripAll(cells, CellModel.eventsMeta)
      .select(
        col("event_id"),
        col("user_id"),
        col("event_type"),
        col("cell.value").as("value"),
        col("cell.writetime_us").as("writetime_us"),
        col("cell.ttl_s").as("ttl_after"))
  }

  /** S7/P5 — read-side liveness filter: which rows are visible at the
    * pinned "now" BEFORE the strip (expired cells are invisible, like a
    * live Cassandra read; `NoTTLColumnSerializer.java:33-40`).
    * After `ttlStrip`, every row is visible forever — the tool's purpose.
    */
  def visibleAt(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = CellModel.cellify(Tables.load(spark, sfDir, "events"))
    cells
      .filter(CellModel.isLive(col("cell"), NowMicros))
      .select(col("event_id"), col("user_id"), col("value"),
        col("writetime_us"), col("ttl_s"))
  }

  /** P2 — cell-kind dispatch (`Cassandra2TTLRemover.serializeAtom`,
    * `Cassandra2TTLRemover.java:131-143`; read-side masks at
    * `NoTTLColumnSerializer.java:26-50`): EXPIRING cells are stripped to
    * plain cells; COUNTER (and counter-update) and TOMBSTONE cells pass
    * through untouched — including any liveness metadata they carry,
    * exactly as the serializer copies their bodies verbatim. Kind is
    * modeled deterministically from event_type, with COUNTER checked
    * first, mirroring the serializer's mask-dispatch order.
    */
  def cellKindDispatch(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = CellModel.cellify(Tables.load(spark, sfDir, "events"))
      .withColumn(
        "kind",
        when(col("event_type") === "click", "COUNTER")
          .when(col("ttl_s").isNotNull, "EXPIRING")
          .when(col("event_type") === "error", "TOMBSTONE")
          .otherwise("PLAIN"))
    cells
      .withColumn(
        "out_cell",
        when(col("kind") === "EXPIRING", CellModel.stripCell(col("cell")))
          .otherwise(col("cell")))
      .select(
        col("event_id"),
        col("kind"),
        col("out_cell.value").as("value"),
        col("out_cell.writetime_us").as("writetime_us"),
        col("out_cell.ttl_s").as("ttl_s"))
  }

  /** P1 on complex (collection) cells: the events `props` JSON column is
    * parsed to map<string,string>, each entry wrapped as a cell keyed by
    * its CellPath, TTL-stripped via `transform_values`, then exploded for
    * comparison. Mirrors `cdef.isComplex()` / `cell.path()` handling at
    * `Cassandra3TTLRemover.java:180-186`.
    */
  def ttlStripComplex(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = CellModel.cellify(Tables.load(spark, sfDir, "events"))
    val asMap = ev.withColumn(
      "props_map",
      from_json(col("props"), MapType(StringType, StringType)))
    val cellMap = asMap.withColumn(
      "prop_cells",
      transform_values(
        col("props_map"),
        (_, v) =>
          struct(
            v.as("value"),
            col("writetime_us").as("writetime_us"),
            col("ttl_s").as("ttl_s"))))
    val stripped = cellMap.withColumn(
      "prop_cells",
      transform_values(
        col("prop_cells"),
        (_, c) =>
          struct(
            c.getField("value").as("value"),
            c.getField("writetime_us").as("writetime_us"),
            lit(null).cast("int").as("ttl_s"))))
    stripped
      .select(col("event_id"), explode(col("prop_cells")))
      .select(
        col("event_id"),
        col("key").as("cell_path"),
        col("value.value").as("value"),
        col("value.writetime_us").as("writetime_us"),
        col("value.ttl_s").as("ttl_s"))
  }

  /** P1 generic — the schema-generic strip over a SECOND table
    * (orders), proving no operator code is tied to the events columns:
    * the table is cellified into one simple cell (`price`), one
    * map-of-cells (`attrs` — map-key CellPath), and one array-of-cells
    * (`tags` — list-index CellPath; a set would be the same array with
    * element-valued cells), then [[CellModel.stripAll]] rewrites all
    * three purely from the schema. The reference achieves the same
    * genericity by parsing the user's CREATE TABLE at run time
    * (`Cassandra3TTLRemover.java:63-75,167-196`); here the DataFrame
    * schema is that DDL. Output is flattened back to scalars so the
    * SQL oracle can reproduce it.
    */
  def genericStrip(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.load(spark, sfDir, "orders")
    val wt = unix_micros(col("o_orderdate").cast("timestamp"))
    val key = col("o_orderkey")
    val cellified = o.select(
      key,
      CellModel.mkCell(col("o_totalprice"), wt, key).as("price"),
      map(
        lit("status"), CellModel.mkCell(col("o_orderstatus"), wt, key + 1),
        lit("priority"),
        CellModel.mkCell(col("o_orderpriority"), wt, key + 2)).as("attrs"),
      array(
        CellModel.mkCell(col("o_custkey").cast("string"), wt, key + 3),
        CellModel.mkCell(col("o_orderstatus"), wt, key + 4)).as("tags"))
    val stripped = CellModel.stripAll(cellified, CellModel.ordersMeta)
    stripped.select(
      col("o_orderkey"),
      col("price.value").as("price_value"),
      col("price.writetime_us").as("price_writetime_us"),
      col("price.ttl_s").as("price_ttl_s"),
      element_at(col("attrs"), "status").getField("value").as("status_value"),
      element_at(col("attrs"), "priority").getField("value")
        .as("priority_value"),
      element_at(col("attrs"), "status").getField("ttl_s").as("status_ttl_s"),
      element_at(col("tags"), 1).getField("value").as("tag0_value"),
      element_at(col("tags"), 2).getField("value").as("tag1_value"),
      element_at(col("tags"), 1).getField("ttl_s").as("tag0_ttl_s"))
  }

  /** §2.5 — range-tombstone open/close pairing. The reference walks a
    * partition stream holding the open bound until the matching close
    * marker arrives (`Cassandra3TTLRemover.java:124-136`). Spark-first:
    * markers are ordered per partition key and paired with `lead()` over
    * a window — no driver-side state, scales per-key.
    *
    * Markers are modeled deterministically: each user's 'error' events
    * alternate open/close in ts order.
    */
  def tombstonePairing(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev
      .filter(col("event_type") === "error")
      .withColumn("rn", row_number().over(w))
      .withColumn("close_us", lead(expr("ts div 1000"), 1).over(w))
      .withColumn("close_event_id", lead(col("event_id"), 1).over(w))
      .filter(col("rn") % 2 === 1)
      .select(
        col("user_id"),
        expr("ts div 1000").as("open_us"),
        col("event_id").as("open_event_id"),
        col("close_us"),
        col("close_event_id"))
  }

  /** S8/O1 — partition-ordered sink shape: rows clustered by partition
    * key and sorted by clustering key within partitions, exactly what the
    * sorted SSTable writer consumes (`Cassandra3TTLRemover.java:93-143`).
    * The repartition+sortWithinPartitions pair is the scalable analogue
    * (shuffle once, sort locally, no global sort).
    */
  def sortedSink(spark: SparkSession, sfDir: String): DataFrame = {
    val stripped = ttlStrip(spark, sfDir)
    stripped
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("writetime_us"),
        col("event_id"))
  }

  /** Deletion semantics end-to-end (SURVEY §1.1 rows 6-8, §7.4 item 3):
    * row deletions and partition deletions are first-class ROWS with a
    * `kind` discriminator that survive strip → sort → sink — never
    * modeled as grouped state a transform could silently drop.
    *
    * Reference behavior being preserved:
    *  - row deletions re-attach verbatim after the strip
    *    (`Cassandra3TTLRemover.java:193` `addRowDeletion`);
    *  - partitions containing ONLY deletion info still appear in the
    *    output (`Cassandra3TTLRemover.java:107-111` "keep partitions
    *    with no rows") — the classic failure mode is a groupBy/
    *    flatMapGroups that emits nothing for keyless groups.
    *
    * Deterministic modeling on events: partitions (users) with
    * `user_id % 10 = 7` carry a partition-level deletion stamped with
    * the partition's max writetime (it supersedes every row, so their
    * rows drop and ONE marker row survives — the zero-row partition);
    * 'error' events are row deletions (value nulled, deletion time =
    * writetime, liveness untouched by the strip); all other rows are
    * live and TTL-stripped via the schema-generic [[CellModel.stripAll]].
    * The union then takes the S8 sorted-sink shape: one shuffle on the
    * partition key, partition-local sort — deletion markers ride the
    * same layout as data rows at any scale.
    */
  def deletionPreserve(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = CellModel.cellify(Tables.load(spark, sfDir, "events"))
    val partitionDeleted = col("user_id") % 10 === 7
    val isRowDeletion = col("event_type") === "error"
    // Live rows and row deletions come off ONE scan: disjoint row
    // classes with the same output schema are a conditional projection,
    // not a union of two scans — Spark does not share FileScans across
    // union branches, so a two-branch formulation reads the fact table
    // twice at 100 TB. The strip runs first (schema-generic); the
    // deletion projection only consumes fields the strip preserves
    // (value, writetime), so deletion liveness is untouched by it.
    val rows = CellModel
      .stripAll(cells.filter(!partitionDeleted), CellModel.eventsMeta)
      .select(
        col("user_id"), col("event_id"),
        when(isRowDeletion, "ROW_DELETION").otherwise("ROW").as("kind"),
        when(isRowDeletion, lit(null).cast("double"))
          .otherwise(col("cell.value")).as("value"),
        col("cell.writetime_us").as("writetime_us"),
        when(isRowDeletion, col("cell.writetime_us"))
          .otherwise(lit(null).cast("long")).as("deletion_us"))
    val partitionDeletions = cells
      .filter(partitionDeleted)
      .groupBy(col("user_id"))
      .agg(max(col("writetime_us")).as("deletion_us"))
      .select(
        col("user_id"), lit(null).cast("long").as("event_id"),
        lit("PARTITION_DELETION").as("kind"),
        lit(null).cast("double").as("value"),
        lit(null).cast("long").as("writetime_us"),
        col("deletion_us"))
    rows
      .unionByName(partitionDeletions)
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("kind"),
        col("writetime_us"), col("event_id"))
  }

  /** S9 — output layout `out/<ks>/<table>/` round-trip
    * (`Cassandra3TTLRemover.java:49-55`: resolve + mkdir the
    * keyspace/table destination dirs). Spark-first the layout IS the
    * write: `partitionBy(keyspace, table)` creates one directory per
    * (ks, table) and routes each row's file there. The query writes the
    * stripped events under the layout (to a fresh temp dir — the
    * reference keeps originals, S8's non-destructive contract), reads
    * the files back, and proves the layout from the actual on-disk
    * paths (`_metadata.file_path`), not just the inferred partition
    * columns: every file must sit under `keyspace=graft/table_name=
    * events/`, every row must survive.
    */
  def partitionedLayout(spark: SparkSession, sfDir: String): DataFrame = {
    val out = graft.Scratch.dir("graft-s9-")
    ttlStrip(spark, sfDir)
      .withColumn("keyspace", lit("graft"))
      .withColumn("table_name", lit("events"))
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("writetime_us"),
        col("event_id"))
      .write.partitionBy("keyspace", "table_name")
      .mode("overwrite").parquet(out.toString)
    // localCheckpoint materializes the (post-aggregation, 1-row) proof
    // so the scratch layout can be deleted NOW instead of accumulating
    // one tree per invocation on a long-lived bench/verify host; the
    // Scratch registration still backstops an interrupted run
    val proof = spark.read.parquet(out.toString)
      .groupBy(col("keyspace"), col("table_name").as("tbl"))
      .agg(
        count(lit(1)).as("n_rows"),
        bool_and(col("_metadata.file_path")
          .rlike("/keyspace=graft/table_name=events/[^/]+$"))
          .as("path_ok"))
      .localCheckpoint()
    graft.Scratch.delete(out)
    proof
  }

  /** Multi-generation last-write-wins merge with tombstone shadowing —
    * the Cassandra READ-PATH reconciliation the reference delegates to
    * the server (it rewrites each SSTable in isolation and lets
    * Cassandra's compaction/read merge resolve versions): given cell
    * rows from MANY generations/SSTables of the same table, produce
    * the effective view a Cassandra read would return.
    *
    * Semantics (the compaction merge rules):
    *   - a cell is shadowed by a ROW_DELETION of its (partition,
    *     clustering), a PARTITION_DELETION of its partition, or a
    *     RANGE tombstone whose bound pair covers its clustering
    *     (inclusive/exclusive per bound), when
    *     `writetime_us <= deletion_us` (deletions cover everything at
    *     or before their timestamp; a later re-insert survives);
    *   - among surviving versions of one (partition, clustering, name)
    *     cell, the highest writetime wins; a CELL_DELETION contends like
    *     a write and wins a tie, then the greater value, then (between
    *     tombstones) the later local deletion second (`expire_us`, when
    *     the frame carries it) — Cassandra's `Cells.reconcile`. Only the
    *     winner survives, so a newer write outlives an older cell
    *     tombstone and a newer tombstone deletes an older write;
    *   - range bounds pair index-wise after sorting, so the paired
    *     ranges of a partition must come out ordered and disjoint
    *     (adjacent ranges may share a clustering with complementary
    *     inclusivity). Overlapping ranges, which only different
    *     generations can hold, fail by name — partition key and, when
    *     the frame has a `sstable` column, the generations — instead of
    *     mis-pairing and deleting live data.
    *
    * Scale shape: ONE hash exchange on `partition_key` serves the
    * whole merge — the partition-deletion window (pk), the
    * row-deletion window (pk, clustering) and the LWW ranking window
    * (pk, clustering, name) all declare distributions that
    * hashpartitioning(pk) already satisfies (Spark's subset rule), so
    * EnsureRequirements inserts sorts, never another shuffle
    * (PlanSpec pins the single exchange); one task holds one partition
    * key's rows.
    *
    * The query catalog's merge, and the independent oracle the tests
    * hold the remover's merge (`SSTableBinaryV2.mergePartition`) to:
    * the two implement the same rules separately.
    */
  /** With `keepMarkers = true` the output ALSO carries every deletion
    * marker verbatim (row_kind + deletion_us columns appear), and every
    * input column passes through: the
    * Cassandra rule that tombstones outlive the data they shadowed
    * (they may still shadow cells in SSTables outside this run, so a
    * merge that dropped them would resurrect data downstream —
    * gc_grace is an explicit, separate decision). A cell tombstone is
    * a contender, kept only when it wins its cell. Both modes are ONE
    * single-pass plan: live rows rank within their cell group ordered
    * unshadowed-first, so no filter-then-rank second pass exists to
    * re-run. */
  def lwwMerge(cells: DataFrame, keepMarkers: Boolean = false): DataFrame = {
    val byPk = cells.repartition(col("partition_key"))
    val pkW = Window.partitionBy("partition_key")
    val rowW = Window.partitionBy("partition_key", "clustering")
    val noDel = lit(Long.MinValue)
    val nvW = Window.partitionBy("partition_key", "clustering", "name")
    val tombstone = col("row_kind") === "CELL_DELETION"
    val lwwW = Window.partitionBy("partition_key", "clustering", "name")
      .orderBy(Seq(col("ok").desc, col("writetime_us").desc,
        tombstone.desc, col("value").desc) ++
        cells.columns.find(_ == "expire_us").map(col(_).desc): _*)
    // RANGE tombstones ("start:<type>" / "end:<type>" bound rows, the
    // bridge's encoding) shadow every clustering inside their bound
    // pair. Bounds reach each row via pk-window collect_lists — no
    // join, no second scan of the input — sorted by clustering and
    // paired index-wise: the well-formed non-overlapping contract
    // Cassandra SSTables guarantee and tombstonePairing pins. An
    // unbalanced partition (starts ≠ ends) fails LOUDLY rather than
    // half-applying a range. The per-row bound list is
    // ranges-per-partition sized — small in practice; a partition
    // with pathologically many ranges is the same hazard its read
    // path has.
    val src = sourceOf(cells)
    def bounds(side: String) = array_sort(collect_list(
      when(isRtBound && substring_index(col("name"), ":", 1) === side,
        rtBoundStruct(src))).over(pkW))
    // contenders: writes, primary-key liveness (primary-key-only
    // inserts reconcile exactly like cells: they carry a writetime and
    // can be shadowed or win) and cell tombstones
    val contender = col("row_kind").isin("ROW", "PK_LIVENESS", "CELL_DELETION")
    val scored = byPk
      .withColumn("part_del",
        max(when(col("row_kind") === "PARTITION_DELETION",
          col("deletion_us"))).over(pkW))
      .withColumn("row_del",
        max(when(col("row_kind") === "ROW_DELETION",
          col("deletion_us"))).over(rowW))
      .withColumn("rt_starts", bounds("start"))
      .withColumn("rt_ends", bounds("end"))
      .withColumn("rt_del", rtDelExpr)
      .withColumn("live", col("row_kind").isin("ROW", "PK_LIVENESS"))
      .withColumn("ok", contender &&
        col("writetime_us") > coalesce(col("part_del"), noDel) &&
        col("writetime_us") > coalesce(col("row_del"), noDel) &&
        col("writetime_us") > coalesce(col("rt_del"), noDel))
      .withColumn("rk", row_number().over(lwwW))
      .withColumn("n_versions",
        sum(when(col("ok") && col("live"), 1L).otherwise(0L)).over(nvW))
    val winner = col("ok") && col("rk") === 1
    // the range check guards EVERY row: as a conjunct of `ok` it would
    // only run for contenders, and a partition of markers alone must
    // fail the same way
    if (keepMarkers)
      scored.filter(rtChecked && (winner || !contender))
        .select(cells.columns.map(col) :+
          when(col("live"), col("n_versions").cast("long"))
            .as("n_versions"): _*)
    else
      scored.filter(rtChecked && winner && col("live"))
        .select(col("partition_key"), col("clustering"), col("name"),
          col("value"), col("writetime_us"),
          col("n_versions").cast("long").as("n_versions"))
  }

  // --- range-tombstone machinery ---
  private def isRtBound = col("row_kind") === "RANGE_TOMBSTONE_BOUND"

  /** The frame's generation column for error messages, NULL when it
    * has none. */
  private def sourceOf(cells: DataFrame): Column =
    if (cells.columns.contains("sstable")) col("sstable")
    else lit(null).cast("string")

  private def rtBoundStruct(src: Column) =
    struct(col("clustering").as("cl"),
      (substring_index(col("name"), ":", -1) === "inclusive").as("inc"),
      col("deletion_us").as("del"), src.as("src"))

  /** Sorted start/end bound lists paired index-wise — the well-formed
    * non-overlapping contract Cassandra SSTables guarantee and
    * tombstonePairing pins; a range's deletion time is the max of its
    * bounds'. Expects `rt_starts` / `rt_ends` columns. */
  private def rtRanges: Column =
    zip_with(col("rt_starts"), col("rt_ends"), (s, e) =>
      struct(s.getField("cl").as("scl"), s.getField("inc").as("sinc"),
        e.getField("cl").as("ecl"), e.getField("inc").as("einc"),
        greatest(s.getField("del"), e.getField("del")).as("del")))

  private def rtCovered(r: Column): Column =
    when(r.getField("sinc"), col("clustering") >= r.getField("scl"))
      .otherwise(col("clustering") > r.getField("scl")) &&
      when(r.getField("einc"), col("clustering") <= r.getField("ecl"))
        .otherwise(col("clustering") < r.getField("ecl"))

  /** Max deletion time of any range covering this row's clustering. */
  private def rtDelExpr: Column =
    array_max(transform(filter(rtRanges, rtCovered(_)),
      r => r.getField("del")))

  /** TRUE, or a named failure when the partition's bounds cannot pair
    * into ranges: unbalanced (starts ≠ ends), or paired ranges that are
    * not ordered and disjoint. Consecutive ranges may touch at one
    * clustering when at most one side includes it. Expects `rt_starts`
    * / `rt_ends` columns. */
  private def rtChecked: Column = {
    val r = rtRanges
    val n = size(col("rt_starts"))
    val pairs = zip_with(slice(r, lit(1), greatest(n - 1, lit(0))),
      slice(r, lit(2), greatest(n - 1, lit(0))), (a, b) =>
        a.getField("ecl") > b.getField("scl") ||
          (a.getField("ecl") === b.getField("scl") &&
            a.getField("einc") && b.getField("sinc")))
    val overlapping = exists(r, x => x.getField("scl") > x.getField("ecl")) ||
      exists(pairs, identity)
    val gens = array_join(array_sort(array_distinct(
      transform(concat(col("rt_starts"), col("rt_ends")),
        b => b.getField("src")))), ", ")
    when(n =!= size(col("rt_ends")),
      raise_error(concat(lit("unbalanced range-tombstone bounds in "
        + "partition "), col("partition_key"))))
      .when(overlapping,
        raise_error(concat(lit("overlapping range tombstones in partition "),
          col("partition_key"), lit(" (generations: "), gens,
          lit("): paired bounds are not ordered and disjoint, and " +
            "merging boundary markers across generations is not " +
            "supported"))))
      .otherwise(lit(true))
  }

  /** Epoch base for the LWW fixture (2021-01-01T00:00:00Z, micros). */
  val LwwBaseUs: Long = 1609459200L * 1000000L

  /** Registered merge audit over a deterministic TWO-GENERATION cell
    * fixture derived from the documents table in ONE scan (the explode
    * idiom): gen-1 writes a 'len' and a 'src' cell per document
    * (writetimes base+id, base+id+10); gen-2 re-writes 'len' at
    * base+id+100 for id%3==0 (LWW winner), row-deletes at base+id+50
    * for id%7==3 (shadows gen-1, NOT a later gen-2 re-write — the
    * partial-shadow case), and partition-deletes at base+id+1000 for
    * id%10==9 (everything vanishes). Every rule has fixture rows
    * exercising it, and every timestamp is doc_id arithmetic the SQL
    * oracle replays exactly.
    */
  def lwwMergeAudit(spark: SparkSession, sfDir: String): DataFrame =
    lwwMerge(lwwFixture(spark, sfDir))

  /** Point-in-time (as-of) read over the merge family: the table's
    * effective state as of `asOfUs` — only writes and deletions that
    * had HAPPENED by T exist, then the same LWW + shadowing rules
    * apply. A pre-filter, not a new operator: pruning the event set
    * first is also the efficient shape (at scale the writetime
    * predicate pushes into the scan and old-generation files skip on
    * footer min/max — the time-travel read gets cheaper, not dearer,
    * as T moves back). */
  def lwwAsOf(cells: DataFrame, asOfUs: Long): DataFrame =
    lwwMerge(cells.filter(
      when(col("row_kind").isin("ROW", "PK_LIVENESS"),
        col("writetime_us") <= asOfUs)
        .otherwise(col("deletion_us") <= asOfUs)))

  /** As-of cut for the registered audit: base + 1030 s. The fixture's
    * per-doc event times are base + doc_id + {0,10,50,100,1000}, so
    * this one global cut slices EVERY stratum somewhere in the corpus:
    * docs with id ≤ 30 include even their partition tombstone, mid
    * ids keep re-writes but not yet the tombstone, ids near 1030 have
    * only generation 1 (the +10 'src' write excluded at the boundary),
    * and ids above it don't exist yet. */
  val LwwAsOfCutUs: Long = LwwBaseUs + 1030L * 1000000L

  /** Registered as-of audit: [[lwwAsOf]] at [[LwwAsOfCutUs]] over the
    * same two-generation fixture as [[lwwMergeAudit]]. */
  def lwwAsOfAudit(spark: SparkSession, sfDir: String): DataFrame =
    lwwAsOf(lwwFixture(spark, sfDir), LwwAsOfCutUs)

  /** Registered range-shadowing audit over a purpose-built
    * multi-clustering fixture: every document's partition holds 'v'
    * cells at clusterings a / c / e (values n_chars, +1, +2; all
    * written at base+id); even ids carry an INCLUSIVE range tombstone
    * [b, d] at +60 (shadows c, not a/e), ids ≡1 (mod 5) an
    * EXCLUSIVE-start range (d, e] at +40 (shadows e only), and ids
    * ≡0 (mod 3) re-write c at +100 (outlives the range). The two
    * range families are disjoint and ordered, so the sorted
    * index-wise bound pairing reconstructs exactly them. */
  def lwwRangeAudit(spark: SparkSession, sfDir: String): DataFrame =
    lwwMerge(lwwRangeFixture(spark, sfDir))

  private[graft] def lwwRangeFixture(spark: SparkSession,
      sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val pk = col("doc_id").cast("string")
    val wt = (n: Long) => lit(LwwBaseUs) + (col("doc_id") + n) * 1000000L
    def cell(cl: String, value: Column, w: Column) =
      struct(pk.as("partition_key"), lit(cl).as("clustering"),
        lit("ROW").as("row_kind"), lit("v").as("name"),
        value.cast("string").as("value"), w.cast("long").as("writetime_us"),
        lit(null).cast("long").as("deletion_us"))
    def rtBound(cl: String, boundName: String, w: Column) =
      struct(pk.as("partition_key"), lit(cl).as("clustering"),
        lit("RANGE_TOMBSTONE_BOUND").as("row_kind"),
        lit(boundName).as("name"), lit(null).cast("string").as("value"),
        lit(null).cast("long").as("writetime_us"),
        w.cast("long").as("deletion_us"))
    val candidates = array(
      cell("a", col("n_chars"), wt(0)),
      cell("c", col("n_chars") + 1, wt(0)),
      cell("e", col("n_chars") + 2, wt(0)),
      when(col("doc_id") % 3 === 0,
        cell("c", col("n_chars") + 10, wt(100))),
      when(col("doc_id") % 2 === 0,
        rtBound("b", "start:inclusive", wt(60))),
      when(col("doc_id") % 2 === 0,
        rtBound("d", "end:inclusive", wt(60))),
      when(col("doc_id") % 5 === 1,
        rtBound("d", "start:exclusive", wt(40))),
      when(col("doc_id") % 5 === 1,
        rtBound("e", "end:inclusive", wt(40))))
    docs
      .select(explode(candidates).as("r"))
      .filter(col("r").isNotNull)
      .select(col("r.*"))
  }

  private[graft] def lwwFixture(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val pk = col("doc_id").cast("string")
    val wt = (n: Long) => lit(LwwBaseUs) + (col("doc_id") + n) * 1000000L
    def row(kind: String, name: Column, value: Column, w: Column,
        del: Column) =
      struct(pk.as("partition_key"), lit("c").as("clustering"),
        lit(kind).as("row_kind"), name.as("name"), value.as("value"),
        w.cast("long").as("writetime_us"), del.cast("long").as("deletion_us"))
    val nul = lit(null).cast("string")
    val nulL = lit(null).cast("long")
    val candidates = array(
      row("ROW", lit("len"), col("n_chars").cast("string"), wt(0), nulL),
      row("ROW", lit("src"), col("source"), wt(10), nulL),
      when(col("doc_id") % 3 === 0,
        row("ROW", lit("len"), (col("n_chars") + 1).cast("string"),
          wt(100), nulL)),
      when(col("doc_id") % 7 === 3,
        row("ROW_DELETION", nul, nul, nulL, wt(50))),
      when(col("doc_id") % 10 === 9,
        row("PARTITION_DELETION", nul, nul, nulL, wt(1000))))
    docs
      .select(explode(candidates).as("r"))
      .filter(col("r").isNotNull)
      .select(col("r.*"))
  }
}
