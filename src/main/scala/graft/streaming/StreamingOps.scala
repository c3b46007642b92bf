package graft.streaming

import java.util.concurrent.atomic.AtomicLong

import graft.Tables
import graft.ops.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming operators over the events table, run as a
  * file stream (`readStream.parquet`) with `Trigger.AvailableNow` so a
  * batch driver can invoke them and get a complete, deterministic
  * result: AvailableNow processes everything currently in the
  * directory and terminates, which is also the production pattern for
  * incremental backfill jobs.
  *
  * The reference is batch-only (SURVEY §2.10) — this layer is part of
  * the general-engine extension (§7.2 step 7): the same event-time
  * semantics (watermark + tumbling window, keyed session state via
  * `flatMapGroupsWithState`) keep working when the input directory is
  * an unbounded landing zone instead of a static snapshot.
  *
  * Results land in a memory sink for the driver contract (each op must
  * return a DataFrame); a production deployment would point the same
  * `writeStream` at parquet/Kafka — only the sink line changes.
  */
object StreamingOps {

  private val runId = new AtomicLong(0)

  /** One tuned child session per parent for the registered streaming
    * queries: stateful operators create a state-store instance per
    * SHUFFLE partition per micro-batch, so state partitioning should
    * track state volume (windows × keys — small for every registered
    * query), not the session's scan parallelism — 32 near-empty state
    * partitions pay 4× the per-partition commit overhead of 8 with
    * identical results (all outputs are partitioning-independent by
    * construction). Cached and WEAKLY keyed like the skew-join demo
    * session: a `newSession` per call would leak an execution-listener
    * registration per invocation into a long-lived host driver.
    * `windowAggAppendTo` (the production file-sink entry point) is NOT
    * routed through this — the caller owns sizing there.
    */
  private val streamSessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, SparkSession]())

  private def streamingSession(parent: SparkSession): SparkSession = {
    val s = streamSessions.computeIfAbsent(parent, p => p.newSession())
    // re-sync the parent's runtime confs on EVERY call, not only at
    // child creation (newSession starts from builder-time state, and a
    // cached child would otherwise never see later conf.set calls —
    // refreshed fs credentials, file-source tuning), THEN apply the
    // streaming-specific pins. Static/immutable entries in getAll
    // can't be re-set — Spark signals exactly those with
    // AnalysisException (CANNOT_MODIFY_CONFIG), the one failure this
    // mirror may skip; anything else (a bad value, a broken conf
    // entry) must surface, or the child session drifts from the
    // parent with no signal. Cost is a map copy per streaming query,
    // noise next to the query's own checkpoint setup.
    parent.conf.getAll.foreach { case (k, v) =>
      try s.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException => () }
    }
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s.conf.set("spark.sql.session.timeZone", "UTC")
    // 4, not the batch session's 32: every streaming shuffle partition
    // owns a state-store instance whose checkpoint/commit cost is paid
    // PER MICRO-BATCH regardless of data volume, so partition count is
    // a state-store-overhead dial first and a parallelism dial second.
    // At fixture scale 4 halves the fixed per-query cost vs 8 with
    // identical results (results are partitioning-independent by the
    // determinism sweep); a production deployment sizes this to state
    // volume, not to the CPU count. Parameterized (same dial, now
    // turnable without a rebuild): `spark.graft.stream.statePartitions`
    // on the parent session overrides the default.
    s.conf.set("spark.sql.shuffle.partitions",
      parent.conf.get("spark.graft.stream.statePartitions", "4"))
    s
  }

  /** One streaming micro-batch run to completion; returns the memory
    * sink contents. Checkpoints go to a fresh temp dir per run (the
    * contract re-invokes ops in one session; AvailableNow + a reused
    * checkpoint would see "no new files" and emit nothing).
    */
  private def runToMemory(
      parent: SparkSession,
      build: DataFrame => DataFrame,
      sfDir: String,
      mode: OutputMode): DataFrame =
    runSourceToMemory(parent, spark => {
      // schema from a one-off batch read: streaming sources require an
      // explicit schema (no inference race on a live directory). The
      // RAW file schema, not Tables.load's — load() normalizes ts to
      // nanos BIGINT, and handing that schema to a reader over files
      // that store TIMESTAMP would be a type mismatch. Normalize the
      // stream AFTER the source instead, same boundary as batch.
      val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
      Tables.normalizeTs(spark.readStream
        .schema(schema)
        // glob (not a bare file path): FileStreamSource anchors partition
        // discovery at the glob's parent directory; a single-file path
        // would become its own basePath and fail "must be a directory"
        .parquet(s"$sfDir/events.parquet*"))
    }, build, mode)

  private def runSourceToMemory(
      parent: SparkSession,
      mkSource: SparkSession => DataFrame,
      build: DataFrame => DataFrame,
      mode: OutputMode): DataFrame = {
    val spark = streamingSession(parent)
    val name = s"graft_stream_${runId.incrementAndGet()}"
    val ckptPath = graft.Scratch.dir("graft-ckpt-")
    val ckpt = ckptPath.toString
    val src = mkSource(spark)
    val q = build(src).writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // measurement hook (env-gated, off in every contract path): dump
    // each batch's durationMs breakdown — the only way to split a
    // stream's fixed floor into planning / offset-log / state-commit /
    // addBatch without attaching a listener to this private child
    // session
    if (sys.env.contains("SPARK_GRAFT_STREAM_PROGRESS"))
      q.recentProgress.foreach(p =>
        System.err.println(s"[progress] $name batch=${p.batchId} " +
          s"rows=${p.numInputRows} durationMs=${p.durationMs}"))
    // hand the result back as a PARENT-session DataFrame: callers
    // compose it with frames of the session they passed in, and mixing
    // sessions in one plan is undefined. The memory sink is
    // driver-resident by definition (and post-aggregation small — see
    // the object doc), so the collect adds nothing the sink didn't
    // already pay. Drop the per-run sink view afterwards — the child
    // session is cached for the parent's lifetime, and leaving every
    // run's full result registered would grow a long-lived host's heap
    // without bound.
    val result = spark.table(name)
    val rows = result.collectAsList()
    spark.catalog.dropTempView(name)
    // the run is over and its rows are collected — the checkpoint is
    // dead weight; delete it now (one tree per registered-query call
    // would otherwise accumulate on a long-lived bench/verify host)
    graft.Scratch.delete(ckptPath)
    parent.createDataFrame(rows, result.schema)
  }

  /** The shared windowed-aggregation plan: 1 h event-time tumbling
    * windows per event_type behind a 1 h watermark. */
  private def windowAggPlan(src: DataFrame): DataFrame = {
    // nanos → micros via integer div: float division loses precision
    // above 2^53 and epoch-nanos are ~1.7e18
    val evt = src.withColumn("ets", timestamp_micros(expr("ts div 1000")))
    evt
      .withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,2)")), 2)
          .cast("double").as("sum_value"))
      .select(
        unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("sum_value"))
  }

  /** Watermarked tumbling-window aggregation, Complete output mode so
    * the trailing (not-yet-finalized) windows are emitted too — with
    * AvailableNow the stream ends before the watermark passes them, and
    * a batch-comparable result needs every window. Complete mode keeps
    * ALL window state for the life of the query: correct and bounded
    * under AvailableNow backfills (the registered shape), unbounded on
    * a true endless stream — [[windowAggAppend]] is the production
    * variant for that.
    */
  def windowAgg(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(spark, windowAggPlan, sfDir, OutputMode.Complete())

  /** Append-mode variant: emits each window exactly once, when the
    * watermark passes it, and EVICTS its state — per-key state is
    * bounded by (windows in flight × keys), not by stream lifetime,
    * which makes this the shape to point at an unbounded landing zone.
    * Under AvailableNow the final no-data batch finalizes every window
    * the end-of-stream watermark (max event time − 1 h) has closed;
    * trailing windows at/above it stay in state (checkpointed for the
    * next incremental run) and are not emitted — deterministic here,
    * so the oracle can reproduce the emitted set exactly.
    */
  def windowAggAppend(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(spark, windowAggPlan, sfDir, OutputMode.Append())

  /** The production shape of [[windowAggAppend]]: a caller-owned input
    * directory (the unbounded landing zone), a parquet FILE sink and a
    * REUSED checkpoint. Each invocation processes exactly the files
    * that arrived since the last run (the file source's seen-set lives
    * in the checkpoint), emits exactly the windows the advancing
    * watermark newly closed, and carries still-open windows forward in
    * state — the engine's incremental-correctness contract that
    * [[windowAggAppend]]'s one-shot driver shim cannot exercise.
    * StreamingSpec pins it: two runs over a growing directory emit
    * disjoint window sets whose union equals the one-shot result.
    */
  def windowAggAppendTo(spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String): Unit = {
    // same session pinning Tables.load applies: corpus-shaped events
    // carry INT64(TIMESTAMP_NANOS) parquet timestamps (rejected unless
    // read as long) and the window/watermark boundaries assume UTC —
    // without this the op only works if some earlier Tables.load call
    // happened to mutate the same session
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val schema = spark.read.parquet(inDir).schema
    val q = windowAggPlan(Tables.normalizeTs(
        spark.readStream.schema(schema).parquet(inDir)))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming deduplication: first-seen (user_id, event_type) pairs
    * across the whole stream via `dropDuplicates` — the streaming twin
    * of the batch exact-dedup operator. State is one entry per DISTINCT
    * key, here bounded by the key domain (users × a fixed event-type
    * enum), not by stream length — the shape to use for "has this key
    * ever been seen" dedup. For unbounded key domains (e.g. dedup on
    * event_id), production swaps in `dropDuplicatesWithinWatermark` so
    * state evicts once the watermark passes a key's event time; the
    * registered query keeps the exact variant because its emitted set
    * (the distinct keys) is deterministic and oracle-checkable.
    */
  def dedupKeys(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(spark, src =>
      src.select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type"),
      sfDir, OutputMode.Append())

  /** The production dedup variant for UNBOUNDED key domains:
    * `dropDuplicatesWithinWatermark` keeps a key's state only until
    * the event-time watermark passes (first-seen event time + delay),
    * so state size tracks the number of distinct keys IN FLIGHT within
    * the watermark horizon — not the lifetime key count that bounds
    * [[dedupKeys]]. StreamingSpec witnesses the eviction itself
    * (state rows removed once the watermark advances past them); the
    * registered query pins the emitted SET: under AvailableNow with no
    * file cap the whole fixture lands in one micro-batch, every
    * duplicate meets live state, and each key is emitted exactly once
    * — so the oracle is the batch DISTINCT, deterministically.
    */
  def dedupKeysWithinWatermark(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(spark, src => {
      val evt = src.withColumn("ets", timestamp_micros(expr("ts div 1000")))
      evt.withWatermark("ets", "1 hour")
        .select(col("user_id"), col("event_type"), col("ets"))
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type"))
    }, sfDir, OutputMode.Append())

  /** Stream-static enrichment join: each streamed event is joined to a
    * BATCH-computed per-user aggregate — the standard pattern for
    * enriching a live stream against a slowly-changing dimension or
    * feature table. Stateless on the stream side (no watermark, no
    * state store): every micro-batch re-plans the static subquery, so
    * the dimension can be swapped between batches without restarting
    * the query. The static side here is itself an aggregate (one row
    * per user), joined threshold-driven — broadcast at fixture scale,
    * shuffle join once the dimension outgrows executor memory.
    */
  def staticJoin(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(spark, src => {
      // static side built on the STREAM's session (runToMemory runs the
      // query in the tuned child session; mixing sessions in one plan
      // is undefined behavior)
      val perUser = Tables.load(src.sparkSession, sfDir, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("user_event_count"))
      src.select(col("event_id"), col("user_id"))
        .join(perUser, "user_id")
        .select(col("event_id"), col("user_id"), col("user_event_count"))
    }, sfDir, OutputMode.Append())

  /** Stream-STREAM event-time join — the attribution shape ("purchase
    * within 30 minutes of a click by the same user") that needs BOTH
    * sides live: two independent file streams over the event log,
    * watermarked on event time, inner-joined on the user key plus a
    * time-range predicate. Spark buffers each side in join state and
    * uses the watermarks + the range condition to bound it: a click
    * older than the purchase-side watermark minus 30 minutes can never
    * match again and its state evicts — state tracks the in-flight
    * horizon, not stream lifetime. That eviction bound is exactly why
    * the range condition matters at 100 TB: an unconstrained
    * stream-stream join would hold every row forever.
    *
    * Under AvailableNow the whole fixture lands in one micro-batch, so
    * every matching pair meets live state and the emitted set is the
    * batch join — deterministic and oracle-checkable; the watermark
    * machinery still runs (state is built and bounded identically),
    * only the eviction horizon never truncates the fixture's matches.
    */
  def streamStreamJoin(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(spark, src => {
      // second, independent stream on the SAME child session (a plan
      // may not mix sessions); self-joining one stream reference would
      // hit the streaming self-join limitations, two sources are the
      // documented shape
      val s2 = src.sparkSession
      val schema = s2.read.parquet(s"$sfDir/events.parquet").schema
      val src2 = Tables.normalizeTs(s2.readStream.schema(schema)
        .parquet(s"$sfDir/events.parquet*"))
      def withEts(d: DataFrame) =
        d.withColumn("ets", timestamp_micros(expr("ts div 1000")))
      val clicks = withEts(src)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ets").as("click_ets"))
        .withWatermark("click_ets", "1 hour")
      val purchases = withEts(src2)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user_id"),
          col("value").as("purchase_value"),
          col("ets").as("purchase_ets"))
        .withWatermark("purchase_ets", "1 hour")
      clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ets") >= col("click_ets") &&
          col("purchase_ets") <= col("click_ets") + expr("INTERVAL 30 MINUTES"))
        .select(col("click_id"), col("purchase_id"), col("user_id"),
          (unix_micros(col("purchase_ets")) - unix_micros(col("click_ets")))
            .as("lag_us"),
          col("purchase_value"))
    }, sfDir, OutputMode.Append())

  /** LEFT OUTER stream-stream join — the attribution report that also
    * shows the clicks that converted to NOTHING: same two watermarked
    * streams and time-range predicate as [[streamStreamJoin]], outer
    * on the click side. A null-extended row for an unmatched click
    * can only be emitted once the engine PROVES no purchase can ever
    * match it — i.e. when the watermark passes click_time + 30 min
    * and the join state for that click evicts; inner results stream
    * out immediately, outer nulls trail the watermark by design.
    * Under AvailableNow the final no-data micro-batch advances the
    * watermark to (ms-floored max event time − 1 h), so the emitted
    * set is exactly: all inner matches, plus null-extended clicks
    * whose match window closed below that end-of-stream watermark —
    * trailing unmatched clicks stay in (checkpointed) state, awaiting
    * a later incremental run. Deterministic, and the oracle states
    * that rule in SQL.
    */
  def streamStreamJoinLeft(spark: SparkSession, sfDir: String): DataFrame =
    runToMemory(spark, src => {
      val s2 = src.sparkSession
      val schema = s2.read.parquet(s"$sfDir/events.parquet").schema
      val src2 = Tables.normalizeTs(s2.readStream.schema(schema)
        .parquet(s"$sfDir/events.parquet*"))
      def withEts(d: DataFrame) =
        d.withColumn("ets", timestamp_micros(expr("ts div 1000")))
      val clicks = withEts(src)
        .filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ets").as("click_ets"))
        .withWatermark("click_ets", "1 hour")
      val purchases = withEts(src2)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user_id"),
          col("ets").as("purchase_ets"))
        .withWatermark("purchase_ets", "1 hour")
      clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_ets") >= col("click_ets") &&
          col("purchase_ets") <= col("click_ets") + expr("INTERVAL 30 MINUTES"),
        "left_outer")
        .select(col("click_id"), col("user_id"),
          unix_micros(col("click_ets")).as("click_us"),
          col("purchase_id"))
    }, sfDir, OutputMode.Append())

  /** Streaming JSONL ingestion with corrupt-line accounting — the
    * continuous form of [[graft.sources.JsonlCorpus.corruptAccounting]]:
    * a corpus drop-directory is tailed as a file stream (declared
    * schema, PERMISSIVE, damaged lines routed to `_corrupt_record`),
    * and the three-way accounting (parse-fail / schema-miss / good)
    * runs as a global streaming aggregate in Complete mode — the live
    * ingest-health dashboard a 100 TB drop feed needs. State is five
    * counters total (one global group), so the aggregation costs
    * nothing at any volume; the source parallelizes per file and,
    * with maxFilesPerTrigger, paces arbitrarily large backlogs.
    * AvailableNow over the fixed fixture makes the final Complete
    * emission equal the batch accounting — same oracle, exactly.
    */
  /** Continuous SSTable-dump ingestion — the live form of the dump
    * bridge: dumps arrive one file per SSTable (a compaction-export
    * feed), the file stream paces them with `maxFilesPerTrigger`, and
    * the SAME [[graft.sources.SSTableDumpBridge.bridgeRows]]
    * expansion the batch read uses runs unchanged inside the stream
    * (projections + explode — no extra state), through
    * [[graft.sources.SSTableDumpBridge.bridgeTreeFrame]]: Spark's
    * file-stream JSON source stays here because the dump connector is
    * batch-only. The
    * streaming aggregate keeps (row_kind, sstable) partials —
    * bounded by kinds × files, not rows — because streaming forbids
    * countDistinct; the registered query finishes the per-kind
    * rollup batch-side on the sink, landing on the EXACT same audit
    * frame as `src_sstabledump_tree`, so the batch and streaming
    * ingestion paths share one oracle.
    */
  def dumpIngest(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.SSTableDumpBridge
    val dir = SSTableDumpBridge.writeTreeFixture(spark, sfDir)
    val baseUs = lit(SSTableDumpBridge.TreeBase * 1000000L)
    val out = runSourceToMemory(spark,
      s => SSTableDumpBridge.bridgeTreeFrame(
        s.readStream.schema(SSTableDumpBridge.dumpSchema)
          .option("multiLine", "true")
          // 2 of the 4 dump files per trigger: multi-trigger pacing
          // still witnessed (two micro-batches), two Complete-mode
          // state commits fewer than 1-per-trigger — the same
          // batch-count trim st_file_ingest documents
          .option("maxFilesPerTrigger", "2")
          .json(s"$dir/*/*")),
      src => src.groupBy(col("row_kind"), col("sstable"))
        .agg(count(lit(1)).as("nr"),
          sum(col("cell.writetime_us") - baseUs).as("wt"),
          sum(col("cell.ttl_s").cast("long")).as("tt"),
          sum(col("deletion_us") - baseUs).as("dd"),
          sum(length(col("cell.value")).cast("long")).as("vc")),
      OutputMode.Complete())
    graft.Scratch.delete(dir)
    out.groupBy(col("row_kind"))
      .agg(sum(col("nr")).cast("long").as("n_rows"),
        count(lit(1)).cast("long").as("n_sstables"),
        sum(col("wt")).cast("long").as("sum_wt_off_us"),
        sum(col("tt")).cast("long").as("sum_ttl_s"),
        sum(col("dd")).cast("long").as("sum_del_off_us"),
        sum(col("vc")).cast("long").as("sum_value_chars"))
  }

  def jsonlIngest(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.JsonlCorpus
    val dir = JsonlCorpus.writeDamagedFixture(spark, sfDir)
    val out = runSourceToMemory(spark,
      s => s.readStream
        .schema(JsonlCorpus.docSchema
          .add("_corrupt_record", org.apache.spark.sql.types.StringType))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(s"$dir/*"),
      src => src.agg(JsonlCorpus.accountingCols.head,
        JsonlCorpus.accountingCols.tail: _*),
      OutputMode.Complete())
    graft.Scratch.delete(dir)
    out
  }

  /** Streaming corpus gate: JSONL landing zone → PII enrichment (the
    * planted positives the oracle replants) → quality score → scrub,
    * aggregated per source — the curation front door run AS the data
    * arrives rather than as a batch afterpass. The point being
    * witnessed: the batch corpus operators ([[graft.ops.TextOps]]
    * quality/scrub columns) are pure projections, so they drop into a
    * `readStream` plan UNCHANGED — one definition, both execution
    * modes, same oracle. Complete-mode AvailableNow over the fixed
    * fixture makes the final emission equal the batch accounting.
    * State at scale = |sources| aggregate rows, invariant to stream
    * length.
    */
  def corpusGate(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.JsonlCorpus
    val dir = JsonlCorpus.writeCleanFixture(spark, sfDir)
    val out = runSourceToMemory(spark,
      s => s.readStream.schema(JsonlCorpus.docSchema).json(s"$dir/*"),
      src => {
        val enriched = TextOps.enrichPii(col("doc_id"), col("text"))
        val q = TextOps.qualityScoreCol(enriched)
        val toks = size(split(trim(enriched), "\\s+"))
        val scrubbed = TextOps.scrubPii(enriched)
        // the landing fixture is ONE jsonl file → one scan task would
        // run every regex pass (enrich/quality/scrub) serially; the
        // per-doc work is embarrassingly parallel, so round-robin the
        // micro-batch across the cores before the aggregation — the
        // stream-side rebalance st_ann_ingest/st_media_decode document
        src.repartition(src.sparkSession.sparkContext.defaultParallelism)
          .groupBy(col("source")).agg(
          count(lit(1)).as("n_in"),
          sum(when(q >= 0.5, 1).otherwise(0)).as("n_kept"),
          sum(when(q >= 0.5, toks).otherwise(0)).cast("long")
            .as("kept_tokens"),
          sum(when(scrubbed =!= enriched, 1).otherwise(0)).as("n_pii_docs"))
      },
      OutputMode.Complete())
    graft.Scratch.delete(dir)
    out
  }

  /** Continuous BINARY SSTable ingestion — the sixth ingestion path,
    * and the one a live compaction-export feed actually is: the
    * big-format DSv2 connector's MicroBatchStream decodes newly-landed
    * `*-Data.db` files one per micro-batch (`maxFilesPerTrigger`, the
    * S11 admission dial, honored through SupportsAdmissionControl),
    * with the SAME per-file reader the batch scan uses — one codec,
    * both execution modes, no `sstabledump` anywhere. The audit
    * aggregation is `st_dump_ingest`'s shape (streaming forbids
    * countDistinct, so (kind, sstable) partials finish batch-side) and
    * the result answers to the SAME tree oracle as every other
    * ingestion path. */
  def sstableIngest(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.{SSTableBinaryV2, SSTableDumpBridge}
    val dir = SSTableBinaryV2.binaryFixtureShared(spark, sfDir)
    val baseUs = lit(SSTableDumpBridge.TreeBase * 1000000L)
    val out = runSourceToMemory(spark,
      s => s.readStream.format("sstable-big")
        .option("maxFilesPerTrigger", "1").load(dir),
      src => src.groupBy(col("row_kind"), col("sstable"))
        .agg(count(lit(1)).as("nr"),
          sum(col("cell.writetime_us") - baseUs).as("wt"),
          sum(col("cell.ttl_s").cast("long")).as("tt"),
          sum(col("deletion_us") - baseUs).as("dd"),
          sum(length(col("cell.value")).cast("long")).as("vc")),
      OutputMode.Complete())
    out.groupBy(col("row_kind"))
      .agg(sum(col("nr")).cast("long").as("n_rows"),
        count(lit(1)).cast("long").as("n_sstables"),
        sum(col("wt")).cast("long").as("sum_wt_off_us"),
        sum(col("tt")).cast("long").as("sum_ttl_s"),
        sum(col("dd")).cast("long").as("sum_del_off_us"),
        sum(col("vc")).cast("long").as("sum_value_chars"))
  }

  /** Continuous SSTABLE EMISSION — the sink side of the landing-zone
    * loop [[sstableIngest]] reads: each micro-batch of bridge rows
    * lands as LOADABLE generations through the binary sink
    * (`foreachBatch` → `writeSSTables`), generation identity
    * preserved per batch — a streaming compaction-export relay,
    * binary in → binary out, never materializing more than one
    * micro-batch. The re-read of everything the stream emitted
    * answers to the SAME tree oracle as every other path: stream
    * writing and batch writing produce the same lake. At 100 TB this
    * is the continuous-rewrite pattern (TTL strip, era upgrade, or
    * re-compression riding an arrival feed); per-batch cost is
    * exactly the arriving files. */
  def sstableSink(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.{SSTableBinaryV2, SSTableDumpBridge}
    val in = SSTableBinaryV2.binaryFixtureShared(spark, sfDir)
    val out = graft.Scratch.dir("graft-stsink-")
    val child = streamingSession(spark)
    val ckptPath = graft.Scratch.dir("graft-ckpt-")
    val outStr = out.toString
    // the fixture's identity set, listed once on the driver: every
    // batch's distinct sstables are a subset, generations parse
    // uniquely from the nb-<g> basenames (no collision resolution to
    // shift), and groups absent from a batch are simply not written —
    // so passing the superset is output-identical while sparing each
    // micro-batch BOTH the isEmpty probe and the sink's generation
    // pass (each was a full re-decode of the batch: 3 decodes per
    // trigger down to 1)
    val srcIds = SSTableBinaryV2.dataSourceIdentities(spark, in)
    val q = child.readStream.format("sstable-big")
      .option("maxFilesPerTrigger", "1").load(in)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
        org.apache.spark.sql.Row], _: Long) =>
        SSTableBinaryV2.writeSSTables(batch.toDF(), outStr,
          "graft", "documents", sources = Some(srcIds))
        ()
      }
      .option("checkpointLocation", ckptPath.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.Scratch.delete(ckptPath)
    val audit = SSTableDumpBridge.auditFrame(
      SSTableBinaryV2.readBinary(spark, s"$out/graft/documents"))
      .localCheckpoint()
    graft.Scratch.delete(out)
    audit
  }

  /** Streaming ANN index ingest — the index MAINTAINED as vectors
    * land, not rebuilt behind them: a file stream over the embeddings
    * table runs the trained IVF-PQ encode (cell assignment + M
    * subspace codes + reconstruction norm) as a pure per-row
    * projection over broadcast artifact constants — quantization has
    * no state, so the stream needs no watermark, no aggregation, and
    * per-micro-batch cost is exactly the arriving rows. The streamed
    * code table then SERVES: the registered query runs the standard
    * IVF-PQ search over the stream-built index and must equal
    * `sim_ann_ivfpq_t` exactly (oracle shared VERBATIM) — continuous
    * ingest and batch build produce the same index, the same answers.
    * At 100 TB this is the landing-zone pattern for embeddings: codes
    * append to the stored index table per micro-batch (16 B/vector),
    * while training stays a deliberate offline act. */
  def annIngest(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.SimilarityOps
    val cs = SimilarityOps.trainedCentroids(spark, sfDir)
    val books = SimilarityOps.trainedPqCodebooks(spark, sfDir)
    val streamedCodes = runSourceToMemory(spark,
      s => {
        val schema = s.read.parquet(s"$sfDir/embeddings.parquet").schema
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$sfDir/embeddings.parquet*")
      },
      src => SimilarityOps.pqEncode(
        // one landing file per micro-batch → one scan task; the encode
        // is embarrassingly parallel per vector, so round-robin it
        // across the cores first (Tables.loadBalanced's justification,
        // applied to the stream side — at production scale a batch has
        // plenty of files and this collapses to a cheap rebalance)
        SimilarityOps.withNorm(src)
          .repartition(src.sparkSession.sparkContext.defaultParallelism),
        books, cs, l2 = true),
      OutputMode.Append())
    SimilarityOps.annIvfPqOf(
      SimilarityOps.withNorm(graft.Tables.load(spark, sfDir, "embeddings")),
      books, cs = cs, l2 = true, codedOverride = Some(streamedCodes))
  }

  /** Streaming REAL media decode (`st_media_decode`): the documents
    * corpus arrives as a file stream and each micro-batch runs
    * [[graft.ops.MultimodalOps.realDecodeColumns]] — literally the
    * batch query's pipeline — so the `m_real_decode` oracle is shared
    * structurally, not by textual coincidence (streaming is pure
    * transport; the decode is stateless, no watermark needed). */
  def mediaDecodeStream(spark: SparkSession, sfDir: String): DataFrame =
    runSourceToMemory(spark,
      s => {
        val schema = s.read.parquet(s"$sfDir/documents.parquet").schema
        s.readStream.schema(schema).parquet(s"$sfDir/documents.parquet*")
      },
      src => {
        import src.sparkSession.implicits._
        graft.ops.MultimodalOps.realDecodeColumns(
          // one landing file per micro-batch → one scan task; the
          // decode is embarrassingly parallel per doc, so round-robin
          // the batch across the cores first — the same stream-side
          // rebalance st_ann_ingest documents (at production scale a
          // batch has plenty of files and this is a cheap rebalance)
          src.select(col("doc_id").cast("long"))
            .repartition(src.sparkSession.sparkContext.defaultParallelism)
            .as[Long])
      },
      OutputMode.Append())

  /** Streaming real-FILE media ingestion (`st_file_ingest`): the
    * asset tree arrives as a rate-limited binary-file stream
    * (`maxFilesPerTrigger` — S11's admission control on the media
    * landing zone) and each micro-batch runs
    * [[graft.ops.MultimodalOps.fileDecodeColumns]] — literally the
    * batch query's pipeline, so `m_file_ingest`'s oracle is shared
    * structurally. Decode is stateless: no watermark, no state store,
    * per-micro-batch cost is exactly the admitted files. */
  def fileIngestStream(spark: SparkSession, sfDir: String): DataFrame = {
    // shared with m_file_ingest — the tree is cache-owned, never
    // deleted here; 300 files/trigger admits the 600-file zone in two
    // micro-batches (multi-trigger admission still witnessed, one
    // checkpoint round-trip less than the old 3-batch split)
    val dir = graft.ops.MultimodalOps.assetDirShared(spark, sfDir)
    runSourceToMemory(spark,
      s => s.readStream.format("binaryFile")
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "path string, modificationTime timestamp, " +
            "length bigint, content binary"))
        .option("maxFilesPerTrigger", "300")
        .load(dir),
      src => graft.ops.MultimodalOps.fileDecodeColumns(src),
      OutputMode.Append())
  }

  // ---- streaming LWW merge ----

  final case class CellArr(partition_key: String, clustering: String,
      row_kind: String, name: Option[String], value: Option[String],
      writetime_us: Option[Long], deletion_us: Option[Long])
  final case class CellVer(cl: String, nm: String, wt: Long, v: String)
  final case class RtB(cl: String, inc: Boolean, del: Long)
  /** Per-partition merge state: tombstone maxima, the partition's
    * range-tombstone bound lists (ranges-per-partition sized — the
    * same bound the batch form's pk-window collect has), and the
    * SURVIVING cell versions only (shadowed versions are pruned every
    * batch — they can never win nor count again), so state is bounded
    * by partition width × generations-per-cell, never by stream
    * lifetime. */
  final case class LwwSt(partDel: Long, rowDels: Map[String, Long],
      starts: Seq[RtB], ends: Seq[RtB],
      vers: Seq[CellVer], rev: Long)
  final case class LwwEmit(partition_key: String, clustering: String,
      name: String, value: String, writetime_us: Option[Long],
      n_versions: Long, rev: Long)

  /** Spark's string order, unsigned UTF-8 bytes: the order the batch
    * merges compare values and clusterings in. Java's `String` order
    * compares UTF-16 units, which sorts U+E000..U+FFFF above every
    * character past U+FFFF. */
  private val Utf8Order: Ordering[String] =
    graft.sources.SSTableBinaryV2.compareText(_, _)

  private val cellSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "partition_key string, clustering string, row_kind string, " +
      "name string, value string, writetime_us bigint, deletion_us bigint")

  /** Write the p_lww_merge fixture as a STREAMING landing zone: one
    * parquet file per generation (gen 1 = the original len/src cells,
    * gen 2 = the re-writes and tombstones), so `maxFilesPerTrigger=1`
    * feeds the merge one generation per micro-batch — the arrival
    * pattern a continuously-compacting ingest actually sees. */
  private[graft] def writeLwwStreamFixture(spark: SparkSession,
      sfDir: String): java.nio.file.Path = {
    val dir = graft.Scratch.dir("graft-lwwstream-")
    val offUs = coalesce(col("writetime_us"), col("deletion_us")) -
      lit(graft.ops.TtlOps.LwwBaseUs) -
      col("partition_key").cast("long") * 1000000L
    graft.ops.TtlOps.lwwFixture(spark, sfDir)
      .withColumn("gen",
        when(col("row_kind") === "ROW" && offUs <= 10000000L, 1)
          .otherwise(2))
      .repartition(col("gen"))
      .write.partitionBy("gen").mode("overwrite").parquet(dir.toString)
    dir
  }

  /** The stateful streaming LWW merge, raw emissions: winners keyed by
    * partition, revised every micro-batch that touches the partition.
    * Each batch the group (a) folds new cells into the surviving
    * version list and new tombstones into the per-partition maxima,
    * (b) prunes freshly-shadowed versions (a tombstone arriving AFTER
    * the cells it shadows retroactively deletes them — the cross-batch
    * revision a static batch job never faces), and (c) emits the
    * partition's CURRENT winner snapshot tagged with a monotone
    * revision, plus one revision SENTINEL row (null name): a partition
    * whose last surviving cell just vanished must still announce the
    * new revision, or the collapse would resurrect its previous
    * snapshot. Range-tombstone bounds accumulate in state and re-pair
    * index-wise each revision (the batch form's sorted pairing
    * verbatim), so a range arriving after the cells it covers shadows
    * them retroactively too; an UNBALANCED bound set fails loudly —
    * Cassandra serializes complete ranges per SSTable, so a split
    * range is corrupt input, not a transient.
    */
  private[graft] def lwwMergeStreamRaw(parent: SparkSession,
      dir: String): DataFrame =
    runSourceToMemory(parent,
      s => s.readStream.schema(cellSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/*/*"),
      src => {
        val ss = src.sparkSession
        import ss.implicits._
        src.as[CellArr].groupByKey(_.partition_key)
          .flatMapGroupsWithState[LwwSt, LwwEmit](
            OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
            (pk: String, rows: Iterator[CellArr], state: GroupState[LwwSt]) =>
              val st = state.getOption
                .getOrElse(LwwSt(Long.MinValue, Map.empty, Nil, Nil,
                  Nil, 0L))
              var partDel = st.partDel
              var rowDels = st.rowDels
              var starts = st.starts
              var ends = st.ends
              var vers = st.vers
              rows.foreach { r =>
                r.row_kind match {
                  case "ROW" | "PK_LIVENESS" =>
                    vers = vers :+ CellVer(r.clustering, r.name.orNull,
                      r.writetime_us.get, r.value.orNull)
                  case "ROW_DELETION" =>
                    rowDels = rowDels.updated(r.clustering,
                      math.max(rowDels.getOrElse(r.clustering,
                        Long.MinValue), r.deletion_us.get))
                  case "PARTITION_DELETION" =>
                    partDel = math.max(partDel, r.deletion_us.get)
                  case "RANGE_TOMBSTONE_BOUND" =>
                    // "start:inclusive"-style bound identity, the
                    // bridge encoding; bounds arrive balanced per
                    // micro-batch (Cassandra serializes complete
                    // ranges per SSTable), so the paired apply below
                    // never sees a split range
                    val Array(side, kind) = r.name.get.split(':')
                    val b = RtB(r.clustering, kind == "inclusive",
                      r.deletion_us.get)
                    if (side == "start") starts = starts :+ b
                    else ends = ends :+ b
                  case other => throw new UnsupportedOperationException(
                    s"streaming LWW merge: unknown row_kind $other")
                }
              }
              // the batch form's sorted index-wise pairing, verbatim:
              // array_sort on struct(cl, inc, del) = sortBy the tuple
              // (clusterings in UTF-8 byte order, Booleans false <
              // true); unbalanced bound sets
              // fail LOUDLY rather than half-applying a range
              require(starts.size == ends.size,
                s"unbalanced range-tombstone bounds in partition $pk")
              val boundOrder = Ordering.Tuple3(Utf8Order,
                Ordering.Boolean, Ordering.Long)
              val ranges = starts.sortBy(b => (b.cl, b.inc, b.del))(boundOrder)
                .zip(ends.sortBy(b => (b.cl, b.inc, b.del))(boundOrder))
              def rtDel(cl: String): Long = ranges.collect {
                case (sb, eb)
                  if (if (sb.inc) Utf8Order.gteq(cl, sb.cl)
                      else Utf8Order.gt(cl, sb.cl)) &&
                    (if (eb.inc) Utf8Order.lteq(cl, eb.cl)
                     else Utf8Order.lt(cl, eb.cl)) =>
                  math.max(sb.del, eb.del)
              }.foldLeft(Long.MinValue)(math.max)
              val live = vers.filter(v => v.wt > partDel &&
                v.wt > rowDels.getOrElse(v.cl, Long.MinValue) &&
                v.wt > rtDel(v.cl))
              val rev = st.rev + 1
              state.update(LwwSt(partDel, rowDels, starts, ends,
                live, rev))
              val winners = live.groupBy(v => (v.cl, v.nm)).toSeq
                .map { case ((cl, nm), vs) =>
                  // (writetime, value) lexicographic max, values in
                  // UTF-8 byte order — the batch merge's ranking; a null
                  // value (PK_LIVENESS) loses any same-writetime tie, as
                  // DESC null-last window ordering does
                  val w = vs.maxBy(v => (v.wt, Option(v.v).getOrElse("")))(
                    Ordering.Tuple2(Ordering.Long, Utf8Order))
                  LwwEmit(pk, cl, nm, w.v, Some(w.wt), vs.size.toLong, rev)
                }
              (LwwEmit(pk, null, null, null, None, 0L, rev) +: winners)
                .iterator
          }.toDF()
      }, OutputMode.Append())

  /** The RANGE-fixture landing zone for [[lwwRangeMergeStream]]: gen 1
    * = the base cells (offset-0 writetimes), gen 2 = the re-writes and
    * every tombstone bound — so range shadowing arrives one micro-batch
    * AFTER the cells it must retroactively delete. */
  private[graft] def writeLwwRangeStreamFixture(spark: SparkSession,
      sfDir: String): java.nio.file.Path = {
    val dir = graft.Scratch.dir("graft-lwwrangestream-")
    val offUs = coalesce(col("writetime_us"), col("deletion_us")) -
      lit(graft.ops.TtlOps.LwwBaseUs) -
      col("partition_key").cast("long") * 1000000L
    graft.ops.TtlOps.lwwRangeFixture(spark, sfDir)
      .withColumn("gen",
        when(col("row_kind") === "ROW" && offUs === 0L, 1).otherwise(2))
      .repartition(col("gen"))
      .write.partitionBy("gen").mode("overwrite").parquet(dir.toString)
    dir
  }

  /** Registered `st_lww_range`: the RANGE-TOMBSTONE merge as a stream —
    * bounds arrive a micro-batch after the cells they shadow, pair
    * index-wise inside the keyed state (the batch form's sorted
    * pairing verbatim) and retroactively delete covered clusterings;
    * the final snapshot equals the batch [[graft.ops.TtlOps
    * .lwwMerge]] over the same fixture (`p_lww_range`'s oracle,
    * shared verbatim). */
  def lwwRangeMergeStream(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = writeLwwRangeStreamFixture(spark, sfDir)
    val raw = lwwMergeStreamRaw(spark, dir.toString)
    graft.Scratch.delete(dir)
    collapseLwwStream(raw)
  }

  /** Registered `st_lww_merge`: the two-generation merge fixture
    * streamed one generation per micro-batch through the stateful
    * merge, collapsed to each partition's LAST revision — which must
    * equal the batch [[graft.ops.TtlOps.lwwMerge]] frame exactly
    * (`p_lww_merge`'s oracle, shared verbatim): continuous merge and
    * one-shot compaction are the same semantics on different triggers.
    */
  def lwwMergeStream(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = writeLwwStreamFixture(spark, sfDir)
    val raw = lwwMergeStreamRaw(spark, dir.toString)
    graft.Scratch.delete(dir)
    collapseLwwStream(raw)
  }

  /** Latest-revision collapse of [[lwwMergeStreamRaw]] emissions: keep
    * each partition's max-rev snapshot, drop the sentinels. */
  private[graft] def collapseLwwStream(raw: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("partition_key")
    raw
      .withColumn("maxrev", max(col("rev")).over(w))
      .filter(col("rev") === col("maxrev") && col("name").isNotNull)
      .select(col("partition_key"), col("clustering"), col("name"),
        col("value"), col("writetime_us"), col("n_versions"))
  }

  final case class Evt(event_id: Long, user_id: Long, ts: Long)
  final case class Session(
      user_id: Long, session_id: Long, n_events: Long,
      session_start_us: Long, session_end_us: Long)

  /** Keyed session windows via `flatMapGroupsWithState`: per user,
    * events are split into sessions at >1 h event-time gaps. The state
    * slot carries the running session count so sessions keep numbering
    * correctly across micro-batches; within a batch the group iterator
    * is buffered and sorted (event-time order is not guaranteed by the
    * shuffle). State per key is one long — bounded regardless of scale.
    */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    runToMemory(spark, src => {
      src.select(col("event_id"), col("user_id"), col("ts")).as[Evt]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState[Long, Session](
          OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
          (userId: Long, events: Iterator[Evt], state: GroupState[Long]) =>
            // MEMORY BOUND: this buffers ONE user's events from ONE
            // micro-batch (16 bytes/row + boxing) — bounded by
            // maxFilesPerTrigger × rows-per-file ÷ keys, NOT by stream
            // or key lifetime. The sort is required for correctness
            // (the shuffle does not deliver event-time order) and a
            // chunked fold cannot replace it: session splitting needs
            // the batch's full per-user timeline. A hot key in a huge
            // micro-batch is mitigated operationally by lowering
            // maxFilesPerTrigger; cross-batch state stays one long.
            val sorted = events.toArray.sortBy(e => (e.ts, e.event_id))
            val gapUs = 3600000000L
            var sessionId = state.getOption.getOrElse(0L)
            val out = scala.collection.mutable.ArrayBuffer.empty[Session]
            var start = -1L; var end = -1L; var n = 0L
            def flush(): Unit = if (n > 0) {
              out += Session(userId, sessionId, n, start, end); n = 0
            }
            sorted.foreach { e =>
              val us = e.ts / 1000
              if (n == 0 || us - end > gapUs) {
                flush(); sessionId += 1; start = us
              }
              end = us; n += 1
            }
            flush()
            state.update(sessionId)
            out.iterator
        }.toDF()
    }, sfDir, OutputMode.Append())
  }
}
