package graft


import graft.ops.AnalyticsOps
import graft.streaming.StreamingOps
import org.apache.spark.sql.DataFrame

/** Streaming-vs-batch equivalence: with AvailableNow over a static
  * directory, each streaming op must produce exactly its batch
  * analogue's result — the property that makes the streaming layer a
  * drop-in incremental path for the same pipelines.
  */
class StreamingSpec extends SparkSpec {

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    val cols = a.columns.sorted.map(org.apache.spark.sql.functions.col _)
    val (an, bn) = (a.select(cols: _*), b.select(cols: _*))
    assert(an.count() == bn.count(), "row counts differ")
    assert(an.exceptAll(bn).isEmpty && bn.exceptAll(an).isEmpty,
      "row sets differ")
  }

  test("streaming window agg equals batch tumbling-window aggregation") {
    import org.apache.spark.sql.functions._
    val streamed = StreamingOps.windowAgg(spark, sfDir)
    val batch = Tables.load(spark, sfDir, "events")
      .withColumn("us", expr("ts div 1000"))
      .groupBy((expr("us div 3600000000") * 3600000000L)
        .as("window_start_us"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,2)")), 2)
          .cast("double").as("sum_value"))
    assertSameRows(streamed, batch)
  }

  test("streaming corpus gate equals the batch curation pass") {
    import org.apache.spark.sql.functions._
    import graft.ops.TextOps
    val streamed = StreamingOps.corpusGate(spark, sfDir)
    // the SAME projection columns over the batch table — one operator
    // definition, two execution modes
    val enriched = TextOps.enrichPii(col("doc_id"), col("text"))
    val q = TextOps.qualityScoreCol(enriched)
    val toks = size(split(trim(enriched), "\\s+"))
    val scrubbed = TextOps.scrubPii(enriched)
    val batch = Tables.load(spark, sfDir, "documents")
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_in"),
        sum(when(q >= 0.5, 1).otherwise(0)).as("n_kept"),
        sum(when(q >= 0.5, toks).otherwise(0)).cast("long")
          .as("kept_tokens"),
        sum(when(scrubbed =!= enriched, 1).otherwise(0)).as("n_pii_docs"))
    assertSameRows(streamed, batch)
    // the gate actually gates, and the planted PII is actually found
    val r = streamed.collect()
    assert(r.exists(x => x.getLong(2) < x.getLong(1)), "no doc filtered")
    assert(r.map(_.getLong(4)).sum > 0, "planted PII never detected")
  }

  test("append-mode window agg emits exactly the watermark-closed windows") {
    import org.apache.spark.sql.functions._
    val appended = StreamingOps.windowAggAppend(spark, sfDir)
    val ev = Tables.load(spark, sfDir, "events")
      .withColumn("us", expr("ts div 1000"))
    // end-of-stream watermark = floor_ms(max event time) − 1 h delay
    // (Spark tracks event-time stats in milliseconds); a window is
    // finalized (emitted + state evicted) iff window_end <= watermark
    val maxUs = ev.agg(max("us")).head().getLong(0)
    val watermarkUs = (maxUs / 1000L) * 1000L - 3600000000L
    val closed = ev
      .groupBy((expr("us div 3600000000") * 3600000000L)
        .as("window_start_us"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,2)")), 2)
          .cast("double").as("sum_value"))
      .filter(col("window_start_us") + 3600000000L <= watermarkUs)
    assertSameRows(appended, closed)
    // and it must emit strictly fewer windows than Complete mode does
    // (the trailing, still-open windows stay in state)
    assert(appended.count() < StreamingOps.windowAgg(spark, sfDir).count())
  }

  test("append-mode emission boundary: window_end == watermark IS emitted (ms floor)") {
    // Pins the exact eviction predicate the oracle encodes: a window
    // whose end equals the end-of-stream watermark is finalized
    // (<=, not <). Spark tracks event-time stats in milliseconds
    // (the oracle floors to ms to match); for ms-aligned window ends
    // the floor provably never flips the decision — the crafted
    // 999 microseconds on the max event time exercise exactly that
    // equivalence. Max event time sits one delay past window A's end.
    import org.apache.spark.sql.functions._
    val hourUs = 3600000000L
    val baseUs = 1700000000L / 3600 * 3600 * 1000000L // hour-aligned
    import spark.implicits._
    val rows = Seq(
      (1L, 1L, "view", 1.0, (baseUs + 10) * 1000L, "{}"), // window A
      (2L, 1L, "view", 2.0, (baseUs + hourUs + 5) * 1000L, "{}"), // window B
      // max: exactly A_end + 1h, plus 999us the ms-floor must drop
      (3L, 1L, "view", 3.0, (baseUs + 2 * hourUs + 999) * 1000L, "{}"))
      .toDF("event_id", "user_id", "event_type", "value", "ts", "props")
    val dir = graft.Scratch
      .dir("graft-boundary-").toString
    rows.coalesce(1).write.parquet(s"$dir/events.parquet")
    val emitted = StreamingOps.windowAggAppend(spark, dir)
    val starts = emitted.select("window_start_us")
      .collect().map(_.getLong(0)).toSet
    assert(starts === Set(baseUs),
      s"expected exactly window A ($baseUs) emitted, got $starts")
  }

  test("checkpoint reuse on a file sink: run 2 emits only newly-closed windows") {
    // The incremental-correctness contract (reference has no analogue —
    // its batch runs to completion): two AvailableNow runs over a
    // GROWING directory with a reused checkpoint and a parquet sink.
    // Run 1 emits the windows its watermark closed; run 2 reads ONLY
    // the new files (seen-set in the checkpoint), emits ONLY the newly
    // closed windows (open-window state carried across runs), and the
    // union equals a one-shot run over the full directory.
    import org.apache.spark.sql.functions._
    val base = graft.Scratch
      .dir("graft-incr-").toString
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    val ev = Tables.load(spark, sfDir, "events")
    val (mn, mx) = ev.agg(min("ts"), max("ts")).as[(Long, Long)](
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong)).head()
    val cut = mn + (mx - mn) / 2
    ev.filter(col("ts") < cut).write.parquet(in)

    StreamingOps.windowAggAppendTo(spark, in, out, ckpt)
    val run1 = spark.read.parquet(out).collect().toSet
    assert(run1.nonEmpty, "run 1 emitted nothing")

    ev.filter(col("ts") >= cut).write.mode("append").parquet(in)
    StreamingOps.windowAggAppendTo(spark, in, out, ckpt)
    val combined = spark.read.parquet(out)
    val run2 = combined.collect().toSet -- run1
    assert(run2.nonEmpty, "run 2 emitted nothing new")

    // no window emitted twice across runs
    assert(combined.count() ===
      combined.select("window_start_us", "event_type").distinct().count(),
      "a window was re-emitted on the second run")

    // union of incremental runs == one-shot over the full directory
    val oneShot = s"$base/oneshot"
    StreamingOps.windowAggAppendTo(spark, in, oneShot, s"$base/ckpt2")
    assertSameRows(combined, spark.read.parquet(oneShot))
  }

  test("flatMapGroupsWithState sessionize equals batch window sessionize") {
    val streamed = StreamingOps.sessionize(spark, sfDir)
    val batch = AnalyticsOps.sessionize(spark, sfDir)
    assertSameRows(streamed, batch)
  }

  test("within-watermark dedup emits the batch DISTINCT on a one-batch stream") {
    import org.apache.spark.sql.functions._
    val streamed = StreamingOps.dedupKeysWithinWatermark(spark, sfDir)
    val batch = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_type")).distinct()
    assertSameRows(streamed, batch)
  }

  test("within-watermark dedup EVICTS state once the watermark passes it") {
    // the whole point of dropDuplicatesWithinWatermark over plain
    // dropDuplicates: state is bounded by the keys in flight inside
    // the watermark horizon, not by lifetime distinct keys. Witness:
    // run 1 seeds 50 keys at T0; run 2 (same checkpoint — state
    // carried over) lands 10 NEW keys 10 hours later, advancing the
    // watermark far past T0 + 1 h delay, so the 50 old entries MUST
    // leave the store. Asserted from the engine's own state-store
    // metrics, not inferred from output.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val base = graft.Scratch
      .dir("graft-wm-evict-").toString
    val in = s"$base/in"
    val t0 = 1700000000000000L // epoch micros
    import spark.implicits._
    def mkEvents(ids: Range, us: Long) =
      ids.map(i => (i.toLong, i.toLong, s"type$i", 1.0, us * 1000L, "{}"))
        .toDF("event_id", "user_id", "event_type", "value", "ts", "props")
    def runOnce(): org.apache.spark.sql.streaming.StreamingQueryProgress = {
      val schema = spark.read.parquet(in).schema
      val evt = spark.readStream.schema(schema).parquet(in)
        .withColumn("ets", timestamp_micros(expr("ts div 1000")))
        .withWatermark("ets", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
      // parquet sink: the memory sink cannot recover from a reused
      // checkpoint, and checkpoint reuse IS this test's mechanism
      val q = evt.writeStream.format("parquet")
        .option("path", s"$base/out")
        .outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.filter(_.stateOperators.nonEmpty).last
    }
    mkEvents(0 until 50, t0).coalesce(1).write.parquet(in)
    val p1 = runOnce()
    assert(p1.stateOperators(0).numRowsTotal === 50L,
      "run 1 should hold one state row per key")
    // 10 h later: watermark jumps to ~T0+9h ≫ T0 + 1 h delay
    mkEvents(100 until 110, t0 + 36000000000L)
      .coalesce(1).write.mode("append").parquet(in)
    val p2 = runOnce()
    val finalRows = p2.stateOperators(0).numRowsTotal
    assert(finalRows <= 10L,
      s"old keys were not evicted: $finalRows state rows remain")
  }

  test("stream-stream join emits exactly the batch time-range join") {
    import org.apache.spark.sql.functions._
    val streamed = StreamingOps.streamStreamJoin(spark, sfDir)
    val e = Tables.load(spark, sfDir, "events")
      .withColumn("us", expr("ts div 1000"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("us").as("cus"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("value").as("purchase_value"),
        col("us").as("pus"))
    val batch = clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("pus") >= col("cus") &&
        col("pus") <= col("cus") + 1800000000L)
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        (col("pus") - col("cus")).as("lag_us"), col("purchase_value"))
    assert(streamed.count() > 0, "no attributed pairs on the fixture")
    assertSameRows(streamed, batch)
  }

  test("left-outer stream join: nulls trail the watermark, trailing clicks held") {
    import org.apache.spark.sql.functions._
    val streamed = StreamingOps.streamStreamJoinLeft(spark, sfDir)
      .localCheckpoint()
    val e = Tables.load(spark, sfDir, "events")
      .withColumn("us", expr("ts div 1000"))
    def maxUs(tpe: String) = e.filter(col("event_type") === tpe)
      .agg(max(col("us"))).head().getLong(0)
    // global watermark: min over both streams of ms-floored max − 1 h
    val wm = math.min(maxUs("click") / 1000 * 1000,
      maxUs("purchase") / 1000 * 1000) - 3600000000L
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("us").as("click_us"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user_id"), col("us").as("pus"))
    val m = clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("pus") >= col("click_us") &&
        col("pus") <= col("click_us") + 1800000000L)
      .select(col("click_id"), col("user_id"), col("click_us"),
        col("purchase_id"))
    val unm = clicks
      .join(m.select(col("click_id")), Seq("click_id"), "left_anti")
      .filter(col("click_us") + 1800000000L < wm)
      .select(col("click_id"), col("user_id"), col("click_us"),
        lit(null).cast("long").as("purchase_id"))
    assertSameRows(streamed, m.unionByName(unm))
    // the rule actually bites: some unmatched click must be trailing
    // (held in state, not emitted)
    val unmatchedAll = clicks
      .join(m.select(col("click_id")), Seq("click_id"), "left_anti").count()
    val emittedNulls = streamed.filter(col("purchase_id").isNull).count()
    assert(unmatchedAll > emittedNulls,
      "no trailing click held in state — the watermark clause is untested")
  }

  test("S11: maxFilesPerTrigger paces ingestion into bounded micro-batches") {
    // the reference's RateLimiter throttles the data-file reader
    // (NoTTLReader.java:1791-1794) so a rewrite can't saturate a live
    // node's IO; the declarative Spark analogue is source admission
    // control — maxFilesPerTrigger bounds what each micro-batch reads,
    // so ingestion proceeds in bounded, schedulable units instead of
    // one unbounded gulp. Pinned: 4 input files with a 1-file trigger
    // cap yield ≥4 data-carrying micro-batches, each reading at most
    // one file's rows, while the total equals the directory's rows.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val base = graft.Scratch
      .dir("graft-pace-").toString
    val in = s"$base/in"
    val ev = Tables.load(spark, sfDir, "events")
    val total = ev.count()
    ev.repartition(4).write.parquet(in) // 4 files, one per task
    val schema = spark.read.parquet(in).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(in)
      .groupBy().agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("graft_paced")
      .outputMode("complete")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 4,
      s"expected ≥4 paced micro-batches, got ${batches.length}")
    // round-robin gives ~total/4 rows per file; a 1-file trigger must
    // never read more than one file's worth (generous 2× slack)
    val maxBatch = batches.map(_.numInputRows).max
    assert(maxBatch <= total / 2,
      s"a micro-batch read $maxBatch of $total rows — pacing did not bound it")
    assert(batches.map(_.numInputRows).sum === total, "rows lost by pacing")
    assert(spark.table("graft_paced").head().getLong(0) === total)
    spark.catalog.dropTempView("graft_paced")
  }

  test("streaming dump ingest lands on the batch tree audit exactly") {
    // three ingestion paths, one semantic contract: the paced
    // AvailableNow stream's final Complete emission must equal the
    // batch treeAudit frame row for row
    val stream = graft.streaming.StreamingOps
      .dumpIngest(spark, sfDir).localCheckpoint()
    val batch = graft.sources.SSTableDumpBridge
      .treeAudit(spark, sfDir)
    assert(stream.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(stream).count() === 0)
    assert(stream.count() === 4) // the four row kinds
  }

  test("streaming binary ingest: the connector's micro-batch stream lands on the batch audit") {
    val stream = StreamingOps.sstableIngest(spark, sfDir).localCheckpoint()
    val batch = graft.sources.SSTableBinaryV2.binaryAudit(spark, sfDir)
    assert(stream.count() === 4) // the four row kinds
    assert(stream.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(stream).count() === 0)
  }

  test("streaming ANN ingest: the stream-built index serves like the batch-built one") {
    val streamed = StreamingOps.annIngest(spark, sfDir).localCheckpoint()
    val batch = graft.ops.SimilarityOps.annIvfPqTrained(spark, sfDir)
      .localCheckpoint()
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("streaming range merge: bounds arriving later retroactively shadow; final equals batch") {
    import org.apache.spark.sql.functions._
    val dir = StreamingOps.writeLwwRangeStreamFixture(spark, sfDir)
    try {
      val raw = StreamingOps.lwwMergeStreamRaw(spark, dir.toString)
        .localCheckpoint()
      // doc 2 (even, not %3==0, not %5==1): gen 1 = cells at a/c/e,
      // gen 2 = the [b,d] range — whichever order the generation files
      // arrive in, the two revisions' snapshots differ (gen1-first:
      // {a,c,e} → {a,e}; gen2-first: {} → {a,e}) and the final one
      // never contains the shadowed 'c'
      val d2all = raw.filter(col("partition_key") === "2")
        .select(col("rev"), col("clustering")).collect()
        .map(r => (r.getLong(0), Option(r.getString(1))))
      val revs = d2all.map(_._1).distinct.sorted
      assert(revs.length === 2, s"doc 2 saw ${revs.length} revisions")
      def snap(rev: Long): Set[String] =
        d2all.filter(t => t._1 == rev).flatMap(_._2).toSet
      assert(snap(revs.max) === Set("a", "e"),
        s"final snapshot kept the range-shadowed 'c': ${snap(revs.max)}")
      assert(snap(revs.min) !== snap(revs.max),
        "no retroactive revision happened across batches")
      // the collapsed stream equals the batch range merge exactly
      val collapsed = StreamingOps.collapseLwwStream(raw)
      val batch = graft.ops.TtlOps.lwwRangeAudit(spark, sfDir)
      assert(collapsed.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(collapsed).count() === 0)
    } finally Scratch.delete(dir)
  }

  test("streaming LWW merge orders values and clusterings as UTF-8 bytes, as batch") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val replacement = "\uFFFD" // U+FFFD: 0xFFFD in UTF-16, EF BF BD in UTF-8
    val grin = "\uD83D\uDE00" // U+1F600: 0xD83D... in UTF-16, F0 9F.. in UTF-8
    val dir = Scratch.dir("graft-lwwstream-utf8-")
    try {
      // t: two writes of one cell at one writetime, the greater value
      // wins; r: a range [a, U+FFFD] that covers no clustering past U+FFFF
      val rows = Seq(
        (1, "t", "c", "ROW", Some("v"), Some(replacement), Some(1000L), None),
        (2, "t", "c", "ROW", Some("v"), Some(grin), Some(1000L), None),
        (1, "r", grin, "ROW", Some("v"), Some("x"), Some(1000L), None),
        (2, "r", "a", "RANGE_TOMBSTONE_BOUND", Some("start:inclusive"), None,
          None, Some(2000L)),
        (2, "r", replacement, "RANGE_TOMBSTONE_BOUND", Some("end:inclusive"),
          None, None, Some(2000L)))
        .toDF("gen", "partition_key", "clustering", "row_kind", "name",
          "value", "writetime_us", "deletion_us")
      rows.repartition(col("gen")).write.partitionBy("gen")
        .mode("overwrite").parquet(dir.toString)
      val streamed = StreamingOps.collapseLwwStream(
        StreamingOps.lwwMergeStreamRaw(spark, dir.toString))
        .localCheckpoint()
      val batch = graft.ops.TtlOps.lwwMerge(rows.drop("gen"))
      assert(streamed.select("partition_key", "value").as[(String, String)]
        .collect().sorted.toSeq === Seq("r" -> "x", "t" -> grin))
      assertSameRows(streamed, batch)
    } finally Scratch.delete(dir)
  }

  test("streaming LWW merge: winners revised across micro-batches, final equals batch") {
    import org.apache.spark.sql.functions._
    val dir = StreamingOps.writeLwwStreamFixture(spark, sfDir)
    try {
      val raw = StreamingOps.lwwMergeStreamRaw(spark, dir.toString)
        .localCheckpoint()
      // the generation files arrive one per micro-batch, so partitions
      // touched by both generations reach revision 2
      assert(raw.agg(max(col("rev"))).head().getLong(0) === 2L)
      // cross-batch winner REVISION: doc 6 (len re-written in gen 2,
      // no tombstones) must show different winner sets at rev 1 vs
      // rev 2 whichever order the generation files arrived in —
      // gen1-first revises len's value, gen2-first adds src
      val d6 = raw.filter(col("partition_key") === "6" &&
        col("name").isNotNull)
        .select(col("rev"), col("name"), col("value")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      val r1 = d6.filter(_._1 == 1L).map(t => (t._2, t._3)).toSet
      val r2 = d6.filter(_._1 == 2L).map(t => (t._2, t._3)).toSet
      assert(r1.nonEmpty && r2.nonEmpty && r1 != r2,
        s"no winner revision across batches: rev1=$r1 rev2=$r2")
      // doc 6's final len winner is the gen-2 re-write
      val nChars6 = graft.Tables.load(spark, sfDir, "documents")
        .filter(col("doc_id") === 6).head().getAs[Long]("n_chars")
      assert(r2.contains(("len", (nChars6 + 1).toString)))
      // retroactive shadowing: a partition-deleted doc ends EMPTY at
      // its final revision (doc 9: 9 % 10 == 9)
      val d9final = raw.filter(col("partition_key") === "9")
        .withColumn("mx", max(col("rev")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(lit(1))))
        .filter(col("rev") === col("mx") && col("name").isNotNull)
      assert(d9final.count() === 0, "partition tombstone did not empty doc 9")
      // the collapsed stream equals the batch merge frame exactly
      val collapsed = StreamingOps.collapseLwwStream(raw)
      val batch = graft.ops.TtlOps.lwwMergeAudit(spark, sfDir)
      assert(collapsed.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(collapsed).count() === 0)
    } finally Scratch.delete(dir)
  }
}
