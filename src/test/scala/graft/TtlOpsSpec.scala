package graft

import graft.model.CellModel
import graft.ops.TtlOps
import org.apache.spark.sql.functions._

/** One bridge row of an LWW merge input, with the generation it came
  * from. */
final case class LwwRow(partition_key: String, clustering: Seq[String],
    row_kind: String, name: String, value: Option[String],
    writetime_us: Option[Long], deletion_us: Option[Long],
    expire_us: Option[Long], sstable: String)

/** Round-trip invariants translated from the reference's integration
  * tests (SURVEY §5; `Cassandra3TTLRemoverTest.java:70-192`): expired
  * rows are invisible before the strip, everything is visible after,
  * and nothing else changes (values, writetimes, row count, order).
  */
class TtlOpsSpec extends SparkSpec {

  test("ttlStrip preserves row count and drops every TTL") {
    val ev = Tables.load(spark, sfDir, "events")
    val stripped = TtlOps.ttlStrip(spark, sfDir)
    assert(stripped.count() === ev.count())
    assert(stripped.filter(col("ttl_after").isNotNull).count() === 0)
  }

  test("ttlStrip preserves values and writetimes byte-for-byte") {
    val cells = CellModel.cellify(Tables.load(spark, sfDir, "events"))
      .select(col("event_id"), col("value"), col("writetime_us"))
    val stripped = TtlOps.ttlStrip(spark, sfDir)
      .select(col("event_id"), col("value"), col("writetime_us"))
    // anti-joins in both directions => exact multiset equality on keys
    assert(cells.exceptAll(stripped).count() === 0)
    assert(stripped.exceptAll(cells).count() === 0)
  }

  test("expired rows are invisible before the strip, visible after (the reference's 0-then-3 assertion)") {
    val cells = CellModel.cellify(Tables.load(spark, sfDir, "events"))
    val expired = cells.filter(
      col("ttl_s").isNotNull && col("expire_us") <= CellModel.NowMicros)
    val visible = TtlOps.visibleAt(spark, sfDir)
    // before: no expired row is visible
    assert(visible.join(expired, Seq("event_id"), "left_semi").count() === 0)
    // after: every row (incl. previously expired) survives the strip
    val stripped = TtlOps.ttlStrip(spark, sfDir)
    assert(
      stripped.join(expired, Seq("event_id"), "left_semi").count() ===
        expired.count())
    assert(expired.count() > 0, "test data must contain expired rows")
  }

  test("cellKindDispatch strips EXPIRING only; COUNTER/PLAIN/TOMBSTONE pass through") {
    val out = TtlOps.cellKindDispatch(spark, sfDir)
    assert(out.filter(col("kind") === "EXPIRING" && col("ttl_s").isNotNull)
      .count() === 0)
    val cells = CellModel.cellify(Tables.load(spark, sfDir, "events"))
      .select(col("event_id"), col("ttl_s"))
    val passthrough = out.filter(col("kind") =!= "EXPIRING")
      .select(col("event_id"), col("ttl_s"))
    assert(passthrough.exceptAll(
      cells.join(passthrough.select("event_id"), "event_id")
        .select(col("event_id"), col("ttl_s"))).count() === 0)
    // counter cells exist and pass through verbatim even when they carry
    // liveness metadata (NoTTLColumnSerializer.java:26-50: counter body
    // copied untouched) — COUNTER outranks EXPIRING in the dispatch
    val counters = out.filter(col("kind") === "COUNTER")
    assert(counters.count() > 0)
    assert(counters.filter(col("ttl_s").isNotNull).count() > 0,
      "some counter cells must retain their (untouched) TTL metadata")
  }

  test("tombstonePairing: opens precede closes, one pair per two markers") {
    val pairs = TtlOps.tombstonePairing(spark, sfDir)
    assert(pairs.filter(col("close_us") < col("open_us")).count() === 0)
    val errCounts = Tables.load(spark, sfDir, "events")
      .filter(col("event_type") === "error")
      .groupBy("user_id").count()
    val expected = errCounts.agg(
      sum(ceil(col("count") / 2.0)).cast("long")).head().getLong(0)
    assert(pairs.count() === expected)
  }

  test("deletionPreserve: every input partition survives, incl. deletion-only ones") {
    val ev = Tables.load(spark, sfDir, "events")
    val out = TtlOps.deletionPreserve(spark, sfDir)
    // the §7.4-item-3 invariant: no grouped transform may drop a
    // partition — every input user_id appears in the output
    val inUsers = ev.select("user_id").distinct()
    val outUsers = out.select("user_id").distinct()
    assert(inUsers.exceptAll(outUsers).count() === 0)
    assert(outUsers.exceptAll(inUsers).count() === 0)
    // deletion-only partitions exist, carry exactly one marker row and
    // zero data rows (partition deletion supersedes all rows)
    val deleted = out.filter(col("user_id") % 10 === 7)
    assert(deleted.filter(col("kind") === "PARTITION_DELETION").count() > 0)
    assert(deleted.filter(col("kind") =!= "PARTITION_DELETION").count() === 0)
    assert(deleted.groupBy("user_id").count()
      .filter(col("count") =!= 1).count() === 0)
    // row deletions survive verbatim (value nulled, liveness untouched)
    val rowDel = out.filter(col("kind") === "ROW_DELETION")
    assert(rowDel.count() ===
      ev.filter(col("user_id") % 10 =!= 7 && col("event_type") === "error")
        .count())
    assert(rowDel.filter(col("deletion_us") =!= col("writetime_us"))
      .count() === 0)
    // live rows are stripped: no TTL info in the output schema's kind=ROW
    assert(out.filter(col("kind") === "ROW" && col("deletion_us").isNotNull)
      .count() === 0)
  }

  test("sortedSink: partition-local order by (user_id, writetime_us, event_id)") {
    import org.apache.spark.sql.Row
    val ds = TtlOps.sortedSink(spark, sfDir)
      .select("user_id", "writetime_us", "event_id")
    val violations = ds.rdd.mapPartitions { it =>
      var prev: Option[(Long, Long, Long)] = None
      var bad = 0L
      it.foreach { case Row(u: Long, w: Long, e: Long) =>
        prev.foreach { p => if (Ordering[(Long, Long, Long)].gt(p, (u, w, e))) bad += 1 }
        prev = Some((u, w, e))
      }
      Iterator.single(bad)
    }.sum()
    assert(violations === 0.0)
  }

  test("lwwMerge: shadowing, partial shadow, and LWW winners are exact") {
    val merged = TtlOps.lwwMergeAudit(spark, sfDir).collect()
      .map(r => (r.getString(0).toLong, r.getString(2)) -> r).toMap
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    docs.keys.foreach { id =>
      val len = merged.get(id -> "len")
      val src = merged.get(id -> "src")
      if (id % 10 == 9) {
        // partition tombstone at +1000 shadows every generation
        assert(len.isEmpty && src.isEmpty, s"doc $id not fully shadowed")
      } else if (id % 7 == 3) {
        // row tombstone at +50 kills gen-1 (+0/+10); only a gen-2
        // re-write at +100 (id%3==0) survives — the partial shadow
        assert(src.isEmpty, s"doc $id: shadowed src cell resurrected")
        if (id % 3 == 0) {
          assert(len.exists(_.getString(3) == (docs(id) + 1).toString),
            s"doc $id: surviving re-write missing or wrong")
          assert(len.exists(_.getLong(5) == 1L), "shadowed versions counted")
        } else assert(len.isEmpty, s"doc $id: shadowed len resurrected")
      } else {
        // no tombstone: src always survives; len is the LWW winner —
        // the +100 re-write (value n_chars+1) when id%3==0, else gen-1
        assert(src.isDefined, s"doc $id: src cell lost")
        val expect =
          if (id % 3 == 0) (docs(id) + 1).toString else docs(id).toString
        assert(len.exists(_.getString(3) == expect),
          s"doc $id: LWW winner wrong")
        assert(len.exists(_.getLong(5) == (if (id % 3 == 0) 2L else 1L)),
          s"doc $id: version count wrong")
      }
    }
  }

  test("lwwMerge range shadowing: bound coverage, exclusivity, re-write survival") {
    val merged = TtlOps.lwwRangeAudit(spark, sfDir).collect()
      .map(r => (r.getString(0).toLong, r.getString(1)) ->
        (r.getString(3), r.getLong(5))).toMap
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    docs.foreach { case (id, n) =>
      // 'a' sits below both ranges: always visible, one version
      assert(merged.get(id -> "a").contains((n.toString, 1L)),
        s"doc $id: clustering a wrong")
      // 'c' is inside [b,d]: the base write dies on even ids; the
      // +100 re-write (id%3==0) outlives the +60 range
      val baseOk = id % 2 != 0
      val rewrite = id % 3 == 0
      val cExpect =
        if (rewrite) Some(((n + 10).toString, (if (baseOk) 2L else 1L)))
        else if (baseOk) Some(((n + 1).toString, 1L))
        else None
      assert(merged.get(id -> "c") == cExpect, s"doc $id: clustering c " +
        s"got ${merged.get(id -> "c")}, want $cExpect")
      // 'e' is covered only by the exclusive-start (d, e] range
      val eExpect = if (id % 5 == 1) None else Some(((n + 2).toString, 1L))
      assert(merged.get(id -> "e") == eExpect,
        s"doc $id: clustering e wrong")
    }
  }

  /** The remover's merge (`SSTableBinaryV2.mergeRows`) over a merge
    * fixture reshaped to the stripped bridge rows it takes — a scalar
    * clustering wrapped in an array, the flat value columns in a cell
    * struct, one sstable when the fixture names none — in `lwwMerge`'s
    * winners-only shape. */
  private def removerMerge(cells: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val scalar = !cells.schema("clustering").dataType
      .isInstanceOf[org.apache.spark.sql.types.ArrayType]
    def orNull(c: String, t: String) =
      if (cells.columns.contains(c)) col(c) else lit(null).cast(t)
    val bridge = cells.select(col("partition_key"),
      (if (scalar) array(col("clustering")) else col("clustering"))
        .as("clustering"),
      col("row_kind"), col("name"),
      when(col("row_kind").isin("ROW", "PK_LIVENESS", "CELL_DELETION"),
        struct(col("value"), col("writetime_us"),
          lit(null).cast("int").as("ttl_s"),
          orNull("expire_us", "long").as("expire_us"))).as("cell"),
      col("deletion_us"),
      coalesce(orNull("sstable", "string"), lit("fixture")).as("sstable"))
    graft.sources.SSTableBinaryV2.mergeRows(bridge)
      .filter(col("row_kind").isin("ROW", "PK_LIVENESS"))
      .select(col("partition_key"),
        (if (scalar) col("clustering")(0) else col("clustering"))
          .as("clustering"),
        col("name"), col("cell.value").as("value"),
        col("cell.writetime_us").as("writetime_us"), col("n_versions"))
  }

  test("the remover's merge produces lwwMerge's frame on both fixtures") {
    def same(a: org.apache.spark.sql.DataFrame,
        b: org.apache.spark.sql.DataFrame): Unit = {
      assert(a.count() === b.count(), "row counts differ")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        "row sets differ between the merges")
    }
    same(TtlOps.lwwMergeAudit(spark, sfDir),
      removerMerge(TtlOps.lwwFixture(spark, sfDir)))
    // the range path too: bound pairing and coverage
    same(TtlOps.lwwRangeAudit(spark, sfDir),
      removerMerge(TtlOps.lwwRangeFixture(spark, sfDir)))
  }

  test("a cell tombstone contends in both merges; overlaps fail by name") {
    import spark.implicits._
    def frame(rows: LwwRow*) = rows.toDF()
    def w(pk: String, v: String, ts: Long, src: String): LwwRow =
      LwwRow(pk, Seq("c0"), "ROW", "v", Some(v), Some(ts), None, None, src)
    def t(pk: String, ts: Long, ldtUs: Long, src: String): LwwRow =
      LwwRow(pk, Seq("c0"), "CELL_DELETION", "v", None, Some(ts), Some(ts),
        Some(ldtUs), src)
    val cells = frame(
      t("newer-write", 1000L, 7000000L, "g1"), w("newer-write", "new", 2000L, "g2"),
      w("newer-tomb", "old", 1000L, "g1"), t("newer-tomb", 2000L, 7000000L, "g2"),
      w("tie", "w", 2000L, "g1"), t("tie", 2000L, 7000000L, "g2"),
      t("two-tombs", 2000L, 5000000L, "g1"), t("two-tombs", 2000L, 9000000L, "g2"))
    // winners only: a write survives iff no tombstone of its cell is as
    // new; the remover's merge agrees
    val winners = TtlOps.lwwMerge(cells)
    assert(winners.select("partition_key", "value").as[(String, String)]
      .collect().toSeq === Seq("newer-write" -> "new"))
    assert(winners.exceptAll(removerMerge(cells)).isEmpty &&
      removerMerge(cells).exceptAll(winners).isEmpty)
    // markers kept: each cell keeps exactly its winner, a tombstone
    // with its own deletion second (the later one of a tie)
    val kept = TtlOps.lwwMerge(cells, keepMarkers = true)
      .select("partition_key", "row_kind", "expire_us", "sstable")
      .as[(String, String, Option[Long], String)].collect().sortBy(_._1).toSeq
    assert(kept === Seq(
      ("newer-tomb", "CELL_DELETION", Some(7000000L), "g2"),
      ("newer-write", "ROW", None, "g2"),
      ("tie", "CELL_DELETION", Some(7000000L), "g2"),
      ("two-tombs", "CELL_DELETION", Some(9000000L), "g2")))
    // [c1, c5] from g1 and [c2, c3] from g2 overlap: both merges fail
    // naming the partition and the generations, even with no write
    def rt(cl: String, bound: String, del: Long, src: String): LwwRow =
      LwwRow("k", Seq(cl), "RANGE_TOMBSTONE_BOUND", bound, None, None,
        Some(del), None, src)
    val overlapping = frame(
      rt("c1", "start:inclusive", 10L, "g1"), rt("c5", "end:inclusive", 10L, "g1"),
      rt("c2", "start:inclusive", 20L, "g2"), rt("c3", "end:inclusive", 20L, "g2"))
    Seq[() => Any](
      () => TtlOps.lwwMerge(overlapping, keepMarkers = true).collect(),
      () => removerMerge(overlapping.union(
        frame(w("k", "x", 15L, "g3")))).collect()).foreach { run =>
      val e = intercept[Exception](run())
      val m = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
      assert(m.contains(
        "overlapping range tombstones in partition k (generations: g1, g2)"), m)
    }
  }

  test("lwwAsOf: tombstones in the future of the cut do not shadow yet") {
    val asof = TtlOps.lwwAsOfAudit(spark, sfDir)
      .select(col("partition_key")).distinct()
      .collect().map(_.getString(0).toLong).toSet
    val ids = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id")).collect().map(_.getLong(0))
    val cut = (TtlOps.LwwAsOfCutUs - TtlOps.LwwBaseUs) / 1000000L
    ids.foreach { id =>
      val anythingWritten = id <= cut
      val pdelHappened = id % 10 == 9 && id + 1000 <= cut
      val rowDelHappened = id % 7 == 3 && id + 50 <= cut
      val rewriteSurvives = id % 3 == 0 && id + 100 <= cut
      // visible as of T iff some write happened, the partition
      // tombstone hasn't, and either no row tombstone happened or the
      // later gen-2 re-write outlives it
      val expectVisible = anythingWritten && !pdelHappened &&
        (!rowDelHappened || rewriteSurvives)
      assert(asof.contains(id) == expectVisible,
        s"doc $id: as-of visibility expected $expectVisible")
    }
  }
}
