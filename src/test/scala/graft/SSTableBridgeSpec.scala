package graft

import java.nio.file.Files

import graft.sources.SSTableDumpBridge
import org.apache.spark.sql.functions._

/** Round-trip of the sstabledump-JSON ingestion bridge: a fixture in
  * the exact shape `sstabledump` emits (array of partitions → rows →
  * cells, ISO-8601 liveness timestamps, optional per-cell overrides,
  * row tombstones) converts to cell-model parquet, and the TTL-removal
  * pipeline runs over the converted directory preserving every row.
  */
class SSTableBridgeSpec extends SparkSpec {

  private val dump =
    """[
      |  {
      |    "partition" : { "key" : [ "alice" ], "position" : 0 },
      |    "rows" : [
      |      {
      |        "type" : "row",
      |        "position" : 30,
      |        "clustering" : [ "c1" ],
      |        "liveness_info" : { "tstamp" : "2021-01-01T00:00:00.000001Z",
      |                            "ttl" : 300,
      |                            "expires_at" : "2021-01-01T00:05:00Z",
      |                            "expired" : true },
      |        "cells" : [
      |          { "name" : "score", "value" : "42" },
      |          { "name" : "note", "value" : "hi",
      |            "tstamp" : "2021-01-02T00:00:00Z" }
      |        ]
      |      },
      |      {
      |        "type" : "row",
      |        "position" : 60,
      |        "clustering" : [ "c2" ],
      |        "deletion_info" : { "marked_deleted" : "2021-01-03T00:00:00Z",
      |                            "local_delete_time" : "2021-01-03T00:00:01Z" }
      |      }
      |    ]
      |  },
      |  {
      |    "partition" : { "key" : [ "bob" ], "position" : 100 },
      |    "rows" : [
      |      {
      |        "type" : "row",
      |        "position" : 130,
      |        "clustering" : [],
      |        "liveness_info" : { "tstamp" : "2021-02-01T00:00:00Z" },
      |        "cells" : [ { "name" : "score", "value" : "7", "ttl" : 60 } ]
      |      }
      |    ]
      |  }
      |]""".stripMargin

  private def writeDump(): String = {
    val dir = graft.Scratch.dir("graft-sstable-")
    Files.writeString(dir.resolve("mc-1-big-Data.json"), dump)
    dir.toString
  }

  /** Deletion-shape fixture: a partition tombstone with NO rows, a
    * partition with deletion_info AND live rows, a primary-key-only
    * insert (cells absent), one with cells:[] (both shapes Cassandra
    * emits), a range-tombstone start/end pair, and an unknown entry
    * type. */
  private val deletionDump =
    """[
      |  {
      |    "partition" : { "key" : [ "gone" ], "position" : 0,
      |      "deletion_info" : { "marked_deleted" : "2021-03-01T00:00:00Z",
      |                          "local_delete_time" : "2021-03-01T00:00:01Z" } },
      |    "rows" : [ ]
      |  },
      |  {
      |    "partition" : { "key" : [ "half" ], "position" : 50,
      |      "deletion_info" : { "marked_deleted" : "2021-03-02T00:00:00Z",
      |                          "local_delete_time" : "2021-03-02T00:00:01Z" } },
      |    "rows" : [
      |      {
      |        "type" : "row",
      |        "position" : 55,
      |        "clustering" : [ "k1" ],
      |        "liveness_info" : { "tstamp" : "2021-03-03T00:00:00Z" },
      |        "cells" : [ { "name" : "v", "value" : "1" } ]
      |      },
      |      {
      |        "type" : "row",
      |        "position" : 58,
      |        "clustering" : [ "k2" ],
      |        "liveness_info" : { "tstamp" : "2021-03-04T00:00:00Z", "ttl" : 120 }
      |      },
      |      {
      |        "type" : "row",
      |        "position" : 59,
      |        "clustering" : [ "k3" ],
      |        "liveness_info" : { "tstamp" : "2021-03-05T00:00:00Z" },
      |        "cells" : [ ]
      |      }
      |    ]
      |  },
      |  {
      |    "partition" : { "key" : [ "ranged" ], "position" : 100 },
      |    "rows" : [
      |      {
      |        "type" : "range_tombstone_bound",
      |        "start" : { "type" : "inclusive", "clustering" : [ "a" ],
      |          "deletion_info" : { "marked_deleted" : "2021-04-01T00:00:00Z",
      |                              "local_delete_time" : "2021-04-01T00:00:01Z" } }
      |      },
      |      {
      |        "type" : "range_tombstone_bound",
      |        "end" : { "type" : "exclusive", "clustering" : [ "m" ],
      |          "deletion_info" : { "marked_deleted" : "2021-04-01T00:00:00Z",
      |                              "local_delete_time" : "2021-04-01T00:00:01Z" } }
      |      },
      |      {
      |        "type" : "future_block",
      |        "position" : 130
      |      }
      |    ]
      |  }
      |]""".stripMargin

  private def writeDeletionDump(): String = {
    val dir = graft.Scratch.dir("graft-sstable-del-")
    Files.writeString(dir.resolve("mc-2-big-Data.json"), deletionDump)
    dir.toString
  }

  test("partition deletions, PK-only rows, and range tombstones survive the bridge") {
    val df = SSTableDumpBridge.readTree(spark, writeDeletionDump())
      .localCheckpoint()

    // a partition tombstone with an empty rows array does NOT vanish
    val gone = df.filter(col("partition_key") === "gone")
    assert(gone.count() === 1)
    val g = gone.head()
    assert(g.getAs[String]("row_kind") === "PARTITION_DELETION")
    assert(g.getAs[Long]("deletion_us") === 1614556800000000L)
    // a partition with deletion AND rows emits the deletion exactly once
    val half = df.filter(col("partition_key") === "half")
    assert(half.filter(col("row_kind") === "PARTITION_DELETION").count() === 1)
    // primary-key-only inserts (cells absent OR cells:[]) both keep
    // their row via the row-level liveness
    val pk = half.filter(col("row_kind") === "PK_LIVENESS")
      .orderBy(col("clustering")(0)).collect()
    assert(pk.length === 2)
    val k2cell = pk(0).getStruct(pk(0).fieldIndex("cell"))
    assert(k2cell.getAs[Long]("writetime_us") === 1614816000000000L)
    assert(k2cell.getAs[Int]("ttl_s") === 120)
    assert(k2cell.isNullAt(k2cell.fieldIndex("value")))
    // the ordinary cell row still parses alongside
    assert(half.filter(col("row_kind") === "ROW").count() === 1)

    // range-tombstone bounds are first-class rows with bound identity
    val rt = df.filter(col("row_kind") === "RANGE_TOMBSTONE_BOUND")
      .orderBy(col("name")).collect()
    assert(rt.length === 2)
    assert(rt(0).getAs[String]("name") === "end:exclusive")
    assert(rt(1).getAs[String]("name") === "start:inclusive")
    assert(rt(1).getAs[Seq[String]]("clustering") === Seq("a"))
    assert(rt.forall(_.getAs[Long]("deletion_us") === 1617235200000000L))
    // unknown entry types are carried visibly, not dropped
    assert(df.filter(col("row_kind") === "UNSUPPORTED:future_block")
      .count() === 1)
  }

  test("deletion markers and PK liveness ride through the strip pipeline") {
    val out = graft.Scratch.dir("graft-sstable-del-out-").toString
    SSTableDumpBridge.convert(spark, writeDeletionDump(), out)
    val stripped = SSTableDumpBridge.removeTtl(spark, out).localCheckpoint()
    // nothing lost: 1 part-del + 1 part-del + 1 cell + 2 pk + 2 bounds + 1 unsupported
    assert(stripped.count() === 8)
    // markers verbatim (null cells stayed null)
    assert(stripped.filter(col("row_kind").isin(
      "PARTITION_DELETION", "RANGE_TOMBSTONE_BOUND"))
      .filter(col("cell").isNotNull || col("deletion_us").isNull)
      .count() === 0)
    // PK liveness: writetime kept, TTL metadata stripped
    val pk = stripped.filter(col("row_kind") === "PK_LIVENESS" &&
      col("cell.ttl_s").isNull && col("cell.expire_us").isNull &&
      col("cell.writetime_us").isNotNull)
    assert(pk.count() === 2)
  }

  test("timestamp parse is timezone-explicit (no session mutation)") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.session.timeZone", "America/New_York")
    val df = SSTableDumpBridge.readTree(s2, writeDump())
    val aliceScore = df.filter(col("partition_key") === "alice" &&
      col("name") === "score").head()
    val cell = aliceScore.getStruct(aliceScore.fieldIndex("cell"))
    // same epoch micros as under UTC — the Z suffix wins, and readTree
    // left the caller's timezone alone
    assert(cell.getAs[Long]("writetime_us") === 1609459200000001L)
    assert(s2.conf.get("spark.sql.session.timeZone") === "America/New_York")
  }

  test("dump TREE reads parallelize per file and keep per-file identity") {
    val out = SSTableDumpBridge.writeTreeFixture(spark, sfDir)
    try {
      // one task per dump file when split packing is disabled: a dump
      // is a non-splittable parse unit, so N files can always fan out
      // to N tasks — the witness that a directory-scale ingest never
      // serializes through one parser
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.files.maxPartitionBytes", "1")
      s2.conf.set("spark.sql.files.openCostInBytes", "0")
      val df = SSTableDumpBridge.readTree(s2, out.toString)
      assert(df.rdd.getNumPartitions === SSTableDumpBridge.TreeFiles,
        "expected one scan task per dump file")

      // per-file identity: every bridge row carries its source dump,
      // and partitions landed in the file their doc_id % 4 dictates
      val names = df.select(col("sstable")).distinct().collect()
        .map(_.getString(0)).sorted
      assert(names.length === SSTableDumpBridge.TreeFiles)
      assert(names.forall(_.contains("file_id=")))
      val misplaced = df
        .withColumn("expect_file",
          concat(lit("file_id="), col("partition_key").cast("long")
            % SSTableDumpBridge.TreeFiles))
        .filter(!col("sstable").startsWith(col("expect_file")))
      assert(misplaced.count() === 0)

      // every shape present; counts match the doc_id % 10 derivation
      val docs = Tables.load(spark, sfDir, "documents")
      val nDocs = docs.count()
      val byKind = df.groupBy(col("row_kind")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val nOfKind = (k: Int) => docs
        .filter(col("doc_id") % 10 === k).count()
      assert(byKind("PARTITION_DELETION") === nOfKind(3))
      assert(byKind("ROW_DELETION") === nOfKind(7))
      assert(byKind("PK_LIVENESS") === nOfKind(5))
      assert(byKind("ROW") ===
        2 * (nDocs - nOfKind(3) - nOfKind(5) - nOfKind(7)))
      assert(!byKind.keys.exists(_.startsWith("UNSUPPORTED")))
    } finally graft.Scratch.delete(out)
  }

  test("dump parses to cell-model rows with Cassandra's liveness rules") {
    val df = SSTableDumpBridge.readTree(spark, writeDump())
    assert(df.count() === 4) // 3 live cells + 1 row tombstone

    val aliceScore = df.filter(col("partition_key") === "alice" &&
      col("name") === "score").head()
    val cell = aliceScore.getStruct(aliceScore.fieldIndex("cell"))
    assert(cell.getAs[String]("value") === "42")
    // row-level liveness is the cells' default
    assert(cell.getAs[Long]("writetime_us") === 1609459200000001L)
    assert(cell.getAs[Int]("ttl_s") === 300)
    assert(cell.getAs[Long]("expire_us") ===
      1609459200000001L + 300L * 1000000L)

    // a cell's own tstamp overrides the row default
    val note = df.filter(col("name") === "note").head()
    assert(note.getStruct(note.fieldIndex("cell"))
      .getAs[Long]("writetime_us") === 1609545600000000L)

    // per-cell ttl override, row without one
    val bob = df.filter(col("partition_key") === "bob").head()
    assert(bob.getStruct(bob.fieldIndex("cell")).getAs[Int]("ttl_s") === 60)

    // row tombstone preserved as a first-class row
    val ts = df.filter(col("row_kind") === "ROW_DELETION").head()
    assert(ts.getAs[Long]("deletion_us") === 1609632000000000L)
    assert(ts.isNullAt(ts.fieldIndex("cell")))
  }

  test("convert → removeTtl preserves rows and strips only liveness") {
    val out = graft.Scratch.dir("graft-sstable-out-").toString
    SSTableDumpBridge.convert(spark, writeDump(), out)

    val stripped = SSTableDumpBridge.removeTtl(spark, out)
    assert(stripped.count() === 4, "rows lost in the strip pipeline")
    // every live cell: value + writetime intact, ttl/expiration gone
    val live = stripped.filter(col("row_kind") === "ROW")
    assert(live.count() === 3)
    assert(live.filter(col("cell.ttl_s").isNotNull ||
      col("cell.expire_us").isNotNull).count() === 0,
      "TTL metadata survived the strip")
    val before = SSTableDumpBridge.readTree(spark, writeDump())
      .filter(col("row_kind") === "ROW")
      .select(col("partition_key"), col("name"),
        col("cell.value"), col("cell.writetime_us"))
    val after = live.select(col("partition_key"), col("name"),
      col("cell.value"), col("cell.writetime_us"))
    assert(before.exceptAll(after).isEmpty && after.exceptAll(before).isEmpty,
      "values or writetimes changed across the bridge strip")
    // tombstones ride through verbatim
    assert(stripped.filter(col("row_kind") === "ROW_DELETION")
      .head().getAs[Long]("deletion_us") === 1609632000000000L)
  }

  test("RemoverCli --format sstabledump runs the whole lifecycle over a dump") {
    val in = writeDump()
    val out = graft.Scratch.dir("graft-sstable-cli-").toString + "/o"
    val parsed = RemoverCli.parse(Array(
      "--in", in, "--out", out, "--table", "tbl",
      "--keyspace", "realks", "--format", "sstabledump"))
    val args = parsed.fold(e => fail(s"parse failed: $e"), identity)
    assert(RemoverCli.run(spark, args) === 4L)
    val back = spark.read.parquet(out)
    assert(back.count() === 4)
    // layout on disk + no liveness metadata left on live cells
    assert(back.select(org.apache.spark.sql.functions
      .col("_metadata.file_path")).collect()
      .forall(_.getString(0).contains("/keyspace=realks/table_name=tbl/")))
    assert(back.filter(col("row_kind") === "ROW" &&
      (col("cell.ttl_s").isNotNull || col("cell.expire_us").isNotNull))
      .count() === 0)
    // --in may name one dump file as well as a directory of them
    val outFile = graft.Scratch.dir("graft-sstable-cli1-").toString + "/o"
    val one = RemoverCli.parse(Array(
      "--in", s"$in/mc-1-big-Data.json", "--out", outFile,
      "--table", "tbl", "--keyspace", "realks", "--format", "sstabledump"))
      .fold(e => fail(s"parse failed: $e"), identity)
    assert(RemoverCli.run(spark, one) === 4L)
    val backOne = spark.read.parquet(outFile)
    assert(backOne.exceptAll(back).isEmpty && back.exceptAll(backOne).isEmpty)
    // a cell-model spec alongside the dump format is rejected
    assert(RemoverCli.parse(Array(
      "--in", in, "--out", out, "--table", "tbl",
      "--format", "sstabledump", "--cells", "x")).isLeft)
    assert(RemoverCli.parse(Array(
      "--in", in, "--out", out, "--table", "tbl",
      "--format", "avro")).isLeft)
  }

  /** Two SSTable generations of the same table: gen-2 re-writes
    * alice's score (LWW winner), row-deletes carol, and
    * partition-deletes dave. */
  private def writeTwoGenerations(): String = {
    def live(ts: String, cells: String) =
      s""""liveness_info":{"tstamp":"$ts"},"cells":[$cells]"""
    def del(ts: String) =
      s""""deletion_info":{"marked_deleted":"$ts","local_delete_time":"$ts"}"""
    def part(key: String, rowBody: String, pdel: String = "") =
      s"""{"partition":{"key":["$key"],"position":0$pdel},
         |"rows":[$rowBody]}""".stripMargin
    def row(body: String) =
      s"""{"type":"row","position":1,"clustering":["c"],$body}"""
    val t1 = "2021-01-01T00:00:00Z"
    val t2 = "2021-06-01T00:00:00Z"
    val gen1 = Seq(
      part("alice", row(live(t1,
        """{"name":"score","value":"42"},{"name":"note","value":"hi"}"""))),
      part("carol", row(live(t1, """{"name":"v","value":"1"}"""))),
      part("dave", row(live(t1, """{"name":"v","value":"9"}"""))))
      .mkString("[", ",", "]")
    val gen2 = Seq(
      part("alice", row(live(t2, """{"name":"score","value":"43"}"""))),
      part("carol", row(del(t2))),
      part("dave", "", "," + del(t2)))
      .mkString("[", ",", "]")
    val dir = graft.Scratch.dir("graft-sstable-gen-")
    Files.writeString(dir.resolve("mc-1-big-Data.json"), gen1)
    Files.writeString(dir.resolve("mc-2-big-Data.json"), gen2)
    dir.toString
  }

  test("RemoverCli --merge lww collapses generations to the effective state") {
    val in = writeTwoGenerations()
    val root = graft.Scratch.dir("graft-sstable-mrg-")
    def runSink(sink: String): String = {
      val out = s"$root/$sink"
      val args = RemoverCli.parse(Array(
        "--in", in, "--out", out, "--table", "t",
        "--format", "sstabledump", "--merge", "lww", "--sink", sink))
        .fold(e => fail(s"parse failed: $e"), identity)
      RemoverCli.run(spark, args)
      out
    }
    /** The effective state every sink must show, over its re-read rows
      * (`value` already flattened out of the cell struct). */
    def assertEffective(back: org.apache.spark.sql.DataFrame,
        sink: String): Unit = {
      def cells(pk: String) = back
        .filter(col("partition_key") === pk && col("row_kind") === "ROW")
        .collect().map(r => r.getAs[String]("name") ->
          r.getAs[String]("value")).toMap
      // alice: gen-2 score wins over gen-1, note untouched
      assert(cells("alice") === Map("score" -> "43", "note" -> "hi"), sink)
      // carol: the row tombstone shadows the gen-1 cell AND survives
      assert(cells("carol").isEmpty, s"$sink: shadowed carol cell resurrected")
      assert(back.filter(col("partition_key") === "carol" &&
        col("row_kind") === "ROW_DELETION").count() === 1, sink)
      // dave: partition tombstone shadows everything and is preserved
      assert(cells("dave").isEmpty, s"$sink: shadowed dave cell resurrected")
      assert(back.filter(col("partition_key") === "dave" &&
        col("row_kind") === "PARTITION_DELETION").count() === 1, sink)
    }
    try {
      val back = spark.read.parquet(runSink("parquet")).localCheckpoint()
      assertEffective(back, "parquet")
      // the parquet sink also counts versions: alice's score had 2
      val versions = back
        .filter(col("partition_key") === "alice" && col("row_kind") === "ROW")
        .collect().map(r => r.getAs[String]("name") ->
          r.getAs[Long]("n_versions")).toMap
      assert(versions === Map("score" -> 2L, "note" -> 1L))
      assertEffective(graft.sources.SSTableBinaryV2
        .readBinary(spark, runSink("sstable"))
        .withColumn("value", col("cell.value")).localCheckpoint(), "sstable")
      assertEffective(SSTableDumpBridge
        .readTree(spark, runSink("sstabledump"))
        .withColumn("value", col("cell.value")).localCheckpoint(),
        "sstabledump")
      // --merge outside the dump format is a parse error
      assert(RemoverCli.parse(Array(
        "--in", in, "--out", s"$root/x", "--table", "t",
        "--merge", "lww")).isLeft)
      assert(RemoverCli.parse(Array(
        "--in", in, "--out", s"$root/x", "--table", "t",
        "--format", "sstabledump", "--merge", "zzz")).isLeft)
    } finally graft.Scratch.delete(root)
  }

  /** The reference read [[SSTableDumpBridge.readTree]] is held to:
    * Spark's multiLine JSON source over the same tree, expanded by the
    * same bridge. */
  private def jsonSourceTree(root: String): org.apache.spark.sql.DataFrame =
    SSTableDumpBridge.bridgeTreeFrame(
      spark.read.schema(SSTableDumpBridge.dumpSchema)
        .option("multiLine", "true")
        .option("recursiveFileLookup", "true")
        .json(root))

  test("RemoverCli --reader v2 runs the lifecycle through the connector, output-identical") {
    val dumpDir = SSTableDumpBridge.writeTreeFixture(spark, sfDir)
    try {
      val out = Scratch.dir("graft-cli-v2-").toString + "/o"
      val args = RemoverCli.parse(Array("--in", dumpDir.toString,
        "--out", out, "--table", "t", "--format", "sstabledump"))
        .fold(e => fail(s"parse failed: $e"), identity)
      RemoverCli.run(spark, args)
      val viaCli = spark.read.parquet(out)
        .drop("keyspace", "table_name").localCheckpoint()
      val reference = SSTableDumpBridge.stripTtl(
        jsonSourceTree(dumpDir.toString)).localCheckpoint()
      assert(viaCli.count() === reference.count())
      assert(reference.exceptAll(viaCli).count() === 0)
      assert(viaCli.exceptAll(reference).count() === 0)
      // there is one dump reader: --reader is an unknown flag
      assert(RemoverCli.parse(Array("--in", "a", "--out", "b",
        "--table", "t", "--reader", "v2")) ===
        Left("unknown flag --reader"))
      assert(RemoverCli.parse(Array("--in", "a", "--out", "b",
        "--table", "t", "--format", "sstabledump",
        "--reader", "zzz")).isLeft)
    } finally Scratch.delete(dumpDir)
  }

  test("V2 connector: streamed tree read is frame-identical to the multiLine path") {
    val out = SSTableDumpBridge.writeTreeFixture(spark, sfDir)
    try {
      for (root <- Seq(out.toString, writeDeletionDump())) {
        val a = jsonSourceTree(root)
        val b = SSTableDumpBridge.readTree(spark, root)
        assert(b.schema === a.schema)
        // symmetric difference empty = identical multisets (rows are
        // unique here: every bridge row carries its partition key)
        assert(a.exceptAll(b).count() === 0, root)
        assert(b.exceptAll(a).count() === 0, root)
      }
    } finally Scratch.delete(out)
  }

  test("RemoverCli --sink sstabledump without --merge exports one stripped dump per input") {
    val in = SSTableDumpBridge.writeTreeFixture(spark, sfDir)
    val out = Scratch.dir("graft-dumpsink-")
    try {
      val args = RemoverCli.parse(Array("--in", in.toString,
        "--out", s"$out/o", "--table", "t", "--format", "sstabledump",
        "--sink", "sstabledump"))
        .fold(e => fail(s"parse failed: $e"), identity)
      val stripped = SSTableDumpBridge.readTree(spark, in.toString)
        .withColumn("cell",
          graft.model.CellModel.stripCellKeepDeletion(col("cell")))
        .localCheckpoint()
      assert(RemoverCli.run(spark, args) === stripped.count())
      // one file per input dump, named after its `sstable` identity
      val names = stripped.select("sstable").distinct().collect()
        .map(_.getString(0)).toSet
      assert(names.size === SSTableDumpBridge.TreeFiles)
      assert(filesUnder(out.resolve("o")).keySet === names)
      val back = SSTableDumpBridge.readTree(spark, s"$out/o")
      assert(back.exceptAll(stripped).count() === 0)
      assert(stripped.exceptAll(back).count() === 0)
    } finally { Scratch.delete(in); Scratch.delete(out) }
  }

  test("a dump cut mid-partition fails with its file named") {
    val dir = graft.Scratch.dir("graft-sstable-cut-")
    try {
      // alice's partition is whole; the cut lands inside bob's
      val file = dir.resolve("mc-9-big-Data.json")
      Files.writeString(file, dump.take(dump.indexOf("\"bob\"") + 10))
      def assertNamed(e: Throwable): Unit = {
        val messages = Iterator.iterate(e)(_.getCause)
          .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
          .toSeq
        assert(messages.exists(_.contains(file.toString)),
          s"file not named: ${messages.mkString(" | ")}")
      }
      assertNamed(intercept[Exception] {
        SSTableDumpBridge.readTree(spark, dir.toString).count()
      })
      val args = RemoverCli.parse(Array("--in", dir.toString,
        "--out", s"$dir-out/o", "--table", "t", "--format", "sstabledump"))
        .fold(e => fail(s"parse failed: $e"), identity)
      assertNamed(intercept[Exception](RemoverCli.run(spark, args)))
    } finally {
      Scratch.delete(dir)
      Scratch.delete(java.nio.file.Paths.get(s"$dir-out"))
    }
  }

  test("dump export: readTree(writeTree(frame)) is the EXACT frame; non-expressible kinds refuse; bytes deterministic") {
    import org.apache.spark.sql.functions._
    val in = graft.sources.SSTableBinaryV2.writeBinaryFixture(spark, sfDir)
    val out = Scratch.dir("graft-exportspec-")
    val out2 = Scratch.dir("graft-exportspec2-")
    try {
      val frame = graft.sources.SSTableBinaryV2
        .readBinary(spark, in.toString).localCheckpoint()
      SSTableDumpBridge.writeTree(frame, out.toString)
      val back = SSTableDumpBridge.readTree(spark, out.toString)
        .localCheckpoint()
      // exact round trip, not just aggregate equality: every column
      // including the sstable identity (files are NAMED after it)
      assert(back.exceptAll(frame).count() === 0,
        "re-read frame has rows the original lacks")
      assert(frame.exceptAll(back).count() === 0,
        "export lost rows")
      // determinism: a second export is byte-identical per file
      SSTableDumpBridge.writeTree(frame, out2.toString)
      import scala.jdk.CollectionConverters._
      def bytesOf(root: java.nio.file.Path): Map[String, Int] = {
        val s = java.nio.file.Files.walk(root)
        try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .filterNot(_.getFileName.toString.startsWith("."))
          .map(p => root.relativize(p).toString ->
            java.util.Arrays.hashCode(java.nio.file.Files.readAllBytes(p)))
          .toMap
        finally s.close()
      }
      assert(bytesOf(out) === bytesOf(out2))
      // a binary-only shape (cell tombstone) refuses loudly
      val cellDel = frame.limit(1)
        .withColumn("row_kind", lit("CELL_DELETION"))
      val ex = intercept[Exception] {
        SSTableDumpBridge.writeTree(cellDel, Scratch.dir("graft-exportbad-").toString)
      }
      assert(ex.getMessage.contains("not dump-expressible") ||
        Option(ex.getCause).exists(_.getMessage.contains("not dump-expressible")),
        s"wrong refusal: $ex")
    } finally { Scratch.delete(in); Scratch.delete(out); Scratch.delete(out2) }
  }

  test("V2 connector: one task per dump file, pruning reaches the reader") {
    val out = SSTableDumpBridge.writeTreeFixture(spark, sfDir)
    val small = Scratch.dir("graft-dumps-small-")
    try {
      // per-file parallelism when packing is off: the fixture writes
      // TreeFiles dump files
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.files.maxPartitionBytes", "1")
      s2.conf.set("spark.sql.files.openCostInBytes", "0")
      val raw = s2.read.format("sstabledump").load(out.toString)
      assert(raw.rdd.getNumPartitions === SSTableDumpBridge.TreeFiles)
      // column pruning pushes into the connector: a sstable-only scan
      // must not carry partition_json in its ReadSchema (the reader
      // then skips JSON re-serialization entirely)
      val pruned = raw.select("sstable")
      val scan = pruned.queryExecution.executedPlan.collectLeaves()
        .collectFirst {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
        }.getOrElse(fail("no BatchScanExec in plan"))
      assert(scan.scan.readSchema().fieldNames.toSeq === Seq("sstable"),
        "pruning did not reach the connector scan")
      assert(pruned.distinct().count() === SSTableDumpBridge.TreeFiles)

      // default confs pack files by Spark's file-source rule: the same
      // task count as Spark's JSON source, on the fixture and on a tree
      // of more small dumps than cores, which shares tasks
      for (i <- 1 to 16)
        Files.writeString(small.resolve(f"mc-$i%02d-big-Data.json"), dump)
      for (root <- Seq(out.toString, small.toString)) {
        val tasks = spark.read.format("sstabledump").load(root)
          .rdd.getNumPartitions
        assert(tasks === jsonSourceTree(root).rdd.getNumPartitions, root)
      }
      val packed = SSTableDumpBridge.readTree(spark, small.toString)
      assert(packed.rdd.getNumPartitions < 16)
      assert(packed.select("sstable").distinct().count() === 16)
      assert(packed.count() === 16 * 4)
    } finally { Scratch.delete(out); Scratch.delete(small) }
  }
}
