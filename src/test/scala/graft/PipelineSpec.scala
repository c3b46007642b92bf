package graft

import java.nio.file.Files

import graft.model.CellModel
import org.apache.spark.sql.functions._

/** End-to-end round trip of the one-call removal pipeline — the
  * translated shape of the reference's own integration test (SURVEY
  * §5: write through the tool, read back, assert rows survive and
  * expiry is gone).
  */
class PipelineSpec extends SparkSpec {

  test("removeTtl: one call strips, sorts, lays out, and keeps originals") {
    val out = graft.Scratch.dir("graft-pipe-").toString + "/out"
    val written = Pipeline.removeTtlFromDir(
      spark, sfDir, out, CellModel.eventsMeta)
    val ev = Tables.load(spark, sfDir, "events")
    assert(written === ev.count())

    val back = spark.read.parquet(out)
    // layout: out/<ks>/<table>/ dirs really exist on disk
    val layout = back.select(col("_metadata.file_path")).limit(1)
      .head().getString(0)
    assert(layout.contains("/keyspace=graft/table_name=events/"), layout)
    // no TTL survives anywhere in the written data
    assert(back.filter(col("cell.ttl_s").isNotNull).count() === 0)
    // ...while the scalar (non-cell) ttl_s metadata column passes
    // through untouched: only cell-typed columns are rewritten
    val expectedScalarTtlRows =
      CellModel.cellify(ev).filter(col("ttl_s").isNotNull).count()
    assert(back.filter(col("ttl_s").isNotNull).count() ===
      expectedScalarTtlRows)
    assert(expectedScalarTtlRows > 0)
    // values + writetimes byte-identical to the input
    val before = CellModel.cellify(ev)
      .select(col("event_id"), col("cell.value"), col("cell.writetime_us"))
    val after = back
      .select(col("event_id"), col("cell.value"), col("cell.writetime_us"))
    assert(before.exceptAll(after).count() === 0)
    assert(after.exceptAll(before).count() === 0)

    // non-destructive: a second run refuses to clobber the output
    intercept[Exception] {
      Pipeline.removeTtlFromDir(spark, sfDir, out, CellModel.eventsMeta)
    }
  }

  test("removeTtl's row count is write-side: no re-read of the output") {
    // the count must come from observe() on the rows flowing INTO the
    // writer — a read-back of outDir would double the job's read IO at
    // 100 TB. Pin it: record every executed plan during the call and
    // assert none of them contains a file scan over the output path.
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val plans =
      java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = graft.Scratch.dir("graft-obs-").toString + "/out"
      val written = Pipeline.removeTtlFromDir(
        spark, sfDir, out, CellModel.eventsMeta)
      assert(written === Tables.load(spark, sfDir, "events").count())
      org.apache.spark.sql.graftbridge.ListenerFlush
        .waitUntilEmpty(spark.sparkContext)
      assert(plans.asScala.nonEmpty, "listener saw no query executions")
      // the write command itself names outDir as its DESTINATION; a
      // re-read would show up as a FileScan line over outDir
      val rereads = plans.asScala.flatMap(_.linesIterator)
        .filter(l => l.contains("FileScan") && l.contains(out))
      assert(rereads.isEmpty,
        s"pipeline re-read its own output:\n${rereads.mkString("\n")}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("--cql: the reference's schema language derives the same run as the flags") {
    import graft.model.CqlSchema
    // parser subset: trailing composite PK, clustering, parameterized
    // types, inline PRIMARY KEY, case-insensitivity
    val p1 = CqlSchema.parse(
      """CREATE TABLE IF NOT EXISTS shop.Orders (
        |  o_orderkey bigint, region text, tags map<text, int>,
        |  o_totalprice double, o_orderstatus text, o_orderdate timestamp,
        |  PRIMARY KEY ((o_orderkey, region), o_orderdate)
        |) WITH CLUSTERING ORDER BY (o_orderdate DESC);""".stripMargin)
      .fold(e => fail(e), identity)
    assert(p1.keyspace === Some("shop"))
    assert(p1.table === "orders")
    assert(p1.partitionKey === Seq("o_orderkey", "region"))
    assert(p1.clustering === Seq("o_orderdate"))
    assert(p1.columns.toMap.apply("tags") === "map<text, int>")
    val p2 = CqlSchema.parse(
      "create table t (id uuid primary key, v text)")
      .fold(e => fail(e), identity)
    assert(p2.partitionKey === Seq("id") && p2.clustering.isEmpty)
    assert(!p2.compactStorage)
    // WITH COMPACT STORAGE is the one shape-changing WITH option,
    // surfaced (anywhere in the option trailer, case-insensitive)
    val p3 = CqlSchema.parse(
      "CREATE TABLE t (k text PRIMARY KEY, v text) " +
        "WITH compression = {} AND Compact Storage").fold(e => fail(e),
        identity)
    assert(p3.compactStorage)
    assert(!p1.compactStorage)
    // loud subset boundaries
    assert(CqlSchema.parse("SELECT 1").isLeft)
    assert(CqlSchema.parse(
      "CREATE TABLE t (\"Quoted\" int PRIMARY KEY)").isLeft)
    assert(CqlSchema.parse(
      "CREATE TABLE t (a int, PRIMARY KEY (b))").isLeft)
    // the CLI run from --cql equals the flag-declared run exactly
    def runWith(argv: Array[String]): org.apache.spark.sql.DataFrame = {
      val out = graft.Scratch.dir("graft-cli-cql-").toString + "/out"
      val args = RemoverCli.parse(argv ++ Array("--out", out))
        .fold(e => fail(s"parse failed: $e"), identity)
      RemoverCli.run(spark, args)
      spark.read.parquet(out).localCheckpoint()
    }
    val cql = "CREATE TABLE shop.orders (o_orderkey bigint PRIMARY KEY," +
      " o_totalprice double, o_orderstatus text, o_orderdate timestamp)"
    val viaCql = runWith(Array("--in", sfDir, "--table", "orders",
      "--cql", cql, "--writetime", "o_orderdate"))
    val viaFlags = runWith(Array("--in", sfDir, "--table", "orders",
      "--keyspace", "shop", "--pk", "o_orderkey",
      "--cells", "o_totalprice,o_orderstatus",
      "--writetime", "o_orderdate"))
    assert(viaCql.count() === viaFlags.count())
    assert(viaCql.exceptAll(viaFlags).count() === 0)
    assert(viaFlags.exceptAll(viaCql).count() === 0)
    // contradictions are rejected, not merged
    assert(RemoverCli.parse(Array("--in", "a", "--out", "b",
      "--table", "orders", "--cql", cql, "--pk", "x",
      "--writetime", "o_orderdate")).isLeft)
    assert(RemoverCli.parse(Array("--in", "a", "--out", "b",
      "--table", "nope", "--cql", cql,
      "--writetime", "o_orderdate")).isLeft)
    assert(RemoverCli.parse(Array("--in", "a", "--out", "b",
      "--table", "orders", "--keyspace", "other", "--cql", cql,
      "--writetime", "o_orderdate")).isLeft)
    // binary-format CQL validation happens at parse time: a type the
    // codec can't serialize (duration's vint triple is outside the
    // subset) rejects before any file is touched — double/timestamp/
    // smallint/etc resolve, so those cqls pass
    assert(RemoverCli.parse(Array("--in", "a", "--out", "b",
      "--table", "orders", "--cql", cql, "--format", "sstable")).isRight)
    val cqlSmall = cql.replace("o_totalprice double",
      "o_totalprice smallint")
    assert(RemoverCli.parse(Array("--in", "a", "--out", "b",
      "--table", "orders", "--cql", cqlSmall,
      "--format", "sstable")).isRight)
    val cqlDur = cql.replace("o_totalprice double",
      "o_totalprice duration")
    assert(RemoverCli.parse(Array("--in", "a", "--out", "b",
      "--table", "orders", "--cql", cqlDur,
      "--format", "sstable")).isLeft)
  }

  test("CLI path strips an arbitrary table (orders) end-to-end") {
    // parity with the reference CLI's --cql: the user declares keys +
    // cell columns on the command line and ANY table goes through the
    // same strip→sort→layout pipeline (TTLRemoverCLI.java:166-170)
    val out = graft.Scratch.dir("graft-cli-").toString + "/out"
    val argv = Array(
      "--in", sfDir, "--out", out, "--table", "orders",
      "--keyspace", "shop", "--pk", "o_orderkey",
      "--cells", "o_totalprice,o_orderstatus", "--writetime", "o_orderdate")
    val args = RemoverCli.parse(argv)
      .fold(e => fail(s"parse failed: $e"), identity)
    val written = RemoverCli.run(spark, args)
    val orders = Tables.load(spark, sfDir, "orders")
    assert(written === orders.count())

    val back = spark.read.parquet(out)
    val layout = back.select(col("_metadata.file_path")).limit(1)
      .head().getString(0)
    assert(layout.contains("/keyspace=shop/table_name=orders/"), layout)
    // both declared cell columns were wrapped and stripped
    assert(back.filter(col("o_totalprice.ttl_s").isNotNull).count() === 0)
    assert(back.filter(col("o_orderstatus.ttl_s").isNotNull).count() === 0)
    // values + writetimes byte-identical to the input
    val wt = unix_micros(col("o_orderdate").cast("timestamp"))
    val before = orders.select(
      col("o_orderkey"), col("o_totalprice").as("v"), wt.as("w"))
    val after = back.select(col("o_orderkey"),
      col("o_totalprice.value").as("v"),
      col("o_totalprice.writetime_us").as("w"))
    assert(before.exceptAll(after).count() === 0)
    assert(after.exceptAll(before).count() === 0)
    // the synthetic TTL model really put TTLs on the input side (the
    // strip had something to remove)
    val cellified = graft.model.CellModel.cellifySpec(
      orders, Seq("o_totalprice"), "o_orderdate", "o_orderkey")
    assert(cellified.filter(col("o_totalprice.ttl_s").isNotNull).count() > 0)
    // non-cell columns pass through untouched
    assert(back.select("o_custkey", "o_orderpriority")
      .exceptAll(orders.select("o_custkey", "o_orderpriority")).count() === 0)
  }

  test("CLI per-element cellification of collection columns") {
    // the reference's CellPath semantics: every element of a non-frozen
    // map/list carries its own liveness (`Cassandra3TTLRemover.java:
    // 180-186`). A declared map/array column must therefore cellify PER
    // ELEMENT, and the strip must clear each element's TTL.
    val base = graft.Scratch.dir("graft-coll-").toString
    val inDir = s"$base/in"
    val out = s"$base/out"
    val src = Tables.load(spark, sfDir, "orders").limit(200)
      .select(col("o_orderkey"), col("o_orderdate"),
        map(lit("status"), col("o_orderstatus"),
          lit("prio"), col("o_orderpriority")).as("attrs"),
        array(col("o_orderstatus"), col("o_orderpriority")).as("notes"))
    src.write.parquet(s"$inDir/inv.parquet")

    // pre-strip: TTLs really exist per element, and differ WITHIN one
    // collection (the ttl key is offset by element position)
    val cellified = CellModel.cellifySpec(
      spark.read.parquet(s"$inDir/inv.parquet"),
      Seq("attrs", "notes"), "o_orderdate", "o_orderkey")
    val perElem = cellified.select(
      col("notes")(0).getField("ttl_s").as("t0"),
      col("notes")(1).getField("ttl_s").as("t1"))
    assert(perElem.filter(col("t0").isNotNull).count() > 0)
    assert(perElem.filter(
      col("t0").isNotNull =!= col("t1").isNotNull).count() > 0,
      "elements of one collection should carry independent liveness")
    // ...and map values too (key-derived offset, not one TTL per map)
    val mapElem = cellified.select(
      element_at(col("attrs"), "status").getField("ttl_s").as("ms"),
      element_at(col("attrs"), "prio").getField("ttl_s").as("mp"))
    assert(mapElem.filter(
      col("ms").isNotNull =!= col("mp").isNotNull).count() > 0,
      "map values of one row should carry independent liveness")

    val args = RemoverCli.parse(Array(
      "--in", inDir, "--out", out, "--table", "inv",
      "--pk", "o_orderkey", "--cells", "attrs,notes",
      "--writetime", "o_orderdate"))
      .fold(e => fail(s"parse failed: $e"), identity)
    assert(RemoverCli.run(spark, args) === 200)

    val back = spark.read.parquet(out)
    // no element-level TTL survives, in either collection kind
    assert(back.filter(exists(map_values(col("attrs")),
      c => c.getField("ttl_s").isNotNull)).count() === 0)
    assert(back.filter(exists(col("notes"),
      c => c.getField("ttl_s").isNotNull)).count() === 0)
    // element values and writetimes survive in order
    val wt = unix_micros(col("o_orderdate").cast("timestamp"))
    val before = src.select(col("o_orderkey"),
      col("notes")(0).as("v0"), col("notes")(1).as("v1"), wt.as("w"))
    val after = back.select(col("o_orderkey"),
      col("notes")(0).getField("value").as("v0"),
      col("notes")(1).getField("value").as("v1"),
      col("notes")(0).getField("writetime_us").as("w"))
    assert(before.exceptAll(after).count() === 0)
    assert(after.exceptAll(before).count() === 0)
  }

  test("cell-model type validation: ttl-key and writetime column types") {
    val orders = Tables.load(spark, sfDir, "orders")
    // non-integral ttl key would synthesize all-null TTLs — a silent
    // no-op strip; must fail loudly instead
    val e1 = intercept[IllegalArgumentException] {
      CellModel.cellifySpec(
        orders, Seq("o_totalprice"), "o_orderdate", "o_orderstatus")
    }
    assert(e1.getMessage.contains("integral"))
    // a 32-bit writetime cannot be epoch-micros
    val e2 = intercept[IllegalArgumentException] {
      CellModel.writetimeMicros(
        orders.withColumn("w32", lit(1).cast("int")), "w32")
    }
    assert(e2.getMessage.contains("INT"))
    // case-insensitive resolution, matching Spark's resolver
    assert(CellModel.writetimeMicros(orders, "O_ORDERDATE") != null)
  }

  test("CLI cell-spec validation") {
    def p(a: String*) = RemoverCli.parse(a.toArray)
    // cell-model flags without --cells are an error, not silently
    // dropped (even for the shipped events model)
    assert(p("--in", "/a", "--out", "/b", "--table", "events",
      "--pk", "user_id").isLeft)
    assert(p("--in", "/a", "--out", "/b", "--table", "events",
      "--writetime", "ts").isLeft)
    // a non-events table without a declared cell model is rejected at
    // parse time (the engine is generic; the CLI must be told which
    // columns carry liveness — reference: --cql is mandatory)
    assert(p("--in", "/a", "--out", "/b", "--table", "orders").isLeft)
    // --cells requires --pk and --writetime
    assert(p("--in", "/a", "--out", "/b", "--table", "orders",
      "--cells", "x").isLeft)
    assert(p("--in", "/a", "--out", "/b", "--table", "orders",
      "--cells", "x", "--pk", "k").isLeft)
    // keys never carry liveness
    assert(p("--in", "/a", "--out", "/b", "--table", "orders",
      "--cells", "k", "--pk", "k", "--writetime", "w").isLeft)
    // full spec parses, csv lists split
    val ok = p("--in", "/a", "--out", "/b", "--table", "orders",
      "--pk", "o_orderkey", "--cells", "o_totalprice, o_orderstatus",
      "--writetime", "o_orderdate", "--ttl-key", "o_custkey")
    assert(ok.map(a => (a.pk, a.cells, a.ttlKey)) ===
      Right((Seq("o_orderkey"), Seq("o_totalprice", "o_orderstatus"),
        Some("o_custkey"))))
  }

  test("CLI --inventory: read-only parse rules + end-to-end sidecar listing") {
    def p(a: String*) = RemoverCli.parse(a.toArray)
    // --in required; transform flags contradict a read-only listing
    assert(p("--inventory", "true").isLeft)
    assert(p("--inventory", "true", "--in", "/a", "--table", "t").isLeft)
    assert(p("--inventory", "true", "--in", "/a", "--merge", "lww").isLeft)
    assert(p("--inventory", "true", "--in", "/a", "--scrub", "true").isLeft)
    assert(p("--inventory", "true", "--in", "/a", "--out", "/a").isLeft)
    assert(p("--inventory", "true", "--in", "/a") ===
      Right(RemoverCli.CliArgs("/a", "", table = "", inventory = true)))
    // malformed booleans produce the usage error, not a stack trace
    assert(p("--inventory", "yes", "--in", "/a").isLeft)
    assert(p("--in", "/a", "--out", "/b", "--table", "t",
      "--format", "sstable", "--verify", "maybe").isLeft)
    assert(p("--in", "/a", "--out", "/b", "--table", "t",
      "--format", "sstable", "--scrub", "1").isLeft)
    // end-to-end: generations in, garbled Data.db (sidecar-only is the
    // contract), inventory out — printed AND persisted
    val in = graft.sources.SSTableBinaryV2.writeBinaryFixture(spark, sfDir)
    val gens = Scratch.dir("graft-cliinv-")
    val outP = Scratch.dir("graft-cliinvout-").resolve("inv")
    try {
      graft.sources.SSTableBinaryV2.writeSSTables(
        graft.sources.SSTableBinaryV2.readBinary(spark, in.toString),
        gens.toString, "graft", "documents")
      val dir = gens.resolve("graft").resolve("documents")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(dir).iterator().asScala
        .filter(_.getFileName.toString.endsWith("-Data.db"))
        .foreach { f =>
          java.nio.file.Files.write(f, Array.fill[Byte](8)(0x22))
          java.nio.file.Files.deleteIfExists(
            f.getParent.resolve("." + f.getFileName + ".crc"))
        }
      val args = RemoverCli.parse(Array("--inventory", "true",
        "--in", dir.toString, "--out", outP.toString))
        .fold(e => fail(e), identity)
      assert(RemoverCli.run(spark, args) === 4L)
      val persisted = spark.read.parquet(outP.toString)
      assert(persisted.count() === 4L)
      assert(persisted.columns.contains("n_partitions"))
      // --stats joins the modern StatsMetadata panel (still
      // sidecar-only: the Data.db files above are garbage)
      assert(RemoverCli.parse(Array("--in", "/a", "--out", "/b",
        "--table", "t", "--stats", "true")).isLeft,
        "--stats outside --inventory must refuse")
      assert(RemoverCli.parse(Array("--inventory", "true", "--in", "/a",
        "--stats", "maybe")).isLeft)
      val statsOut = Scratch.dir("graft-cliinvstats-").resolve("inv")
      try {
        val argsS = RemoverCli.parse(Array("--inventory", "true",
          "--in", dir.toString, "--stats", "true",
          "--out", statsOut.toString)).fold(e => fail(e), identity)
        assert(RemoverCli.run(spark, argsS) === 4L)
        val withStats = spark.read.parquet(statsOut.toString)
        assert(withStats.columns.contains("total_rows"))
        assert(withStats.columns.contains("droppable_ratio"))
        assert(withStats.filter(
          org.apache.spark.sql.functions.col("total_rows").isNotNull)
          .count() === 4L)
      } finally Scratch.delete(statsOut.getParent)
      // the aligned renderer: header widths hold, NULLs surface as '-'
      val txt = RemoverCli.formatInventory(
        Seq("sstable", "n"), Seq(Seq("a/b-Data.db", "12"), Seq("c", "-")))
      assert(txt.linesIterator.toSeq ===
        Seq("sstable      n", "a/b-Data.db  12", "c            -"))
    } finally {
      Scratch.delete(in); Scratch.delete(gens)
      Scratch.delete(outP.getParent)
    }
  }

  test("CLI --inventory print caps at InventoryPrintCap rows on large " +
    "catalogs; the count and --out keep full fidelity") {
    val dir = Scratch.dir("graft-clibig-")
    try {
      val n = RemoverCli.InventoryPrintCap + 7
      (1 to n).foreach { g =>
        java.nio.file.Files.write(
          dir.resolve(f"nb-$g%03d-big-Data.db"),
          Array.fill[Byte](8)(0x22))
      }
      val args = RemoverCli.parse(Array("--inventory", "true",
        "--in", dir.toString)).fold(e => fail(e), identity)
      val buf = new java.io.ByteArrayOutputStream()
      val count = Console.withOut(new java.io.PrintStream(buf, true)) {
        RemoverCli.run(spark, args)
      }
      assert(count === n.toLong, "the returned count is the FULL catalog")
      val printed = buf.toString("UTF-8")
      val dataLines = printed.linesIterator
        .count(_.contains("-big-Data.db"))
      assert(dataLines === RemoverCli.InventoryPrintCap)
      assert(printed.contains(s"$n generations total"))
      assert(printed.contains("--out for the full inventory"))
    } finally Scratch.delete(dir)
  }

  test("RemoverCli.parse validates flags like the reference CLI") {
    // happy path with defaults
    val ok = RemoverCli.parse(Array(
      "--in", "/a", "--out", "/b", "--table", "events"))
    assert(ok === Right(RemoverCli.CliArgs("/a", "/b", "events")))
    // overrides
    val full = RemoverCli.parse(Array(
      "--in", "/a", "--out", "/b", "--table", "events",
      "--keyspace", "ks1", "--cpus", "4"))
    assert(full === Right(RemoverCli.CliArgs("/a", "/b", "events", "ks1", 4)))
    // the reference's validation rules, carried over
    assert(RemoverCli.parse(Array("--out", "/b", "--table", "t")).isLeft)
    assert(RemoverCli.parse(Array("--in", "/a", "--table", "t")).isLeft)
    assert(RemoverCli.parse(Array("--in", "/a", "--out", "/b")).isLeft)
    assert(RemoverCli.parse(Array(
      "--in", "/a", "--out", "/a", "--table", "t")).isLeft) // in == out
    assert(RemoverCli.parse(Array(
      "--in", "/a", "--out", "/b", "--table", "t", "--bogus", "x")).isLeft)
    assert(RemoverCli.parse(Array(
      "--in", "/a", "--in", "/c", "--out", "/b", "--table", "t")).isLeft)
    assert(RemoverCli.parse(Array(
      "--in", "/a", "--out", "/b", "--table", "t", "--cpus", "zero")).isLeft)
    // --verify is the binary connector's digest pass: sstable-only
    assert(RemoverCli.parse(Array(
      "--in", "/a", "--out", "/b", "--table", "t",
      "--verify", "true")).isLeft)
    assert(RemoverCli.parse(Array(
      "--in", "/a", "--out", "/b", "--table", "t",
      "--format", "sstable", "--verify", "true"))
      .exists(_.verify))
  }

  test("RemoverCli.parse: every tool-mode refusal, word for word, and what each mode builds") {
    val inv = "--inventory lists generations from sidecars (read-only); "
    val surgery = "--set-level/--set-repaired-at rewrite Statistics.db only; "
    val budget = "--summary-budget rewrites Summary.db files only; "
    val track = "--track-activity is a read-only metered scan; "
    val noIn = "--in <dir> is required"
    Seq(
      // --inventory
      Seq("--inventory", "true", "--in", "/a", "--table", "t") ->
        s"$inv--table does not apply",
      Seq("--inventory", "true", "--in", "/a", "--scrub", "true", "--merge",
        "lww") -> s"$inv--merge/--scrub do not apply",
      Seq("--inventory", "true", "--in", "/a", "--activity", "/p") ->
        s"$inv--activity does not apply",
      Seq("--inventory", "true") -> noIn,
      Seq("--inventory", "true", "--out", "/b") -> noIn,
      Seq("--inventory", "true", "--in", "/a", "--cpus", "0") ->
        "--cpus must be a positive int, got '0'",
      Seq("--inventory", "true", "--in", "/a", "--out", "/a") ->
        "--out must differ from --in (originals are kept)",
      // --set-level / --set-repaired-at
      Seq("--set-level", "1", "--in", "/a", "--out", "/b", "--table", "t") ->
        s"$surgery--table does not apply",
      Seq("--set-repaired-at", "5", "--in", "/a", "--out", "/b", "--sink",
        "sstable", "--merge", "lww") -> s"$surgery--merge/--sink do not apply",
      Seq("--set-level", "1", "--in", "/a", "--out", "/b", "--activity",
        "/p") -> s"$surgery--activity does not apply",
      Seq("--set-level", "-1", "--in", "/a", "--out", "/b") ->
        "--set-level must be a non-negative int, got '-1'",
      Seq("--set-level", "x", "--set-repaired-at", "-5") ->
        "--set-level must be a non-negative int, got 'x'",
      Seq("--set-repaired-at", "-5", "--in", "/a", "--out", "/b") ->
        "--set-repaired-at must be epoch millis >= 0, got '-5'",
      Seq("--set-level", "0", "--set-repaired-at", "soon") ->
        "--set-repaired-at must be epoch millis >= 0, got 'soon'",
      Seq("--set-level", "1", "--out", "/b") -> noIn,
      Seq("--set-level", "1", "--in", "/a") ->
        "--out <dir> is required (surgery keeps originals)",
      Seq("--set-level", "1", "--in", "/a", "--out", "/b", "--cpus", "x") ->
        "--cpus must be a positive int, got 'x'",
      // --summary-budget
      Seq("--summary-budget", "10", "--in", "/a", "--out", "/b", "--table",
        "t") -> s"$budget--table does not apply",
      Seq("--summary-budget", "10", "--in", "/a", "--out", "/b", "--table",
        "t", "--format", "sstable") -> s"$budget--format/--table do not apply",
      Seq("--summary-budget", "0", "--in", "/a", "--out", "/b") ->
        "--summary-budget must be a positive mark count, got '0'",
      Seq("--summary-budget", "many") ->
        "--summary-budget must be a positive mark count, got 'many'",
      Seq("--summary-budget", "10", "--out", "/b") -> noIn,
      Seq("--summary-budget", "10", "--in", "/a", "--activity", "/p") ->
        "--out <dir> is required (redistribution keeps originals)",
      Seq("--summary-budget", "10", "--in", "/a", "--out", "/b", "--cpus",
        "-2") -> "--cpus must be a positive int, got '-2'",
      // --track-activity
      Seq("--track-activity", "/p", "--in", "/a", "--out", "/b") ->
        s"$track--out does not apply",
      Seq("--track-activity", "/p", "--in", "/a", "--out", "/b", "--table",
        "t") -> s"$track--out/--table do not apply",
      Seq("--track-activity", "/p", "--in", "/a", "--activity", "/q") ->
        s"$track--activity does not apply",
      Seq("--track-activity", "/p", "--cql", "CREATE TABLE t (k text " +
        "PRIMARY KEY)") -> noIn,
      Seq("--track-activity", "/p", "--in", "/a", "--cpus", "none") ->
        "--cpus must be a positive int, got 'none'",
      // --activity and --stats outside their modes
      Seq("--in", "/a", "--out", "/b", "--table", "t", "--activity", "/p") ->
        "--activity applies to --summary-budget only",
      Seq("--in", "/a", "--out", "/b", "--table", "t", "--stats", "true") ->
        "--stats applies to --inventory only",
      Seq("--set-level", "1", "--in", "/a", "--out", "/b", "--stats",
        "true") -> "--stats applies to --inventory only",
      Seq("--inventory", "false", "--in", "/a", "--stats", "true") ->
        "--stats applies to --inventory only"
    ).foreach { case (argv, want) =>
      assert(RemoverCli.parse(argv.toArray) === Left(want), argv.mkString(" "))
    }
    Seq(
      Seq("--inventory", "true", "--in", "/a", "--stats", "true", "--out",
        "/o", "--cpus", "2") -> RemoverCli.CliArgs("/a", "/o", table = "",
        cpus = 2, inventory = true, stats = true),
      Seq("--set-level", "2", "--set-repaired-at", "7", "--in", "/a", "--out",
        "/b", "--cpus", "3") -> RemoverCli.CliArgs("/a", "/b", table = "",
        cpus = 3, setLevel = Some(2), setRepairedAt = Some(7L)),
      Seq("--set-repaired-at", "0", "--in", "/a", "--out", "/b") ->
        RemoverCli.CliArgs("/a", "/b", table = "", setRepairedAt = Some(0L)),
      Seq("--summary-budget", "10", "--in", "/a", "--out", "/b",
        "--activity", "/p") -> RemoverCli.CliArgs("/a", "/b", table = "",
        summaryBudget = Some(10L), activity = Some("/p")),
      Seq("--track-activity", "/p", "--in", "/a", "--cql", "c", "--cpus",
        "5") -> RemoverCli.CliArgs("/a", "", table = "", cpus = 5,
        cqlText = Some("c"), trackActivityOut = Some("/p"))
    ).foreach { case (argv, want) =>
      assert(RemoverCli.parse(argv.toArray) === Right(want), argv.mkString(" "))
    }
  }

  test("RemoverCli.parse refuses an output over its input: ./x is x, and a sink directory over --in") {
    val differ = Left("--out must differ from --in (originals are kept)")
    def parse(args: String*) = RemoverCli.parse(args.toArray)
    assert(parse("--in", "x", "--out", "./x", "--table", "events") === differ)
    assert(parse("--in", "/r/x/", "--out", "/r/y/../x", "--table",
      "events") === differ)
    assert(parse("--inventory", "true", "--in", "x", "--out", "./x") ===
      differ)
    assert(parse("--set-level", "0", "--in", "x", "--out", "./x") === differ)
    assert(parse("--summary-budget", "10", "--in", "x", "--out", "./x") ===
      differ)
    // the sstable sink writes <out>/<ks>/<table>: with --out two levels
    // above a table directory, it would write over that table's files
    val root = java.nio.file.Paths.get("/r/lake").toString
    val in = s"$root/graft/documents"
    assert(parse("--in", in, "--out", root, "--table", "documents",
      "--format", "sstable", "--sink", "sstable", "--merge", "lww",
      "--out-generations", "3") === Left(s"the sink writes $in, which " +
      s"is, holds or lies inside --in $in (originals are kept)"))
    // ... and over a directory holding the input or inside it alike
    assert(parse("--in", s"$in/old", "--out", root, "--table", "documents",
      "--format", "sstable", "--sink", "sstable") ===
      Left(s"the sink writes $in, which is, holds or lies inside " +
        s"--in $in/old (originals are kept)"))
    assert(parse("--in", "/r/dumps", "--out", "/r/dumps/out", "--table",
      "t", "--format", "sstabledump", "--sink", "sstabledump") ===
      Left("the sink writes /r/dumps/out, which is, holds or lies inside " +
        "--in /r/dumps (originals are kept)"))
    // a sibling is fine, and so is a parquet layout below the input
    assert(parse("--in", in, "--out", "/r/out", "--table", "documents",
      "--format", "sstable", "--sink", "sstable").isRight)
    assert(parse("--in", "/r/dumps", "--out", "/r/dumps/out", "--table",
      "t", "--format", "sstabledump").isRight)
  }

  test("uuid-keyed CQL schema through the binary lifecycle: real byte encodings, real token order") {
    import spark.implicits._
    import graft.sources.{BigFormat, SSTableBinaryV2, SSTableComponents}
    val cql = "CREATE TABLE graft.t (id uuid, ts timestamp, " +
      "val text, PRIMARY KEY (id, ts))"
    val parsed = graft.model.CqlSchema.parse(cql)
      .fold(e => fail(s"cql parse: $e"), identity)
    val wt = 1609459200L * 1000000L
    val rows = (0 until 40).map { i =>
      val uuid = new java.util.UUID(0x1111000000000000L + i,
        0x2222000000000000L + i).toString
      (uuid, Seq((1609459200000L + i * 1000L).toString), "ROW",
        Some("val"),
        Some(("v" + i, wt + i,
          if (i % 3 == 0) Some(600) else None,
          if (i % 3 == 0) Some(wt + i + 600000000L) else None)),
        None: Option[Long], "t/nb-1-big-Data.db")
    }.toDF("partition_key", "clustering", "row_kind", "name",
      "cell_t", "deletion_us", "sstable")
      .withColumn("cell", struct(
        col("cell_t._1").as("value"), col("cell_t._2").as("writetime_us"),
        col("cell_t._3").as("ttl_s"), col("cell_t._4").as("expire_us")))
      .drop("cell_t")
    val in = Scratch.dir("graft-uuid-in-")
    val out = Scratch.dir("graft-uuid-out-").toString + "/o"
    try {
      // typed input generation (uuid keys, timestamp clustering)
      SSTableBinaryV2.writeSSTables(rows, in.toString, "graft", "t",
        Some(parsed))
      // CLI: binary in → strip → typed binary out, schema via --cql
      val args = RemoverCli.parse(Array(
        "--in", s"$in/graft/t", "--out", out, "--table", "t",
        "--format", "sstable", "--sink", "sstable", "--cql", cql))
        .fold(e => fail(s"parse failed: $e"), identity)
      assert(args.cqlSchema.isDefined)
      RemoverCli.run(spark, args)
      val back = SSTableBinaryV2.readBinary(spark, s"$out/graft/t")
        .localCheckpoint()
      // uuid keys and timestamp clusterings round-trip canonically
      assert(back.count() === 40)
      assert(back.filter(col("cell.ttl_s").isNotNull).count() === 0)
      val keys = back.select("partition_key").as[String]
        .collect().sorted
      assert(keys === rows.select("partition_key").as[String]
        .collect().sorted)
      assert(keys.forall(_.matches(
        "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")))
      // on disk the key is its 16-BYTE uuid form, and the file's
      // partition order is Murmur3 token order over those bytes —
      // "correct comparators", checked through Index.db
      val dir = java.nio.file.Paths.get(out, "graft", "t")
      val idx = java.nio.file.Files.list(dir)
      val idxFile = try {
        import scala.jdk.CollectionConverters._
        idx.iterator().asScala.find(_.toString.endsWith("-Index.db")).get
      } finally idx.close()
      val entries = SSTableComponents.readIndex(
        java.nio.file.Files.readAllBytes(idxFile), "t")
      assert(entries.size === 40)
      assert(entries.forall(_._1.length === 16))
      val toks = entries.map(e => BigFormat.murmur3Token(e._1))
      assert(toks === toks.sorted, "index not in token order")
      // a string-keyed write of the same frame orders DIFFERENTLY —
      // the uuid typing changes the comparator, as it must
      val toksAsText = rows.select("partition_key").as[String].collect()
        .map(k => BigFormat.murmur3Token(k.getBytes("UTF-8"))).sorted
      assert(toks != toksAsText.toSeq)
      // declared-but-undeclared columns reject loudly
      val badCql = "CREATE TABLE graft.t (id uuid, ts timestamp, " +
        "other text, PRIMARY KEY (id, ts))"
      val badParsed = graft.model.CqlSchema.parse(badCql)
        .fold(e => fail(e), identity)
      val ex = intercept[org.apache.spark.SparkException] {
        SSTableBinaryV2.writeSSTables(rows, in.toString + "-x",
          "graft", "t", Some(badParsed))
      }
      assert(ex.toString.contains("not declared") ||
        Option(ex.getCause).exists(_.toString.contains("not declared")))
    } finally {
      Scratch.delete(in)
      Scratch.delete(java.nio.file.Paths.get(out).getParent)
    }
  }
}
