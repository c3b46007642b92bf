package graft

import java.nio.file.Files

import graft.ops.TtlOps
import org.apache.spark.sql.functions._

/** S8/S9 round-trip against real files: the sorted, partition-grouped
  * sink layout (`out/<ks>/<table>/` ↔ `.write.partitionBy`) must
  * produce a directory per partition value, preserve every row, and
  * keep partition-local order readable back. Non-destructive: writes
  * go to a fresh temp dir (the reference keeps originals).
  */
class SinkSpec extends SparkSpec {

  test("partitioned sorted write round-trips rows and layout") {
    val out = graft.Scratch.dir("graft-sink-").toString
    val stripped = TtlOps.ttlStrip(spark, sfDir)

    stripped
      .repartition(col("event_type"))
      .sortWithinPartitions(col("user_id"), col("writetime_us"))
      .write.partitionBy("event_type").mode("overwrite").parquet(out)

    // one directory per partition value (the out/<ks>/<cf>/ layout)
    val dirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    val expected = stripped.select("event_type").distinct()
      .collect().map(r => s"event_type=${r.getString(0)}").toSet
    assert(dirs == expected, s"layout $dirs != $expected")

    // all rows survive, byte-identical (partition column round-trips)
    val back = spark.read.parquet(out)
    assert(back.count() == stripped.count())
    val cols = stripped.columns.sorted.map(col _)
    assert(stripped.select(cols: _*)
      .exceptAll(back.select(cols: _*)).isEmpty)
  }

  test("partition directories prune at the file index (keyspace filter for free)") {
    // the reference filters whole keyspaces before opening any SSTable
    // (P4); on the partitionBy layout that's directory-level pruning —
    // a partition-column predicate must become a PartitionFilter (file
    // index skips the directory) and never a data filter (which would
    // open every file and discard rows)
    val out = graft.Scratch.dir("graft-prune-").toString
    TtlOps.ttlStrip(spark, sfDir)
      .write.partitionBy("event_type").mode("overwrite").parquet(out)
    val one = spark.read.parquet(out)
      .filter(col("event_type") === "purchase")
    val scan = plan(one).linesIterator
      .filter(_.contains("FileScan")).mkString
    val pfStart = scan.indexOf("PartitionFilters:")
    assert(pfStart >= 0, s"no PartitionFilters section: $scan")
    val pfEnd = scan.indexOf("PushedFilters:", pfStart)
    val pf = scan.substring(pfStart, if (pfEnd >= 0) pfEnd else scan.length)
    assert(pf.contains("event_type"),
      s"partition predicate did not become a PartitionFilter: $scan")
    // and only that directory's rows are read
    val expect = TtlOps.ttlStrip(spark, sfDir)
      .filter(col("event_type") === "purchase").count()
    assert(one.count() === expect)
  }

  test("schema evolution: mergeSchema unifies old and new file layouts") {
    // live tables gain columns over time; old files must read back with
    // NULLs in the new column and new files keep their data — the
    // lakehouse analogue of the reference's runtime schema discovery
    // (it parses whatever CREATE TABLE the data directory declares)
    val dir = graft.Scratch.dir("graft-evolve-").toString
    val v1 = Tables.load(spark, sfDir, "region")
      .select(col("r_regionkey"), col("r_name"))
    v1.write.parquet(s"$dir/batch=1")
    val v2 = Tables.load(spark, sfDir, "region")
      .select(col("r_regionkey"), col("r_name"),
        length(col("r_name")).as("name_len"))
    v2.write.parquet(s"$dir/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet ==
      Set("r_regionkey", "r_name", "name_len", "batch"))
    // old files surface NULL for the evolved column, new files data
    assert(merged.filter(col("batch") === 1)
      .filter(col("name_len").isNotNull).isEmpty)
    assert(merged.filter(col("batch") === 2)
      .filter(col("name_len").isNull).isEmpty)
    assert(merged.count() === v1.count() * 2)
  }

  test("scan counters ride an existing action via observe() (A6 at scale)") {
    import org.apache.spark.sql.Observation
    val obs = Observation("scan_metrics")
    val li = Tables.load(spark, sfDir, "lineitem")
      .observe(obs,
        count(lit(1)).as("rows_scanned"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
          .as("returned_rows"))
    // the metrics are a free rider on whatever action runs anyway
    val total = li.count()
    val row = obs.get
    assert(row("rows_scanned") == total)
    val expectedReturns = Tables.load(spark, sfDir, "lineitem")
      .filter(col("l_returnflag") === "R").count()
    assert(row("returned_rows") == expectedReturns)
  }

  test("output file sizing via maxRecordsPerFile (writer-sizing analogue)") {
    val out = graft.Scratch.dir("graft-sized-").toString
    TtlOps.ttlStrip(spark, sfDir)
      .coalesce(1)
      .write.option("maxRecordsPerFile", 100)
      .mode("overwrite").parquet(out)
    val files = new java.io.File(out).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    // 1000 rows / 100 per file: the single task splits its output —
    // the declarative replacement for the reference's key-count
    // pre-scan writer sizing
    assert(files >= 10, s"expected >=10 files, got $files")
  }

  test("S10: corrupt files in a batch are skipped, valid rows survive") {
    // the reference's openAll tolerates corrupt SSTables
    // (NoTTLReader.java:418-471); Spark's per-file analogue is
    // spark.sql.files.ignoreCorruptFiles — demonstrated against a real
    // garbage file, not just cited
    val dir = graft.Scratch.dir("graft-s10-").toString
    val region = Tables.load(spark, sfDir, "region")
    region.write.mode("overwrite").parquet(dir)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/part-zzz-corrupt.snappy.parquet"),
      "this is not a parquet file".getBytes)
    val prev = spark.conf.get("spark.sql.files.ignoreCorruptFiles", "false")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try {
      // explicit schema: inference would read the corrupt footer first
      val n = spark.read.schema(region.schema).parquet(dir).count()
      assert(n === region.count())
    } finally spark.conf.set("spark.sql.files.ignoreCorruptFiles", prev)
  }

  test("json and csv source formats round-trip the cell model") {
    val df = TtlOps.ttlStrip(spark, sfDir)
    val schema = df.schema
    val cols = df.columns.sorted.map(col _)

    val jsonOut = graft.Scratch.dir("graft-json-").toString
    df.write.mode("overwrite").json(jsonOut)
    val fromJson = spark.read.schema(schema).json(jsonOut)
    assert(df.select(cols: _*).exceptAll(fromJson.select(cols: _*)).isEmpty)

    val csvOut = graft.Scratch.dir("graft-csv-").toString
    df.write.mode("overwrite").option("header", "true").csv(csvOut)
    val fromCsv = spark.read.schema(schema)
      .option("header", "true").csv(csvOut)
    assert(df.select(cols: _*).exceptAll(fromCsv.select(cols: _*)).isEmpty)
  }

  test("binary sink: caller-provided sources match the default generation pass") {
    import graft.sources.{SSTableBinaryV2, SSTableDumpBridge}
    val in = SSTableBinaryV2.writeBinaryFixture(spark, sfDir)
    val outA = graft.Scratch.dir("graft-srcsink-a-")
    val outB = graft.Scratch.dir("graft-srcsink-b-")
    try {
      val frame = SSTableBinaryV2.readBinary(spark, in.toString)
        .localCheckpoint()
      // the driver-side listing equals the frame's distinct sstable set
      val listed = SSTableBinaryV2
        .dataSourceIdentities(spark, in.toString).sorted
      val distinct = frame.select("sstable").distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      assert(listed === distinct)
      // explicit sources produce the SAME manifest and byte-identical
      // frames as the default distinct-job path
      val mA = SSTableBinaryV2.writeSSTables(frame, outA.toString,
        "graft", "documents")
      val mB = SSTableBinaryV2.writeSSTables(frame, outB.toString,
        "graft", "documents", sources = Some(listed))
      assert(mA === mB)
      val backA = SSTableBinaryV2.readBinary(spark, outA.toString)
      val backB = SSTableBinaryV2.readBinary(spark, outB.toString)
      assert(backA.exceptAll(backB).count() === 0)
      assert(backB.exceptAll(backA).count() === 0)
      // a source present in the data but missing from the list fails
      // loudly (never a silent mis-assignment)
      val err = intercept[org.apache.spark.SparkException] {
        SSTableBinaryV2.writeSSTables(frame,
          graft.Scratch.dir("graft-srcsink-c-").toString,
          "graft", "documents", sources = Some(listed.tail))
      }
      assert(err.getMessage.contains("caller-provided source set") ||
        Option(err.getCause).exists(
          _.getMessage.contains("caller-provided source set")))
    } finally {
      graft.Scratch.delete(in)
      graft.Scratch.delete(outA)
      graft.Scratch.delete(outB)
    }
  }

  test("binary sink: a superset source list is accepted only when every entry claims its own generation") {
    import graft.sources.SSTableBinaryV2
    val in = SSTableBinaryV2.writeBinaryFixture(spark, sfDir)
    val outA = graft.Scratch.dir("graft-supersink-a-")
    val outB = graft.Scratch.dir("graft-supersink-b-")
    val outC = graft.Scratch.dir("graft-supersink-c-")
    try {
      val listed = SSTableBinaryV2.dataSourceIdentities(spark, in.toString)
      assert(SSTableBinaryV2.sourceSetViolations(listed).isEmpty)
      // one generation loses every row: the listing is now a strict
      // superset of the frame's distinct sstable set
      val dropped = listed.max
      val frame = SSTableBinaryV2.readBinary(spark, in.toString)
        .filter(col("sstable") =!= dropped).localCheckpoint()
      val mA = SSTableBinaryV2.writeSSTables(frame, outA.toString,
        "graft", "documents")
      val mB = SSTableBinaryV2.writeSSTables(frame, outB.toString,
        "graft", "documents", sources = Some(listed))
      assert(mA === mB)
      assert(mB.size === listed.size - 1)
      val (fA, fB) = (filesUnder(outA), filesUnder(outB))
      assert(fA.keySet === fB.keySet)
      assert(fA.keys.filterNot(k => fA(k) == fB(k)).isEmpty)
      // the premise broken either way refuses on the driver, naming
      // the offending entries: a name that claims no generation…
      val nameless = "documents/manifest-Data.db"
      val e1 = intercept[IllegalArgumentException] {
        SSTableBinaryV2.writeSSTables(frame, outC.toString,
          "graft", "documents", sources = Some(listed :+ nameless))
      }
      assert(e1.getMessage.contains(nameless), e1.getMessage)
      // …and two names claiming the same one
      val twin = "other/" + listed.head.split('/').last
      val e2 = intercept[IllegalArgumentException] {
        SSTableBinaryV2.writeSSTables(frame, outC.toString,
          "graft", "documents", sources = Some(listed :+ twin))
      }
      assert(e2.getMessage.contains(twin), e2.getMessage)
      assert(e2.getMessage.contains(listed.head), e2.getMessage)
      assert(SSTableBinaryV2.sourceSetViolations(listed :+ twin :+ nameless)
        === Seq(listed.head, nameless, twin).sorted)
      // a repeated entry is one source, not a shared claim
      assert(SSTableBinaryV2.sourceSetViolations(listed :+ listed.head)
        .isEmpty)
    } finally {
      Seq(in, outA, outB, outC).foreach(graft.Scratch.delete)
    }
  }
}
