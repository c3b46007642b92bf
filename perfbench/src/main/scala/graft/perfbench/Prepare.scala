package graft.perfbench

import java.io.{File, FileInputStream, FileOutputStream}
import java.util.Properties

import graft.sources.{BigFormat, CompressedData, SSTableBinaryV2}
import org.apache.spark.sql.SparkSession

/** The recorded facts of a generated lake: sizes, counts, Data.db
  * digests and the fingerprints its outputs are checked against. */
final class Facts(p: Properties) {
  def long(k: String): Long = p.getProperty(k).toLong
  def entries: Seq[(String, String)] =
    p.stringPropertyNames().toArray(Array.empty[String]).sorted
      .map(k => k -> p.getProperty(k)).toSeq
  private def fp(v: String): Fingerprint = {
    val Array(r, lo, hi, t) = v.split(',').map(_.toLong)
    Fingerprint(r, lo, hi, t)
  }
  def fingerprints: Map[String, Fingerprint] = entries.collect {
    case (k, v) if k.startsWith("fp.") => k.stripPrefix("fp.") -> fp(v)
  }.toMap
  def mergeFingerprint: Fingerprint = fp(p.getProperty("fp_merge"))
  def digests: Map[String, String] = entries.collect {
    case (k, v) if k.startsWith("sha.") => k.stripPrefix("sha.") -> v
  }.toMap
}

/** Generates a workload's lake on first use, caches it under the work
  * directory, and on later use verifies the cached Data.db bytes. */
object Prepare {

  def narrow(seed: Long, gens: Int, work: File)
      (implicit spark: SparkSession): (Lake, Facts) = {
    val ppg = Workload.NarrowPartsPerGen
    val dir = new File(work,
      s"lakes/narrow-v${Lakes.Version}-s$seed-g$gens-p$ppg")
    val absent = Array.tabulate(4096)(j =>
      Lakes.keyOf(seed, gens.toLong * ppg + j))
    def rows() = Lakes.narrowRows(seed, gens, ppg)
    val lake = Lake("narrow", seed, gens, dir, rows(), Array.empty, absent)
    (lake, ensure(lake, Some(CompressedData.Lz4), BigFormat.ColumnIndexSize,
      () => rows()))
  }

  def wide(seed: Long, gens: Int, work: File)
      (implicit spark: SparkSession): (Lake, Facts) = {
    val (parts, rpp) = (Workload.WideParts, Workload.WideRowsPerPart)
    val dir = new File(work,
      s"lakes/wide-v${Lakes.Version}-s$seed-g$gens-p$parts-r$rpp")
    def rows() = Lakes.wideRows(seed, gens, parts, rpp)
    val (written, merged) = rows()
    val lake = Lake("wide", seed, gens, dir, written, merged, Array.empty)
    (lake, ensure(lake, None, Workload.WideColumnIndexSize, () => rows()._1))
  }

  /** `regenerate` draws the lake's rows again from its seed, for the
    * determinism self-check. */
  private def ensure(lake: Lake, compression: Option[String],
      columnIndexSize: Int, regenerate: () => Array[GenRow])
      (implicit spark: SparkSession): Facts = {
    val file = new File(lake.dir, "facts.properties")
    if (file.exists) {
      val facts = load(file)
      val data = Lakes.dataFiles(lake.dir)
      val digests = data.map(f => f.getName -> Lakes.sha256(f)).toMap
      require(digests == facts.digests && facts.long("rows") ==
        lake.rows.length, s"cached lake ${lake.dir} does not match its facts")
      facts
    } else generate(lake, compression, columnIndexSize, regenerate, file)
  }

  private def load(f: File): Facts = {
    val p = new Properties()
    val in = new FileInputStream(f)
    try p.load(in) finally in.close()
    new Facts(p)
  }

  private def generate(lake: Lake, compression: Option[String],
      columnIndexSize: Int, regenerate: () => Array[GenRow], file: File)
      (implicit spark: SparkSession): Facts = {
    Lakes.deleteTree(lake.dir)
    val (_, genS) = Workload.timed(
      Lakes.write(spark, lake.rows, lake.dir, compression, columnIndexSize))
    val data = Lakes.dataFiles(lake.dir)
    val digests = data.map(f => f.getName -> Lakes.sha256(f)).toMap
    // the same seed must give byte-identical Data.db: regenerate the rows
    // and write the first generation again
    val first = Lakes.sstableOf(1)
    val again = new File(lake.dir.getParentFile, lake.dir.getName + ".again")
    Lakes.deleteTree(again)
    Lakes.write(spark, regenerate().filter(_.sstable == first), again,
      compression, columnIndexSize)
    val againDigests = Lakes.dataFiles(again)
      .map(f => f.getName -> Lakes.sha256(f)).toMap
    Lakes.deleteTree(again)
    require(againDigests.size == 1 && againDigests.toSeq.forall {
      case (f, d) => digests.get(f).contains(d)
    }, s"lake generation is not deterministic for seed ${lake.seed}")
    // the reader must return exactly the generated rows
    val written = Lakes.fingerprints(Lakes.rowsFrame(spark, lake.rows), true)
    val read = Lakes.fingerprints(
      SSTableBinaryV2.readBinary(spark, lake.dir.toString), true)
    require(read == written, s"lake ${lake.dir} reads back different " +
      s"rows than were written: $read vs $written")

    val files = Lakes.files(lake.dir)
    def sizes(suffix: String) = files.filter(_.getName.endsWith(suffix))
      .map(_.length)
    def kind(k: String) = lake.rows.count(_.row_kind == k).toLong
    val p = new Properties()
    def put(k: String, v: Any): Unit = p.setProperty(k, v.toString)
    put("generations", lake.generations)
    put("partitions", lake.rows.map(_.partition_key).distinct.length)
    put("rows", lake.rows.length)
    put("cells", kind("ROW"))
    put("ttl_cells", lake.rows.count(_.cell.exists(_.ttl_s.isDefined)))
    put("row_deletions", kind("ROW_DELETION"))
    put("partition_deletions", kind("PARTITION_DELETION"))
    put("range_tombstones", kind("RANGE_TOMBSTONE_BOUND") / 2)
    put("data_bytes", data.map(_.length).sum)
    put("data_raw_bytes", data.map(Lakes.rawDataBytes).sum)
    put("component_bytes", files.map(_.length).sum)
    for (c <- Seq("Index", "Filter", "Summary")) {
      put(s"${c.toLowerCase}_bytes", sizes(s"-$c.db").sum)
      put(s"${c.toLowerCase}_max_file_bytes", sizes(s"-$c.db").max)
    }
    put("gen_s", genS)
    digests.foreach { case (f, d) => put(s"sha.$f", d) }
    written.foreach { case (s, fp) =>
      put(s"fp.$s", s"${fp.rows},${fp.lo},${fp.hi},${fp.ttlCells}")
    }
    if (lake.expectedMerge.nonEmpty) {
      val m = Lakes.fingerprints(
        Lakes.rowsFrame(spark, lake.expectedMerge), false)("*")
      put("merge_rows", lake.expectedMerge.length)
      put("fp_merge", s"${m.rows},${m.lo},${m.hi},${m.ttlCells}")
    }
    val tmp = new File(file.getPath + ".tmp")
    val out = new FileOutputStream(tmp)
    try p.store(out, s"seeded ${lake.kind} lake") finally out.close()
    require(tmp.renameTo(file), s"cannot write $file")
    load(file)
  }
}
