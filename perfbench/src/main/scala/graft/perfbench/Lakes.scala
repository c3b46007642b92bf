package graft.perfbench

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import graft.sources.{CompressedData, SSTableBinaryV2}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One generated cell, shaped like the reader's `cell` struct. */
final case class GenCell(value: Option[String], writetime_us: Option[Long],
    ttl_s: Option[Int], expire_us: Option[Long])

/** One generated row, shaped like a row of `readBinary`'s frame: the
  * generator writes these through `writeSSTables`, and the reader must
  * return exactly them. */
final case class GenRow(partition_key: String, clustering: Option[Seq[String]],
    row_kind: String, name: Option[String], cell: Option[GenCell],
    deletion_us: Option[Long], sstable: String) {
  /** Canonical text of the row, for exact lookup comparisons. */
  def canonical: String = Lakes.canonical(partition_key, clustering,
    row_kind, name, cell.flatMap(_.value), cell.flatMap(_.writetime_us),
    cell.flatMap(_.ttl_s), cell.flatMap(_.expire_us), deletion_us, sstable)
}

/** A seeded lake: the rows written, and for the compaction lake the rows
  * a last-write-wins merge must leave. */
final case class Lake(kind: String, seed: Long, generations: Int,
    dir: File, rows: Array[GenRow], expectedMerge: Array[GenRow],
    absentKeys: Array[String]) {
  def presentKeys: Array[String] = rows.map(_.partition_key).distinct.sorted
  lazy val rowsByKey: Map[String, Seq[String]] =
    rows.groupBy(_.partition_key).view
      .mapValues(_.map(_.canonical).toSeq.sorted).toMap
}

/** Order-independent fingerprint of a row multiset: row count, the sums
  * of the low and high 32-bit halves of each row's 64-bit hash, and the
  * number of cells still carrying TTL metadata. */
final case class Fingerprint(rows: Long, lo: Long, hi: Long, ttlCells: Long) {
  def json: String = s"""{"rows":$rows,"lo":$lo,"hi":$hi,"ttl":$ttlCells}"""
}

object Lakes {
  val Keyspace = "graft"
  val Table = "bench"
  /** Every writetime sits after 2023-11-14T22:13:20Z; TTLs stay under 30
    * days, so every local expiration second fits an Int. */
  val BaseUs: Long = 1700000000L * 1000000L
  /** Bumped whenever the generator changes, so a cached lake is never
    * reused across generator versions. */
  val Version = 5

  def canonical(pk: String, cl: Option[Seq[String]], kind: String,
      name: Option[String], value: Option[String], wt: Option[Long],
      ttl: Option[Int], expire: Option[Long], del: Option[Long],
      sstable: String): String =
    Seq(pk, cl.map(_.mkString("[", ",", "]")).getOrElse("-"), kind,
      name.getOrElse("-"), value.getOrElse("-"), wt.fold("-")(_.toString),
      ttl.fold("-")(_.toString), expire.fold("-")(_.toString),
      del.fold("-")(_.toString), sstable).mkString("|")

  /** splitmix64's finalizer: a bijection on 64-bit values, so distinct
    * ids always give distinct keys. */
  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def keyOf(seed: Long, id: Long): String =
    f"${mix(seed * 0x9E3779B97F4A7C15L + id)}%016x"

  private val Alnum =
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"

  private def text(rnd: java.util.Random, min: Int, max: Int): String = {
    val n = min + rnd.nextInt(max - min + 1)
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb += Alnum.charAt(rnd.nextInt(Alnum.length)); i += 1 }
    sb.result()
  }

  def sstableOf(gen: Int): String = s"$Table/nb-$gen-big-Data.db"

  private def cell(value: String, wt: Long, ttl: Option[Int]): GenCell =
    GenCell(Some(value), Some(wt), ttl, ttl.map(t => wt + t * 1000000L))

  private def ttlOf(rnd: java.util.Random, share: Double): Option[Int] =
    if (rnd.nextDouble() < share) Some(3600 + rnd.nextInt(29 * 86400))
    else None

  /** Narrow lake: `gens` generations of `partsPerGen` partitions each,
    * every key in exactly one generation. A partition holds one or two
    * clustering rows of one to three cells; half the cells carry a TTL;
    * 3% of rows carry a row deletion, 1% of partitions a partition
    * deletion and 1% a range-tombstone pair. */
  def narrowRows(seed: Long, gens: Int, partsPerGen: Int): Array[GenRow] = {
    val rnd = new java.util.Random(seed)
    val ids = Array.tabulate(gens * partsPerGen)(identity)
    for (i <- ids.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val out = ArrayBuffer.empty[GenRow]
    for (g <- 0 until gens; j <- 0 until partsPerGen) {
      val sst = sstableOf(g + 1)
      val pk = keyOf(seed, ids(g * partsPerGen + j).toLong)
      val wt0 = BaseUs + rnd.nextInt(1 << 30).toLong * 1000L
      if (rnd.nextDouble() < 0.01)
        out += GenRow(pk, None, "PARTITION_DELETION", None, None,
          Some(wt0 + 500), sst)
      for (r <- 0 until 1 + rnd.nextInt(2)) {
        val ck = Some(Seq(s"c$r"))
        if (rnd.nextDouble() < 0.03)
          out += GenRow(pk, ck, "ROW_DELETION", None, None,
            Some(wt0 + 100 + r), sst)
        for (c <- Seq("a", "b", "c").take(1 + rnd.nextInt(3))) {
          val wt = wt0 + 1000 + rnd.nextInt(1000000)
          out += GenRow(pk, ck, "ROW", Some(c),
            Some(cell(text(rnd, 8, 32), wt, ttlOf(rnd, 0.5))), None, sst)
        }
      }
      if (rnd.nextDouble() < 0.01) {
        val del = Some(wt0 + 200)
        out += GenRow(pk, Some(Seq("c0")), "RANGE_TOMBSTONE_BOUND",
          Some("start:inclusive"), None, del, sst)
        out += GenRow(pk, Some(Seq("c9")), "RANGE_TOMBSTONE_BOUND",
          Some("end:exclusive"), None, del, sst)
      }
    }
    out.toArray
  }

  /** Wide lake: `parts` partitions of `rowsPerPart` clustering rows with
    * two cells each, every cell written in one to three distinct
    * generations. Writetimes grow with the generation but overlap
    * between neighbours, and two versions never tie (each generation
    * owns one residue modulo `gens`). 2% of rows carry a row deletion,
    * 10% of partitions a partition deletion, and 40% of partitions one
    * or two disjoint range tombstones of at least 20 rows, each in one
    * generation (`rowsPerPart` must be at least 200). Returns the rows written and the rows a
    * last-write-wins merge leaves (TTL metadata gone, as the merge
    * strips it; one deletion per partition and row, the greatest). */
  def wideRows(seed: Long, gens: Int, parts: Int, rowsPerPart: Int)
      : (Array[GenRow], Array[GenRow]) = {
    val rnd = new java.util.Random(seed ^ 0x5DEECE66DL)
    def stamp(g: Int): Long =
      BaseUs + ((g.toLong * 100000L + rnd.nextInt(300000)) * gens + g)
    val in = ArrayBuffer.empty[GenRow]
    val merged = ArrayBuffer.empty[GenRow]
    for (p <- 0 until parts) {
      val pk = keyOf(seed, p.toLong)
      def ck(r: Int) = Some(Seq(f"r$r%05d"))
      val partDel =
        if (rnd.nextDouble() < 0.10) {
          val g = rnd.nextInt(gens); val d = stamp(g)
          in += GenRow(pk, None, "PARTITION_DELETION", None, None, Some(d),
            sstableOf(g + 1))
          merged += GenRow(pk, None, "PARTITION_DELETION", None, None,
            Some(d), "")
          d
        } else Long.MinValue
      // disjoint [start, end) ranges, one slot each
      val ranges =
        if (rnd.nextDouble() < 0.40) {
          val n = 1 + rnd.nextInt(2)
          val slot = rowsPerPart / n
          (0 until n).map { s =>
            val start = s * slot + rnd.nextInt(slot / 4)
            val end = start + 20 + rnd.nextInt(math.min(61, slot / 2))
            val g = rnd.nextInt(gens); val d = stamp(g)
            Seq(("start:inclusive", start), ("end:exclusive", end))
              .foreach { case (bound, r) =>
                in += GenRow(pk, ck(r), "RANGE_TOMBSTONE_BOUND", Some(bound),
                  None, Some(d), sstableOf(g + 1))
                merged += GenRow(pk, ck(r), "RANGE_TOMBSTONE_BOUND",
                  Some(bound), None, Some(d), "")
              }
            (start, end, d)
          }
        } else Nil
      for (r <- 0 until rowsPerPart) {
        val rowDel =
          if (rnd.nextDouble() < 0.02) {
            val g = rnd.nextInt(gens); val d = stamp(g)
            in += GenRow(pk, ck(r), "ROW_DELETION", None, None, Some(d),
              sstableOf(g + 1))
            merged += GenRow(pk, ck(r), "ROW_DELETION", None, None, Some(d),
              "")
            d
          } else Long.MinValue
        val shadow = (Seq(partDel, rowDel) ++ ranges.collect {
          case (s, e, d) if s <= r && r < e => d
        }).max
        for (c <- Seq("v", "w")) {
          val versionGens = rnd.ints(0, gens).distinct()
            .limit(1 + rnd.nextInt(3)).toArray
          val versions = versionGens.map { g =>
            val wt = stamp(g)
            val value = text(rnd, 48, 96)
            in += GenRow(pk, ck(r), "ROW", Some(c),
              Some(cell(value, wt, ttlOf(rnd, 0.3))), None, sstableOf(g + 1))
            (wt, value)
          }
          versions.filter(_._1 > shadow).maxOption.foreach { case (wt, v) =>
            merged += GenRow(pk, ck(r), "ROW", Some(c),
              Some(GenCell(Some(v), Some(wt), None, None)), None, "")
          }
        }
      }
    }
    (in.toArray, merged.toArray)
  }

  /** Fingerprints of `df` (a frame shaped like `readBinary`'s) grouped by
    * `sstable`, or under the single key "*" when `perSstable` is false.
    * TTL fields stay out of the row hash, so a stripped rewrite must
    * reproduce its input's fingerprint exactly. */
  def fingerprints(df: DataFrame, perSstable: Boolean)
      : Map[String, Fingerprint] = {
    val h = xxhash64(to_json(struct(col("partition_key"), col("clustering"),
      col("row_kind"), col("name"), col("cell.value").as("value"),
      col("cell.writetime_us").as("writetime_us"), col("deletion_us"))))
    val key = if (perSstable) col("sstable") else lit("*")
    df.select(key.as("k"), h.as("h"),
        (col("cell.ttl_s").isNotNull || col("cell.expire_us").isNotNull)
          .as("ttl"))
      .groupBy("k")
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xFFFFFFFFL)),
        sum(shiftright(col("h"), 32)), sum(when(col("ttl"), 1L)
          .otherwise(0L)))
      .collect()
      .map(r => r.getString(0) ->
        Fingerprint(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
  }

  def rowsFrame(spark: SparkSession, rows: Array[GenRow]): DataFrame = {
    import spark.implicits._
    spark.createDataset(rows.toSeq).toDF()
  }

  def sha256(f: File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(Files.readAllBytes(f.toPath))
    md.digest().map(b => f"$b%02x").mkString
  }

  def tableDir(root: File): File = new File(root, s"$Keyspace/$Table")

  /** The SSTable component files under `root` (the local file system's
    * hidden `.crc` side files are not components). */
  def files(root: File): Seq[File] =
    Option(tableDir(root).listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.isFile && !f.getName.startsWith(".")).sortBy(_.getName)

  def bytes(root: File): Long = files(root).map(_.length).sum

  def dataFiles(root: File): Seq[File] =
    files(root).filter(_.getName.endsWith("-Data.db"))

  /** Writes `rows` as one SSTable generation per `sstable` value. */
  def write(spark: SparkSession, rows: Array[GenRow], root: File,
      compression: Option[String], columnIndexSize: Int): Unit =
    SSTableBinaryV2.writeSSTables(rowsFrame(spark, rows), root.toString,
      Keyspace, Table, compression = compression,
      columnIndexSize = columnIndexSize,
      sources = Some(rows.map(_.sstable).distinct.toSeq))

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Uncompressed Data.db length of a generation. */
  def rawDataBytes(data: File): Long = {
    val info = new File(data.getPath.stripSuffix("-Data.db") +
      "-CompressionInfo.db")
    if (!info.exists) data.length
    else CompressedData.readMeta(Files.readAllBytes(info.toPath),
      hasMaxCompressedSize = true, info.getName).dataLength
  }
}
