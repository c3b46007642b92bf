package graft.perfbench

import java.io.File

import graft.RemoverCli
import graft.sources.SSTableBinaryV2
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** What one timed operation did, for its check and its metrics. */
final case class OpResult(seconds: Double, startMs: Long, endMs: Long,
    cpuS: Double, stealShare: Double, cells: Long, rowsOut: Long,
    ttlOut: Long, outBytes: Long, outFiles: Int, keysHit: Int,
    keysAsked: Int, error: Option[String])

/** One benchmark workload: a lake and an operation over it that is timed
  * and then checked. */
sealed trait Workload {
  def name: String
  def lake: Lake
  def facts: Facts
  /** Runs operation `i` (0 is the cold one), times only the call into
    * the library, checks the output outside the timed region. */
  def run(spark: SparkSession, i: Int): OpResult
  def inputBytes: Long = facts.long("component_bytes")
}

object Workload {
  /** Generation counts and sizes. Sized so that one warm job takes a few
    * seconds on four cores and a run fits the benchmark's time budget;
    * the per-job Spark overhead is part of what a CLI user pays, so it is
    * kept in, not tuned away. */
  def narrowGens(cores: Int): Int = math.max(8, 2 * cores)
  val NarrowPartsPerGen = 3000
  val WideParts = 64
  val WideRowsPerPart = 225
  /** Column-index block size of the wide input lake: small enough that
    * each input partition spans several index blocks. */
  val WideColumnIndexSize = 4 * 1024
  val LookupBatch = 64

  def apply(name: String, seed: Long, cores: Int, work: File)
      (implicit spark: SparkSession): Workload = {
    val gens = narrowGens(cores)
    name match {
      case "rewrite_lz4" =>
        val (lake, facts) = Prepare.narrow(seed, gens, work)
        new Rewrite(lake, facts, cores, work)
      case "compact_wide" =>
        val (lake, facts) = Prepare.wide(seed, gens, work)
        new Compact(lake, facts, cores, work)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (expected rewrite_lz4 or compact_wide)")
    }
  }

  def cliArgs(argv: String*): RemoverCli.CliArgs =
    RemoverCli.parse(argv.toArray).fold(
      e => throw new IllegalArgumentException(e), identity)

  private[perfbench] def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this JVM so far, all threads. */
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  /** Host CPU ticks: (all, stolen by the hypervisor). */
  private def ticks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } finally src.close()
  }

  /** What `body` took. */
  final case class Span(seconds: Double, startMs: Long, endMs: Long,
      cpuS: Double, stealShare: Double)

  /** `body` timed: wall time, its wall-clock interval in milliseconds
    * (the clock Spark's listener events use), this process's CPU time,
    * and the share of the host's CPU time stolen meanwhile. */
  private[perfbench] def span[A](body: => A): (A, Span) = {
    val start = System.currentTimeMillis()
    val cpu0 = cpuSeconds
    val (all0, steal0) = ticks()
    val (a, s) = timed(body)
    val (all1, steal1) = ticks()
    (a, Span(s, start, System.currentTimeMillis(), cpuSeconds - cpu0,
      if (all1 == all0) 0.0 else (steal1 - steal0).toDouble / (all1 - all0)))
  }
}

/** A remover job: `RemoverCli.run` from the lake into a fresh output
  * directory. The first output is checked by re-reading it with
  * `readBinary`; a later output whose files are byte-identical to a
  * checked one needs no re-read (the job is deterministic), and any other
  * is re-read and checked in full. */
sealed abstract class RemoverJob(work: File) extends Workload {
  def args(out: File): RemoverCli.CliArgs
  /** The output's fingerprints (grouped as the check needs them), and
    * the reason the output is wrong, if it is. */
  def check(spark: SparkSession, out: File)
      : (Map[String, Fingerprint], Option[String])
  def cellsRead: Long = facts.long("cells")

  /** File digests of an output that passed the full check, and its
    * TTL-cell count. */
  private var checked: Option[(Map[String, String], Long)] = None
  var fullChecks = 0

  def run(spark: SparkSession, i: Int): OpResult = {
    val out = new File(work, s"out/$name-$i")
    Lakes.deleteTree(out)
    val a = args(out)
    val (rows, sp) = Workload.span(RemoverCli.run(spark, a))
    val files = Lakes.files(out)
    val bytes = files.map(_.length).sum
    val digests = files.map(f => f.getName -> Lakes.sha256(f)).toMap
    val (ttlOut, err) = checked match {
      case Some((d, ttl)) if d == digests => (ttl, None)
      case _ =>
        fullChecks += 1
        try {
          val (got, err) = check(spark, out)
          val ttl = got.values.map(_.ttlCells).sum
          if (err.isEmpty) checked = Some((digests, ttl))
          (ttl, err)
        } catch {
          case e: Exception => (0L, Some(s"output check failed: $e"))
        }
    }
    Lakes.deleteTree(out)
    OpResult(sp.seconds, sp.startMs, sp.endMs, sp.cpuS, sp.stealShare,
      cellsRead, rows, ttlOut, bytes, files.size, 0, 0, err)
  }
}

/** `--format sstable --sink sstable --compress lz4`: the paper's
  * rewrite, one output generation per input generation. */
final class Rewrite(val lake: Lake, val facts: Facts, cores: Int,
    work: File) extends RemoverJob(work) {
  val name = "rewrite_lz4"
  def args(out: File): RemoverCli.CliArgs = Workload.cliArgs(
    "--in", lake.dir.toString, "--out", out.toString,
    "--table", Lakes.Table, "--keyspace", Lakes.Keyspace,
    "--cpus", cores.toString, "--format", "sstable", "--sink", "sstable",
    "--compress", "lz4")

  /** Per generation, the output holds exactly the input's rows (value,
    * writetime and every tombstone), and no cell keeps TTL metadata. */
  def check(spark: SparkSession, out: File)
      : (Map[String, Fingerprint], Option[String]) = {
    val got = Lakes.fingerprints(
      SSTableBinaryV2.readBinary(spark, out.toString), perSstable = true)
    val want = facts.fingerprints
    val ttl = got.values.map(_.ttlCells).sum
    (got,
      if (got.keySet != want.keySet)
        Some(s"output generations ${got.keySet.toSeq.sorted} != input " +
          s"${want.keySet.toSeq.sorted}")
      else if (ttl != 0) Some(s"$ttl cells still carry TTL metadata")
      else want.collectFirst {
        case (sst, fp) if got(sst).copy(ttlCells = fp.ttlCells) != fp =>
          s"$sst: rows differ from the input (${got(sst).json} vs ${fp.json})"
      })
  }
}

/** `--merge lww --out-generations <cores>`, uncompressed: a major
  * compaction of overlapping generations. */
final class Compact(val lake: Lake, val facts: Facts, cores: Int,
    work: File) extends RemoverJob(work) {
  val name = "compact_wide"
  def args(out: File): RemoverCli.CliArgs = Workload.cliArgs(
    "--in", lake.dir.toString, "--out", out.toString,
    "--table", Lakes.Table, "--keyspace", Lakes.Keyspace,
    "--cpus", cores.toString, "--format", "sstable", "--sink", "sstable",
    "--merge", "lww", "--out-generations", cores.toString)

  /** The output holds exactly the generator's last-write-wins survivors
    * and deletion markers, spread over `cores` generations. */
  def check(spark: SparkSession, out: File)
      : (Map[String, Fingerprint], Option[String]) = {
    val gens = Lakes.dataFiles(out).size
    val got = Lakes.fingerprints(
      SSTableBinaryV2.readBinary(spark, out.toString), perSstable = false)
    val want = facts.mergeFingerprint
    (got,
      if (gens != cores) Some(s"$gens output generations, expected $cores")
      else if (!got.get("*").contains(want))
        Some(s"merged rows differ from the expected winners " +
          s"(${got.get("*").map(_.json)} vs ${want.json})")
      else None)
  }
}

/** Point lookups against the rewrite's input lake:
  * `readBinary(lake).filter(partition_key IN batch).collect()`, half the
  * keys present and half absent. Run inside the rewrite_lz4 traced run
  * (the bloom, summary, index and chunk read path with no strip,
  * exchange or sink). */
final class Lookup(lake: Lake) {
  private val present = lake.presentKeys

  def batch(i: Int): Seq[String] = {
    val rnd = new java.util.Random(lake.seed * 1000003L + i)
    val half = Workload.LookupBatch / 2
    (Seq.fill(half)(present(rnd.nextInt(present.length))) ++
      Seq.fill(half)(lake.absentKeys(rnd.nextInt(lake.absentKeys.length))))
      .distinct
  }

  def run(spark: SparkSession, i: Int): OpResult = {
    val keys = batch(i)
    val df = SSTableBinaryV2.readBinary(spark, lake.dir.toString)
      .filter(col("partition_key").isin(keys: _*))
    val (rows, sp) = Workload.span(df.collect())
    val got = rows.toSeq.map { r =>
      val c = Option(r.getStruct(4))
      def opt[A](row: org.apache.spark.sql.Row, i: Int): Option[A] =
        if (row == null || row.isNullAt(i)) None else Some(row.getAs[A](i))
      r.getString(0) -> Lakes.canonical(r.getString(0),
        Option(r.getSeq[String](1)), r.getString(2), opt[String](r, 3),
        c.flatMap(opt[String](_, 0)), c.flatMap(opt[Long](_, 1)),
        c.flatMap(opt[Int](_, 2)), c.flatMap(opt[Long](_, 3)),
        opt[Long](r, 5), r.getString(6))
    }.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val wrong = keys.find(k =>
      got.getOrElse(k, Nil) != lake.rowsByKey.getOrElse(k, Nil))
    val stray = got.keySet.diff(keys.toSet)
    val err = wrong.map(k => s"key $k: got ${got.getOrElse(k, Nil).size} " +
      s"rows, expected ${lake.rowsByKey.getOrElse(k, Nil).size}")
      .orElse(stray.headOption.map(k => s"key $k was not asked for"))
    val cells = rows.count(_.getString(2) == "ROW").toLong
    OpResult(sp.seconds, sp.startMs, sp.endMs, sp.cpuS, sp.stealShare,
      cells, rows.length.toLong, 0L, 0L, 0, keys.count(got.contains),
      keys.size, err)
  }
}
