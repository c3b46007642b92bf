package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` starts it, reads the
  * `@`-prefixed lines it prints on stdout, and assembles the report.
  *
  * Modes (`--mode`):
  *   - `prepare`: generate (or verify) both lakes of the seed;
  *   - `run`:     one cold operation, [[WarmUpOps]] untimed ones, then
  *                warm operations in a closed loop (one client) until
  *                `--seconds` of them are timed;
  *   - `trace`:   the traced run of [[Trace]] (per-layer metrics).
  * Every mode prints `@READY` with the JVM's CPU time so far once the
  * Spark session is up (where the runner also stops its wall clock), then
  * the facts of the workload's lake (`@FACT`).
  */
object Main {
  /** Warm operations at least, so that a median exists. */
  val MinOps = 3
  /** Untimed (but checked) operations after the cold one: the JIT keeps
    * compiling through the first warm jobs, and a user pays that once per
    * JVM, which `first_run_s` already counts. */
  val WarmUpOps = 2
  /** Wall-clock cap on the measured loop, so a run ends within its
    * budget. */
  val WallCapS = 60.0

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val mode = opts("mode")
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val cores = opts("cores").toInt
    val work = new File(opts("work")).getAbsoluteFile
    implicit val spark: SparkSession = session(cores, work)
    Out.line(s"@READY ${Workload.cpuSeconds}")
    val ok = try {
      if (mode == "prepare") {
        // both lakes of the seed at once: one JVM start instead of two
        Prepare.narrow(seed, Workload.narrowGens(cores), work)
        Prepare.wide(seed, Workload.narrowGens(cores), work)
      }
      val w = Workload(name, seed, cores, work)
      w.facts.entries.filterNot(e => e._1.startsWith("sha.") ||
        e._1.startsWith("fp")).foreach { case (k, v) =>
        Out.line(s"@FACT $k $v")
      }
      mode match {
        case "prepare" => true
        case "run" => measure(w, seconds)
        case "trace" => Trace.run(w, cores, work)
      }
    } catch {
      case e: Throwable =>
        Out.line(s"@ERROR ${e.toString.replace('\n', ' ')}")
        e.printStackTrace()
        false
    } finally spark.stop()
    sys.exit(if (ok) 0 else 1)
  }

  /** The session every `RemoverCli` invocation builds, with Spark's
    * scratch space kept under the work directory. */
  def session(cores: Int, work: File): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One cold operation, then the closed loop. */
  def measure(w: Workload, seconds: Double)
      (implicit spark: SparkSession): Boolean = {
    val first = w.run(spark, 0)
    Out.line(s"@FIRST ${first.seconds}")
    Out.metric("first_run_cpu_s", first.cpuS, "s")
    val warmUp = (1 to WarmUpOps).map(i => w.run(spark, i))
    val warm = loop(w, seconds, 1 + WarmUpOps)
    Out.line(s"@OPS ${warm.map(_.seconds).mkString(" ")}")
    Out.line(s"@OPS_CPU ${warm.map(_.cpuS).mkString(" ")}")
    Out.line(s"@OPS_STEAL ${warm.map(_.stealShare).mkString(" ")}")
    Out.metrics(w, warm)
    w match {
      case j: RemoverJob => Out.metric("output_full_checks", j.fullChecks,
        "count")
    }
    Out.result(first +: (warmUp ++ warm))
  }

  /** Warm operations `from`, `from + 1`, ... until `seconds` of them are
    * timed and at least [[MinOps]] ran, or [[WallCapS]] passed. */
  def loop(w: Workload, seconds: Double, from: Int)
      (implicit spark: SparkSession): Seq[OpResult] = {
    val t0 = System.nanoTime()
    val out = ArrayBuffer.empty[OpResult]
    while ((out.map(_.seconds).sum < seconds || out.size < MinOps) &&
      (System.nanoTime() - t0) / 1e9 < WallCapS)
      out += w.run(spark, from + out.size)
    out.toSeq
  }
}

object Out {
  def line(s: String): Unit = { println(s); System.out.flush() }

  def metric(name: String, value: Double, unit: String): Unit =
    line(s"@METRIC $name $value $unit")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** VmHWM of this process, in MiB. */
  def peakRssMiB: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN) finally src.close()
  }

  /** Metrics of the warm operations. `job_cpu_s` is this JVM's CPU time
    * (every thread) per job; `job_s` and the throughputs are wall-clock.
    * On a host whose hypervisor steals CPU in bursts, wall time moves
    * with the steal (`steal_share`: stolen share of all host CPU time
    * during the jobs) far more than CPU time does. */
  def metrics(w: Workload, warm: Seq[OpResult]): Unit = {
    val jobS = median(warm.map(_.seconds))
    metric("job_s", jobS, "s")
    metric("job_cpu_s", median(warm.map(_.cpuS)), "s")
    metric("steal_share", median(warm.map(_.stealShare)), "ratio")
    metric("input_mb_s", w.inputBytes / 1e6 / jobS, "MB/s")
    metric("cells_s", median(warm.map(r => r.cells / r.seconds)), "1/s")
    metric("peak_rss_mb", peakRssMiB, "MiB")
    metric("ops", warm.size, "count")
    metric("space_amp",
      median(warm.map(_.outBytes.toDouble)) / w.inputBytes, "ratio")
  }

  /** Prints the attempted/failed tally and every failure; false if any
    * operation was wrong. */
  def result(rs: Seq[OpResult]): Boolean = {
    val failed = rs.count(_.error.nonEmpty)
    rs.flatMap(_.error).distinct.take(5).foreach(e =>
      line(s"@WRONG ${e.replace('\n', ' ')}"))
    line(s"@RESULT ${rs.size} $failed")
    failed == 0
  }
}
