package graft.perfbench

import java.io.{ByteArrayInputStream, File, InputStream}
import java.nio.file.Files

import graft.model.CellModel
import graft.sources.{BigFormat, CompressedData, KeyCardinality, SSTableBinaryV2, SSTableComponents}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The traced run. End-to-end numbers come from the untraced run; this
  * one attributes an operation's time to the library's layers:
  *
  *   1. one cold operation, the untimed warm-up ones of the untraced run,
  *      then warm operations alternately untraced
  *      (the baseline the tracing overhead is measured against) and
  *      traced: a [[SpanListener]] records job and stage
  *      spans with task-metric sums, and the DSv2 scan metrics of each
  *      executed plan. Stages are named by what they run: a stage that
  *      reads the lake is the scan (`sources.SSTableBinaryV2`), one that
  *      runs `MapGroups` is the sink, one that runs `Window` is the
  *      last-write-wins merge (`ops.TtlOps`). What no stage covers is
  *      driver time and commit (`RemoverCli.unattributed_s`);
  *   2. each codec layer timed alone, single-threaded, on the workload's
  *      lake: decompress, decode, encode, compress, components, sketch;
  *   3. for rewrite_lz4 only: point-lookup batches against its lake
  *      ([[Lookup]]), the TTL strip's share of the scan (the increment of
  *      a scan-and-strip job over a scan-only job), and the job at
  *      local[1] and local[2].
  * A layer the workload does not run reports 0.
  */
object Trace {
  type Traced = (OpResult, (Seq[JobSpan], Seq[StageSpan], Map[String, Long]))
  /** Untraced and traced warm operations, alternating. */
  val Pairs = 3
  val LookupBatches = 5
  val TracedLookups = 2

  def run(w: Workload, cores: Int, work: File)
      (implicit spark: SparkSession): Boolean = {
    val m = scala.collection.mutable.LinkedHashMap
      .empty[String, (Double, String)]
    def put(kv: (String, (Double, String))): Unit = m += kv
    val rewrite = w.isInstanceOf[Rewrite]
    val listener = new SpanListener
    def traced(op: => OpResult): Traced = {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(listener)
      try {
        val r = op
        listener.drain(spark)
        (r, listener.take())
      } finally {
        spark.listenerManager.unregister(listener)
        spark.sparkContext.removeSparkListener(listener)
      }
    }
    val first = w.run(spark, 0)
    val warmUp = (1 to Main.WarmUpOps).map(i => w.run(spark, i))
    val pairs = (1 to Pairs).map(i => (w.run(spark, 10 + 2 * i),
      traced(w.run(spark, 11 + 2 * i))))
    val (untraced, ops) = (pairs.map(_._1), pairs.map(_._2))
    val lookup = if (rewrite) Some(new Lookup(w.lake)) else None
    // one warm-up batch fills the component cache
    val lookups = lookup.toSeq.flatMap(l =>
      (0 to LookupBatches).map(i => l.run(spark, i)))
    val tracedLookups = lookup.toSeq.flatMap(l =>
      (1 to TracedLookups).map(i => traced(l.run(spark, LookupBatches + i))))

    val stripS = if (rewrite) stripIncrement(w) else 0.0
    opLayers(w, ops, cores, stripS).foreach(put)
    put("model.CellModel.strip_s" -> (stripS, "s"))
    lookupLayers(w, lookups.drop(1), tracedLookups).foreach(put)
    codecLayers(w, work).foreach(put)
    val untracedS = Out.median(untraced.map(_.seconds))
    put("trace.untraced_job_s" -> (untracedS, "s"))
    put("trace.overhead_s" ->
      (Out.median(ops.map(_._1.seconds)) - untracedS, "s"))

    val scaled = if (rewrite) scaling(w, work) else Nil
    def at(c: Int) = scaled.find(_._1 == c).fold(0.0)(_._2)
    put("scaling.job_s_local1" -> (at(1), "s"))
    put("scaling.job_s_local2" -> (at(2), "s"))
    put("scaling.speedup_localN" ->
      (if (rewrite) at(1) / untracedS else 0.0, "ratio"))

    val all = first +: (warmUp ++ untraced ++ lookups ++ ops.map(_._1) ++
      tracedLookups.map(_._1) ++ scaled.flatMap(_._3))
    put("bench.error_rate" ->
      (all.count(_.error.nonEmpty).toDouble / all.size, "ratio"))
    m.foreach { case (k, (v, u)) => Out.metric(k, v, u) }
    Out.result(all)
  }

  /** DSv2 scan metrics of the lake's scans in `traced`, summed. */
  private def scanMetrics(w: Workload, traced: Seq[Traced])
      : String => Double = {
    val lakePath = w.lake.dir.toString + "|"
    val sums = traced.flatMap(_._2._3.toSeq)
      .filter(_._1.startsWith(lakePath))
      .groupMapReduce(_._1.stripPrefix(lakePath))(_._2)(_ + _)
    k => sums.getOrElse(k, 0L).toDouble
  }

  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** Per-layer numbers of the traced remover jobs, medians over them. */
  private def opLayers(w: Workload, traced: Seq[Traced], cores: Int,
      stripS: Double): Seq[(String, (Double, String))] = {
    val per = traced.map { case (r, (jobs0, stages0, _)) =>
      val jobs = jobs0.filter(j => j.startMs >= r.startMs && j.startMs <= r.endMs)
      val ids = jobs.map(_.jobId).toSet
      val stages = stages0.filter(s => ids(s.jobId))
      def union(ss: Seq[StageSpan]) =
        SpanListener.union(ss.map(s => (s.startMs, s.endMs))) / 1e3
      val scan = stages.filter(_.isScan)
      val sink = stages.filter(_.isSink)
      val merge = stages.filter(_.isMerge)
      val sinkTasks = sink.flatMap(_.taskMs).map(_.toDouble)
      val scanS = union(scan) - stripS
      val sinkS = union(sink)
      val mergeS = union(merge)
      val scanRows = scan.map(_.recordsRead).sum
      val cpuS = stages.map(_.cpuNs).sum / 1e9
      Seq(
        "sources.SSTableBinaryV2.scan_s" -> (scanS, "s"),
        "sources.SSTableBinaryV2.scan_rows" -> (scanRows.toDouble, "count"),
        "sources.SSTableBinaryV2.scan_input_mb" ->
          (scan.map(_.bytesRead).sum / 1e6, "MB"),
        "sources.SSTableBinaryV2.scan_passes" ->
          (scanRows.toDouble / w.facts.long("rows"), "count"),
        "sources.SSTableBinaryV2.sink_s" -> (sinkS, "s"),
        "sources.SSTableBinaryV2.sink_tasks" ->
          (sink.map(_.tasks).sum.toDouble, "count"),
        "sources.SSTableBinaryV2.sink_skew" -> (if (sinkTasks.isEmpty) 0.0
          else sinkTasks.max / Out.median(sinkTasks), "ratio"),
        "sources.SSTableBinaryV2.sink_out_mb" -> (r.outBytes / 1e6, "MB"),
        "sources.SSTableBinaryV2.sink_files" -> (r.outFiles.toDouble, "count"),
        "sources.SSTableBinaryV2.sink_share" -> (sinkS / r.seconds, "ratio"),
        "ops.TtlOps.merge_s" -> (mergeS, "s"),
        "RemoverCli.job_s" -> (r.seconds, "s"),
        "RemoverCli.unattributed_s" ->
          (r.seconds - scanS - stripS - mergeS - sinkS, "s"),
        "RemoverCli.space_amp" -> (r.outBytes.toDouble / w.inputBytes,
          "ratio"),
        "spark.jobs" -> (jobs.size.toDouble, "count"),
        "spark.stages" -> (stages.size.toDouble, "count"),
        "spark.tasks" -> (stages.map(_.tasks).sum.toDouble, "count"),
        "spark.driver_gap_s" -> (r.seconds -
          SpanListener.union(jobs.map(j => (j.startMs, j.endMs))) / 1e3, "s"),
        "spark.executor_run_s" -> (stages.map(_.runMs).sum / 1e3, "s"),
        "spark.executor_cpu_s" -> (cpuS, "s"),
        "spark.cpu_util" -> (cpuS / (r.seconds * cores), "ratio"),
        "spark.gc_s" -> (stages.map(_.gcMs).sum / 1e3, "s"),
        "spark.shuffle_write_mb" ->
          (stages.map(_.shuffleWriteBytes).sum / 1e6, "MB"),
        "spark.shuffle_read_mb" ->
          (stages.map(_.shuffleReadBytes).sum / 1e6, "MB"),
        "spark.spill_mb" -> (stages.map(_.spillBytes).sum / 1e6, "MB"))
    }
    val medians = per.head.map { case (k, (_, unit)) =>
      k -> (Out.median(per.map(_.toMap.apply(k)._1)), unit)
    }
    val sm = scanMetrics(w, traced)
    val hits = sm(SSTableBinaryV2.MetricComponentCacheHits)
    val misses = sm(SSTableBinaryV2.MetricComponentCacheMisses)
    val merges = w.isInstanceOf[Compact]
    val rowsIn = w.facts.long("rows").toDouble
    val rowsOut = Out.median(traced.map(_._1.rowsOut.toDouble))
    medians ++ Seq(
      "sources.SSTableBinaryV2.partitionsServed" ->
        (sm(SSTableBinaryV2.MetricPartitionsServed) / traced.size, "count"),
      "sources.SSTableBinaryV2.componentCacheHits" ->
        (hits / traced.size, "count"),
      "sources.SSTableBinaryV2.componentCacheMisses" ->
        (misses / traced.size, "count"),
      "sources.SSTableBinaryV2.cache_hit_ratio" ->
        (ratio(hits, hits + misses), "ratio"),
      "model.CellModel.ttl_cells_in" ->
        (w.facts.long("ttl_cells").toDouble, "count"),
      "model.CellModel.ttl_cells_out" ->
        (traced.map(_._1.ttlOut).max.toDouble, "count"),
      "ops.TtlOps.merge_rows_in" -> (if (merges) rowsIn else 0.0, "count"),
      "ops.TtlOps.merge_rows_out" -> (if (merges) rowsOut else 0.0, "count"),
      "ops.TtlOps.merge_survival" ->
        (if (merges) rowsOut / rowsIn else 0.0, "ratio"))
  }

  /** The lookup batches: latency of the untraced ones, and the read
    * path's DSv2 metrics of the traced ones (per batch). */
  private def lookupLayers(w: Workload, untraced: Seq[OpResult],
      traced: Seq[Traced]): Seq[(String, (Double, String))] = {
    val sm = scanMetrics(w, traced)
    val n = math.max(1, traced.size).toDouble
    val hits = sm(SSTableBinaryV2.MetricComponentCacheHits)
    val misses = sm(SSTableBinaryV2.MetricComponentCacheMisses)
    val asked = traced.map(_._1.keysAsked).sum.toDouble
    val hitKeys = traced.map(_._1.keysHit).sum.toDouble
    Seq(
      "lookup.p50_ms" -> (if (untraced.isEmpty) 0.0
        else Out.median(untraced.map(_.seconds * 1000)), "ms"),
      "lookup.partitionsServed" ->
        (sm(SSTableBinaryV2.MetricPartitionsServed) / n, "count"),
      "lookup.filesSkippedBloom" ->
        (sm(SSTableBinaryV2.MetricFilesSkippedBloom) / n, "count"),
      "lookup.bloom_skip_ratio" -> (ratio(
        sm(SSTableBinaryV2.MetricFilesSkippedBloom),
        sm("scans") * w.lake.generations), "ratio"),
      "lookup.componentCacheHits" -> (hits / n, "count"),
      "lookup.componentCacheMisses" -> (misses / n, "count"),
      "lookup.cache_hit_ratio" -> (ratio(hits, hits + misses), "ratio"),
      "lookup.keys_asked" -> (asked / n, "count"),
      "lookup.keys_hit" -> (hitKeys / n, "count"),
      "lookup.hit_ratio" -> (ratio(hitKeys, asked), "ratio"))
  }

  /** Wall time the strip adds to a full scan: the median of scan-and-strip
    * jobs minus the median of scan-only jobs, both written to Spark's
    * no-op sink, alternating. Floored at 0. */
  private def stripIncrement(w: Workload)(implicit spark: SparkSession)
      : Double = {
    def job(strip: Boolean): Double = {
      val df = SSTableBinaryV2.readBinary(spark, w.lake.dir.toString)
      val out = if (strip)
        df.withColumn("cell", CellModel.stripCellKeepDeletion(col("cell")))
      else df
      Workload.timed(out.write.format("noop").mode("overwrite").save())._2
    }
    job(false); job(true)
    val pairs = (0 until 2).map(_ => (job(false), job(true)))
    math.max(0.0, Out.median(pairs.map(_._2)) - Out.median(pairs.map(_._1)))
  }

  private final case class Gen(file: String, onDisk: Array[Byte],
      raw: Array[Byte], meta: Option[CompressedData.Meta],
      header: BigFormat.Header)

  private def readAll(in: InputStream): Long = {
    val buf = new Array[Byte](64 * 1024)
    var n = 0L; var k = in.read(buf)
    while (k >= 0) { n += k; k = in.read(buf) }
    n
  }

  /** Codec layers timed alone, single-threaded, over every generation of
    * the lake: the median of three passes after a warm-up pass. */
  private def codecLayers(w: Workload, work: File)
      : Seq[(String, (Double, String))] = {
    val gens = Lakes.dataFiles(w.lake.dir).map { f =>
      val base = f.getPath.stripSuffix("-Data.db")
      val onDisk = Files.readAllBytes(f.toPath)
      val info = new File(base + "-CompressionInfo.db")
      val meta = if (info.exists) Some(CompressedData.readMeta(
        Files.readAllBytes(info.toPath), hasMaxCompressedSize = true,
        info.getName)) else None
      val raw = meta.fold(onDisk)(m => {
        val in = CompressedData.decompressingStream(
          new ByteArrayInputStream(onDisk), onDisk.length, m, f.getName)
        in.readAllBytes()
      })
      Gen(f.getName, onDisk, raw, meta, BigFormat.readStats(
        Files.readAllBytes(new File(base + "-Statistics.db").toPath)))
    }
    def time(body: => Unit): Double = {
      body
      Out.median((0 until 3).map(_ => Workload.timed(body)._2))
    }
    val rawMb = gens.map(_.raw.length).sum / 1e6
    val decoded = gens.map(g => g -> BigFormat.partitions(g.header,
      new ByteArrayInputStream(g.raw), g.file).toVector)
    val cells = decoded.map(_._2.map(_.atoms.map {
      case r: BigFormat.RowAtom => r.cells.size
      case _ => 0
    }.sum).sum).sum
    val encoded = decoded.map { case (g, parts) =>
      g -> BigFormat.writeDataFileIndexed(parts, g.header)
    }
    val compressed = gens.exists(_.meta.nonEmpty)
    val decompressS = if (!compressed) 0.0 else time(gens.foreach(g =>
      readAll(CompressedData.decompressingStream(
        new ByteArrayInputStream(g.onDisk), g.onDisk.length, g.meta.get,
        g.file))))
    val decodeS = time(gens.foreach(g => BigFormat.partitions(g.header,
      new ByteArrayInputStream(g.raw), g.file).foreach(_ => ())))
    val encodeS = time(decoded.foreach {
      case (g, parts) => BigFormat.writeDataFileIndexed(parts, g.header)
    })
    val compressS = if (!compressed) 0.0
      else time(gens.foreach(g => CompressedData.compress(g.raw,
        SSTableComponents.ChunkLength, CompressedData.Lz4)))
    val tmp = new File(work, "tmp/components")
    val componentsS = time {
      Lakes.deleteTree(tmp); tmp.mkdirs()
      encoded.foreach { case (g, (data, index)) =>
        SSTableComponents.buildAll(data, index, g.header).foreach {
          case (c, bytes) => Files.write(new File(tmp, s"${g.file}-$c")
            .toPath, bytes)
        }
      }
    }
    Lakes.deleteTree(tmp)
    val sketchS = time(encoded.foreach {
      case (_, (_, index)) => KeyCardinality.sketchOf(index.iterator.map(_._1))
    })
    def rate(mb: Double, s: Double) = if (s == 0) 0.0 else mb / s
    Seq(
      "sources.CompressedData.decompress_mb_s" -> (rate(rawMb, decompressS),
        "MB/s"),
      "sources.BigFormat.decode_s" -> (decodeS, "s"),
      "sources.BigFormat.decode_mb_s" -> (rate(rawMb, decodeS), "MB/s"),
      "sources.BigFormat.decode_cells_s" -> (rate(cells, decodeS), "1/s"),
      "sources.BigFormat.encode_s" -> (encodeS, "s"),
      "sources.BigFormat.encode_mb_s" -> (rate(rawMb, encodeS), "MB/s"),
      "sources.CompressedData.compress_mb_s" -> (rate(rawMb, compressS),
        "MB/s"),
      "sources.SSTableComponents.components_write_s" -> (componentsS, "s"),
      "sources.SSTableComponents.index_bytes" ->
        (w.facts.long("index_bytes").toDouble, "B"),
      "sources.SSTableComponents.filter_bytes" ->
        (w.facts.long("filter_bytes").toDouble, "B"),
      "sources.SSTableComponents.summary_bytes" ->
        (w.facts.long("summary_bytes").toDouble, "B"),
      "sources.KeyCardinality.sketch_s" -> (sketchS, "s"))
  }

  /** The rewrite at local[1] and local[2]: a fresh session each, one
    * warm-up job, then one timed. */
  private def scaling(w: Workload, work: File)
      : Seq[(Int, Double, Seq[OpResult])] =
    Seq(1, 2).map { c =>
      implicit val s: SparkSession = Main.session(c, work)
      val job = new Rewrite(w.lake, w.facts, c, work)
      val rs = (0 until 2).map(i => job.run(s, 1000 * c + i))
      (c, rs.last.seconds, rs)
    }
}
