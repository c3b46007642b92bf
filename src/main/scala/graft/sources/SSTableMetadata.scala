package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.util.SerializableConfiguration

/** `sstablemetadata`'s role re-expressed for a lake: one inventory row
  * per generation, read from SIDECARS ONLY — Data.db is never opened,
  * so a 100 TB table inventories at the cost of its metadata (~1-2%
  * of bytes, and only the index among those). Every sidecar tool here
  * (the inventory and its stats panel, key counts, token-range
  * estimates, expired blockers, summary redistribution, metadata
  * surgery) runs one job shape, [[Lake]]: the driver lists the lake
  * ONCE, through the walk the connector's planner lists with
  * ([[SSTableBinaryV2.lakeGenerations]], catalog-sized), and one task
  * wave hands each task a [[Generation]]; every component read happens
  * executor-side.
  *
  * Columns and their sources:
  *   - `sstable`         dir/name, the connector frames' identity
  *   - `n_partitions`    EXACT key count — streamed Index.db entry
  *                       count (modern vint framing or the fixed-width
  *                       2.x form); NULL when no index sidecar exists.
  *                       (Summary.db stores only ceil(n/interval) —
  *                       Cassandra itself can only estimate from it.)
  *   - `min_writetime_us` / `min_ttl_s`  the Statistics.db header
  *                       minima (EncodingStats — what the reference's
  *                       sstablemetadata prints). Pre-3.0 files carry
  *                       no serialization header, but their 2.x
  *                       StatsMetadata records min/max timestamps
  *                       (`NoTTLReader.java:1937-1945`), so ka/la
  *                       generations report `min_writetime_us` from
  *                       it; `min_ttl_s` stays NULL — EncodingStats'
  *                       TTL minimum is a 3.0 invention
  *   - `compressor`      CompressionInfo.db's declared algorithm, or
  *                       NULL for uncompressed generations
  *   - `n_components`    sibling files in the generation (TOC's role,
  *                       counted from the listing — no TOC read)
  */
object SSTableMetadata {

  final case class GenerationMeta(
      sstable: String,
      n_partitions: Option[Long],
      min_writetime_us: Option[Long],
      min_ttl_s: Option[Int],
      compressor: Option[String],
      n_components: Int,
      /** Rendered Summary.db first/last keys — the generation's token
        * span endpoints, the values the reader's file-level range
        * elision compares. NULL without a summary, or when the key
        * type is unknown (2.x files carry no header to render by). */
      first_key: Option[String] = None,
      last_key: Option[String] = None,
      /** Summary's own size-at-full-sampling estimate × interval — an
        * O(1) partition-count BOUND read without touching Index.db
        * (what Cassandra itself estimates from); exact count is
        * `n_partitions`. */
      est_keys_max: Option[Long] = None,
      /** The HLL++ key-count sketch's estimate, deserialized from the
        * Statistics.db COMPACTION component ([[KeyCardinality]]) — the
        * reference's PRIMARY per-file estimate
        * (`NoTTLReader.getApproximateKeyCount`,
        * `NoTTLReader.java:152-216`) and the ONLY count left standing
        * when Index.db is lost. NULL when the component is absent
        * (CASSANDRA-10676 lakes) or unparseable. */
      est_keys_hll: Option[Long] = None,
      /** The 2.x CompactionMetadata ancestor list (`getAncestors`,
        * `NoTTLReader.java:1947-1958`) as a comma-joined string —
        * the compacted-from lineage `sstablemetadata` prints on
        * pre-3.0 files. NULL on the modern era (3.0 dropped the
        * field) and on sketchless/corrupt components; an empty
        * string is a REAL value (a never-compacted file). */
      ancestors: Option[String] = None,
      /** The VALIDATION component's declared ring (partitioner FQCN)
        * and bloom-filter FP chance — what open-time validation
        * compares (`SSTableReader.open` refuses a mismatch; the C2
        * fork keeps the check, `NoTTLReader.java:357-408`). NULL
        * when the component is absent. */
      partitioner: Option[String] = None,
      bloom_fp_chance: Option[Double] = None,
      /** Clustering-value bounds, both eras: the modern STATS
        * min/maxClusteringValues rendered under the header's
        * declared types, or 2.1's min/maxColumnNames (no header to
        * render by — UTF-8 carry). NULL when the file declares
        * none. */
      min_clustering: Option[String] = None,
      max_clustering: Option[String] = None)

  /** One generation as a sidecar task sees it: its Data.db `path`, the
    * listed `components` (Data.db included), the `sstable` identity, the
    * format `version` and its era. Built executor-side; reads go through
    * [[readAll]]. */
  private[sources] final class Generation(val path: String,
      val components: Seq[String],
      val conf: org.apache.hadoop.conf.Configuration) {
    val fs: FileSystem = FileSystem.get(java.net.URI.create(path), conf)
    val version: String = SSTableBinaryV2.versionOf(path.split('/').last)
    val oldEra: Boolean = SSTableBinaryV2.isOldEra(version)
    val sstable: String = SSTableBinaryV2.sstableIdentity(path)
    /** The path of component `suffix` (`-Summary.db`), listed or not. */
    def sibling(suffix: String): String =
      path.stripSuffix("-Data.db") + suffix
    /** Component `suffix`'s path when the listing holds it. */
    def comp(suffix: String): Option[String] =
      Some(sibling(suffix)).filter(components.contains)
    /** Whole sidecar into memory — the ONE read path every sidecar tool
      * shares (sidecars are KB-to-MB by construction; a length past
      * Int.MaxValue is a corrupt listing and refuses loudly rather than
      * silently truncating the allocation). */
    def readAll(p: String): Array[Byte] = {
      val st = fs.getFileStatus(new HPath(p))
      require(st.getLen <= Int.MaxValue,
        s"$p: sidecar too large to materialize (${st.getLen} bytes)")
      val buf = new Array[Byte](st.getLen.toInt)
      val in = fs.open(new HPath(p))
      try in.readFully(0, buf) finally in.close()
      buf
    }
  }

  /** The generations under `root`, listed once on the driver, and the
    * one job every sidecar tool runs over them: the Hadoop conf
    * broadcast once, one task per generation up to the default
    * parallelism, each task handed its [[Generation]]. */
  private final class Lake(spark: SparkSession, root: String) {
    private val hconf = new SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    /** (Data.db path, component paths) per generation, in path order. */
    val generations: Seq[(String, Seq[String])] =
      SSTableBinaryV2.lakeGenerations(root, hconf.value)
    private lazy val bc = spark.sparkContext.broadcast(hconf)

    def job[T: Encoder](f: Generation => IterableOnce[T]): Dataset[T] = {
      import spark.implicits._
      val conf = bc
      spark.createDataset(generations)
        .repartition(math.min(generations.size.max(1),
          spark.sparkContext.defaultParallelism))
        .flatMap { case (p, comps) =>
          f(new Generation(p, comps, conf.value.value)) }(
          implicitly[Encoder[T]])
    }

    /** Refuses a lake spanning several table directories before a tool
      * that copies generations FLAT by component name ([[copyGeneration]]
      * — one table directory is the tools' unit of operation): a keyspace
      * root, or a table with snapshots/backups subdirs, could hold
      * same-named generations whose flat copies would clobber each
      * other. */
    def requireOneTable(tool: String): Unit = {
      val parents = generations.map(_._1.split('/').dropRight(1)
        .mkString("/")).distinct
      require(parents.size <= 1,
        s"$tool targets ONE table directory; $root spans " +
          s"${parents.size} (run per directory): " +
          parents.sorted.take(3).mkString(", "))
    }
  }

  /** With `audit` (the registered query's mode), every generation's
    * token-order facts are cross-checked executor-side against an
    * INDEPENDENT component while the row is produced: the Summary's
    * first/last keys must byte-equal the streamed Index.db's first and
    * last entry keys, and the Summary-derived `est_keys_max` must be a
    * TIGHT upper bound on the exact count (`n <= est < n + interval`).
    * A wrong value throws, failing the ORACLE run — DuckDB can't
    * replay token order, but these invariants don't need it. */
  def describe(spark: SparkSession, root: String,
      audit: Boolean = false): DataFrame = {
    import spark.implicits._
    new Lake(spark, root).job(g => Some(describeOne(g, audit)._1)).toDF()
  }

  /** One generation's inventory row, and the raw bytes of its
    * Statistics.db COMPACTION component (the HLL++ sketch) when it has
    * one — Statistics.db is read once for both. */
  private def describeOne(g: Generation, audit: Boolean = false)
      : (GenerationMeta, Option[Array[Byte]]) = {
    val (dataPath, version, oldEra) = (g.path, g.version, g.oldEra)
    val statsBytes: Option[(String, Array[Byte])] =
      g.comp("-Statistics.db").map(p => (p, g.readAll(p)))
    val header: Option[BigFormat.Header] =
      if (oldEra) None
      else statsBytes.map { case (_, b) => BigFormat.readStats(
        b, BigFormat.versionHasMetadataChecksum(version)) }
    // pre-3.0 Statistics.db: the 2.x StatsMetadata layout (what the
    // reference surfaces off its ka/la readers, NoTTLReader.java:
    // 1937-1945) carries min/max timestamps — but no TTL minima
    // (EncodingStats is a 3.0 invention), so min_ttl_s stays NULL
    val stats2x: Option[OldFormat.Stats2x] =
      if (!oldEra) None
      else statsBytes.map { case (p, b) => OldFormat.readStats2x(b, p) }
    // the COMPACTION component's HLL++ sketch — both eras carry it in
    // the same TOC'd container; absence or corrupt bytes degrade to
    // NULL, the reference's own fallback posture (CASSANDRA-10676)
    val compactionComp: Option[Array[Byte]] = statsBytes.flatMap {
      case (p, b) =>
        if (oldEra) OldFormat.readCompaction2x(b, p)
        else BigFormat.readCompaction(
          b, BigFormat.versionHasMetadataChecksum(version))
    }
    val estHll: Option[Long] = compactionComp
      .flatMap(KeyCardinality.readComponent(_, oldEra))
      .map(_.cardinality())
    // the 2.x lineage rides the same component; the modern layout
    // has no ancestor field to read
    val ancestors: Option[String] =
      if (!oldEra) None
      else compactionComp.flatMap(KeyCardinality.readAncestors)
        .map(_.mkString(","))
    // the declared ring + bloom FP chance — both eras share the
    // VALIDATION body (the 2.x container just lacks checksums);
    // corrupt/truncated components degrade to NULL columns, the
    // same posture as the sketch above (one damaged generation must
    // not kill the whole inventory)
    val validation: Option[(String, Double)] =
      statsBytes.flatMap { case (_, b) =>
        scala.util.Try(BigFormat.readValidation(b,
          !oldEra && BigFormat.versionHasMetadataChecksum(version)))
          .toOption.flatten
      }
    // first/last entry keys captured during the same count stream —
    // the audit mode's independent ground truth for the Summary facts
    var idxFirst: Option[Array[Byte]] = None
    var idxLast: Option[Array[Byte]] = None
    val nPartitions: Option[Long] = g.comp("-Index.db").map { p =>
      val in = g.fs.open(new HPath(p))
      try {
        val din = new java.io.DataInputStream(
          new java.io.BufferedInputStream(in))
        val entries =
          if (oldEra) SSTableComponents.indexEntries2x(din, p)
          else SSTableComponents.indexEntries(din, p)
        var n = 0L
        while (entries.hasNext) {
          val e = entries.next()
          if (n == 0L) idxFirst = Some(e._1)
          idxLast = Some(e._1)
          n += 1
        }
        n
      } finally in.close()
    }
    val compressor: Option[String] = g.comp("-CompressionInfo.db").map {
      p => CompressedData.readMeta(g.readAll(p),
        CompressedData.versionHasMaxCompressedSize(version), p,
        CompressedData.versionUsesAdler32(version)).compressor
    }
    val summary = summaryOf(g)
    if (audit) summary.foreach { s =>
      def eq(a: Option[Array[Byte]], b: Array[Byte]) =
        a.exists(java.util.Arrays.equals(_, b))
      require(idxFirst.isEmpty || eq(idxFirst, s.firstKey),
        s"$dataPath: Summary first key != Index.db first entry key")
      require(idxLast.isEmpty || eq(idxLast, s.lastKey),
        s"$dataPath: Summary last key != Index.db last entry key")
      nPartitions.foreach { n =>
        val est = s.sizeAtFullSampling.toLong * s.minIndexInterval
        require(est >= n && est - n < s.minIndexInterval,
          s"$dataPath: est_keys_max $est is not a tight bound on the " +
            s"exact count $n (interval ${s.minIndexInterval})")
      }
    }
    // the sketch estimate must sit within HLL++(p=13)'s error bound of
    // the streamed-Index.db exact count (rsd = 1.04/√8192 ≈ 1.15%;
    // gated at 4×rsd — overwhelming-probability-true for any honest
    // sketch over the file's real keys, false for a sketch that was
    // not built from them)
    if (audit) for (n <- nPartitions; est <- estHll) {
      val tol = math.max(2.0, 4 * 0.0115 * n)
      require(math.abs(est - n) <= tol,
        s"$dataPath: est_keys_hll $est outside the HLL++ error bound " +
          s"of the exact count $n (±$tol)")
    }
    def renderKey(k: Array[Byte]): Option[String] =
      header.flatMap(h =>
        scala.util.Try(BigFormat.renderValue(h.keyType, k)).toOption)
    // clustering bounds, era-dispatched: modern STATS values render
    // under the header's declared types (hex on a foreign mismatch);
    // 2.x min/maxColumnNames carry as UTF-8 (the era has no header)
    val statsModern: Option[BigFormat.StatsModern] =
      if (oldEra) None
      else statsBytes.flatMap { case (_, b) =>
        scala.util.Try(
          BigFormat.readStatsModern(b, version)).toOption.flatten
      }
    val clTypes: Seq[String] =
      header.map(_.clusteringTypes).getOrElse(Nil)
    val minClustering = renderClustering(clTypes,
      statsModern.map(_.minClusteringValues)
        .orElse(stats2x.map(_.minColumnNames)).getOrElse(Nil))
    val maxClustering = renderClustering(clTypes,
      statsModern.map(_.maxClusteringValues)
        .orElse(stats2x.map(_.maxColumnNames)).getOrElse(Nil))
    (GenerationMeta(
      sstable = g.sstable,
      n_partitions = nPartitions,
      min_writetime_us =
        header.map(_.minTimestampUs).orElse(stats2x.map(_.minTimestampUs)),
      // TTL 0 is Cassandra's own "no expiring cells" sentinel
      // (EncodingStats.TTL_EPOCH): a real TTL is >= 1 second, so the
      // inventory surfaces the sentinel as NULL, not as a minimum
      min_ttl_s = header.map(_.minTtlS).filter(_ != 0),
      compressor = compressor,
      n_components = g.components.size,
      first_key = summary.flatMap(s => renderKey(s.firstKey)),
      last_key = summary.flatMap(s => renderKey(s.lastKey)),
      est_keys_max = summary.map(s =>
        s.sizeAtFullSampling.toLong * s.minIndexInterval),
      est_keys_hll = estHll,
      ancestors = ancestors,
      partitioner = validation.map(_._1),
      bloom_fp_chance = validation.map(_._2),
      min_clustering = minClustering,
      max_clustering = maxClustering), compactionComp)
  }

  /** The generation's Summary.db, era-dispatched: modern files use the
    * 3.0 serializer, pre-3.0 files the 2.1 `IndexSummary` layout
    * ([[SSTableComponents.readSummary2x]] — `loadSummary`'s literal
    * read); a 2.x summary that does not read or parse degrades to
    * None, the reference's own corrupted-summary posture. None without
    * a Summary.db. */
  private def summaryOf(g: Generation): Option[SSTableComponents.Summary] =
    g.comp("-Summary.db").flatMap { p =>
      if (g.oldEra) scala.util.Try(
        SSTableComponents.readSummary2x(g.readAll(p))).toOption
      else Some(SSTableComponents.readSummary(g.readAll(p)))
    }

  /** Clustering-value bounds rendered under the declared clustering
    * `types` (UTF-8 past their end), ':'-joined; a value whose bytes do
    * not parse under its type renders as hex — it is still the file's
    * truth. None when the file declares no bounds. */
  private def renderClustering(types: Seq[String],
      vs: Seq[Seq[Byte]]): Option[String] =
    if (vs.isEmpty) None
    else Some(vs.zipWithIndex.map { case (v, i) =>
      scala.util.Try(BigFormat.renderValue(
        types.lift(i).getOrElse(BigFormat.Utf8Type), v.toArray))
        .getOrElse(v.map("%02x".format(_)).mkString)
    }.mkString(":"))

  // private[sources], not private: a plain-private nested case class
  // compiles to a non-public classfile, and Janino (whole-stage
  // codegen's compiler) cannot invoke accessors on it — every
  // SerializeFromObject over this row silently fell back to
  // interpreted execution (6 failed-compile WARNs per bench pass).
  // Qualified private keeps the API surface identical and emits a
  // public classfile codegen can call.
  private[sources] final case class SketchRow(
      sstable: String,
      sketch: Option[Array[Byte]],
      est_keys_max: Option[Long],
      n_exact: Option[Long])

  /** Per-generation (COMPACTION sketch bytes, summary estimate, exact
    * count) — the inputs of `getApproximateKeyCount` /
    * `estimateCompactionGain`, gathered executor-side like
    * [[describe]] (sidecars only; Data.db never opened). The caller
    * collects: one KB-sized row per GENERATION, the same
    * catalog-sized contract as the planner's listing. */
  private def gatherSketches(spark: SparkSession, root: String)
      : Seq[(Option[Array[Byte]], Option[Long], Option[Long])] = {
    import spark.implicits._
    new Lake(spark, root).job { g =>
      val (m, sketch) = describeOne(g)
      Some(SketchRow(m.sstable, sketch, m.est_keys_max, m.n_partitions))
    }
      .collect()
      .toSeq
      .map(r => (r.sketch, r.est_keys_max, r.n_exact))
  }

  final case class RangeEstimate(
      sstable: String,
      /** `estimatedKeysForRanges` off Summary.db alone — the O(1)
        * per-range key estimate the reference serves for repair /
        * streaming size planning (`NoTTLReader.java:1289-1299`). */
      est_keys_range: Long,
      /** The summary marks consulted (post-downsample count). */
      n_marks: Int)

  /** Per-generation key estimates for an INCLUSIVE token range
    * `[tokenLo, tokenHi]` (wrap-around when lo > hi, Cassandra ring
    * semantics), computed from Summary.db ALONE — no Index.db, no
    * Data.db: a 100 TB lake answers "how many keys does this node
    * range hold" at sidecar cost. `downsample` > 1 first coarsens
    * each summary IN PLACE ([[SSTableComponents.downsampleSummary]])
    * — the estimate's granularity degrades by exactly the factor, the
    * trade the reference's IndexSummaryManager makes under memory
    * pressure. Generations without a modern Summary.db are skipped
    * (the 2.x layout predates this serializer — same gate as
    * [[describe]]). */
  def describeRange(spark: SparkSession, root: String,
      tokenLo: Long, tokenHi: Long, downsample: Int = 1): DataFrame = {
    import spark.implicits._
    // inclusive [lo, hi] as the reference's (start-exclusive,
    // end-inclusive] ranges: (lo-1, hi], MIN-open when lo is the ring
    // minimum (no Murmur3Partitioner key carries token MIN — the
    // partitioner normalizes it away)
    val ranges: Seq[(Long, Long)] =
      if (tokenLo > tokenHi) // inclusive wrap: t >= lo OR t <= hi
        Seq((tokenLo - 1, Long.MaxValue), (Long.MinValue, tokenHi))
      else Seq((
        if (tokenLo == Long.MinValue) Long.MinValue else tokenLo - 1,
        tokenHi))
    new Lake(spark, root).job { g =>
      summaryOf(g).map { s0 =>
        val s = SSTableComponents.downsampleSummary(s0, downsample)
        RangeEstimate(g.sstable,
          SSTableComponents.estimatedKeysForRanges(s, ranges),
          s.sampled.size)
      }
    }.toDF()
  }

  /** Registered `src_sstable_droppable` — the reference's
    * tombstone-droppability surface
    * (`NoTTLReader.getDroppableTombstonesBefore` /
    * `getEstimatedDroppableTombstoneRatio`,
    * `NoTTLReader.java:1922-1930`) read SIDECAR-ONLY off the 2.x
    * StatsMetadata's drop-time StreamingHistogram — the figure a
    * TTL-removal run consults FIRST ("how much dead data does this
    * file hold"), answered without opening Data.db. Oracle-visible
    * probes are the merge-invariant ones (exact at ANY SF, even once
    * the 100-bin budget forces centroid merging): 0 below every drop
    * time, the exact tombstone total beyond all of them, and the
    * ratio over the estimated column count. The interpolated interior
    * is require-gated: monotone, bounded by the total. */
  def droppableAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val outKa = SSTableBinaryV2.writeOldFixture(spark, sfDir)
    val rows = new Lake(spark, outKa.resolve("documents").toString).job {
      g =>
        val p = g.sibling("-Statistics.db")
        val s = OldFormat.readStats2x(g.readAll(p), p)
        val beforeAll = OldFormat.droppableTombstonesBefore(
          s, s.minTimestampUs / 1000000.0 - 1.0)
        val afterAll = OldFormat.droppableTombstonesBefore(
          s, s.maxLocalDeletionTimeS + 1.0)
        val mid = OldFormat.droppableTombstonesBefore(s,
          (s.minTimestampUs / 1000000.0 + s.maxLocalDeletionTimeS) / 2.0)
        require(mid >= beforeAll && mid <= afterAll,
          s"${g.path}: histogram sum not monotone " +
            s"($beforeAll, $mid, $afterAll)")
        Some((g.sstable, beforeAll, afterAll, s.estColumnsTotal,
          OldFormat.estimatedDroppableTombstoneRatio(
            s, s.maxLocalDeletionTimeS + 1.0)))
    }
      .collect().toSeq.sortBy(_._1)
    graft.Scratch.delete(outKa)
    spark.createDataset(rows).toDF("sstable", "droppable_before",
      "droppable_total", "est_columns", "ratio")
  }

  /** The generation's modern Summary.db resampled to interval 8, streamed
    * from its Index.db — finer than the written ladder, so
    * [[SSTableComponents.resampleSummary]] takes its rebuild branch. The
    * fixture regime of the summary-budget and read-meter audits. */
  private def resampledTo8(g: Generation): SSTableComponents.Summary = {
    val current = SSTableComponents.readSummary(
      g.readAll(g.sibling("-Summary.db")))
    val idx = g.fs.open(new HPath(g.sibling("-Index.db")))
    try SSTableComponents.resampleSummary(current, 8,
      new java.io.DataInputStream(
        new java.io.BufferedInputStream(idx, 64 * 1024)),
      oldEra = false, g.path)
    finally idx.close()
  }

  /** Registered `src_sstable_summary_budget` — the
    * `IndexSummaryManager` role end-to-end: every generation's summary
    * is first RESAMPLED to a fine off-ladder interval (8 — the
    * rebuild branch of `cloneWithNewSummarySamplingLevel`'s decision
    * tree, streamed from Index.db executor-side), then the
    * budget-driven redistribution fits the pool into HALF its marks
    * by coarsening the coldest generations first — in place, zero
    * further index IO ([[SSTableComponents.redistributeSummaries]]).
    * Read rates are designed per generation (1 + gen%3), so the
    * greedy's outcome is pure arithmetic the oracle replays; in-query
    * requires pin the policy's invariants at ANY scale: the budget
    * holds (or everything sits at maxFactor), factors are ladder
    * powers, a colder file never keeps finer sampling than an
    * equally-sized hotter one, and each downsampled summary's mark
    * count is exactly ⌈before/factor⌉. */
  def summaryBudgetAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // read-only consumer of the shared plain set (summaries are
    // resampled IN MEMORY, executor-side; nothing on disk changes)
    val fine: Seq[(String, Array[Byte])] = new Lake(spark,
      SSTableBinaryV2.plainGenSetShared(spark, sfDir)).job { g =>
        val s = resampledTo8(g)
        Some((g.sstable, SSTableComponents.writeSummary(s.sampled,
          s.sizeAtFullSampling.toLong * s.minIndexInterval,
          s.firstKey, s.lastKey, s.minIndexInterval)))
      }
      .collect().toSeq.sortBy(_._1)
    def genOf(name: String): Int =
      SSTableBinaryV2.claimedGeneration(name).get
    val withRate = fine.map { case (name, bytes) =>
      val s = SSTableComponents.readSummary(bytes)
      (name, s, 1.0 + genOf(name) % 3)
    }
    // the oracle replays the greedy CLOSED-FORM, which is valid only
    // when the four generations' mark counts are equal and the count
    // is in the regime where ⌈m/2⌉+⌈m/4⌉+⌈m/8⌉ ≤ m (every m ≥ 24 and
    // every multiple of 4 — both verify corpora and anything larger;
    // only tiny odd corpora fall outside). Gate the PRECONDITION
    // loudly instead of letting a drifted fixture surface as a silent
    // oracle hash mismatch.
    val markCounts = withRate.map(_._2.sampled.size).distinct
    require(markCounts.size == 1 &&
      (markCounts.head % 4 == 0 || markCounts.head >= 24),
      s"summary-budget fixture precondition broken: per-generation " +
        s"marks ${withRate.map(_._2.sampled.size).mkString(",")} must " +
        "be equal and (≥ 24 or a multiple of 4) for the closed-form " +
        "oracle")
    val budget = (withRate.map(_._2.sampled.size.toLong).sum + 1) / 2
    val factors = SSTableComponents.redistributeSummaries(
      withRate.map { case (n, s, r) => (n, s.sampled.size, r) },
      budget)
    val rows = withRate.map { case (name, s, rate) =>
      val f = factors(name)
      val down = SSTableComponents.downsampleSummary(s, f)
      require(down.sampled.size ==
        (s.sampled.size + f - 1) / f,
        s"$name: downsample marks ${down.sampled.size} != " +
          s"ceil(${s.sampled.size}/$f)")
      (name, rate.toInt, s.sampled.size.toLong, f, down.sampled.size.toLong)
    }
    val after = rows.map(_._5).sum
    require(after <= budget || rows.forall(_._4 == 8),
      s"redistribution missed the budget: $after > $budget")
    rows.foreach { case (_, _, _, f, _) =>
      require(f >= 1 && f <= 8 && Integer.bitCount(f) == 1,
        s"factor $f off the ladder") }
    // a colder file never keeps finer sampling than an equally-sized
    // hotter one — the policy's whole point
    for ((_, ra, ma, fa, _) <- rows; (_, rb, mb, fb, _) <- rows
         if ma == mb && ra < rb)
      require(fa >= fb, s"colder factor $fa < hotter $fb at equal size")
    spark.createDataset(rows)
      .toDF("sstable", "rate", "marks_before", "factor", "marks_after")
  }

  /** Registered `src_sstable_read_meter` — Cassandra's
    * `RestorableMeter` lifecycle end-to-end, the hotness input the
    * reference's summary redistribution weighs every file by
    * (`IndexSummaryManager` reads each sstable's
    * `getReadMeter().fifteenMinuteRate()`; the meter itself is the
    * PUBLIC `o.a.c.metrics.RestorableMeter`: 15m/120m EWMAs on a
    * 5-second tick, persisted in `system.sstable_activity`, restored
    * at startup):
    *   1. every generation runs a DESIGNED deterministic trace on a
    *      fresh meter — gen g marks g+2 reads per tick for 12 ticks,
    *      then sits silent for (4−g)·4 ticks — so the 15m/120m rates
    *      are closed-form arithmetic ((g+2)/5 · decay^k) the oracle
    *      replays, and the four generations end STRICTLY ordered by
    *      hotness (coldest = gen 1, most-decayed);
    *   2. the rates persist to an activity TABLE (parquet — the
    *      `sstable_activity` role) and are RESTORED on a fresh meter,
    *      which then decays two more silent ticks: the restored-rate
    *      semantics (decay FROM the restored value, never reset) land
    *      on decay^(k+2), also served and oracle-replayed;
    *   3. the restored 15-minute rates feed
    *      [[SSTableComponents.redistributeSummaries]] over the REAL
    *      resampled summaries (interval 8, streamed — the
    *      summary-budget fixture regime) at a half-marks budget: with
    *      equal marks and strictly ordered rates the greedy's outcome
    *      is rank arithmetic ([8, 8, 2, 1] coldest-first), gated by
    *      the same precondition require as `src_sstable_summary_budget`.
    * In-query gates pin the meter to the closed form at 1e-9 before
    * anything is served, so a drifted EWMA fails the oracle run
    * loudly rather than hash-mismatching. */
  def readMeterAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // read-only consumer of the shared plain set (in-memory
    // resample, meters, the activity-table roundtrip); the budget
    // regime needs marks the written ladder is too coarse for at small
    // SFs, so summaries resample as in the summary-budget audit
    val fine: Seq[(String, Int)] = new Lake(spark,
      SSTableBinaryV2.plainGenSetShared(spark, sfDir)).job { g =>
        Some((g.sstable, resampledTo8(g).sampled.size))
      }
      .collect().toSeq.sortBy(_._1)
    def genOf(name: String): Int =
      SSTableBinaryV2.claimedGeneration(name).get
    val tick = RestorableMeter.TickIntervalNanos
    val d15 = math.exp(-5.0 / 900.0)
    val d120 = math.exp(-5.0 / 7200.0)
    val metered = fine.map { case (name, marks) =>
      val g = genOf(name)
      val c = g + 2L
      val k = (4 - g) * 4
      val m = RestorableMeter.fresh(0L)
      // marks land 1ns into each 5s interval; the trailing tickTo
      // flushes the final burst interval and then k silent ticks
      (0 until 12).foreach(i => m.mark(c, i * tick + 1))
      m.tickTo((12L + k) * tick + 1)
      val want15 = c / 5.0 * math.pow(d15, k)
      val want120 = c / 5.0 * math.pow(d120, k)
      require(math.abs(m.fifteenMinuteRate - want15) < 1e-9 &&
        math.abs(m.twoHourRate - want120) < 1e-9,
        s"$name: meter drifted off the EWMA closed form " +
          s"(${m.fifteenMinuteRate} vs $want15)")
      require(m.count == 12 * c,
        s"$name: meter count ${m.count} != ${12 * c}")
      (name, marks, m.count, m.fifteenMinuteRate, m.twoHourRate)
    }
    // the activity table: persist → restart → restore → keep decaying
    val actDir = graft.Scratch.dir("graft-activity-")
    metered.map { case (n, _, cnt, r15, r120) => (n, cnt, r15, r120) }
      .toDF("sstable", "reads", "rate_15m", "rate_120m")
      .write.mode("overwrite").parquet(actDir.toString)
    val restored: Map[String, Double] =
      spark.read.parquet(actDir.toString).collect().map { r =>
        val m = RestorableMeter.restore(
          r.getAs[Double]("rate_15m"), r.getAs[Double]("rate_120m"), 0L)
        m.tickTo(2 * tick)
        r.getAs[String]("sstable") -> m.fifteenMinuteRate
      }.toMap
    graft.Scratch.delete(actDir)
    metered.foreach { case (name, _, _, r15, _) =>
      val g = genOf(name)
      val want = (g + 2L) / 5.0 * math.pow(d15, (4 - g) * 4 + 2)
      require(math.abs(restored(name) - want) < 1e-9,
        s"$name: restored meter ${restored(name)} off $want — " +
          "restore must decay FROM the persisted rate, not reset")
      require(restored(name) < r15,
        s"$name: two silent ticks must decay the restored rate")
    }
    // hotness → summary budget: restored rates, real resampled marks
    val markCounts = metered.map(_._2).distinct
    require(markCounts.size == 1 && markCounts.head >= 9,
      s"read-meter fixture precondition broken: per-generation marks " +
        s"${metered.map(_._2).mkString(",")} must be equal and ≥ 9 " +
        "for the rank closed form")
    val budget = (metered.map(_._2.toLong).sum + 1) / 2
    val factors = SSTableComponents.redistributeSummaries(
      metered.map { case (n, marks, _, _, _) =>
        (n, marks, restored(n)) }, budget)
    val rows = metered.map { case (name, marks, cnt, r15, r120) =>
      val f = factors(name)
      (name, cnt,
        math.round(r15 * 1e6), math.round(r120 * 1e6),
        math.round(restored(name) * 1e6),
        marks.toLong, f, (marks + f - 1L) / f)
    }
    val after = rows.map(_._8).sum
    require(after <= budget,
      s"meter-driven redistribution missed the budget: $after > $budget")
    spark.createDataset(rows).toDF("sstable", "reads",
      "rate15_x1e6", "rate120_x1e6", "restored15_x1e6",
      "marks_before", "factor", "marks_after")
  }

  /** Applies `edit` to every `*<suffix>` file of the local directory
    * `dir` (a fixture's generations), then drops the file's `.crc`
    * side file, which would no longer match it. */
  private def editComponents(dir: java.nio.file.Path, suffix: String)(
      edit: java.nio.file.Path => Unit): Unit = {
    import scala.jdk.CollectionConverters._
    val ls = java.nio.file.Files.list(dir)
    val files = try ls.iterator().asScala
      .filter(_.getFileName.toString.endsWith(suffix)).toSeq.sorted
    finally ls.close()
    files.foreach { f =>
      edit(f)
      java.nio.file.Files.deleteIfExists(
        f.getParent.resolve("." + f.getFileName + ".crc"))
    }
  }

  /** Registered `src_sstable_keycount` — the reference's whole
    * key-count-estimation surface exercised SIDECAR-ONLY over three
    * generation sets of the same content:
    *   - set A: intact (Index.db streamed → exact counts);
    *   - set C: every Statistics.db rewritten WITHOUT its COMPACTION
    *     component (feeds `fallback_sum` below);
    *   - set B: every Index.db DELETED — the lake where exact counting
    *     is impossible and the sketch is the only count left standing.
    * One row per figure, each replayed by the oracle from fixture
    * arithmetic (the fixture's key sets keep the (13,25) sketch in its
    * sparse — exact-by-construction — regime, so every estimate is a
    * DETERMINISTIC function of the designed keys):
    *   - `exact_total`   Σ n_partitions over A (B has none to stream)
    *   - `n_lost_index`  generations whose exact count is NULL (B's)
    *   - `merged_hll`    `getApproximateKeyCount(A ∪ B)` — all files
    *     carry sketches, so the answer is the merged cardinality: the
    *     DISTINCT key count (B duplicates A ⇒ = exact_total)
    *   - `sum_hll`       Σ per-file cardinalities (2 × exact_total)
    *   - `gain_x1000`    `estimateCompactionGain(A ∪ B)` × 1000 —
    *     compacting two identical sets keeps half: 500
    *   - `fallback_sum`  `getApproximateKeyCount` over A ∪ C, where
    *     set C's Statistics.db files GENUINELY lack the COMPACTION
    *     component (each rewritten through `writeStats` sans sketch —
    *     the real CASSANDRA-10676 lake, not an API-level suppression):
    *     one sketchless file demotes the WHOLE answer to the
    *     summary-estimate sum SEEDED FROM -1, the reference's own
    *     off-by-one (`NoTTLReader.java:154,211-214` — `count = -1`
    *     then `count += estimatedKeys()`), mirrored quirk and all. */
  def keyCountAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val in = SSTableBinaryV2.binaryFixtureShared(spark, sfDir)
    val frame = SSTableBinaryV2.readBinary(spark, in)
    val outA = graft.Scratch.dir("graft-keycount-a-")
    val outB = graft.Scratch.dir("graft-keycount-b-")
    val outC = graft.Scratch.dir("graft-keycount-c-")
    // three independent sink jobs of the same frame to disjoint dirs
    // — overlap them (guide §2.6); one driver-side listing feeds all
    // three generation assignments (the frame is an unfiltered read
    // of `in`, so the listing IS its distinct sstable set)
    val srcIds = SSTableBinaryV2.dataSourceIdentities(spark, in)
    graft.Par.all(Seq(outA, outB, outC).map(o => () =>
      SSTableBinaryV2.writeSSTables(frame, o.toString,
        "graft", "documents", sources = Some(srcIds))))
    val dirB = outB.resolve("graft").resolve("documents")
    val dirC = outC.resolve("graft").resolve("documents")
    editComponents(dirB, "-Index.db")(java.nio.file.Files.delete)
    // set C: strip the COMPACTION component from every Statistics.db
    // by re-serializing just the header — the file a pre-sketch
    // Cassandra (or a CASSANDRA-10676 casualty) actually has
    editComponents(dirC, "-Statistics.db") { f =>
      java.nio.file.Files.write(f, BigFormat.writeStats(
        BigFormat.readStats(java.nio.file.Files.readAllBytes(f))))
    }
    // three independent sidecar-census jobs — overlap them too
    val Seq(rowsA, rowsB, rowsC) = graft.Par.all(Seq(
      () => gatherSketches(spark, s"$outA/graft/documents"),
      () => gatherSketches(spark, s"$dirB"),
      () => gatherSketches(spark, s"$dirC")))
    graft.Scratch.delete(outA)
    graft.Scratch.delete(outB)
    graft.Scratch.delete(outC)
    val rows = rowsA ++ rowsB
    val sketches = rows.map(_._1.flatMap(
      KeyCardinality.readComponent(_, oldEra = false)))
    require(sketches.forall(_.isDefined),
      "key-count fixture: a generation lost its COMPACTION sketch")
    require(rowsC.forall(_._1.isEmpty),
      "key-count fixture: set C must be genuinely sketchless")
    val exactTotal = rows.flatMap(_._3).sum
    val nLost = rows.count(_._3.isEmpty)
    val merged = KeyCardinality.approximateKeyCount(
      sketches.zip(rows).map { case (s, (_, est, _)) =>
        (s, est.getOrElse(0L)) })
    val sumHll = sketches.flatten.map(_.cardinality()).sum
    val gain = KeyCardinality.compactionGain(sketches.flatten)
    // the demotion path over A ∪ C: C's files carry NO sketch on
    // disk, so the whole estimate falls back to summary sums
    val fallback = KeyCardinality.approximateKeyCount(
      (rowsA ++ rowsC).map { case (bytes, est, _) =>
        (bytes.flatMap(KeyCardinality.readComponent(_, oldEra = false)),
          est.getOrElse(0L)) })
    spark.createDataset(Seq(
      ("exact_total", exactTotal),
      ("fallback_sum", fallback),
      ("gain_x1000", math.round(gain * 1000.0)),
      ("merged_hll", merged),
      ("n_lost_index", nLost.toLong),
      ("sum_hll", sumHll)))
      .toDF("figure", "value")
  }

  final case class StatsRow(
      sstable: String,
      min_writetime_us: Long,
      max_writetime_us: Long,
      min_ttl_s: Int,
      max_ttl_s: Int,
      min_deletion_s: Int,
      max_deletion_s: Int,
      sstable_level: Int,
      repaired_at: Long,
      total_rows: Long,
      total_cells: Long,
      droppable_total: Long,
      droppable_ratio: Double,
      /** The 4.0+ incremental-repair session UUID (`sstablemetadata`'s
        * "Pending repair" line), NULL when the file is not pending —
        * offline-written files always are not. */
      pending_repair: Option[String] = None,
      /** The 4.0+ transient-replica flag. */
      is_transient: Boolean = false,
      /** The writing host's UUID ("me"/"nb"+, CASSANDRA-16619) —
        * NULL from offline writers. */
      originating_host_id: Option[String] = None,
      /** Commit-log interval count ("mc"+ tail): 0 from offline
        * writers, the flushed-ranges census on cluster files. */
      commitlog_intervals: Int = 0,
      /** Commit-log replay bounds as (segmentId, position) —
        * `sstablemetadata`'s "Commit log upper/lower bound" lines.
        * (-1, 0) is Cassandra's own NONE sentinel, served verbatim
        * (offline writers always carry it). */
      commitlog_upper_segment: Long = -1L,
      commitlog_upper_position: Int = 0,
      commitlog_lower_segment: Long = -1L,
      commitlog_lower_position: Int = 0,
      /** Min/max clustering-value bounds (`sstablemetadata`'s
        * "minClusteringValues"/"maxClusteringValues" lines), each
        * column rendered under the serialization header's type and
        * ':'-joined — NULL when the file declares none (pre-round-15
        * sink output, clustering-less tables). */
      min_clustering: Option[String] = None,
      max_clustering: Option[String] = None)

  /** The modern-era `sstablemetadata` panel, SIDECAR-ONLY: one row
    * per generation from the Statistics.db STATS component
    * ([[BigFormat.readStatsModern]]) — the figures the reference
    * serves off every opened file (`NoTTLReader.getSSTableMetadata`,
    * `NoTTLReader.java:1982`; `getMinTimestamp`/`getMaxTimestamp`
    * `:1937-1945`, `getSSTableLevel` `:1963`, `isRepaired` `:1851`,
    * droppability `:1922-1930`). Generations without a STATS
    * component (pre-round-13 output, header-only fixtures) and 2.x
    * files (whose panel is [[OldFormat.readStats2x]]'s, already in
    * the droppability query) are skipped. `droppable_total` is the
    * drop-time histogram's conserved mass (the `gcBefore → ∞`
    * probe — merge-invariant under the 100-bin budget);
    * `droppable_ratio` divides it by `totalColumnsSet`, the modern
    * component's exact cell count.
    *
    * With `sizes` (the audit's driver-captured `Data.db` byte
    * lengths, catalog-sized), each parse is require-gated against
    * independent truth: the partition-size histogram's exact total
    * must equal the uncompressed Data.db length, the compression
    * ratio must be the NO_COMPRESSION sentinel on plain files and
    * exactly on-disk/uncompressed on compressed ones, and the
    * drop-time histogram must be monotone with mass equal to
    * `droppable_total`. */
  def describeStats(spark: SparkSession, root: String,
      sizes: Map[String, Long] = Map.empty): DataFrame = {
    import spark.implicits._
    val bcSizes = spark.sparkContext.broadcast(sizes)
    new Lake(spark, root).job { g =>
      val dataPath = g.path
      g.comp("-Statistics.db").filter(_ => !g.oldEra).flatMap { statsPath =>
        val statsBytes = g.readAll(statsPath)
        // the serialization header's clustering types render the
        // bound values ([[renderClustering]])
        val clTypes = scala.util.Try(
          BigFormat.readStats(statsBytes).clusteringTypes)
          .getOrElse(Nil)
        BigFormat.readStatsModern(statsBytes, g.version)
          .map { s =>
          val key = g.sstable
          bcSizes.value.get(key).foreach { dataLen =>
            val compressed = g.comp("-CompressionInfo.db").isDefined
            if (compressed) {
              require(s.compressionRatio ==
                dataLen.toDouble / s.partitionSizeTotal,
                s"$dataPath: compression ratio ${s.compressionRatio} " +
                  s"!= $dataLen/${s.partitionSizeTotal}")
              // no upper bound: incompressible data legitimately
              // records a ratio >= 1 (chunk framing overhead) — the
              // exact dataLen/partitionSizeTotal equality above is
              // the real gate
              require(s.compressionRatio > 0,
                s"$dataPath: implausible ratio ${s.compressionRatio}")
            } else {
              require(s.compressionRatio == -1.0,
                s"$dataPath: plain file with ratio ${s.compressionRatio}")
              require(s.partitionSizeTotal == dataLen,
                s"$dataPath: partition-size total " +
                  s"${s.partitionSizeTotal} != Data.db length $dataLen")
            }
          }
          val h = s.tombstoneDropTime
          val total = h.total
          if (h.bins.nonEmpty) {
            val lo = h.sum(h.bins.head._1 - 1.0)
            val mid = h.sum((h.bins.head._1 + h.bins.last._1) / 2.0)
            val hi = h.sum(h.bins.last._1 + 1.0)
            require(lo == 0.0 && lo <= mid && mid <= hi &&
              hi == total.toDouble,
              s"$dataPath: drop-time histogram not monotone " +
                s"($lo, $mid, $hi, $total)")
          }
          require(s.minTimestampUs <= s.maxTimestampUs &&
            s.minLdtS <= s.maxLdtS && s.minTtlS <= s.maxTtlS &&
            s.totalRows >= 0 && s.totalColumnsSet >= 0,
            s"$dataPath: inverted StatsMetadata bounds")
          StatsRow(key,
            s.minTimestampUs, s.maxTimestampUs,
            s.minTtlS, s.maxTtlS, s.minLdtS, s.maxLdtS,
            s.sstableLevel, s.repairedAt,
            s.totalRows, s.totalColumnsSet, total,
            if (s.totalColumnsSet == 0) 0.0
            else total.toDouble / s.totalColumnsSet,
            pending_repair = s.pendingRepair.map(_.toString),
            is_transient = s.isTransient,
            originating_host_id = s.originatingHostId.map(_.toString),
            commitlog_intervals = s.commitLogIntervals.size,
            commitlog_upper_segment = s.commitLogUpper._1,
            commitlog_upper_position = s.commitLogUpper._2,
            commitlog_lower_segment = s.commitLogLower._1,
            commitlog_lower_position = s.commitLogLower._2,
            min_clustering = renderClustering(clTypes, s.minClusteringValues),
            max_clustering = renderClustering(clTypes, s.maxClusteringValues))
        }
      }
    }.toDF()
  }

  final case class ExpiredBlocker(
      expired: String,
      blocker: String,
      blocker_min_writetime_us: Long,
      expired_max_deletion_s: Int)

  /** Sidecar-only token spans: each generation's Summary.db
    * first/last keys hashed to murmur3 tokens — the `Bounds<Token>`
    * endpoints the reference's tool family intersects. A file is
    * token-sorted, so `first <= last` and spans never wrap. A NULL
    * span (no/corrupt summary) means "cannot prove disjoint" and is
    * treated as overlapping by callers. */
  private def tokenSpans(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    new Lake(spark, root).job { g =>
      val sum = scala.util.Try(summaryOf(g)).toOption.flatten
      Some((g.sstable,
        sum.map(s => BigFormat.murmur3Token(s.firstKey)),
        sum.map(s => BigFormat.murmur3Token(s.lastKey))))
    }.toDF("sstable", "first_token", "last_token")
  }

  /** The `sstableexpiredblockers` tool's role, sidecar-only: a
    * generation is FULLY EXPIRED before `gcBeforeS` when its
    * StatsMetadata max local-deletion time sits below it — live
    * atoms carry the NO_DELETION_TIME sentinel (`Int.MaxValue`), so
    * any live cell disqualifies automatically — and another
    * generation BLOCKS dropping it when all three of Cassandra's
    * conditions hold (`CompactionController.getFullyExpiredSSTables`
    * / `SSTableExpiredBlockers`): its token span INTERSECTS the
    * expired file's (a disjoint file cannot shadow or be shadowed),
    * it is not itself fully expired (an expired overlap never feeds
    * the min-timestamp bound), and it holds data at least as old as
    * the expired file's newest write (`blocker.minTimestamp <=
    * expired.maxTimestamp` — Cassandra's bound is inclusive):
    * dropping the expired file first would un-shadow that older
    * data. Spans come off Summary.db ([[tokenSpans]]); a missing
    * span degrades to "overlapping", never to a silent non-blocker.
    * One panel read per generation, one catalog-sized self-join —
    * the "why is compaction not dropping this" triage at 100 TB for
    * sidecar cost. */
  def expiredBlockers(spark: SparkSession, root: String,
      gcBeforeS: Int): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val panel = describeStats(spark, root)
      .select("sstable", "min_writetime_us", "max_writetime_us",
        "max_deletion_s")
      .join(tokenSpans(spark, root), Seq("sstable"), "left")
      .localCheckpoint()
    val expired = panel
      .filter(col("max_deletion_s") < gcBeforeS)
      .select(
        col("sstable").as("expired"),
        col("max_writetime_us").as("x_max_wt"),
        col("max_deletion_s").as("expired_max_deletion_s"),
        col("first_token").as("x_first"),
        col("last_token").as("x_last"))
    val candidates = panel.select(
      col("sstable").as("blocker"),
      col("min_writetime_us").as("blocker_min_writetime_us"),
      col("max_deletion_s").as("b_max_deletion_s"),
      col("first_token").as("b_first"),
      col("last_token").as("b_last"))
    expired.join(
      broadcast(candidates),
      candidates("blocker") =!= expired("expired") &&
        col("b_max_deletion_s") >= gcBeforeS &&
        col("blocker_min_writetime_us") <= col("x_max_wt") &&
        (col("x_first").isNull || col("b_first").isNull ||
          !(col("b_last") < col("x_first") ||
            col("b_first") > col("x_last"))))
      .select("expired", "blocker", "blocker_min_writetime_us",
        "expired_max_deletion_s")
  }

  /** Registered `src_sstable_expired_blockers`: the fixture's gen 3
    * (f=2) is the designed all-expiring generation — the only one
    * whose deletion bound is finite — and every other generation
    * holds older writes, so the tool must report exactly the three
    * blockers with their literal panel figures, all doc arithmetic
    * the oracle replays. */
  def expiredBlockersAudit(spark: SparkSession, sfDir: String)
      : DataFrame = {
    // read-only consumer of the shared plain set (panel + span reads)
    expiredBlockers(spark,
      SSTableBinaryV2.plainGenSetShared(spark, sfDir),
      gcBeforeS = Int.MaxValue - 1).localCheckpoint()
  }

  /** Registered `src_sstable_expired_blockers_edge` — each of
    * Cassandra's three blocker conditions exercised at its BOUNDARY
    * on a designed five-generation set (the main audit's fixture
    * never reaches them: every generation there overlaps, only one
    * expires, and no min-timestamp ever EQUALS the expired file's
    * max):
    *   - gen 1 (expired, low-token half, newest write T);
    *   - gen 2: live, min writetime EXACTLY T — a blocker only
    *     under Cassandra's inclusive `<=` (the strict `<` this
    *     engine once mirrored would drop it);
    *   - gen 3: live, min writetime T+1s — never a blocker;
    *   - gen 4: live, OLD writes but token-DISJOINT (high half of
    *     the designed key ring) — never a blocker;
    *   - gen 5: itself fully expired, old overlapping writes — an
    *     expired file never blocks another.
    * Exactly ONE row survives, every column a design constant. Key
    * geometry is constructed (40 candidate keys token-sorted; the
    * low 16 interleave across gens 1/2/3/5, the high 8 form gen 4)
    * and require-gated, so the disjointness premise can never rot
    * silently. */
  def expiredBlockersEdgeAudit(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, struct}
    val keys = (0 until 40).map(i => s"e$i")
      .sortBy(k => BigFormat.murmur3Token(
        BigFormat.encodeValue(BigFormat.Utf8Type, k)))
    val low = keys.take(16)
    val high = keys.takeRight(8)
    require(BigFormat.murmur3Token(BigFormat.encodeValue(
      BigFormat.Utf8Type, low.last)) < BigFormat.murmur3Token(
      BigFormat.encodeValue(BigFormat.Utf8Type, high.head)),
      "edge fixture premise broken: token halves not disjoint")
    val B = 1609459200L
    // (key, gen, writetime seconds, expiring?)
    val lowGens = Seq(1, 2, 3, 5)
    val rows =
      low.zipWithIndex.map { case (k, i) =>
        val g = lowGens(i % 4)
        val j = i / 4 // 0..3 within the generation
        val wtS = g match {
          case 1 => B + 997 + j  // newest write exactly B+1000
          case 2 => B + 1000 + j // min EXACTLY the expired max (<=)
          case 3 => B + 1001 + j // min strictly newer — no block
          case _ => B + 1 + j    // gen 5: old, but itself expired
        }
        (k, g, wtS, g == 1 || g == 5)
      } ++ high.zipWithIndex.map { case (k, j) =>
        (k, 4, B + j, false)     // old writes, disjoint tokens
      }
    val frame = rows
      .map { case (k, g, wtS, expiring) =>
        (k, Seq("c"), "ROW", Some("v"),
          (("x", wtS * 1000000L,
            if (expiring) Some(50) else (None: Option[Int]),
            if (expiring) Some((wtS + 50) * 1000000L)
            else (None: Option[Long]))),
          None: Option[Long], s"documents/nb-$g-big-Data.db")
      }
      .toDF("partition_key", "clustering", "row_kind", "name",
        "cell_t", "deletion_us", "sstable")
      .withColumn("cell", struct(
        col("cell_t._1").as("value"),
        col("cell_t._2").as("writetime_us"),
        col("cell_t._3").as("ttl_s"),
        col("cell_t._4").as("expire_us")))
      .drop("cell_t")
    val src = graft.Scratch.dir("graft-expedge-")
    SSTableBinaryV2.writeSSTables(frame, src.toString,
      "graft", "documents",
      // designed frame: the identity set is `rows`' gen column
      sources = Some(rows.map(r => s"documents/nb-${r._2}-big-Data.db")
        .distinct))
    val gcBeforeS = Int.MaxValue - 1
    val root = s"$src/graft/documents"
    // the premise, gated off the real panel: exactly gens 1 and 5
    // are fully expired
    val expiredSet = describeStats(spark, root).collect()
      .filter(_.getAs[Int]("max_deletion_s") < gcBeforeS)
      .map(_.getAs[String]("sstable")).toSet
    require(expiredSet == Set("documents/nb-1-big-Data.db",
      "documents/nb-5-big-Data.db"),
      s"edge fixture premise broken: expired set $expiredSet")
    val out = expiredBlockers(spark, root, gcBeforeS).localCheckpoint()
    require(out.count() == 1L,
      "edge fixture must yield exactly the one inclusive-bound blocker")
    graft.Scratch.delete(src)
    out
  }

  /** The copy step both offline surgeries share: generation `g` copied
    * FLAT by component name into `outDir` (one table directory is the
    * tools' unit, [[Lake.requireOneTable]]), every component
    * byte-verbatim except `replaced`, a component path and the bytes
    * written in its place. The rest stream through a 1 MiB buffer: a
    * multi-GB Data.db must neither materialize on-heap nor trip
    * [[Generation.readAll]]'s sidecar bound. Every copy is written
    * through [[OutputFiles]], so the output directory holds the
    * components only, with no `.crc` side files. */
  private def copyGeneration(g: Generation, outDir: String,
      replaced: Option[(String, Array[Byte])]): Unit = {
    val out = outDir.stripSuffix("/")
    val outFs = FileSystem.get(java.net.URI.create(out), g.conf)
    g.components.foreach { src =>
      val dst = new HPath(s"$out/${src.split('/').last}")
      replaced.filter(_._1 == src) match {
        case Some((_, bytes)) => OutputFiles.write(outFs, dst, bytes)
        case None =>
          val in = g.fs.open(new HPath(src))
          try OutputFiles.stream(outFs, dst) { os =>
            val buf = new Array[Byte](1024 * 1024)
            var n = in.read(buf)
            while (n >= 0) {
              if (n > 0) os.write(buf, 0, n)
              n = in.read(buf)
            }
          } finally in.close()
      }
    }
  }

  /** The `IndexSummaryManager` role as an OFFLINE lake operation
    * (`nodetool`'s summary redistribution, non-destructively): fit
    * the summaries of every generation under `root` into
    * `budgetMarks` by coarsening the COLDEST files first
    * ([[SSTableComponents.redistributeSummaries]] — the same greedy
    * the registered audits pin), then copy each generation to
    * `outDir` with ONLY its Summary.db re-emitted at the new
    * sampling; factor-1 files copy verbatim. Hotness comes from an
    * optional ACTIVITY table (parquet with `sstable` + `rate_15m` —
    * the persisted [[RestorableMeter]] rates, `system
    * .sstable_activity`'s role); files without a rate default to
    * 0.0 — an sstable nothing reads is the coldest thing on the
    * ring, exactly Cassandra's posture for a meterless file.
    * Era-dispatched downsample: modern summaries coarsen on the
    * interval ladder; 2.x summaries coarsen by SAMPLING LEVEL in the
    * literal `Downsampling`-pattern order the era's readers expect
    * ([[SSTableComponents.downsampleSummary2x]] — the reference's
    * cassandra-2 `cloneWithNewSummarySamplingLevel` downsample
    * branch), with interval and sizeAtFullSampling untouched.
    * A summaryless generation refuses loudly — redistribute
    * is a memory-budget tool; rebuilding belongs to the read path
    * that already does it. Returns the plan, one row per
    * generation. */
  def redistributeLake(spark: SparkSession, root: String,
      outDir: String, budgetMarks: Long,
      activity: Option[String]): DataFrame = {
    import spark.implicits._
    require(budgetMarks > 0,
      s"summary budget must be positive, got $budgetMarks")
    val lake = new Lake(spark, root)
    val gens = lake.generations
    require(gens.nonEmpty, s"$root holds no generations")
    lake.requireOneTable("summary redistribution")
    def keyOf(p: String): String = SSTableBinaryV2.sstableIdentity(p)
    // duplicate sstable rows (an activity table appended over time)
    // collapse by MAX — deterministic, and "was recently hot" is the
    // conservative rank for a summary-degrading decision
    val rates: Map[String, Double] = activity match {
      case None => Map.empty
      case Some(p) => spark.read.parquet(p)
        // NULL rates drop BEFORE the aggregate: a file whose every
        // activity row is NULL must land in the documented
        // meterless-coldest posture (no map entry → 0.0), not
        // surface as a null max() and an opaque NPE here
        .filter(org.apache.spark.sql.functions
          .col("rate_15m").isNotNull)
        .groupBy(org.apache.spark.sql.functions.col("sstable"))
        .agg(org.apache.spark.sql.functions
          .max(org.apache.spark.sql.functions.col("rate_15m")
            .cast("double")).as("rate_15m"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    }
    // a non-empty activity table that matches ZERO generations is
    // EITHER a key-shape mistake (bare filenames, full paths) OR a
    // genuinely never-read directory inside a multi-table lake
    // export — the run cannot tell them apart, so it proceeds with
    // the documented meterless-coldest ranking but says so LOUDLY
    // instead of refusing (a cluster-wide sstable_activity export
    // legitimately has no row for a cold table)
    if (rates.nonEmpty && !gens.exists(g => rates.contains(keyOf(g._1))))
      System.err.println(
        s"WARNING: --activity table matches no generation under " +
          s"$root — every file ranks coldest. If this directory is " +
          "not actually cold, check the key shape: expected " +
          s"'${keyOf(gens.head._1)}', table has: " +
          s"${rates.keys.take(3).mkString(", ")}")
    // pass 1: marks per generation — one Summary.db header each.
    // The third column is the 2.x samplingLevel (-1 on modern files,
    // whose summaries ladder by INTERVAL instead)
    val marks: Seq[(String, Int, Int)] = lake.job { g =>
      val bytes = g.readAll(g.comp("-Summary.db")
        .getOrElse(throw new IllegalStateException(
          s"${g.path}: no Summary.db to redistribute")))
      Some(
        if (g.oldEra)
          (g.path, SSTableComponents.readSummary2x(bytes).sampled.size,
            SSTableComponents.readSummaryLevel2x(bytes))
        else
          (g.path, SSTableComponents.readSummary(bytes).sampled.size, -1))
    }
      .collect().toSeq.sortBy(_._1)
    val factors = SSTableComponents.redistributeSummaries(
      marks.map { case (p, m, _) =>
        (p, m, rates.getOrElse(keyOf(p), 0.0)) },
      budgetMarks)
    val bcFactors = spark.sparkContext.broadcast(factors)
    val bcMarks = spark.sparkContext.broadcast(
      marks.map { case (p, m, lvl) => p -> ((m, lvl)) }.toMap)
    // pass 2: copy every generation, re-emitting only Summary.db
    val plan = lake.job { g =>
      val f = bcFactors.value(g.path)
      val (passMarks, level2x) = bcMarks.value(g.path)
      val sumPath = g.sibling("-Summary.db")
      // a factor-1 summary copies verbatim with pass 1's mark count —
      // no second sidecar parse for the (typical) untouched majority
      val (after, rewritten) =
        if (f == 1) (passMarks, None)
        else if (level2x >= 0) {
          // the 2.x era coarsens by SAMPLING LEVEL in the literal
          // Downsampling-pattern order — the reference's own 2.x
          // redistribution branch (cassandra-2
          // cloneWithNewSummarySamplingLevel →
          // IndexSummaryBuilder.downsample); interval and
          // sizeAtFullSampling stay untouched
          val cur = SSTableComponents.readSummary2x(g.readAll(sumPath))
          val (thinned, newLevel) = SSTableComponents
            .downsampleSummary2x(cur, level2x, f)
          (thinned.sampled.size, Some(SSTableComponents.writeSummary2x(
            thinned.sampled,
            thinned.sizeAtFullSampling.toLong * thinned.minIndexInterval,
            thinned.firstKey, thinned.lastKey,
            thinned.minIndexInterval, newLevel)))
        } else {
          val s = SSTableComponents.downsampleSummary(
            SSTableComponents.readSummary(g.readAll(sumPath)), f)
          (s.sampled.size, Some(SSTableComponents.writeSummary(s.sampled,
            s.sizeAtFullSampling.toLong * s.minIndexInterval,
            s.firstKey, s.lastKey, s.minIndexInterval)))
        }
      copyGeneration(g, outDir, rewritten.map(sumPath -> _))
      Some((g.sstable, f, after))
    }
      .collect().toSeq.sortBy(_._1)
    val byPath = marks.map { case (p, m, _) => keyOf(p) -> m }.toMap
    spark.createDataset(plan.map { case (k, f, after) =>
      (k, rates.getOrElse(k, 0.0), byPath(k).toLong, f, after.toLong) })
      .toDF("sstable", "rate", "marks_before", "factor", "marks_after")
  }

  /** A designed generation set's frame and its source identities, at
    * any SF: each of the first 480 documents becomes `perDoc`
    * single-cell partitions `r-<pid>` (pid = doc_id × perDoc + k,
    * written at 2021-01-01 + pid µs, no TTL), and document d lands in
    * generation `nb-<d % gens + 1>`. `what` names the audit whose
    * fixture needs the 480 documents. */
  private def designedGenerations(spark: SparkSession, sfDir: String,
      what: String, perDoc: Int, gens: Int): (DataFrame, Seq[String]) = {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select(col("doc_id").cast("long")).filter(col("doc_id") < 480)
    require(docs.count() == 480L,
      s"$what fixture needs the first 480 documents")
    val frame = docs
      .withColumn("k", explode(array((0 until perDoc).map(i =>
        lit(i.toLong)): _*)))
      .withColumn("pid", col("doc_id") * perDoc + col("k"))
      .withColumn("partition_key", concat(lit("r-"), col("pid")))
      .withColumn("clustering", array(lit("c")))
      .withColumn("row_kind", lit("ROW"))
      .withColumn("name", lit("v"))
      .withColumn("cell", struct(
        lit("x").as("value"),
        (lit(1609459200000000L) + col("pid")).as("writetime_us"),
        lit(null).cast("int").as("ttl_s"),
        lit(null).cast("bigint").as("expire_us")))
      .withColumn("deletion_us", lit(null).cast("bigint"))
      .withColumn("sstable", concat(lit("documents/nb-"),
        (col("doc_id") % gens + 1).cast("string"), lit("-big-Data.db")))
      .drop("doc_id", "k", "pid")
    (frame, (1 to gens).map(g => s"documents/nb-$g-big-Data.db"))
  }

  /** Registered `src_sstable_redistribute` — [[redistributeLake]]
    * end-to-end under the oracle: a DESIGNED two-generation set (the
    * first 480 documents, exploded ×4 → 960 partitions per
    * generation → exactly 8 summary marks each at the written
    * interval, SF-independent by id-cap) is redistributed into a
    * half-pool budget with an activity table that rates generation 2
    * hot and leaves generation 1 METERLESS (the coldest-possible
    * rank — the posture a file nothing reads gets). The greedy's
    * closed form is constant: the cold file coarsens to the factor-8
    * cap (8 → 1 marks), the hot file takes one doubling (8 → 4),
    * pool 16 → 5 ≤ 8 = the budget. In-query gates:
    * the rewritten lake still fully decodes AND point-reads through
    * the coarsened summary, and the cold output summary really
    * carries the ×8 interval. Every served column is a design
    * constant the oracle replays as VALUES. */
  def redistributeAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 4 partitions per member doc → 960 per generation → exactly 8
    // summary marks each at the written interval (128), at any SF
    val (frame, sources) =
      designedGenerations(spark, sfDir, "redistribute", perDoc = 4, gens = 2)
    val src = graft.Scratch.dir("graft-redisaudit-src-")
    val out = graft.Scratch.dir("graft-redisaudit-out-")
    val act = graft.Scratch.dir("graft-redisaudit-act-")
    // the generation-set write and the designed activity-table write
    // are independent sink jobs — overlap them (guide §2.6)
    graft.Par.all(Seq(
      () => { SSTableBinaryV2.writeSSTables(frame, src.toString,
        "graft", "documents", sources = Some(sources)); () },
      () => Seq(("documents/nb-2-big-Data.db", 4.0))
        .toDF("sstable", "rate_15m")
        .write.mode("overwrite").parquet(act.toString)))
    val plan = redistributeLake(spark, s"$src/graft/documents",
      out.toString, budgetMarks = 8, activity = Some(act.toString))
      .localCheckpoint()
    // the rewritten lake still serves — full decode and a point read
    // through the coarsened summary — and the cold summary really
    // got the ×8 interval
    val back = SSTableBinaryV2.readBinary(spark, out.toString)
    // the full-decode count and the point read are independent scans
    // of the rewritten lake — overlap them (guide §2.6)
    val Seq(nBack, nPoint) = graft.Par.all(Seq(
      () => back.count(),
      // doc 76 is even → generation 1, the ×8-coarsened file
      () => back.filter(col("partition_key") === "r-304").count()))
    require(nBack == 1920L, "redistributed lake lost rows")
    require(nPoint == 1L,
      "point read through the ×8-coarsened summary failed")
    val coldSum = SSTableComponents.readSummary(
      java.nio.file.Files.readAllBytes(
        out.resolve("nb-1-big-Summary.db")))
    require(coldSum.minIndexInterval == 128 * 8 &&
      coldSum.sampled.size == 1,
      s"cold summary not coarsened: interval " +
        s"${coldSum.minIndexInterval}, marks ${coldSum.sampled.size}")
    graft.Scratch.delete(src)
    graft.Scratch.delete(out)
    graft.Scratch.delete(act)
    plan
  }

  /** Registered `src_sstable_redistribute_2x` — the 2.x leg of the
    * offline redistribution, the literal capability of the
    * reference's cassandra-2 fork
    * (`cloneWithNewSummarySamplingLevel` → the
    * `IndexSummaryBuilder.downsample` branch): a designed ka
    * generation pair (the first 480 documents ×4 → 960 partitions
    * per generation → 8 summary marks at interval 128, written at
    * sampling level 128) is redistributed into a budget that forces
    * ONE level halving on the meterless generation. Index.db is
    * never written — the downsample derives from the existing
    * summary alone, zero index IO, exactly the reference's in-place
    * branch. In-query gates: the coarsened summary's level word
    * reads 64, its marks are the EVEN-indexed originals (the literal
    * Downsampling pattern removes the odds first — at exactly one
    * halving this coincides with an interval ladder; intermediate
    * levels diverge, which the pattern spec pins), interval and
    * sizeAtFullSampling are untouched,
    * the hot generation copies byte-verbatim, and the rewritten lake
    * still fully decodes with no index anywhere. Every served column
    * is a design constant the oracle replays as VALUES. */
  def redistribute2xAudit(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    require(graft.Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") < 480).count() == 480L,
      "redistribute-2x fixture needs the first 480 documents")
    val out = graft.Scratch.dir("graft-redis2x-out-")
    val act = graft.Scratch.dir("graft-redis2x-act-")
    // two designed ka generations, written executor-side with NO
    // Index.db — 4 partitions per member doc, one cell each
    val (src, _) = SSTableBinaryV2.buildFixture(spark, sfDir,
      "graft-redis2x-src-", files = 2) { (fileId, docs, write) =>
      val parts = docs.filter(_.docId < 480).flatMap { d =>
        (0 until 4).map { k =>
          val pid = d.docId * 4 + k
          OldFormat.Partition2(s"r-$pid", None, Seq(
            OldFormat.Cell2(Seq("c"), "len",
              1609459200000000L + pid, None, None, Some("1"),
              deleted = false, counter = false)))
        }
      }
      val index = SSTableBinaryV2.encode2xFixture(write, fileId, parts,
        SSTableBinaryV2.Cql2x, sidecars = Set("Summary.db"))
      val marks = SSTableComponents.sampleIndex2x(index).size
      require(index.size == 960 && marks == 8,
        s"gen ${fileId + 1}: designed 960 partitions / 8 marks, " +
          s"got ${index.size} / $marks")
      index.size
    }
    Seq(("documents/graft-documents-ka-2-Data.db", 4.0))
      .toDF("sstable", "rate_15m")
      .write.mode("overwrite").parquet(act.toString)
    // budget 13: the greedy halves the meterless generation once
    // (8 → 4 marks, pool 16 → 12 ≤ 13) and stops
    val plan = redistributeLake(spark, s"$src/documents",
      out.toString, budgetMarks = 13, activity = Some(act.toString))
      .localCheckpoint()
    // literal-pattern gates on the coarsened summary
    val srcSum = SSTableComponents.readSummary2x(
      java.nio.file.Files.readAllBytes(src.resolve("documents")
        .resolve("graft-documents-ka-1-Summary.db")))
    val coldBytes = java.nio.file.Files.readAllBytes(
      out.resolve("graft-documents-ka-1-Summary.db"))
    val coldSum = SSTableComponents.readSummary2x(coldBytes)
    require(SSTableComponents.readSummaryLevel2x(coldBytes) == 64,
      "cold 2.x summary level not halved to 64")
    require(coldSum.minIndexInterval == srcSum.minIndexInterval &&
      coldSum.sizeAtFullSampling == srcSum.sizeAtFullSampling,
      "2.x downsample must not touch interval/sizeAtFullSampling")
    val wantKept = srcSum.sampled.zipWithIndex
      .collect { case ((k, p), i) if i % 2 == 0 => (k.toSeq, p) }
    require(coldSum.sampled.map { case (k, p) => (k.toSeq, p) }
      == wantKept,
      "level-64 summary must keep exactly the EVEN-indexed marks " +
        "(the literal Downsampling pattern removes the odd slots " +
        "first; slot 0 is removed last)")
    // the hot generation copies byte-verbatim
    require(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(src.resolve("documents")
        .resolve("graft-documents-ka-2-Summary.db")),
      java.nio.file.Files.readAllBytes(
        out.resolve("graft-documents-ka-2-Summary.db"))),
      "factor-1 2.x summary must copy verbatim")
    // the rewritten lake still decodes in full — no Index.db anywhere
    val back = SSTableBinaryV2.readBinary(spark, out.toString,
      Some(SSTableBinaryV2.Cql2x))
    require(back.count() == 1920L, "redistributed 2.x lake lost rows")
    graft.Scratch.delete(src)
    graft.Scratch.delete(out)
    graft.Scratch.delete(act)
    plan
  }

  /** The reference reader's scheduled activity persist
    * (`NoTTLReader.java:2288-2332` — `readMeterSyncFuture` writes
    * each open sstable's meter to `system.sstable_activity` every
    * five minutes), as a lake operation: harvest every executor's
    * [[ActivityRegistry]] meters for `epoch`, ticked to
    * `clockNanos`, SUM the per-executor rates per sstable (each
    * executor metered the reads IT served — EWMA rates of disjoint
    * mark streams add), and persist the
    * `sstable`/`reads`/`rate_15m`/`rate_120m` table
    * [[redistributeLake]] consumes. Harvest is a probe job with
    * several tasks per core so every live executor contributes;
    * like the reference's five-minute sync, the table is a snapshot
    * of the meters that were reachable at persist time. Returns the
    * written frame (catalog-sized: one row per read sstable). */
  def writeActivity(spark: SparkSession, epoch: String,
      clockNanos: Long, outPath: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val n = math.max(spark.sparkContext.defaultParallelism * 2, 4)
    val harvested = spark.sparkContext.parallelize(0 until n, n)
      .mapPartitions { _ =>
        val exec = org.apache.spark.SparkEnv.get.executorId
        ActivityRegistry.snapshot(epoch, clockNanos).iterator.map {
          case (sst, reads, r15, r120) => (exec, sst, reads, r15, r120)
        }
      }
      .collect()
      // every probe task on one executor snapshots the same meters at
      // the same (idempotent) tick — identical rows, dedup exactly
      .distinct.toSeq
    val df = harvested
      .toDF("executor", "sstable", "reads", "rate_15m", "rate_120m")
      .groupBy(col("sstable"))
      .agg(sum(col("reads")).as("reads"),
        sum(col("rate_15m")).as("rate_15m"),
        sum(col("rate_120m")).as("rate_120m"))
    df.write.mode("overwrite").parquet(outPath)
    df
  }

  /** Registered `src_sstable_track_activity` — the read-activity loop
    * CLOSED end-to-end, no hand-supplied table anywhere: the
    * reference's reader marks its meter on every actual read and a
    * scheduled sync persists it; summary redistribution then weighs
    * files by those rates (`NoTTLReader.java:126` meter field,
    * `:2288-2332` sync, `IndexSummaryManager` consumer). Here:
    *   1. a DESIGNED private generation set (first 480 documents ×10
    *      → 1200 partitions per generation → 10 summary marks each at
    *      the written interval, SF-independent by id-cap);
    *   2. a designed SCAN SCHEDULE: generation g is point-read g
    *      times under `activityEpoch`/`activityClockNanos=1` — every
    *      mark lands through the REAL bloom-gated Data.db-open choke
    *      point, never through a hand-built meter;
    *   3. [[writeActivity]] persists the harvested meters at
    *      2 ticks + 1ns — one burst interval plus one silent decay,
    *      so rate15 = g/5·exp(-5/900) closed-form (gated at 1e-9
    *      before anything is served);
    *   4. [[redistributeLake]] consumes that parquet: strictly
    *      ordered rates over equal 10-mark summaries at a half-pool
    *      budget land the greedy on factors [8,8,2,1] coldest-first —
    *      all columns design arithmetic the oracle replays. */
  def trackActivityAudit(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 10 partitions per member doc → 1200 per generation → 10 summary
    // marks each at the written interval (128), at any SF; ≥9 equal
    // marks is the rank-closed-form regime the read-meter audit pins
    val (frame, sources) = designedGenerations(spark, sfDir,
      "track-activity", perDoc = 10, gens = 4)
    val src = graft.Scratch.dir("graft-trackact-src-")
    val act = graft.Scratch.dir("graft-trackact-act-")
    val out = graft.Scratch.dir("graft-trackact-out-")
    SSTableBinaryV2.writeSSTables(frame, src.toString,
      "graft", "documents",
      sources = Some(sources))
    val root = s"$src/graft/documents"
    val epoch = java.util.UUID.randomUUID().toString
    val tick = RestorableMeter.TickIntervalNanos
    // designed schedule: gen g point-read g times, all marks at 1ns —
    // docs 0..3 land in gens 1..4, their first pid is doc*10. The ten
    // reads are INDEPENDENT jobs (marks are additive and the shared
    // 1ns clock makes meter ticks idempotent, so arrival order cannot
    // matter), so they overlap from a driver pool (guide §2.6) instead
    // of serializing ten point-scan scheduling tails.
    val reads = for { g <- 1 to 4; _ <- 1 to g } yield { () =>
      val key = s"r-${(g - 1) * 10}"
      val served = spark.read.format("sstable-big")
        .option("activityEpoch", epoch)
        .option("activityClockNanos", "1")
        .load(root)
        .filter(col("partition_key") === key)
        .count()
      require(served > 0L,
        s"track-activity point read of $key served nothing")
    }
    // pool sized to the read count: the default 8 would queue 2 of
    // the 10 reads behind the first wave, re-serializing exactly the
    // scheduling tails the overlap exists to hide (r15 verdict
    // residual: "Par.all's default pool of 8 serializes 10-way
    // overlaps slightly")
    graft.Par.all(reads, parallelism = reads.size)
    val actDf = writeActivity(spark, epoch, 2 * tick + 1, act.toString)
      .collect().map(r => r.getAs[String]("sstable") ->
        (r.getAs[Long]("reads"), r.getAs[Double]("rate_15m"),
          r.getAs[Double]("rate_120m"))).toMap
    ActivityRegistry.drop(epoch)
    // the closed form, gated before anything serves: one burst tick
    // (g reads / 5s) then one silent decay
    val d15 = math.exp(-5.0 / 900.0)
    val d120 = math.exp(-5.0 / 7200.0)
    (1 to 4).foreach { g =>
      val name = s"documents/nb-$g-big-Data.db"
      val (reads, r15, r120) = actDf.getOrElse(name,
        throw new IllegalStateException(
          s"$name: no activity row — the tracked scans never marked"))
      require(reads == g.toLong,
        s"$name: $reads reads metered, designed $g")
      val want15 = g / 5.0 * d15
      val want120 = g / 5.0 * d120
      require(math.abs(r15 - want15) < 1e-9 &&
        math.abs(r120 - want120) < 1e-9,
        s"$name: tracked meter drifted off the closed form " +
          s"($r15 vs $want15)")
    }
    // rates strictly ordered, marks equal → the greedy's rank closed
    // form at the half-pool budget: 4×10 marks → budget 20
    val plan = redistributeLake(spark, root, out.toString,
      budgetMarks = 20, activity = Some(act.toString))
      .collect().map(r => r.getAs[String]("sstable") ->
        (r.getAs[Long]("marks_before"), r.getAs[Int]("factor"),
          r.getAs[Long]("marks_after"))).toMap
    val rows = (1 to 4).map { g =>
      val name = s"documents/nb-$g-big-Data.db"
      val (reads, r15, r120) = actDf(name)
      val (mb, f, ma) = plan.getOrElse(name,
        throw new IllegalStateException(s"$name: missing from plan"))
      require(mb == 10L,
        s"$name: $mb summary marks, designed 10 — fixture drifted")
      (name, reads, math.round(r15 * 1e6), math.round(r120 * 1e6),
        mb, f, ma)
    }
    graft.Scratch.delete(src)
    graft.Scratch.delete(act)
    graft.Scratch.delete(out)
    spark.createDataset(rows).toDF("sstable", "reads",
      "rate15_x1e6", "rate120_x1e6", "marks_before", "factor",
      "marks_after")
  }

  /** The offline metadata-surgery tools (`sstablelevelreset` /
    * `sstableofflinerelevel` / `sstablerepairedset` — the leveled
    * state the reference reads at `NoTTLReader.getSSTableLevel`,
    * `NoTTLReader.java:1963`, and the repaired state at `isRepaired`,
    * `:1851`), NON-destructively: every generation under `root` is
    * copied to `outDir` (same relative names, every component
    * byte-verbatim) with ONLY its Statistics.db re-emitted — the
    * STATS component's `sstableLevel` / `repairedAt` replaced, the
    * HEADER, COMPACTION sketch and VALIDATION declaration preserved.
    * One task per generation; the rewrite reads sidecars only, so a
    * lake relevels at catalog cost with Data.db copied as opaque
    * bytes. Modern-era generations only (Cassandra's own tools
    * operate on live-version files); a 2.x generation or one without
    * a STATS component refuses loudly — silently writing an
    * unchanged copy would let an operator believe the level was set.
    * Returns generations rewritten. */
  def rewriteMetadata(spark: SparkSession, root: String, outDir: String,
      level: Option[Int], repairedAt: Option[Long]): Long = {
    import spark.implicits._
    require(level.isDefined || repairedAt.isDefined,
      "rewriteMetadata: nothing to set")
    val lake = new Lake(spark, root)
    lake.requireOneTable("metadata surgery")
    lake.job { g =>
      require(g.version.nonEmpty && !g.oldEra,
        s"${g.path}: metadata surgery serves modern-era " +
          "generations only (2.x StatsMetadata has its own layout)")
      val statsPath = g.sibling("-Statistics.db")
      require(g.comp("-Statistics.db").isDefined,
        s"${g.path}: no Statistics.db to rewrite")
      val bytes = g.readAll(statsPath)
      BigFormat.readStatsModern(bytes, g.version)
        .getOrElse(throw new IllegalStateException(
          s"${g.path}: Statistics.db carries no STATS component — " +
            "nothing to set a level/repairedAt on"))
      // BYTE-SURGICAL: only the two fields' bytes change (and the
      // n-series component CRC) — clustering-value lists,
      // commit-log intervals, pending-repair sessions and any
      // other fields a real cluster's file carries survive
      // bit-exact, which is the whole "only level/repairedAt
      // replaced" contract
      copyGeneration(g, outDir, Some(statsPath -> BigFormat.patchStatsFields(
        bytes, BigFormat.versionHasMetadataChecksum(g.version), level,
        repairedAt)))
      Some(1L)
    }.collect().sum
  }

  /** Registered `src_sstable_relevel` — the surgery end-to-end: the
    * shared fixture rides the real sink into fresh generations, every
    * generation is releveled to 2 and marked repaired at a designed
    * epoch, and [[describeStats]] over the REWRITTEN copies must show
    * exactly the original panel with only those two fields changed —
    * the oracle replays the whole panel, so a surgery that disturbs
    * any other field (timestamps, totals, droppability, the
    * histograms) fails the hash. In-query gates pin the
    * non-destructive contract: the source generations still read
    * level 0 / unrepaired, and the sketch survives verbatim. */
  def relevelAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // the SOURCE is the shared read-only set (surgery copies; it
    // never mutates its input — the 'before' requires pin exactly
    // that); only the surged output is private
    val surged = graft.Scratch.dir("graft-relevel-out-")
    val srcRoot = SSTableBinaryV2.plainGenSetShared(spark, sfDir)
    val n = rewriteMetadata(spark, srcRoot, s"$surged/documents",
      level = Some(2), repairedAt = Some(1700000000000L))
    require(n == 4L, s"expected 4 generations releveled, got $n")
    // non-destructive: the SOURCE panel still reads level 0,
    // unrepaired, and the key-count sketch survived the copy
    val before = describeStats(spark, srcRoot).collect()
    require(before.forall(r => r.getAs[Int]("sstable_level") == 0 &&
      r.getAs[Long]("repaired_at") == 0L),
      "surgery mutated its input generations")
    val after = describeStats(spark, s"$surged/documents")
      .localCheckpoint()
    val hllSurvived = describe(spark, s"$surged/documents")
      .select(col("est_keys_hll")).collect()
    require(hllSurvived.forall(!_.isNullAt(0)),
      "the COMPACTION sketch did not survive the rewrite")
    graft.Scratch.delete(surged)
    after
  }

  /** Registered `src_sstable_stats` — the modern StatsMetadata
    * lifecycle end-to-end: the shared fixture rides [[SSTableBinaryV2
    * .writeSSTables]] (whose MetadataCollector pass is what's under
    * test) into fresh plain AND lz4 generations, every Data.db is
    * then OVERWRITTEN with junk (the sidecar-only proof — the panel
    * must come from Statistics.db alone), and [[describeStats]]
    * serves both layouts with its size/ratio gates armed from the
    * pre-junk lengths. Every served column is doc_id arithmetic the
    * DuckDB oracle replays: collector semantics put `min_ttl_s` at 0
    * exactly when a non-expiring cell exists and `max_deletion_s` at
    * 2147483647 exactly when a LIVE cell exists — both
    * generation-dependent in the fixture's design. */
  def statsAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val in = SSTableBinaryV2.binaryFixtureShared(spark, sfDir)
    val frame = SSTableBinaryV2.readBinary(spark, in)
    val out = graft.Scratch.dir("graft-statsaudit-")
    val outLz4 = graft.Scratch.dir("graft-statsauditlz4-")
    // two independent sink jobs to disjoint dirs — overlap (guide
    // §2.6); one driver-side listing replaces both generation passes
    val srcIds = SSTableBinaryV2.dataSourceIdentities(spark, in)
    graft.Par.all(Seq(
      () => SSTableBinaryV2.writeSSTables(frame, out.toString,
        "graft", "documents", sources = Some(srcIds)),
      () => SSTableBinaryV2.writeSSTables(frame, outLz4.toString,
        "graft", "documents",
        compression = Some(CompressedData.Lz4),
        sources = Some(srcIds))))
    // the plain leg re-emits each generation's Statistics.db with a
    // DESIGNED 4.0 repair tail — pendingRepair session, isTransient,
    // originatingHostId, all f-arithmetic UUIDs the oracle replays —
    // while the lz4 leg keeps the sink's own tail (no session, not
    // transient, no host: the offline-writer truth), so one query
    // serves both the present and the absent paths of the tail parse
    editComponents(out.resolve("graft").resolve("documents"),
        "-Statistics.db") { p =>
      val f = p.getFileName.toString.split('-')(1).toInt - 1 // nb-<gen>-…
      val bytes = java.nio.file.Files.readAllBytes(p)
      val s = BigFormat.readStatsModern(bytes, "nb")
        .getOrElse(throw new IllegalStateException(
          s"$p: sink wrote no STATS component"))
      java.nio.file.Files.write(p, BigFormat.writeStats(
        BigFormat.readStats(bytes), "nb",
        compaction = BigFormat.readCompaction(bytes),
        stats = Some(s.copy(
          pendingRepair = Some(new java.util.UUID(f + 1L, 17L)),
          isTransient = f % 2 == 0,
          originatingHostId = Some(new java.util.UUID(f + 2L, 33L)),
          // gen designed interval sets: count = gen, replayable
          commitLogIntervals = Seq.tabulate(f + 1)(i =>
            ((i.toLong, i * 10), (i + 1L, i * 10 + 5))),
          // designed replay bounds, all f-arithmetic
          commitLogUpper = (100L + f, 4096 + f),
          commitLogLower = (f.toLong, 10 * f))),
        validation = BigFormat.readValidation(bytes, checksummed = true)))
    }
    // capture real Data.db lengths for the audit gates (per layout —
    // plain and lz4 share generation NAMES but not lengths), THEN
    // junk the data files so a peeking implementation fails loudly
    def captureAndJunk(dir: java.nio.file.Path): Map[String, Long] = {
      val sizes = scala.collection.mutable.Map.empty[String, Long]
      editComponents(dir, "-Data.db") { f =>
        sizes += s"documents/${f.getFileName}" -> java.nio.file.Files.size(f)
        java.nio.file.Files.write(f, Array.fill[Byte](16)(0x22))
      }
      sizes.toMap
    }
    val sizesPlain = captureAndJunk(
      out.resolve("graft").resolve("documents"))
    val sizesLz4 = captureAndJunk(
      outLz4.resolve("graft").resolve("documents"))
    val described = describeStats(spark, s"$out/graft/documents",
        sizesPlain)
      .withColumn("layout", lit("plain"))
      .unionByName(describeStats(spark, s"$outLz4/graft/documents",
          sizesLz4)
        .withColumn("layout", lit("lz4")))
      .localCheckpoint()
    graft.Scratch.delete(out)
    graft.Scratch.delete(outLz4)
    described
  }

  /** Registered `src_sstable_metadata`: the sidecar-only inventory
    * over sink-written generation sets — uncompressed, compressed
    * (the lz4 rewrite shows its compressor and one extra component),
    * and a pre-3.0 ka set (whose 2.x StatsMetadata supplies
    * `min_writetime_us` where the era has no serialization header).
    * The oracle replays the fixture arithmetic per generation: exact
    * partition counts, stats minima, component census. The
    * no-Data.db property is ORACLE-GATED, not just spec-gated: every
    * Data.db is garbled before describing, so a describe() that ever
    * starts opening data files fails the correctness run loudly.
    * The token-order columns (`first_key`/`last_key`/`est_keys_max`)
    * are ALSO oracle-gated — audit mode requires each Summary fact to
    * match the independently streamed Index.db ground truth while the
    * row is produced — then dropped, since DuckDB cannot replay the
    * key rendering itself. */
  def metadataAudit(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val in = SSTableBinaryV2.binaryFixtureShared(spark, sfDir)
    val out = graft.Scratch.dir("graft-metaaudit-")
    val outLz4 = graft.Scratch.dir("graft-metaauditlz4-")
    val frame = SSTableBinaryV2.readBinary(spark, in)
    // three independent fixture writes to disjoint dirs — overlap
    // them (guide §2.6); one driver-side listing replaces both sink
    // generation passes
    val srcIds = SSTableBinaryV2.dataSourceIdentities(spark, in)
    val outKa = graft.Par.all(Seq(
      () => { SSTableBinaryV2.writeSSTables(frame, out.toString,
        "graft", "documents", sources = Some(srcIds)); None },
      () => { SSTableBinaryV2.writeSSTables(frame, outLz4.toString,
        "graft", "documents",
        compression = Some(CompressedData.Lz4),
        sources = Some(srcIds)); None },
      () => Some(SSTableBinaryV2.writeOldFixture(spark, sfDir))))
      .flatten.head
    val genDirs = Seq(
      out.resolve("graft").resolve("documents"),
      outLz4.resolve("graft").resolve("documents"),
      outKa.resolve("documents"))
    genDirs.foreach(editComponents(_, "-Data.db")(f =>
      java.nio.file.Files.write(f, Array.fill[Byte](16)(0x11))))
    val described = describe(spark, s"$out/graft/documents",
        audit = true)
      .withColumn("layout", lit("plain"))
      .unionByName(describe(spark, s"$outLz4/graft/documents",
          audit = true)
        .withColumn("layout", lit("lz4")))
      .unionByName(describe(spark, s"$outKa/documents", audit = true)
        .withColumn("layout", lit("ka")))
      .drop("first_key", "last_key", "est_keys_max")
      .localCheckpoint()
    graft.Scratch.delete(out)
    graft.Scratch.delete(outLz4)
    graft.Scratch.delete(outKa)
    described
  }
}
