package graft

import graft.model.CellModel
import graft.model.CellModel.TableMeta
import org.apache.spark.sql.SparkSession

/** Command-line shell over [[Pipeline]] — the analogue of the
  * reference's `TTLRemoverCLI` (`impl/.../cli/TTLRemoverCLI.java:
  * 25-105`): parse and validate flags, resolve the implementation,
  * run the removal, report. The reference's validation rules carry
  * over where they still mean something (`TTLRemoverCLI.java:
  * 165-197`): input and output are required, output must differ from
  * input (non-destructive), exactly one table per run.
  *
  * ANY table is accepted, not just the events-shaped corpus: the
  * reference takes a CQL `CREATE TABLE` (`--cql`,
  * `TTLRemoverCLI.java:166-170`) and parses it into a table metadata
  * object; here the parquet footer already carries the column types,
  * so the caller declares only what a schema alone cannot express —
  * which columns are keys and which carry liveness:
  *
  *   --pk a[,b...]       partition key columns
  *   --ck a[,b...]       clustering key columns (optional)
  *   --cells a[,b...]    regular columns that carry TTL liveness
  *   --writetime c       column providing writetime (timestamp/date,
  *                       or integral epoch-micros)
  *   --ttl-key c         column keying the corpus's deterministic TTL
  *                       synthesis (default: first --pk column)
  *
  * `--table events` with no cell spec keeps the shipped events model
  * (backward-compatible convenience).
  *
  * `--format sstabledump` accepts real-Cassandra input: --in points
  * at `sstabledump` JSON (one per SSTable), converted through
  * [[graft.sources.SSTableDumpBridge]] — liveness comes from the dump
  * itself, so no cell-model flags apply.
  *
  * `--merge lww` (sstabledump or binary input) reconciles ALL input
  * generations before writing — a directory of SSTables collapses to
  * the table's effective state (highest-writetime cells, tombstone
  * shadowing applied, markers preserved), the step the reference
  * leaves to the Cassandra server. Every sink merges under one rule
  * set, `graft.sources.SSTableBinaryV2.mergePartition`: `--sink
  * sstable` on the file route for a modern binary lake ([[fileRoute]]
  * says when) and on the frame route for the rest; the parquet and
  * `--sink sstabledump` sinks after one shuffle by partition key
  * (`SSTableBinaryV2.mergeRows`), rendered back to bridge rows.
  *
  * Usage:
  *   graft.RemoverCli --in <dir> --out <dir> --table <name>
  *     [--keyspace <ks>] [--cpus <n>]
  *     [--format parquet|sstabledump|sstable]
  *     [--merge lww]
  *     [--sink parquet|sstable|sstabledump]
  *     [--compress lz4|snappy|deflate|zstd]   (sstable sink output)
  *     [--out-generations <n>]  (sstable sink: token-bucketed output
  *       generations — the compacted output's count under --merge lww,
  *       else a split of each input generation)
  *     [--verify true | --scrub true]  (binary input: check each
  *       Digest.crc32, or salvage damaged generations)
  *     [--cql "CREATE TABLE ..."]  (parquet cell model; 2.x binary
  *       input schema; typed binary sink output)
  *     [--pk <cols> --ck <cols> --cells <cols> --writetime <col>
  *      --ttl-key <col>]
  *
  * Inventory mode (`sstablemetadata`'s UX, read-only):
  *   graft.RemoverCli --inventory true --in <lake dir>
  *     [--stats true] [--out <dir>] [--cpus <n>]
  * prints one row per generation from sidecars only (Data.db never
  * opened) and persists the table as parquet when `--out` is given;
  * `--stats true` joins the modern StatsMetadata panel (timestamps,
  * TTL/deletion bounds, level, repairedAt, row/cell totals,
  * droppability) onto the rows.
  *
  * Metadata surgery (`sstablelevelreset` / `sstablerepairedset`
  * roles, non-destructive):
  *   graft.RemoverCli --set-level <n> [--set-repaired-at <ms>]
  *     --in <table dir> --out <dir> [--cpus <n>]
  * copies every generation with ONLY the Statistics.db STATS fields
  * replaced; originals are kept.
  *
  *   graft.RemoverCli --summary-budget <marks> --in <table dir>
  *     --out <dir> [--activity <parquet>] [--cpus <n>]
  * offline summary redistribution (the IndexSummaryManager role):
  * copies every generation with Summary.db coarsened coldest-first
  * until the pool fits the mark budget; --activity supplies
  * persisted RestorableMeter rates.
  *
  *   graft.RemoverCli --track-activity <parquet> --in <lake dir>
  *     [--cql "CREATE TABLE ..."] [--cpus <n>]
  * one tracked scan (read-only) whose per-file read meters persist
  * as exactly the activity table `--summary-budget --activity`
  * consumes — the reference reader's meter + scheduled sync as a
  * lake operation.
  */
object RemoverCli {

  final case class CliArgs(
      in: String, out: String, table: String,
      keyspace: String = "graft", cpus: Int = 8,
      pk: Seq[String] = Seq.empty, ck: Seq[String] = Seq.empty,
      cells: Seq[String] = Seq.empty,
      writetime: Option[String] = None, ttlKey: Option[String] = None,
      format: String = "parquet", merge: Option[String] = None,
      sink: String = "parquet",
      cqlSchema: Option[graft.model.CqlSchema.Parsed] = None,
      cqlText: Option[String] = None,
      compress: Option[String] = None,
      verify: Boolean = false,
      scrub: Boolean = false,
      outGenerations: Int = 1,
      /** `--inventory true`: sstablemetadata's UX — list every
        * generation under `--in` from sidecars only (Data.db never
        * opened) and print the table; `--out` optionally persists it
        * as parquet. A read-only mode: every transform flag
        * contradicts it. */
      inventory: Boolean = false,
      /** `--stats true` (inventory-only): join the modern
        * StatsMetadata panel ([[graft.sources.SSTableMetadata
        * .describeStats]] — min/max timestamps, TTL and
        * deletion-time bounds, level, repairedAt, row/cell totals,
        * droppability) onto the inventory rows; generations without
        * a STATS component keep NULLs. */
      stats: Boolean = false,
      /** `--set-level N` / `--set-repaired-at <ms>`: offline metadata
        * surgery (sstablelevelreset / sstablerepairedset roles) —
        * copy every generation under `--in` to `--out` with only the
        * Statistics.db STATS fields replaced
        * ([[graft.sources.SSTableMetadata.rewriteMetadata]]);
        * non-destructive, modern-era only. */
      setLevel: Option[Int] = None,
      setRepairedAt: Option[Long] = None,
      /** `--summary-budget <marks>`: offline summary redistribution
        * (the `IndexSummaryManager` role) — copy every generation
        * under `--in` to `--out` with Summary.db files coarsened
        * coldest-first until the pool fits the budget
        * ([[graft.sources.SSTableMetadata.redistributeLake]]);
        * `--activity <parquet>` supplies per-sstable RestorableMeter
        * rates (meterless files rank coldest). */
      summaryBudget: Option[Long] = None,
      activity: Option[String] = None,
      /** `--track-activity <parquet>`: one tracked scan of `--in`
        * with per-file read meters ([[graft.sources
        * .ActivityRegistry]]), persisted as the
        * `sstable`/`reads`/`rate_15m`/`rate_120m` table
        * `--summary-budget --activity` consumes — the reference
        * reader's meter + scheduled sync (`NoTTLReader.java:126,
        * 2288-2332`) as a one-shot lake operation. The persist clock
        * sits one tick past the scan, so this scan's burst lands in
        * the rates (a one-window estimate; a scheduled deployment
        * restores and keeps decaying across runs). */
      trackActivityOut: Option[String] = None)

  private val Flags = Set("in", "out", "table", "keyspace", "cpus",
    "pk", "ck", "cells", "writetime", "ttl-key", "format", "merge",
    "sink", "cql", "compress", "verify", "scrub",
    "out-generations", "inventory", "stats", "set-level",
    "set-repaired-at", "summary-budget", "activity", "track-activity")

  private def csv(v: String): Seq[String] =
    v.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  /** Pure, testable flag parsing + validation. Left = error message. */
  def parse(argv: Array[String]): Either[String, CliArgs] = {
    def loop(rest: List[String], acc: Map[String, String])
        : Either[String, Map[String, String]] = rest match {
      case Nil => Right(acc)
      case flag :: value :: tail if flag.startsWith("--") =>
        val key = flag.drop(2)
        if (!Flags.contains(key)) Left(s"unknown flag --$key")
        else if (acc.contains(key)) Left(s"duplicate flag --$key")
        else loop(tail, acc + (key -> value))
      case other :: _ => Left(s"unexpected argument '$other'")
    }
    loop(argv.toList, Map.empty).flatMap { m =>
      // boolean flags validate BEFORE use: `--verify yes` must produce
      // the usage error every other malformed flag does, not an
      // uncaught toBoolean stack trace
      val badBool = Seq("verify", "scrub", "inventory", "stats")
        .collectFirst {
        case k if m.get(k).exists(v => !v.equalsIgnoreCase("true") &&
          !v.equalsIgnoreCase("false")) =>
          s"--$k must be true or false, got '${m(k)}'"
      }
      // a tool mode's own value flag, absent or read by `read`
      def value[A](flag: String, read: String => Option[A], must: String)
          : Either[String, Option[A]] = m.get(flag) match {
        case None => Right(None)
        case Some(v) =>
          read(v).map(Some(_)).toRight(s"--$flag must be $must, got '$v'")
      }
      if (badBool.nonEmpty) Left(badBool.get)
      else if (m.get("inventory").exists(_.toBoolean))
        parseTool(m, Set("inventory", "in", "out", "cpus", "stats"),
          "--inventory lists generations from sidecars (read-only)")(
          Right((i, o, c) => CliArgs(i, o, table = "", cpus = c,
            inventory = true, stats = m.get("stats").exists(_.toBoolean))))
      else if (m.contains("stats"))
        Left("--stats applies to --inventory only")
      else if (m.contains("set-level") || m.contains("set-repaired-at"))
        parseTool(m, Set("set-level", "set-repaired-at", "in", "out", "cpus"),
          "--set-level/--set-repaired-at rewrite Statistics.db only",
          Some("surgery keeps originals"))(for {
          level <- value("set-level", _.toIntOption.filter(_ >= 0),
            "a non-negative int")
          repaired <- value("set-repaired-at", _.toLongOption.filter(_ >= 0),
            "epoch millis >= 0")
        } yield (i, o, c) => CliArgs(i, o, table = "", cpus = c,
          setLevel = level, setRepairedAt = repaired))
      else if (m.contains("summary-budget"))
        parseTool(m, Set("summary-budget", "activity", "in", "out", "cpus"),
          "--summary-budget rewrites Summary.db files only",
          Some("redistribution keeps originals"))(
          value("summary-budget", _.toLongOption.filter(_ > 0),
            "a positive mark count").map(budget => (i, o, c) =>
            CliArgs(i, o, table = "", cpus = c, summaryBudget = budget,
              activity = m.get("activity"))))
      else if (m.contains("track-activity"))
        // --cql declares a pre-3.0 lake's schema (its files carry no
        // serialization header); the flag's value is the table's path
        parseTool(m, Set("track-activity", "in", "cpus", "cql"),
          "--track-activity is a read-only metered scan")(
          Right((i, _, c) => CliArgs(i, out = "", table = "", cpus = c,
            cqlText = m.get("cql"),
            trackActivityOut = m.get("track-activity"))))
      else if (m.contains("activity"))
        Left("--activity applies to --summary-budget only")
      else (m.get("in"), m.get("out"), m.get("table")) match {
        case (None, _, _) => Left("--in <dir> is required")
        case (_, None, _) => Left("--out <dir> is required")
        case (_, _, None) => Left("--table <name> is required")
        case (Some(i), Some(o), Some(t)) =>
          keepsInput(i, o).flatMap { _ =>
            val cpus = m.getOrElse("cpus", "8")
            val outGens = m.get("out-generations")
              .map(_.toIntOption.filter(_ >= 1))
            (cpus.toIntOption.filter(_ > 0), outGens) match {
              case (None, _) =>
                Left(s"--cpus must be a positive int, got '$cpus'")
              case (_, Some(None)) =>
                Left("--out-generations must be a positive int")
              case (Some(c), og) =>
                val args = CliArgs(i, o, t,
                  m.getOrElse("keyspace", "graft"), c,
                  pk = m.get("pk").map(csv).getOrElse(Seq.empty),
                  ck = m.get("ck").map(csv).getOrElse(Seq.empty),
                  cells = m.get("cells").map(csv).getOrElse(Seq.empty),
                  writetime = m.get("writetime"),
                  ttlKey = m.get("ttl-key"),
                  format = m.getOrElse("format", "parquet"),
                  merge = m.get("merge"),
                  sink = m.getOrElse("sink", "parquet"),
                  compress = m.get("compress").map(_.toLowerCase),
                  verify = m.get("verify").exists(_.toBoolean),
                  scrub = m.get("scrub").exists(_.toBoolean),
                  outGenerations = og.flatten.getOrElse(1))
                applyCql(args, m)
                  .flatMap(validateFormat).flatMap(validateMerge)
                  .flatMap(validateSink)
                  .flatMap(a => keepsInput(a.in, a.out, sinkDir(a))
                    .map(_ => a))
                  .flatMap(a =>
                  // dump/binary formats bring their own liveness
                  // model, so the cell-spec rules don't apply to them
                  if (isDump(a)) Right(a)
                  else validateCellSpec(a))
            }
          }
      }
    }
  }

  private def normalized(path: String): java.nio.file.Path =
    java.nio.file.Paths.get(path).toAbsolutePath.normalize

  /** Refuses an output that would overwrite the input (originals are
    * kept): `out` equal to `in`, or the directory the sink writes,
    * `written`, equal to `in`, inside it or holding it. Paths compare
    * absolute and normalized, so `x` and `./x` are one directory. */
  private def keepsInput(in: String, out: String,
      written: Option[String] = None): Either[String, Unit] = {
    val i = normalized(in)
    if (normalized(out) == i)
      Left("--out must differ from --in (originals are kept)")
    else written.map(normalized)
      .find(w => w.startsWith(i) || i.startsWith(w)) match {
      case Some(w) => Left(s"the sink writes $w, which is, holds or lies " +
        s"inside --in $i (originals are kept)")
      case None => Right(())
    }
  }

  /** The directory a binary or dump sink writes into, the one that must
    * stay clear of `--in`: `<out>/<ks>/<table>` for `--sink sstable`,
    * `<out>` for `--sink sstabledump`. */
  private def sinkDir(a: CliArgs): Option[String] = a.sink match {
    case "sstable" => Some(s"${a.out}/${a.keyspace}/${a.table}")
    case "sstabledump" => Some(a.out)
    case _ => None
  }

  /** The parser every tool mode (`--inventory`, `--set-level` /
    * `--set-repaired-at`, `--summary-budget`, `--track-activity`) runs.
    * In order, it refuses:
    *   - a flag outside `allowed`: a contradiction the user should hear
    *     about, not a silently ignored intent (`role` leads the message);
    *   - a bad value of the mode's own flags (`values`);
    *   - a missing `--in`, and a missing `--out` where `outMissing` says
    *     why the mode needs one;
    *   - an `--out` over `--in`, then a bad `--cpus`.
    * `values`' builder then makes the arguments from in, out and cpus. */
  private def parseTool(m: Map[String, String], allowed: Set[String],
      role: String, outMissing: Option[String] = None)(
      values: => Either[String, (String, String, Int) => CliArgs])
      : Either[String, CliArgs] = {
    val stray = (m.keySet -- allowed).toSeq.sorted
    if (stray.nonEmpty)
      Left(s"$role; ${stray.map("--" + _).mkString("/")} do" +
        (if (stray.size == 1) "es" else "") + " not apply")
    else values.flatMap { build =>
      val cpus = m.getOrElse("cpus", "8")
      (m.get("in"), m.get("out"), outMissing) match {
        case (None, _, _) => Left("--in <dir> is required")
        case (_, None, Some(why)) => Left(s"--out <dir> is required ($why)")
        case (Some(i), o, _) =>
          val out = o.getOrElse("")
          (if (out.isEmpty && outMissing.isEmpty) Right(())
           else keepsInput(i, out)).flatMap(_ =>
            cpus.toIntOption.filter(_ > 0)
              .toRight(s"--cpus must be a positive int, got '$cpus'"))
            .map(build(i, out, _))
      }
    }
  }

  /** `--cql "CREATE TABLE ..."` — the reference CLI's schema language
    * (`TTLRemoverCLI.java:166-170` hands exactly this string to
    * Cassandra's CreateTableStatement.parse): the statement derives
    * the key/column split the flags would otherwise declare. Cells
    * are the declared non-key columns minus the `--writetime` /
    * `--ttl-key` metadata columns (CQL tables carry liveness per
    * cell; our parquet test tables carry it as columns, which is why
    * those two flags remain). A CQL keyspace wins over the default;
    * an explicit `--keyspace` must not contradict it, and neither may
    * `--table` or the flag-based spec. Dump/binary formats are
    * self-describing, so `--cql` beside them is a contradiction. */
  private def applyCql(a: CliArgs,
      m: Map[String, String]): Either[String, CliArgs] =
    m.get("cql") match {
      case None => Right(a)
      case Some(cql) =>
        if (a.pk.nonEmpty || a.ck.nonEmpty || a.cells.nonEmpty)
          Left("--cql declares the schema; --pk/--ck/--cells contradict it")
        else if (a.format != "parquet" && a.format != "sstable")
          Left("--cql applies to the parquet cell-model path or to " +
            "--format sstable (where it declares pre-3.0 input " +
            "schemas and types rewritten SSTables' keys and columns)")
        else graft.model.CqlSchema.parse(cql).flatMap { p =>
          if (p.table != a.table)
            Left(s"--table '${a.table}' contradicts the CQL table " +
              s"'${p.table}'")
          else if (p.keyspace.exists(k =>
            m.get("keyspace").exists(_ != k)))
            Left(s"--keyspace '${m("keyspace")}' contradicts the CQL " +
              s"keyspace '${p.keyspace.get}'")
          else if (a.format == "sstable") {
            // binary path: input is self-describing; the schema TYPES
            // the OUTPUT (uuid/timestamp keys encode + token-order as
            // their real byte forms, not strings). Resolve eagerly so
            // unsupported types reject at parse time, not mid-write.
            try {
              graft.sources.SSTableBinaryV2.resolveTyping(p)
              Right(a.copy(keyspace = p.keyspace.getOrElse(a.keyspace),
                cqlSchema = Some(p), cqlText = Some(cql)))
            } catch {
              case e: IllegalArgumentException => Left(e.getMessage)
            }
          } else {
            val meta = a.writetime.toSeq ++ a.ttlKey.toSeq
            val cells = p.columns.map(_._1).filterNot(c =>
              p.partitionKey.contains(c) || p.clustering.contains(c) ||
                meta.contains(c))
            Right(a.copy(
              keyspace = p.keyspace.getOrElse(a.keyspace),
              pk = p.partitionKey, ck = p.clustering, cells = cells,
              cqlSchema = Some(p)))
          }
        }
    }

  /** `--format sstabledump` points --in at sstabledump JSON (file or
    * directory, one dump per SSTable): the dump carries its own
    * liveness fields, so a cell-model spec alongside it is a
    * contradiction, rejected rather than ignored. */
  private def validateFormat(a: CliArgs): Either[String, CliArgs] =
    if (a.verify && a.format != "sstable")
      Left("--verify true checks Digest.crc32 siblings: it requires " +
        "--format sstable (the binary connector)")
    else if (a.scrub && a.format != "sstable")
      Left("--scrub true salvages damaged binary generations: it " +
        "requires --format sstable (the binary connector)")
    else if (a.scrub && a.verify)
      Left("--scrub and --verify contradict each other: verification " +
        "refuses a damaged generation, scrub salvages it — pick one")
    else a.format match {
      case "parquet" => Right(a)
      case "sstabledump" | "sstable" =>
        if (a.cells.nonEmpty || a.pk.nonEmpty || a.ck.nonEmpty ||
          a.writetime.nonEmpty || a.ttlKey.nonEmpty)
          Left(s"--format ${a.format} carries its own liveness model: " +
            "--pk/--ck/--cells/--writetime/--ttl-key do not apply")
        else a.merge match {
          case None | Some("lww") => Right(a)
          case Some(other) =>
            Left(s"unknown --merge '$other' (expected lww)")
        }
      case other => Left(s"unknown --format '$other' " +
        "(expected parquet, sstabledump or sstable)")
    }

  /** CLI compressor names → Cassandra compressor class simple names
    * (the table-schema `compression.class` values). */
  private val Compressors = Map(
    "lz4" -> graft.sources.CompressedData.Lz4,
    "snappy" -> graft.sources.CompressedData.Snappy,
    "deflate" -> graft.sources.CompressedData.Deflate,
    "zstd" -> graft.sources.CompressedData.Zstd)

  /** `--sink sstable` writes the output back as big-format SSTABLES
    * (one rewritten generation per input SSTable; with `--merge lww`,
    * ONE compacted generation — a major compaction — or
    * `--out-generations` of them) instead of the parquet lake layout;
    * `--sink sstabledump` exports sstabledump JSON. Only the
    * dump-family formats carry the cell model either writer
    * serializes. */
  private def validateSink(a: CliArgs): Either[String, CliArgs] =
    a.sink match {
      case "parquet" =>
        if (a.compress.nonEmpty)
          Left("--compress applies to --sink sstable (parquet has its " +
            "own codec config)")
        else Right(a)
      case "sstable" =>
        if (!isDump(a))
          Left("--sink sstable requires --format sstabledump|sstable " +
            "(parquet input has no SSTable cell model to re-serialize)")
        else a.compress match {
          case Some(c) if !Compressors.contains(c) =>
            Left(s"unknown --compress '$c' (expected " +
              s"${Compressors.keys.toSeq.sorted.mkString("|")})")
          case _ => Right(a)
        }
      case "sstabledump" =>
        if (!isDump(a))
          Left("--sink sstabledump requires --format sstabledump|" +
            "sstable (parquet input has no SSTable cell model to " +
            "export)")
        else if (a.compress.nonEmpty)
          Left("--compress applies to --sink sstable (dump JSON is " +
            "plain text)")
        else Right(a)
      case other => Left(s"unknown --sink '$other' " +
        "(expected parquet, sstable or sstabledump)")
    }

  // --merge only means something over multi-generation dump input:
  // per-table parquet has exactly one version of every row already
  private def validateMerge(a: CliArgs): Either[String, CliArgs] =
    if (a.merge.nonEmpty && !isDump(a))
      Left("--merge requires --format sstabledump|sstable " +
        "(parquet input has no generations to reconcile)")
    else if (a.outGenerations > 1 && a.sink != "sstable")
      Left("--out-generations writes token-bucketed SSTable " +
        "generations: it requires --sink sstable (with --merge lww " +
        "it bounds the compacted output; without, it splits each " +
        "input generation — sstablesplit's role)")
    else Right(a)

  /** A non-events table needs its cell model declared — the same rule
    * as the reference CLI, where `--cql` is how an arbitrary table's
    * schema reaches the engine (`TTLRemoverCLI.java:166-170`). A
    * PARTIAL model (key/writetime flags without --cells) is an error,
    * never silently dropped: the user clearly meant to declare one. */
  private def validateCellSpec(a: CliArgs): Either[String, CliArgs] =
    if (a.cells.isEmpty) {
      val stray = Seq("pk" -> a.pk.nonEmpty, "ck" -> a.ck.nonEmpty,
        "writetime" -> a.writetime.nonEmpty, "ttl-key" -> a.ttlKey.nonEmpty)
        .collect { case (f, true) => s"--$f" }
      if (stray.nonEmpty)
        Left(s"${stray.mkString("/")} without --cells <cols>: a cell " +
          "model needs its liveness columns (a partial spec would " +
          "otherwise be silently ignored)")
      else if (a.table == "events") Right(a) // shipped model
      else
        Left(s"table '${a.table}' has no shipped cell model: declare one " +
          "with --pk/--cells/--writetime (the analogue of the reference " +
          "CLI's --cql schema)")
    }
    else if (a.pk.isEmpty) Left("--cells requires --pk <key columns>")
    else if (a.writetime.isEmpty) Left("--cells requires --writetime <col>")
    // case-insensitive, matching cellifySpec's column resolution — a
    // case-differing duplicate must not slip past parse-time validation
    else if (a.cells.exists(c =>
      (a.pk ++ a.ck).exists(_.equalsIgnoreCase(c))))
      Left("key columns must not be cell columns (keys never carry liveness)")
    else Right(a)

  /** The CLI's whole execution path on a caller-supplied session —
    * what `main` runs after building one, and what tests drive
    * end-to-end without forking a JVM. Returns the written row count.
    */
  def run(spark: SparkSession, args: CliArgs): Long =
    if (args.inventory)
      runInventory(spark, args)
    else if (args.setLevel.isDefined || args.setRepairedAt.isDefined)
      graft.sources.SSTableMetadata.rewriteMetadata(spark, args.in,
        args.out, args.setLevel, args.setRepairedAt)
    else if (args.summaryBudget.isDefined) {
      val plan = graft.sources.SSTableMetadata.redistributeLake(spark,
        args.in, args.out, args.summaryBudget.get, args.activity)
        .orderBy("sstable").localCheckpoint()
      val n = printCapped(plan)
      // an unmeetable budget (everything at the max factor, pool
      // still over) must be SAID, not discovered by summing a column
      val after = plan.agg(org.apache.spark.sql.functions
        .sum("marks_after")).collect()(0).getLong(0)
      if (after > args.summaryBudget.get)
        println(s"WARNING: pool still holds $after marks after " +
          s"coarsening everything to the max factor — the budget of " +
          s"${args.summaryBudget.get} is not reachable on this lake")
      n
    }
    else if (args.trackActivityOut.isDefined) {
      val epoch = java.util.UUID.randomUUID().toString
      val reader = spark.read.format("sstable-big")
        .option("activityEpoch", epoch)
      args.cqlText.foreach(c => reader.option("cql", c))
      val scanned = reader.load(args.in).count()
      // one tick past the scan: this scan's burst lands in the rates
      // (the one-window estimate the mode documents)
      val clock = System.nanoTime() +
        graft.sources.RestorableMeter.TickIntervalNanos + 1
      val table = graft.sources.SSTableMetadata.writeActivity(spark,
        epoch, clock, args.trackActivityOut.get)
        .orderBy("sstable").localCheckpoint()
      graft.sources.ActivityRegistry.drop(epoch)
      val n = printCapped(table)
      println(s"scanned $scanned rows; $n generations metered → " +
        args.trackActivityOut.get)
      n
    }
    else if (args.sink == "sstable")
      runSstableSink(spark, args)
    else if (args.sink == "sstabledump")
      runDumpExport(spark, args)
    else if (isDump(args) && args.merge.contains("lww"))
      graft.sources.SSTableDumpBridge.mergeTtlToDir(
        spark, args.in, args.out, args.keyspace, args.table,
        reader = inputReader(args))
    else if (isDump(args))
      graft.sources.SSTableDumpBridge.removeTtlToDir(
        spark, args.in, args.out, args.keyspace, args.table,
        reader = inputReader(args))
    else if (args.cells.isEmpty) {
      val meta = CellModel.eventsMeta.copy(keyspace = args.keyspace)
      Pipeline.removeTtlFromDir(spark, args.in, args.out, meta)
    } else {
      val meta = TableMeta(args.keyspace, args.table, args.pk, args.ck)
      val raw = Tables.load(spark, args.in, args.table)
      val cellified = CellModel.cellifySpec(raw, args.cells,
        args.writetime.get, args.ttlKey.getOrElse(args.pk.head))
      Pipeline.removeTtl(cellified, meta, args.out)
    }

  /** `--inventory`: the distributed `sstablemetadata` — one row per
    * generation under `--in`, from SIDECARS only. Prints the aligned
    * table (the tool's terminal UX; an inventory is catalog-sized by
    * the same contract as the planner's listing, so collecting it is
    * bounded) and persists parquet when `--out` is given. Returns the
    * generation count. */
  private def runInventory(spark: SparkSession, args: CliArgs): Long = {
    // checkpoint before the two consumers (write + print): the
    // listing + sidecar task wave must run once, not per action
    val base = graft.sources.SSTableMetadata.describe(spark, args.in)
    // `--stats true`: the modern StatsMetadata panel joins on the
    // generation identity; rows whose Statistics.db predates the
    // STATS component (or is 2.x) keep NULL panel columns. A LEFT
    // join on the catalog-sized key — no shuffle concern at any lake
    // size that fits a terminal or a parquet listing
    val joined =
      if (!args.stats) base
      else {
        val panel =
          graft.sources.SSTableMetadata.describeStats(spark, args.in)
        // the panel repeats two header-derived columns
        // (min_writetime_us, min_ttl_s) under the same names; the
        // base inventory's stay authoritative in the joined view —
        // the full panel remains available via describeStats itself
        val dups = panel.columns.toSet
          .intersect(base.columns.toSet) - "sstable"
        base.join(dups.foldLeft(panel)((df, c) => df.drop(c)),
          Seq("sstable"), "left")
      }
    val df = joined.orderBy("sstable").localCheckpoint()
    if (args.out.nonEmpty)
      df.coalesce(1).write.mode("overwrite").parquet(args.out)
    printCapped(df, " (pass --out for the full inventory)")
  }

  /** Most generations a terminal print renders; `--out` is the
    * full-fidelity surface. */
  val InventoryPrintCap = 50

  /** Prints a tool mode's table, one row per generation, NULLs as `-`,
    * and returns its row count. The print is CAPPED at
    * [[InventoryPrintCap]] rows: on a million-file lake a tool must not
    * format (or even collect) the whole catalog just to scroll it past
    * a terminal; a longer table ends with the total and `more`. */
  private def printCapped(df: org.apache.spark.sql.DataFrame,
      more: String = ""): Long = {
    val n = df.count()
    val rendered = formatInventory(df.columns.toSeq,
      df.limit(InventoryPrintCap).collect().toSeq.map(_.toSeq.map {
        case null => "-"
        case v => v.toString
      }))
    println(
      if (n > InventoryPrintCap)
        rendered + s"\n… $n generations total; showing the first " +
          s"$InventoryPrintCap$more"
      else rendered)
    n
  }

  /** Pure aligned-table rendering for [[runInventory]] (testable
    * without capturing stdout). */
  def formatInventory(header: Seq[String],
      rows: Seq[Seq[String]]): String = {
    val table = header +: rows
    val widths = header.indices.map(i => table.map(_(i).length).max)
    table.map(r => r.lazyZip(widths)
      .map((v, w) => v.padTo(w, ' ')).mkString("  ").stripTrailing())
      .mkString("\n")
  }

  /** `--sink sstabledump`: read the dump-family input (binary or
    * dump JSON), strip TTLs — or LWW-merge first — and EXPORT as
    * sstabledump JSON ([[graft.sources.SSTableDumpBridge.writeTree]]),
    * so the CLI interops with anything that consumes the public dump
    * format. Merged output collapses to one dump named after the
    * table (generations are gone by definition); unmerged keeps one
    * dump per input SSTable. Returns rows exported. */
  private def runDumpExport(spark: SparkSession, args: CliArgs): Long = {
    import org.apache.spark.sql.functions._
    val stripped = strippedInput(spark, args)
    val frame =
      if (args.merge.contains("lww"))
        graft.sources.SSTableBinaryV2.mergeRows(stripped)
          .drop("n_versions")
          .withColumn("sstable",
            lit(s"${args.table}/${args.table}-merged.json"))
      else stripped
    // the row count rides the export's own action (observe) — a
    // localCheckpoint here would cache the whole frame just to count
    // it, and a separate count() would re-scan the source
    val written = org.apache.spark.sql.Observation()
    graft.sources.SSTableDumpBridge.writeTree(
      frame.observe(written, count(lit(1)).as("rows")), args.out)
    written.get("rows").asInstanceOf[Long]
  }

  /** The `--sink sstable` execution paths: strip TTLs and rewrite ONE
    * output SSTable per input SSTable (the reference's exact rewrite
    * contract, binary in → binary out), or — with `--merge lww` —
    * collapse every generation through the LWW merge and write the
    * compacted generations: a major compaction. Returns rows written,
    * counted as bridge rows (the sink's own per-file manifest).
    *
    * Every route runs one step per output generation: partitions, then
    * the TTL strip, then (under `--merge lww` only) each key's versions
    * merged by `SSTableBinaryV2.mergePartition`, then the encoder. Two
    * routes feed it, picked from the arguments and the lake listing, and
    * write the same bytes:
    *  - the FILE route ([[graft.sources.SSTableBinaryV2.writeFileRoute]],
    *    taken when [[fileRoute]] plans it) is the reference's rewrite
    *    and Cassandra's compaction shape: one task per output generation
    *    decodes its inputs straight from their files — no bridge rows,
    *    no shuffle. The plain rewrite is one task per `*-Data.db`, each
    *    keeping its generation number exactly as the frame route assigns
    *    it. The merge is one task per output generation, reading every
    *    input at its ring bucket. The route needs no `--scrub` (salvage
    *    needs the reader's index-paced walk), no `--cql` (it types the
    *    output) and a lake of modern-era (3.x/4.x) generations only. The
    *    rewrite also needs every basename to claim its own generation
    *    and one output generation per input; a merge into several needs
    *    every input indexed with a UTF8/Ascii partition key, so each
    *    bucket is one contiguous run of each file. `--verify` checks
    *    each input's digest once;
    *  - every other shape takes the FRAME route: the reader's bridge-row
    *    frame ([[sstableSinkInput]]) through one shuffle to
    *    `writeSSTables`, or, merged, to `mergeSSTables`, which keys the
    *    shuffle on the output generation and merges there. It decodes
    *    its input once: the sink gets its source set from the driver
    *    instead of a distinct pass over the data, which would repeat the
    *    scan. Two input shapes still take the distinct pass, because a
    *    superset list is only output-identical when every name claims
    *    its own generation
    *    ([[graft.sources.SSTableBinaryV2.sourceSetViolations]]): a lake
    *    whose basenames share a generation across subdirectories (the
    *    collision resolution depends on which sources carry rows), and
    *    the unmerged `--out-generations N` split, whose `<src>#sK` names
    *    share their source's generation by design. Unmerged dump-JSON
    *    input (`--format sstabledump`) has no binary listing and also
    *    keeps the pass. */
  private def runSstableSink(spark: SparkSession, args: CliArgs): Long = {
    val compression = args.compress.map(Compressors)
    fileRoute(spark, args).map(plan =>
      graft.sources.SSTableBinaryV2.writeFileRoute(spark, plan, args.out,
        args.keyspace, args.table, compression, args.verify))
      .getOrElse {
        val (frame, sources) = sstableSinkInput(spark, args)
        if (args.merge.contains("lww"))
          graft.sources.SSTableBinaryV2.mergeSSTables(frame, args.out,
            args.keyspace, args.table, args.cqlSchema, compression, sources)
        else graft.sources.SSTableBinaryV2.writeSSTables(frame, args.out,
          args.keyspace, args.table, args.cqlSchema, compression,
          sources = sources)
      }.map(_._2).sum
  }

  /** The file route's plan for [[runSstableSink]], or None when the
    * arguments or the lake call for the frame route: binary in and out,
    * no `--scrub` and no `--cql`, and either `--merge lww` (any
    * `--out-generations`) or the plain rewrite into one output
    * generation per input. */
  private[graft] def fileRoute(spark: SparkSession, args: CliArgs)
      : Option[graft.sources.SSTableBinaryV2.FilePlan] = {
    val merge = args.merge.contains("lww")
    if (args.format == "sstable" && args.sink == "sstable" && !args.scrub &&
      args.cqlText.isEmpty && args.cqlSchema.isEmpty &&
      (merge || args.merge.isEmpty && args.outGenerations == 1))
      graft.sources.SSTableBinaryV2.fileRoutePlan(spark, args.in,
        args.table, merge, args.outGenerations)
    else None
  }

  /** The frame [[runSstableSink]] writes: the reader's bridge rows with
    * TTLs stripped, and the source set it hands the sink (None = the
    * sink's own distinct pass). Merged, each row also carries its output
    * generation in a `generation` column, and the source set is every
    * name that column can hold ([[mergedGenerations]]). */
  private[graft] def sstableSinkInput(spark: SparkSession, args: CliArgs)
      : (org.apache.spark.sql.DataFrame, Option[Seq[String]]) = {
    import org.apache.spark.sql.functions._
    val stripped = strippedInput(spark, args)
    if (args.merge.contains("lww")) {
      // the names are fixed by the arguments: each claims its own
      // generation, and a bucket no cell lands in writes nothing
      val (genName, names) = mergedGenerations(args)
      (stripped.withColumn("generation", genName), Some(names))
    } else {
      // UNMERGED `--out-generations N` = sstablesplit's role: each
      // input generation splits into N token-contiguous outputs (one
      // oversized SSTable stops serializing its own rewrite — N
      // encoder tasks instead of one). Bucketed identities
      // ("<src>#sK") feed the sink's deterministic generation
      // assignment: the first integer in "<src>" still parses, so
      // each input's FIRST bucket keeps the input's generation
      // number and the rest take the next free integers in sorted
      // source order — collision-free and deterministic, interleaved
      // with (not renumbered from) the input numbering.
      if (args.outGenerations > 1)
        (stripped.withColumn("sstable",
          concat(col("sstable"), lit("#s"),
            ringBucket(args).cast("string"))), None)
      else if (args.format != "sstable") (stripped, None)
      else {
        // the driver-side listing covers every identity the scan can
        // emit (one listing function serves both); it stands in for
        // the distinct pass whenever each name claims its own
        // generation. A generation scrub skipped entirely is listed
        // but carries no rows, so it writes nothing either way.
        val listed = graft.sources.SSTableBinaryV2
          .dataSourceIdentities(spark, args.in)
        (stripped, Some(listed).filter(graft.sources.SSTableBinaryV2
          .sourceSetViolations(_).isEmpty))
      }
    }
  }

  /** The merged paths' output identities — the column that assigns
    * one to each merged cell, and the full list of names it can
    * produce (the sink's source set): `nb-1` for one generation, the
    * reference's single-file contract; with `--out-generations N`,
    * `nb-<b+1>` for ring bucket b. A major compaction must not funnel
    * 100 TB through ONE encoder task, so the merged cells partition
    * into N token-CONTIGUOUS output generations by fixed ring division
    * (deterministic, zero extra passes; Murmur3 uniformity balances
    * sizes at scale): each generation is itself a valid token-ordered
    * SSTable whose Summary first/last keys support file-level range
    * elision on the OUTPUT lake — the same size-bounded multi-file
    * shape a real compaction strategy produces. */
  private[graft] def mergedGenerations(args: CliArgs)
      : (org.apache.spark.sql.Column, Seq[String]) = {
    import org.apache.spark.sql.functions._
    val prefix = s"${args.table}/nb-"
    val suffix = "-big-Data.db"
    val n = math.max(1, args.outGenerations)
    val column =
      if (n == 1) lit(s"${prefix}1$suffix")
      else concat(lit(prefix), (ringBucket(args) + lit(1)).cast("string"),
        lit(suffix))
    (column, (1 to n).map(g => s"$prefix$g$suffix"))
  }

  /** Ring-division bucket in [0, N) of the REAL partitioner token —
    * typed through the declared CQL key type when one is given (the
    * token the sink itself sorts by; a rendered-string token would
    * put typed tables' generations off the real ring). Deterministic,
    * zero extra passes; Murmur3 uniformity balances bucket sizes at
    * any scale. The arithmetic is the file route's own,
    * [[graft.sources.SSTableBinaryV2.ringBucket]]. */
  private[graft] def ringBucket(args: CliArgs)
      : org.apache.spark.sql.Column = {
    import graft.sources.{BigFormat, SSTableBinaryV2}
    val n = args.outGenerations
    val keyType = args.cqlSchema.map(SSTableBinaryV2.resolveTyping(_).keyType)
    org.apache.spark.sql.functions.udf((key: String) =>
      SSTableBinaryV2.ringBucket(BigFormat.murmur3Token(keyType.fold(
        key.getBytes(java.nio.charset.StandardCharsets.UTF_8))(
        BigFormat.encodeValue(_, key))), n))
      .apply(org.apache.spark.sql.functions.col("partition_key"))
  }

  private def isDump(args: CliArgs): Boolean =
    args.format == "sstabledump" || args.format == "sstable"

  /** The bridge-row reader every sink takes its input from: binary
    * input (`--format sstable`, the no-pre-pass path) decodes
    * `*-Data.db` through the big-format connector, dump input streams
    * through the sstabledump connector; both carry `sstable`. */
  private def inputReader(args: CliArgs)
      : (SparkSession, String) => org.apache.spark.sql.DataFrame =
    if (args.format == "sstable")
      (s, p) => graft.sources.SSTableBinaryV2.readBinary(s, p,
        args.cqlText, args.verify, args.scrub)
    else graft.sources.SSTableDumpBridge.readTree

  /** The input's bridge rows with TTLs stripped, what every sink but
    * the parquet one writes or merges. */
  private def strippedInput(spark: SparkSession, args: CliArgs)
      : org.apache.spark.sql.DataFrame =
    inputReader(args)(spark, args.in).withColumn("cell",
      graft.model.CellModel.stripCellKeepDeletion(
        org.apache.spark.sql.functions.col("cell")))

  def main(argv: Array[String]): Unit = parse(argv) match {
    case Left(err) =>
      System.err.println(s"error: $err")
      System.err.println(
        "usage: graft.RemoverCli --in <dir> --out <dir> --table <name>" +
          " [--keyspace <ks>] [--cpus <n>]" +
          " [--format parquet|sstabledump|sstable]" +
          " [--merge lww]" +
          " [--sink parquet|sstable|sstabledump]" +
          " [--compress lz4|snappy|deflate|zstd] [--out-generations <n>]" +
          " [--verify true | --scrub true]" +
          " [--cql \"CREATE TABLE ...\" [--writetime <col>]" +
          " | --pk <cols> --ck <cols> --cells <cols> --writetime <col>" +
          " --ttl-key <col>]" +
          "\n   | --inventory true --in <dir> [--stats true] [--out <dir>]" +
          " [--cpus <n>]" +
          "\n   | --set-level <n> [--set-repaired-at <ms>] --in <dir>" +
          " --out <dir>" +
          "\n   | --summary-budget <marks> --in <dir> --out <dir>" +
          " [--activity <parquet>]" +
          "\n   | --track-activity <parquet> --in <dir>" +
          " [--cql \"CREATE TABLE ...\"]")
      sys.exit(2)
    case Right(args) =>
      val spark = SparkSession.builder()
        .master(s"local[${args.cpus}]")
        .config("spark.sql.shuffle.partitions", args.cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      try {
        val rows = run(spark, args)
        if (args.inventory)
          println(s"inventoried $rows generations under ${args.in}" +
            (if (args.out.nonEmpty) s" (persisted to ${args.out})"
             else ""))
        else if (args.setLevel.isDefined || args.setRepairedAt.isDefined)
          println(s"rewrote Statistics.db on $rows generations into " +
            s"${args.out} (" +
            (args.setLevel.map(l => s"level=$l").toSeq ++
              args.setRepairedAt.map(r => s"repairedAt=$r").toSeq)
              .mkString(", ") + "; originals kept)")
        else {
          val layout = args.sink match {
            case "sstable" =>
              s"${args.out}/${args.keyspace}/${args.table}/ (big-format SSTables)"
            case "sstabledump" => s"${args.out}/ (sstabledump JSON tree)"
            case _ =>
              s"${args.out}/keyspace=${args.keyspace}/table_name=${args.table}/"
          }
          println(s"wrote $rows rows to $layout")
        }
      } finally spark.stop()
  }
}
