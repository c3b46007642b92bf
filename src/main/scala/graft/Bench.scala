package graft

/** Benchmark main (driver contract): times every registered query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Results are materialized through the `noop` sink, not `.count()` —
  * count() lets Catalyst prune the whole projection (a TTL-strip query
  * would degenerate to a parquet row count), noop forces every operator
  * to actually execute while writing nothing.
  *
  * TIME-BOXED since round 14: the round-13 driver run was killed by an
  * external timeout (rc 124) before the JSON line ever printed, so the
  * round recorded NO bench data at all. The schedule now guarantees an
  * artifact:
  *   - phase 1 runs every query exactly ONCE (full coverage, the part
  *     that must never be sacrificed);
  *   - phase 2 spends whatever remains of the wall-clock deadline
  *     (SPARK_GRAFT_BENCH_DEADLINE_SEC from JVM start, default 640 s)
  *     re-running queries MOST-EXPENSIVE-FIRST, taking the per-query
  *     min — the floor shedding first-run JIT/codegen noise exactly
  *     where it costs the most absolute seconds — skipping any query
  *     whose observed cost no longer fits the time left;
  *   - the full JSON artifact is rewritten to target/bench_last.json
  *     after EVERY query, so even an external kill mid-run leaves a
  *     recoverable record of everything measured so far.
  */
object Bench {
  private val jvmStartMs = System.currentTimeMillis()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val deadlineSec = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_DEADLINE_SEC", "640").toInt
    def elapsedSec: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val spark = SparkEntry.mainSession(defaultCpus = 32)
    // Untimed warmup: absorb one-time JVM costs (Janino codegen compiler
    // init, parquet footer reads, shuffle infrastructure) so they don't
    // all land on whichever query happens to run first.
    SparkEntry.queries.get("q1_agg").foreach { fn =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // Max runs per query (SPARK_GRAFT_BENCH_RUNS, default 3): phase 2
    // tops a query up to this many passes when the deadline allows —
    // most-expensive-first, so the extra pass lands exactly where
    // first-run JIT/codegen noise costs the most absolute seconds;
    // the deadline (not this count) bounds total wall time.
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    // Optional name filter (regex, full-match) for iterating on a subset;
    // the driver never sets it, so the recorded artifact is always the
    // full surface.
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER").map(_.r)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => filter.forall(_.matches(n)))

    // best time per query (None until a run succeeds; a query is failed
    // only when every attempted run failed)
    val best = scala.collection.mutable.LinkedHashMap[String, Option[Double]](
      names.map(_ -> (None: Option[Double])): _*)
    val attempted = scala.collection.mutable.Set.empty[String]

    // wall cost of the last FAILED run per query: a failure can burn
    // unbounded time (timeout/OOM shapes), so its retry must budget
    // by the observed cost, not a flat margin
    val failCost = scala.collection.mutable.Map.empty[String, Double]

    def runOnce(name: String): Option[Double] = {
      attempted += name
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        failCost(name) = (System.nanoTime() - t0) / 1e9
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        None
      }
    }

    // The one-line artifact from the current `best` map. Per-query
    // entries CHEAPEST FIRST: the recorded artifact has repeatedly kept
    // only the TAIL of this line, and a cost-ascending order means
    // whatever tail survives carries the expensive queries that matter
    // for a perf read (failures sort last for the same reason). JSON
    // object order is semantically irrelevant, so full parses are
    // unaffected.
    def artifactLine(partial: Boolean = false): String = {
      val done = best.toSeq.filter { case (k, v) =>
        v.isDefined || attempted(k) }
      // 3-decimal seconds (ms resolution): full-precision fractions were
      // ~60% of the line's bytes and the one-line artifact has repeatedly
      // outlived the harness's stdout capture — ms resolution is already
      // below the run-to-run noise floor, so nothing informative is lost
      // and the whole line is far likelier to survive. Timing itself is
      // untouched; only the printed representation is rounded.
      def fmt(t: Double): String = f"$t%.3f"
      val qs = done
        .sortBy { case (_, v) => v.getOrElse(Double.MaxValue) }
        .map { case (k, v) =>
          "\"" + k + "\":" + v.map(fmt).getOrElse("null") }
        .mkString("{", ",", "}")
      val failedNames = done.collect { case (k, None) => "\"" + k + "\"" }
      val total = done.flatMap(_._2).sum
      // "partial":true tags any line printed BEFORE the run's final
      // refined artifact, so a parser grabbing the FIRST JSON line
      // (instead of the documented last-line-wins tail) can reject it
      // deterministically rather than record pre-top-up floors
      val tag = if (partial) "\"partial\":true," else ""
      s"""{${tag}"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"errors":${
        failedNames.mkString("[", ",", "]")},"sf":"$sfDir"}"""
    }
    // Defensive artifact copy after every query: the harness captures
    // stdout, but the one-line JSON has repeatedly survived only as a
    // truncated tail in the recorded artifact — and an external timeout
    // kill (round 13) captures nothing at all. A file rewritten per
    // query makes the record recoverable regardless of how the run ends.
    def persist(partial: Boolean = true): Unit =
      try {
        val p = java.nio.file.Paths.get("target", "bench_last.json")
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, artifactLine(partial) + "\n")
      } catch { case _: java.io.IOException => () }

    // ---- phase 1: full coverage, one pass each ----
    names.foreach { name =>
      val dt = runOnce(name)
      best(name) = dt
      System.err.println(f"[bench] $name%-28s ${dt.getOrElse(-1.0)}%8.2fs" +
        f"  (run 1/$nRuns, t+$elapsedSec%.0fs)")
      persist()
    }

    // Insurance line: full coverage exists NOW, so put a parseable
    // artifact on stdout before risking phase 2 against an external
    // kill. If phase 2 completes, the refined line printed at the end
    // is the LAST JSON line on stdout (last-line-wins for any sane
    // capture); if the process is killed mid-top-up, this one is.
    // Tagged "partial":true so a first-line parser skips it.
    println(artifactLine(partial = true))
    System.out.flush()

    // ---- phase 2: deadline-bounded top-ups, most expensive first ----
    // A re-run is attempted only when the query's observed cost (plus a
    // 30% stall margin and 5 s of teardown headroom) still fits before
    // the deadline; too-big queries are skipped but cheaper ones behind
    // them still get their turn.
    (2 to nRuns).foreach { round =>
      best.toSeq
        .collect { case (n, Some(t)) => (n, t) }
        .sortBy(-_._2)
        .foreach { case (name, t1) =>
          if (elapsedSec + t1 * 1.3 + 5.0 < deadlineSec) {
            runOnce(name).foreach { dt =>
              if (dt < t1) best(name) = Some(dt)
              System.err.println(
                f"[bench] $name%-28s ${math.min(dt, t1)}%8.2fs" +
                f"  (run $round/$nRuns: $dt%.2f vs $t1%.2f, " +
                f"t+$elapsedSec%.0fs)")
              persist()
            }
          }
        }
      // failures get one retry per round too (a transient first-run
      // failure must not record null when a later pass would succeed),
      // budgeted by the failure's OBSERVED wall cost — a slow failure
      // (timeout shape) must not blow the deadline on its retry
      best.toSeq.collect { case (n, None) => n }.foreach { name =>
        val margin = failCost.getOrElse(name, 5.0) * 1.3 + 5.0
        if (elapsedSec + margin < deadlineSec) {
          runOnce(name).foreach { dt =>
            best(name) = Some(dt)
            System.err.println(
              f"[bench] $name%-28s $dt%8.2fs  (retry ok, t+$elapsedSec%.0fs)")
            persist()
          }
        }
      }
    }

    val line = artifactLine()
    println(line)
    persist(partial = false)
    spark.stop()
  }
}
