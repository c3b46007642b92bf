package graft

import graft.ops.{AnalyticsOps, ScanAggOps, TtlOps}

/** Plan-shape assertions: the properties that make these operators
  * survive a 100 TB / 1000-executor scale-up, pinned as tests so a
  * refactor cannot silently regress them (SURVEY §4.1 — every hand-
  * rolled optimization in the reference must be a Catalyst rewrite
  * here, and these prove the rewrite actually fires).
  */
class PlanSpec extends SparkSpec {

  test("q6: filters are pushed into the parquet scan and columns pruned") {
    val p = plan(ScanAggOps.q6FilterPushdown(spark, sfDir))
    assert(p.contains("PushedFilters:") &&
      p.contains("l_shipdate"), s"no pushed filters in:\n$p")
    // projection needs only 4 columns; the scan must not read all 11
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_returnflag"),
      s"scan reads unneeded columns: $readSchema")
  }

  /** A plan line that is a BroadcastHashJoin ON the given key — join
    * nodes print their keys on the node line, so this pins WHICH join
    * broadcast, not merely that some join somewhere did. */
  private def broadcastJoinOn(p: String, key: String): Boolean =
    p.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains(key))

  test("dimension joins broadcast (no shuffle of the fact side)") {
    val p = plan(AnalyticsOps.broadcastLookup(spark, sfDir))
    assert(broadcastJoinOn(p, "p_partkey"),
      s"part lookup join is not a BroadcastHashJoin on p_partkey:\n$p")
    val p5 = plan(AnalyticsOps.q5MultiJoin(spark, sfDir))
    // all four dimension joins must broadcast individually — a single
    // contains() would be satisfied by the hinted nation/region joins
    // alone while customer/supplier silently fell back to SortMergeJoin
    for (k <- Seq("s_suppkey", "c_custkey", "n_nationkey", "r_regionkey"))
      assert(broadcastJoinOn(p5, k),
        s"q5 join on $k is not a BroadcastHashJoin:\n$p5")
  }

  test("SF-scaling dims broadcast via size threshold, not forced hints") {
    // customer/supplier/part grow with scale factor: a broadcast()
    // hint would FORCE the broadcast at any size (executor OOM at the
    // SF where they reach 100s of GB, with no AQE escape hatch). The
    // contract is therefore: no hint in the logical plan, yet the
    // engine still picks BroadcastHashJoin at fixture scale from
    // size stats — proving small-scale speed comes from the
    // optimizer, not from a scale-unsafe hand override.
    // expected hint count per query: only the fixed-cardinality
    // region/nation dims may carry one (q5 hints exactly those two;
    // q3 and the part lookup join scaling dims only → zero hints)
    // scaling-dim broadcasts pinned per join key so a silent
    // SortMergeJoin fallback on customer/supplier would fail even
    // though the hinted nation/region joins keep a BroadcastHashJoin in
    // the plan (an assertion a bare contains() cannot make); one
    // planning per query — these are multi-join plans and the suite's
    // wall-clock is tracked
    for ((df, expectedHints, keys) <- Seq(
        (AnalyticsOps.q3Shipping(spark, sfDir), 0, Seq("c_custkey")),
        (AnalyticsOps.q5MultiJoin(spark, sfDir), 2,
          Seq("c_custkey", "s_suppkey")),
        (AnalyticsOps.broadcastLookup(spark, sfDir), 0, Seq("p_partkey")))) {
      val nHints = "ResolvedHint \\(strategy=broadcast\\)".r
        .findAllIn(df.queryExecution.logical.toString()).size
      assert(nHints === expectedHints,
        s"expected $expectedHints broadcast hints, found $nHints")
      val p = plan(df)
      for (k <- keys)
        assert(broadcastJoinOn(p, k),
          s"threshold-driven broadcast did not fire on $k:\n$p")
    }
  }

  test("AQE splits the hot-key join partition (skew=true in final plan)") {
    // j_skew collapses 70% of events onto one join key; the adaptive
    // runtime must detect the oversized shuffle partition and split it
    // (replicating build rows) instead of leaving one straggler task —
    // the plan property that bounds worst-task size at 100 TB. AQE
    // finalizes the plan only on execution, so run it first.
    val df = AnalyticsOps.skewJoin(spark, sfDir)
    // collect() (not count()) so THIS DataFrame's adaptive plan is the
    // one that executes and finalizes
    assert(df.collect().nonEmpty)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("skew=true"),
      s"no skew-handled join in the final adaptive plan:\n$p")
  }

  test("q1 aggregation is partial+final (map-side combine)") {
    val p = plan(AnalyticsOps.q1Agg(spark, sfDir))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected two-phase hash aggregate:\n$p")
  }

  test("global top-k compiles to TakeOrderedAndProject, not a full sort") {
    val p = plan(AnalyticsOps.topK(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), s"full sort for top-k:\n$p")
  }

  test("ttlStrip stays inside whole-stage codegen (no UDF barriers)") {
    val p = plan(TtlOps.ttlStrip(spark, sfDir))
    // executedPlan.toString renders a codegen'd operator with a "*(n)"
    // stage prefix (treeString), not the literal word "WholeStageCodegen"
    assert(p.contains("*(") || p.contains("WholeStageCodegen"),
      s"no codegen span:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"UDF in the hot path:\n$p")
  }

  test("filters above the schema-generic strip still reach the parquet scan") {
    // stripAll is a select, not an opaque function — Catalyst must push
    // a key-column predicate written ABOVE the strip down through it
    // into PushedFilters. At 100 TB this is the difference between a
    // pruned scan and reading the world before stripping it.
    import org.apache.spark.sql.functions.col
    val cells = graft.model.CellModel.cellify(
      Tables.load(spark, sfDir, "events"))
    val p = plan(
      graft.model.CellModel.stripAll(cells, graft.model.CellModel.eventsMeta)
        .filter(col("user_id") === 42L))
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("user_id"),
      s"key filter not pushed below stripAll: $pushed\n$p")
  }

  test("similarity dot product is the native ArrayDot expression, codegen'd") {
    val p = plan(graft.ops.SimilarityOps.cosineTopK(spark, sfDir))
    assert(p.contains("array_dot"), s"ArrayDot not in plan:\n$p")
    assert(!p.contains("aggregate(zip_with"),
      s"interpreted HOF dot product still present:\n$p")
  }

  test("array_dot is SQL-callable after runtime registration") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT array_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0)
    assert(r === 11.0)
  }

  test("murmur3_token matches the engine's partitioner token, over strings and binary, in SQL too") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val samples = Seq("8", "13", "", "hello world", "ün¡çødé")
    // the codegen'd column path agrees with the engine's token
    val got = samples.toDF("k")
      .select(graft.functions.GraftFunctions.murmur3_token(col("k")))
      .collect().map(_.getLong(0)).toSeq
    val want = samples.map(s => graft.sources.BigFormat
      .murmur3Token(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    assert(got === want)
    // binary input hashes the bytes verbatim
    val bin = Seq(Array[Byte](0, 1, 2, -1)).toDF("b")
      .select(graft.functions.GraftFunctions.murmur3_token(col("b")))
      .head().getLong(0)
    assert(bin === graft.sources.BigFormat
      .murmur3Token(Array[Byte](0, 1, 2, -1)))
    // SQL-callable
    val sql = spark.sql("SELECT murmur3_token('8') AS t").head().getLong(0)
    assert(sql === want.head)
    // non-string/binary input refuses at analysis
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1).toDF("n")
        .select(graft.functions.GraftFunctions.murmur3_token(col("n")))
        .head()
    }
  }

  test("decontamination probes a broadcast blocklist, never shuffles the corpus for the join") {
    val p = plan(graft.ops.DedupOps.decontaminate(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast probe:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Cartesian"),
      s"corpus-sized join in decontamination plan:\n$p")
  }

  test("range join plans as a bin-bucketed hash join, never a nested loop") {
    // the naive time-interval join has no equality predicate and plans
    // as BroadcastNestedLoopJoin/CartesianProduct — O(n·m) pair
    // evaluations. The bin rewrite must give Catalyst a real equi-key:
    // any hash/sort-merge join on it is fine, a nested loop is the
    // 100 TB failure mode this operator exists to avoid.
    val p = plan(AnalyticsOps.rangeJoin(spark, sfDir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Cartesian"),
      s"range join degraded to a nested loop:\n$p")
    assert(p.contains("Join"), s"no join in range-join plan:\n$p")
  }

  test("tfidf and unigram LM explode the corpus exactly once") {
    // both queries need the exploded (doc, term) stream in two
    // aggregation branches; Catalyst shares no subtrees across
    // branches, so a live `terms` frame would re-run the corpus
    // explode+scan per branch. The fix materializes the (much
    // smaller) post-aggregation tf frame via localCheckpoint and
    // derives the second branch from IT — pinned here: the final
    // plan contains NO Generate (the one explode ran inside the
    // checkpoint) and at most one corpus FileScan (tfidf's n_docs
    // count — a column-pruned scan with no explode).
    for ((name, df) <- Seq(
        "t_tfidf" -> graft.ops.TextOps.tfidfTopTerms(spark, sfDir),
        "t_unigram" -> graft.ops.TextOps.unigramLogprob(spark, sfDir),
        "t_bigram" -> graft.ops.TextOps.bigramLogprob(spark, sfDir))) {
      val p = plan(df)
      assert(!p.contains("Generate"),
        s"$name re-explodes the corpus downstream of the checkpoint:\n$p")
      assert(p.contains("ExistingRDD"),
        s"$name does not read the materialized tf frame:\n$p")
      assert(p.linesIterator.count(_.contains("FileScan")) <= 1,
        s"$name scans the corpus more than once:\n$p")
    }
  }

  test("assembly funnel is staged over ONE corpus scan") {
    // quality gate, mix coin, and packing cumsum ride per-row stage
    // flags on a single pass; the naive per-stage sub-frame
    // composition would scan the corpus once per aggregation branch
    val p = plan(graft.ops.CorpusOps.assemblyFunnel(spark, sfDir))
    assert(p.linesIterator.count(_.contains("FileScan")) === 1,
      s"funnel scans the corpus more than once:\n$p")
  }

  test("word repetition is a pure projection: no exchange in the plan") {
    // the Gopher repetition signal is computed as array expressions over
    // the split token list — one scan, zero shuffles. An Exchange here
    // means someone rewrote it via explode→groupBy, which shuffles every
    // token instance of a 100 TB corpus.
    val p = plan(graft.ops.TextOps.wordRepetition(spark, sfDir))
    assert(!p.contains("Exchange"),
      s"repetition metric should not shuffle:\n$p")
  }

  test("global shuffle windows per shard — no single-partition exchange") {
    val p = plan(graft.ops.CorpusOps.globalShuffle(spark, sfDir))
    // the window must be keyed on the shard (hash-partitioned); a
    // global row_number would plan Exchange SinglePartition and
    // serialize the corpus through one task
    assert(!p.contains("SinglePartition"),
      s"global window serializes through one task:\n$p")
    assert(p.contains("Window") && p.contains("hashpartitioning"),
      s"expected shard-partitioned window:\n$p")
  }

  test("adaptive quality gate broadcasts the threshold table") {
    val p = plan(graft.ops.CorpusOps.adaptiveQualityGate(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"threshold join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Cartesian"),
      s"corpus-sized shuffle for a |sources|-row table:\n$p")
  }

  test("top n-grams is partial-agg count + TakeOrderedAndProject") {
    val p = plan(graft.ops.TextOps.topNgrams(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"),
      s"full sort of the n-gram vocabulary:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no map-side combine on the count:\n$p")
  }

  test("q19: OR-of-ANDs predicate reaches BOTH scans via CNF extraction") {
    // the disjunction mixes part and lineitem columns; the optimizer
    // must distribute it so each side's own disjuncts prune that scan
    // BEFORE the join — without this, a 100 TB lineitem reaches the
    // join unfiltered and the predicate runs on the join output
    // assert on the PushedFilters section ONLY: the full scan line
    // always names these columns in its column list / ReadSchema, so a
    // whole-line contains() would pass even with PushedFilters: []
    def pushed(scanLine: String): String =
      scanLine.substring(scanLine.indexOf("PushedFilters:") max 0)
    val p = plan(AnalyticsOps.q19Disjunct(spark, sfDir))
    val liScan = p.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("lineitem"))
      .mkString
    val partScan = p.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("part.parquet"))
      .mkString
    assert(liScan.contains("PushedFilters") && partScan.contains("PushedFilters"))
    assert(pushed(liScan).contains("Or(") &&
      pushed(liScan).contains("l_quantity"),
      s"quantity disjuncts not pushed to lineitem scan: ${pushed(liScan)}")
    assert(pushed(partScan).contains("Or(") &&
      pushed(partScan).contains("p_brand"),
      s"brand disjuncts not pushed to part scan: ${pushed(partScan)}")
  }

  test("pivot and grouping sets stay single-scan, single-aggregation") {
    // pivot with EXPLICIT values must not run a value-discovery pass
    // (without values, pivot launches an eager distinct job over the
    // pivot column before this plan even exists); grouping sets must
    // expand through one Expand node into one partial+final agg — one
    // fact scan however many sets are requested
    def scans(p: String): Int =
      p.linesIterator.count(_.contains("FileScan"))
    val pv = plan(AnalyticsOps.pivotAgg(spark, sfDir))
    assert(scans(pv) === 1, s"pivot scans the fact more than once:\n$pv")
    val gs = plan(AnalyticsOps.groupingSetsAgg(spark, sfDir))
    assert(scans(gs) === 1, s"grouping sets re-scan the fact:\n$gs")
    assert(gs.contains("Expand"), s"no Expand in grouping-sets plan:\n$gs")
    assert("HashAggregate".r.findAllIn(gs).size >= 2,
      s"grouping sets not partial+final:\n$gs")
  }

  test("key counting reads only the key column") {
    val p = plan(ScanAggOps.keyCounts(spark, sfDir))
    val schemas = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!schemas.contains("o_totalprice") && !schemas.contains("c_name"),
      s"key count scans extra columns: $schemas")
  }

  test("gopher rules are a pure projection: no exchange in the plan") {
    // every rule is an array/regex expression over the split token
    // list; an Exchange would mean a 100 TB corpus shuffles for a
    // per-row verdict
    val p = plan(graft.ops.TextOps.gopherRules(spark, sfDir))
    assert(!p.contains("Exchange"),
      s"rule gate should not shuffle:\n$p")
  }

  test("decontamination spans probe a broadcast eval set; matched rows window per doc") {
    val p = plan(graft.ops.DedupOps.decontamSpans(spark, sfDir))
    // eval windows are benchmark-suite-sized -> the probe must be a
    // broadcast join, never a corpus-sized shuffle join
    assert(p.contains("BroadcastHashJoin"),
      s"eval-set probe not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffles for the eval probe:\n$p")
    // the islands window partitions on doc_id (matched rows only) —
    // never a single-partition global window
    assert(!p.contains("SinglePartition"),
      s"span merge serializes through one task:\n$p")
  }

  test("bloom dedup probes broadcast set bits; batch content never shuffles") {
    val p = plan(graft.ops.DedupOps.bloomDedup(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"set-bit probe not broadcast:\n$p")
    // exactly ONE content-hash exchange is legitimate: the history
    // index build (distinct over history hashes — precomputed in
    // production). The BATCH must never shuffle on content: a second
    // hsh-keyed exchange means the gate was bypassed and the full
    // batch rejoined the hash index
    val hshShuffles = p.linesIterator.count(l =>
      l.contains("hashpartitioning(hsh"))
    assert(hshShuffles <= 1,
      s"batch shuffles on content hash ($hshShuffles hsh exchanges):\n$p")
  }

  test("substring dedup shuffles window hashes, never text") {
    val p = plan(graft.ops.DedupOps.substringDedup(spark, sfDir))
    // every exchange must carry (wh) or (doc_id) keys only; 'text'
    // reaching an exchange means raw documents cross the wire
    val shuffles = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!shuffles.contains("text"),
      s"document text reaches a shuffle:\n$shuffles")
  }

  test("exact-substring dedup shuffles window hashes, never text; no pair blow-up") {
    val p = plan(graft.ops.DedupOps.substringExact(spark, sfDir))
    val shuffles = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!shuffles.contains("text"),
      s"document text reaches a shuffle:\n$shuffles")
    // the islands merge must key per document — the only window in
    // the plan partitions by doc_id (never an unpartitioned sort)
    val winLines = p.linesIterator.filter(_.contains("Window")).mkString("\n")
    assert(winLines.isEmpty || winLines.contains("doc_id"),
      s"islands window not doc-partitioned:\n$winLines")
    assert(!p.contains("CartesianProduct"),
      s"exact-substring plan went quadratic:\n$p")
  }

  test("semdedup: one cell-keyed aggregation, no corpus self-join") {
    val p = plan(graft.ops.SimilarityOps.semDedup(spark, sfDir))
    assert(!p.contains("SortMergeJoin") && !p.contains("Cartesian"),
      s"semdedup self-joins the corpus:\n$p")
  }

  test("temperature mix: epochs broadcast back, no corpus-sized window") {
    val p = plan(graft.ops.CorpusOps.temperatureMix(
      Tables.load(spark, sfDir, "documents")))
    // the per-source epoch frame joins back as a broadcast — the
    // corpus must never shuffle for the join
    assert(p.contains("BroadcastHashJoin"),
      s"epoch join did not broadcast:\n$p")
    // the unpartitioned window runs over the |sources|-row AGGREGATE
    // frame: its single-partition exchange must sit above a
    // HashAggregate, and no window may consume raw text
    val winLines = p.linesIterator.filter(_.contains("Window")).mkString
    assert(!winLines.contains("text"),
      s"a window consumes corpus text:\n$winLines")
  }

  test("quality probe serving is one scan, one aggregation, no join") {
    // training is memoized before planning; the SERVED plan (what a
    // 100 TB scoring pass runs) must be scan → project → partial/final
    // agg with the weights folded in as constants
    val p = plan(graft.ops.TextOps.qualityClf(spark, sfDir))
    assert(!p.contains("Join") && !p.contains("Exchange hashpartitioning"),
      s"probe serving plan shuffles or joins:\n$p")
    assert(p.linesIterator.count(_.contains("FileScan")) == 1,
      s"probe serving reads more than one scan:\n$p")
  }

  test("LWW merge: ONE exchange serves all three window tiers") {
    val p = plan(TtlOps.lwwMergeAudit(spark, sfDir))
    // hashpartitioning(partition_key) satisfies the pk, (pk,clustering)
    // and (pk,clustering,name) window distributions via Spark's subset
    // rule — EnsureRequirements must add sorts, never a second shuffle
    val exchanges = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("reuse")).toSeq
    assert(exchanges.length == 1,
      s"expected exactly one exchange, got ${exchanges.length}:\n$p")
  }

  test("cluster profile: one corpus groupBy; rollups run on the tiny frame") {
    val p = plan(graft.ops.SimilarityOps.clusterProfile(spark, sfDir))
    // both consumers (dominant-source window + per-cell rollup) must
    // read the checkpointed partial-aggregate frame, not re-run the
    // embeddings⋈documents join: exactly zero FileScans in the final
    // plan (checkpoint scans print as Scan ExistingRDD)
    assert(p.linesIterator.count(_.contains("FileScan")) == 0,
      s"a profile consumer re-reads the corpus:\n$p")
  }

  test("PQ re-rank: refine fetch is a broadcast probe, never a shuffled join") {
    val p = plan(graft.ops.SimilarityOps.annPqRerank(spark, sfDir))
    // every join in the two-stage plan (ADC candidate join + the
    // raw-vector refine fetch) broadcasts its small side; a
    // SortMergeJoin would mean the shortlist shuffled the corpus
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"refine stage shuffled a corpus-sized side:\n$p")
  }

  test("SQ8 flat: encode + score is scan + broadcast probe, no corpus exchange before ranking") {
    val df = graft.ops.SimilarityOps.annSq8(spark, sfDir)
    val p = plan(df)
    // the only exchange allowed is the final top-k window's
    // hash-partition on q_vec_id (|Q|·corpus candidate rows ranked);
    // encode and scoring are per-row expressions over one scan
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled to join:\n$p")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"query side not broadcast:\n$p")
  }

  test("banding curve: one signature materialization feeds all five configs") {
    val p = plan(graft.ops.DedupOps.minhashBandCurve(spark, sfDir))
    // signatures are checkpointed once; banding, pair generation and
    // the agreement joins all read the checkpoint (Scan ExistingRDD),
    // so the corpus text is scanned ZERO times in the final plan
    assert(p.linesIterator.count(_.contains("FileScan")) == 0,
      s"a curve consumer re-reads the corpus:\n$p")
  }

  test("source drift: one corpus groupBy; grid and rollups on the tiny frame") {
    val p = plan(graft.ops.SimilarityOps.sourceDrift(spark, sfDir))
    assert(p.linesIterator.count(_.contains("FileScan")) == 0,
      s"a drift consumer re-reads the corpus:\n$p")
  }
}
