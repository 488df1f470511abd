package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * A warmup pass runs the whole suite once first so the recorded numbers are
  * steady-state engine throughput (JIT, codegen cache, file-footer cache)
  * rather than JVM startup — the same protocol any engine benchmark uses.
  *
  * Per key it publishes only what was measured: the min and max over the
  * clean samples (`queries_min_max` in BENCH_DETAIL.json), with the
  * contention ledger beside them. There is no contention-normalized
  * estimate: dividing each sample by its segment's calibration heat was
  * measured over 226 unchanged keys at a median error of -57 % against a
  * clean run, where the contended raw min was off by +10.7 %
  * (OPTIMIZATION_r17.md §2).
  */
object Bench {

  /** Run-level contention gate: median of the in-pass calibration
    * probes vs the run's own calibration floor. The median gets a
    * TIGHTER bar than single passes (1.3x vs the 1.5x pass gate) and NO
    * absolute grace — calThreshold's 0.2s grace exists to keep tiny
    * floors from flunking honest passes, but here it would swallow the
    * ratio signal entirely on this workload's ~0.1s floor (r14's
    * poisoned run: median 0.1105 on floor 0.066 = 1.67x, yet under a
    * 0.2s grace it reads clean — BenchGateSpec pins that exact run as
    * the regression fixture). One hot bracket is a burst; a hot MEDIAN
    * is a hot host, and per-key deltas from that run are
    * non-adjudicable.
    */
  private[graft] def runGate(probes: Seq[Double], floor: Double)
  : (Double, Boolean) = {
    val sorted = probes.sorted
    // even counts interpolate (mean of the two middles): the lower
    // middle was the LENIENT direction for a contention gate — with few
    // probes a run straddling the 1.3x bar could read clean on the one
    // cool probe the lower middle happened to select (r15 ADVICE)
    val median =
      if (sorted.isEmpty) floor
      else if (sorted.length % 2 == 1) sorted(sorted.length / 2)
      else (sorted(sorted.length / 2 - 1) + sorted(sorted.length / 2)) / 2
    (median, median > 1.3 * floor)
  }

  /** Host-speed yardstick: a fixed CPU-bound workload (hash + sum over a
    * generated range, no I/O, no shuffle), in seconds. This box shows
    * hour-scale CPU-steal episodes that inflate the whole suite 2-5x; the
    * calibration number makes a slow TOTAL attributable — compare "cal"
    * across rounds and divide. On a healthy pass it lands well under a
    * second at local[32].
    */
  private[graft] def calibrate(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{sum, xxhash64, col, lit}
    val t0 = System.nanoTime()
    // mask to 32 bits before summing: 2e8 rows x 2^32 max ≈ 8.6e17 stays
    // under Long.Max — an unmasked hash sum overflows under ANSI mode
    spark.range(0L, 200000000L, 1L, 32)
      .select(sum(xxhash64(col("id")).bitwiseAND(lit(0xFFFFFFFFL)))).collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Runs one `SparkEntry.queries` key to the noop sink, which forces full
    * evaluation of every column (a count() lets Catalyst prune the whole
    * projection and under-reports the work).
    */
  private[graft] def runKey(spark: SparkSession, name: String,
                            sfDir: String): Unit =
    SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSessions.localFromEnv()
    spark.sparkContext.setLogLevel("ERROR")

    val suite = SparkEntry.queries.keys.toSeq.sorted
    def calibrate(): Double = {
      val sec = Bench.calibrate(spark)
      System.err.println(f"[bench] cal $sec%.2fs")
      sec
    }
    // In-pass contention probes (round-9 lesson): the pass-bracketing
    // calibrations run BETWEEN passes, so a CPU-steal burst landing mid-pass
    // inflates a handful of queries while both brackets read clean — r9's
    // driver run was 22% slower than the builder's on identical code with
    // every bracket green, and per-key max/min spreads up to 2.9x said the
    // bursts were real but unattributable. A probe every ProbeEvery queries
    // splits each pass into segments whose contention state is KNOWN; dirty
    // segments are excluded from the published per-query min/max (with a
    // fall-back to all samples when every segment was dirty), and the
    // ledger in BENCH_DETAIL.json attributes any builder/driver delta.
    val ProbeEvery = 25
    // a failed query must not masquerade as a fast one: its timing is
    // recorded as -1 and its name lands in the "failed" list
    def runAll(pass: String, probed: Boolean)
        : (Map[String, Double], Seq[String], Vector[Double]) = {
      val failed = scala.collection.mutable.ListBuffer[String]()
      val probes = Vector.newBuilder[Double]
      val times = suite.zipWithIndex.map { case (name, i) =>
        if (probed && i > 0 && i % ProbeEvery == 0) probes += calibrate()
        val t0 = System.nanoTime()
        val ok =
          try { runKey(spark, name, sfDir); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            failed += name
            false
          }
        val sec = (System.nanoTime() - t0) / 1e9
        // progress to stderr: a 2-hour contended run with silent stdout is
        // undiagnosable from outside (learned the hard way, round 7)
        System.err.println(f"[bench] $pass $name $sec%.2fs")
        name -> (if (ok) sec else -1.0)
      }.toMap
      (times, failed.toSeq, probes.result())
    }

    runAll("warmup", probed = false) // warmup
    calibrate() // the yardstick query needs its own codegen warm-up: a
                // cold first cal reads ~3x hot and would falsely mark
                // pass 1 contended, costing a full re-run pass
    // timed passes, per-query MIN plus the max for spread: this host
    // shows multi-second CPU-contention bursts that land on random queries,
    // and C2 JIT keeps improving hot paths past the warmup pass — r2's
    // min-of-two recorded join_left at 2.7x its steady state purely from
    // that. The min of the steady-state passes is the engine's actual
    // throughput; the max makes contention attributable instead of
    // masquerading as a plan regression.
    //
    // Calibration GATES which passes count (round-7 lesson: 3 of 4 passes
    // ran at cal 2-9x healthy and folded a ~1.6x noise floor into every
    // per-query min). The threshold is RELATIVE to the run's own observed
    // floor — a pass is clean iff both bracketing calibrations land within
    // 1.5x of the best calibration seen so far (never below a 0.2s grace):
    // an absolute cutoff misfires on a host whose steady floor drifts
    // (first r8 run: six steady passes at cal 0.213-0.232 all flunked a
    // fixed 0.2 bar and the gate degenerated to the use-everything
    // fallback). Contended passes are re-run (up to a fixed budget) and
    // recorded per-pass in the detail doc, but never folded into the
    // published min/max.
    val WantedClean = 3
    val MaxPasses = 6
    def calThreshold(calMin: Double): Double = math.max(0.2, 1.5 * calMin)
    final case class Pass(times: Map[String, Double], failed: Seq[String],
                          calBefore: Double, calAfter: Double,
                          probes: Vector[Double]) {
      def cleanAt(thr: Double): Boolean = calBefore <= thr && calAfter <= thr
      // the segment of query index i is bounded below by the probe (or
      // pass-opening cal) that ran before it and above by the next probe
      // (or pass-closing cal); the segment's contention state is the worse
      // of its two bounds — same bracketing logic as the pass gate, finer
      def segClean(i: Int, thr: Double): Boolean = {
        val s = i / ProbeEvery
        val lo = if (s == 0) calBefore else probes(s - 1)
        val hi = if (s >= probes.length) calAfter else probes(s)
        lo <= thr && hi <= thr
      }
    }
    val cals = scala.collection.mutable.ListBuffer[Double]()
    val passes = scala.collection.mutable.ListBuffer[Pass]()
    // the calibration floor the threshold is relative to: every cal ever
    // observed, in-pass probes included (same workload, so comparable)
    def calFloor: Double =
      (cals ++ passes.flatMap(_.probes)).min
    var calPrev = calibrate()
    cals += calPrev
    while (passes.length < MaxPasses &&
        passes.count(_.cleanAt(calThreshold(calFloor))) < WantedClean) {
      val (t, f, pr) = runAll(s"p${passes.length + 1}", probed = true)
      val calAfter = calibrate() // brackets this pass AND opens the next
      cals += calAfter
      passes += Pass(t, f, calPrev, calAfter, pr)
      calPrev = calAfter
    }
    // publish only cal-clean passes (judged against the final floor); if
    // the host never went quiet, fall back to all passes (labeled —
    // cal/cal_max expose the contention)
    //
    // gateFloor is SNAPSHOT here, before the respike loop appends its own
    // calibrations: thr (the pass/segment gate) must be the floor that
    // actually selected the used passes, and it is published as cal_gate
    // so the record is self-consistent even when a respike calibration
    // later dips below it (r14 ADVICE: cal and thr silently diverged).
    val gateFloor = calFloor
    val thr = calThreshold(gateFloor)
    val used = if (passes.exists(_.cleanAt(thr))) passes.filter(_.cleanAt(thr)).toList
               else passes.toList
    System.err.println(
      s"[bench] passes=${passes.length} thr=$thr clean=${passes.count(_.cleanAt(thr))} used=${used.length}")
    val failed = passes.flatMap(_.failed).distinct
    // Per-query samples keep only CLEAN-segment measurements from the used
    // passes (a used pass has clean brackets but can still hide an in-pass
    // burst; a dirty segment's samples are an upper bound, not a
    // measurement). If contention ate every sample of a query, fall back
    // to all its used-pass samples and list it in the ledger.
    val contendedKeys = scala.collection.mutable.SortedSet[String]()
    var contendedSamples = 0
    val perQuery0 = suite.zipWithIndex.map { case (name, i) =>
      val all = used.map(_.times(name))
      val clean = used.collect { case p if p.segClean(i, thr) => p.times(name) }
      val dirty = all.length - clean.length
      if (dirty > 0) { contendedKeys += name; contendedSamples += dirty }
      val vs = if (clean.nonEmpty) clean else all
      name -> (if (all.exists(_ < 0)) (-1.0, -1.0) else (vs.min, vs.max))
    }
    // Spike re-measure (round-13 lesson): one bench pass showed dedup-family
    // maxes at 6-22s while every calibration probe read clean — a burst can
    // land entirely inside one query's run and be invisible to the
    // segment brackets. Any key whose published spread exceeds 3x (and
    // 0.3s absolute, so micro-keys don't churn) gets ONE extra rep,
    // bracketed by its own calibrations; a clean re-rep is folded into the
    // published min (the engine's speed is the best clean observation) and
    // recorded in the ledger so max-side adjudication has an uncontended
    // second look. The max keeps the burst — it happened — but is no
    // longer the only evidence.
    val respikes = scala.collection.mutable.SortedMap[String, Double]()
    val spiked = perQuery0.collect {
      case (name, (mn, mx)) if mn >= 0 && mx > 3 * mn && mx - mn > 0.3 => name
    }
    val respiked: Map[String, Double] =
      if (spiked.isEmpty) Map.empty
      else {
        spiked.flatMap { name =>
          val cb = calibrate()
          val t0 = System.nanoTime()
          val ok = try { runKey(spark, name, sfDir); true }
            catch { case _: Throwable => false }
          val sec = (System.nanoTime() - t0) / 1e9
          val ca = calibrate()
          cals += cb; cals += ca
          System.err.println(f"[bench] respike $name $sec%.2fs cal[$cb%.2f,$ca%.2f]")
          if (ok && cb <= thr && ca <= thr) { respikes(name) = sec; Some(name -> sec) }
          else None
        }.toMap
      }
    val perQuery = perQuery0.map { case (name, (mn, mx)) =>
      name -> (respiked.get(name).fold((mn, mx))(s => (math.min(mn, s), mx)))
    }
    // min = the host's healthy speed; max = the worst burst the run saw.
    // cal_max/cal ≈ 1 certifies clean numbers; >> 1 means the per-query
    // mins are an upper bound on engine cost, not a measurement of it.
    // (Computed after the respike reps so their calibrations count too.)
    val cal = calFloor
    val calMax = (cals ++ passes.flatMap(_.probes)).max
    // RUN-level contention verdict (r14 lesson): the headline cal is a
    // MIN, so a run whose best calibration read clean while the in-pass
    // probes ran 50% hot publishes numbers that LOOK clean but carry a
    // uniform contention shift — r14's driver run had cal 0.072 with the
    // probe median at 0.1105 and every key ~1.155x the builder's clean
    // run. The probe median is the run's TYPICAL host speed (probes fire
    // every ProbeEvery queries, so they sample the whole run, not just
    // pass boundaries); the gate itself is [[runGate]], spec-pinned on
    // the r14 run. The verdict compares against the FINAL floor `cal`
    // (min over every calibration including the respike brackets), not
    // the snapshot gateFloor: the snapshot exists for pass-selection
    // consistency, but if a respike calibration later finds a quieter
    // floor, judging the median against the stale (higher) one would
    // understate contention and let a hot run publish
    // run_contended:false (r15 ADVICE; cal <= gateFloor always, so
    // this only ever tightens the verdict).
    val (probeMedian, runContended) =
      runGate(passes.flatMap(_.probes).toSeq, cal)
    // The harness keeps only the LAST ~2000 chars of output and parses the
    // JSON line it finds there. Round 6 proved the per-query map no longer
    // fits that window at 125+ queries (BENCH_r06 parsed:null — the headline's
    // front was truncated away), so the headline now carries the aggregate
    // ONLY (~120 chars, fits at any suite size). The complete per-query
    // min/max detail is written to BENCH_DETAIL.json (sf0.1; other scales
    // to BENCH_DETAIL_<sf>.json) next to the repo docs
    // (read directly by the judge) and echoed on a '#'-prefixed line — never
    // parseable as JSON, so it can't be mistaken for the headline.
    def f3(v: Double): String = {
      val s = "%.3f".format(v)
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse else s
    }
    val detail = perQuery
      .map { case (k, (mn, mx)) => "\"" + k + "\":[" + f3(mn) + "," + f3(mx) + "]" }
      .mkString("{", ",", "}")
    val total = perQuery.collect { case (_, (mn, _)) if mn >= 0 => mn }.sum
    val failedJson =
      if (failed.isEmpty) ""
      else ",\"failed\":" + failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val sfName = sfDir.split('/').last
    val passMeta = passes.map(p =>
      s"""{"cal_before":${f3(p.calBefore)},"cal_after":${f3(p.calAfter)},"clean":${p.cleanAt(thr)},"probes":${p.probes.map(f3).mkString("[", ",", "]")}}""")
      .mkString("[", ",", "]")
    // The contention ledger: which published numbers had samples excluded
    // by a dirty in-pass segment (count + keys), so a cross-environment
    // total delta (r9: builder 73.5s vs driver 90.1s, both bracket-clean)
    // is attributable instead of reading as a plan change. warm_cache_keys
    // flags keys whose number is BY DESIGN a warm-cache marginal cost
    // (a session-shared input frame, or CatalogStats.ensureStarStats'
    // ANALYZE scans, which run once per session and dir during the
    // warmup pass): tools/benchdiff.py annotates them so a cross-round
    // diff against a pre-memoization round isn't read as an engine
    // speedup.
    val ledger =
      s""""probe_every":$ProbeEvery,"contended_samples":$contendedSamples,"contended_keys":${contendedKeys.map("\"" + _ + "\"").mkString("[", ",", "]")},"respikes":${respikes.map { case (k, v) => "\"" + k + "\":" + f3(v) }.mkString("{", ",", "}")},"respike_attempted":${spiked.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")},"warm_cache_keys":["dedup_keep_best","ann_ivf_pruned","cbo_join_reorder","window_partitioned_auto","window_partitioned_range_auto","window_partitioned_string_auto"]"""
    val detailDoc =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","sf":"$sfName","cal":${f3(cal)},"cal_gate":${f3(gateFloor)},"cal_max":${f3(calMax)},"probe_median":${f3(probeMedian)},"run_contended":$runContended,"cals":${cals.map(f3).mkString("[", ",", "]")},"passes":$passMeta,"used_passes":${used.length},$ledger,"nqueries":${perQuery.size},"failed":${failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")},"queries_min_max":$detail}"""
    try {
      // sf0.1 is the scale the committed record holds; any other scale
      // writes beside it, so a small run never replaces it
      val out = java.nio.file.Paths.get(
        if (sfName == "sf0.1") "BENCH_DETAIL.json" else s"BENCH_DETAIL_$sfName.json")
      java.nio.file.Files.write(out, (detailDoc + "\n").getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] detail write failed: ${e.getMessage}") }
    println(s"# bench-detail(min,max) $detail")
    val line = s"""{"metric":"total","value":${f3(total)},"unit":"sec"$failedJson,"sf":"$sfName","cal":${f3(cal)},"cal_max":${f3(calMax)},"probe_median":${f3(probeMedian)},"contended_samples":$contendedSamples,"run_contended":$runContended}"""
    // stop() first: its shutdown logging (stderr) must not land after the line.
    spark.stop()
    println(line)
    System.out.flush()
  }
}
