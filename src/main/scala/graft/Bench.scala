package graft

/** Per-round benchmark main (driver contract): runs every SparkEntry query
  * against `SPARK_GRAFT_SF_DIR`, prints ONE JSON line.
  *
  * Timing discipline:
  *   - a warm-up pass first (JIT, code cache, file-listing, parquet footer
  *     caches) so per-query numbers measure the plan, not session startup;
  *   - results are fully materialized through the noop sink — `count()`
  *     would let Catalyst prune projections and skip the real work.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus, "graft-bench")

    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    // Best-known quiet-box per-query times (committed): under SUSTAINED
    // external load both regular samples agree — both slow — so the
    // instability resampler never fires; a sample far above the best
    // known time buys extra samples the same way. Missing file or key
    // degrades to the plain instability rule.
    val baseline: Map[String, Double] = {
      val f = new java.io.File(
        sys.env.getOrElse("SPARK_GRAFT_BASELINE", "bench_baseline.json"))
      if (!f.exists()) Map.empty
      else {
        val src = scala.io.Source.fromFile(f)
        try """"(q[^"]+)":\s*([0-9.]+)""".r.findAllMatchIn(src.mkString)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        finally src.close()
      }
    }

    // ---- Load fence (r15): this box runs co-tenant work (r14 measured
    // loadavg 5-9.7 with zero graft processes alive, flagging 8 sub-2 s
    // queries above 2x best-known). Loadavg itself is useless mid-suite —
    // our own 32 worker threads dominate it — so the fence measures
    // AMBIENT cpu directly: (/proc/stat busy ticks − /proc/self/stat
    // utime+stime) over each sample's window, in cores. Our own work
    // (including GC and Spark daemon threads) is self time and subtracts
    // out exactly; what remains is co-tenant cores. A sample taken above
    // the fence is untrusted — the query re-queues to the end-of-suite
    // sweep, which waits (bounded) for the box to go quiet. The ambient
    // cores of the REPORTED sample are committed next to the time so a
    // future breach is diagnosable from the artifact alone.
    val loadFence = sys.env.getOrElse("SPARK_GRAFT_LOAD_FENCE", "3.0").toDouble
    def readFile(p: String): String = {
      val src = scala.io.Source.fromFile(p)
      try src.mkString finally src.close()
    }
    // (system-wide busy ticks, this JVM's ticks) — USER_HZ (100) units
    def cpuTicks(): (Long, Long) = scala.util.Try {
      val f = readFile("/proc/stat").linesIterator.next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      val busy = f.take(8).sum - f(3) - f(4) // minus idle + iowait
      val after = readFile("/proc/self/stat")
      val rest = after.substring(after.lastIndexOf(')') + 2).split(" ")
      (busy, rest(11).toLong + rest(12).toLong) // utime + stime
    }.getOrElse((-1L, -1L))
    // ambient co-tenant cores burned between two tick readings
    def ambientCores(t0: (Long, Long), t1: (Long, Long),
                     dtSec: Double): Double =
      if (t0._1 < 0 || t1._1 < 0 || dtSec <= 0) -1.0
      else math.max(0.0,
        ((t1._1 - t0._1) - (t1._2 - t0._2)) / 100.0 / dtSec)
    // Bounded wait for quiet: sample ambient cores over 5 s windows.
    def awaitQuiet(maxSec: Int): Double = {
      var waited = 0
      var amb = Double.MaxValue
      while (amb > loadFence && waited < maxSec) {
        val t0 = cpuTicks()
        Thread.sleep(5000); waited += 5
        amb = ambientCores(t0, cpuTicks(), 5.0)
        if (amb < 0) return -1.0 // /proc unreadable: fence disabled
        if (amb > loadFence)
          System.err.println(
            f"[bench] ambient $amb%.2f cores > fence $loadFence%.1f — waiting (${waited}s)")
      }
      amb
    }

    // SPARK_GRAFT_ONLY=q_a,q_b restricts the run (local iteration aid)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // warm-up: entry-shaped small query + one cheap pass over each table
    SparkEntry.queries("q1_agg")(spark, sfDir).collect()
    Tables.names.foreach(t => Tables.load(spark, sfDir, t).count())
    // suite-start quiet gate: don't begin timing into a co-tenant burst
    awaitQuiet(maxSec = sys.env.getOrElse("SPARK_GRAFT_QUIET_WAIT", "120").toInt)

    // Two timed executions per query, best-of-2 reported: the first run of a
    // fresh plan pays janino codegen + JIT compilation (measured ~3 s for the
    // widest plans on a cold JVM), which is session startup cost, not plan
    // cost. clearCache() between queries keeps any cache an operator stages
    // from squatting on block-manager memory for the rest of the run —
    // per-query numbers must be isolated.
    var baselineExtras = 0
    // Each sample is (seconds, ambient co-tenant cores over its window).
    def once(name: String): (Double, Double) = {
      val c0 = cpuTicks()
      val t0 = System.nanoTime()
      val ok = try { materialize(name); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
      // elapsed captured BEFORE cache teardown — clearCache() isolates the
      // next query but its cost is session bookkeeping, not this query's
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      (if (ok) dt else -1.0, ambientCores(c0, cpuTicks(), dt))
    }
    def ranHot(name: String, t: Double): Boolean = // far above best-known
      t >= 0 && baseline.get(name).exists(b => t > b * 1.5)
    def bestOf(ts: Seq[(Double, Double)]): (Double, Double) =
      ts.filter(_._1 >= 0) match {
        case ok if ok.nonEmpty => ok.minBy(_._1)
        case _ => (-1.0, ts.map(_._2).max)
      }
    val firstPass = names.map { name =>
      var times = Seq(once(name), once(name))
      // Sub-half-second queries: the plan costs less than one GC pause
      // or scheduler hiccup, so two samples routinely report 2× the true
      // time (r9: q_count_filter 104 ms vs 48 ms best-known; r13: 14
      // queries hovering at 1.7–1.96× best-known, every one a sub-0.3 s
      // absolute). Buy a burst of extra samples — six under 0.25 s, four
      // under 0.5 s — and report the min; total cost stays bounded by
      // the queries being fast.
      def burstTo(ts: Seq[(Double, Double)]): Int = {
        val floor =
          math.min(ts.map(_._1).min, baseline.getOrElse(name, Double.MaxValue))
        if (floor < 0.25) 6 else if (floor < 0.5) 4 else 0
      }
      while (times.forall(_._1 >= 0) && times.size < burstTo(times))
        times :+= once(name)
      // the two runs disagreeing means one was hit by external load (this
      // box runs other work during benched rounds) — buy up to two more
      // samples rather than report a time that isn't the plan's
      def disagree(ts: Seq[(Double, Double)]): Boolean = {
        val best = ts.map(_._1).sorted.take(2)
        best(1) / best(0) > 1.5 // the two best samples still disagree
      }
      while (times.forall(_._1 >= 0) && times.size < 4 &&
             (disagree(times) ||
               // bounded: a fully-loaded box can't stretch the whole run
               (baselineExtras < 80 && ranHot(name, times.map(_._1).min)))) {
        if (!disagree(times)) baselineExtras += 1
        times :+= once(name)
      }
      name -> (if (times.exists(_._1 < 0)) (-1.0, times.map(_._2).max)
               else bestOf(times))
    }
    // End-of-suite retry: the in-place resampler can't beat SUSTAINED load —
    // all its samples land inside the same load burst. Queries still above
    // 1.5× their best-known get ONE more attempt each at the END of the
    // suite (minutes later, after the burst), up to two sweep passes; the
    // reported number is the min across all attempts.
    var results = firstPass
    var sweep = 0
    // Queries whose kept (better) time was re-confirmed from BELOW the
    // fence by an end-of-suite retry. Recorded separately — the committed
    // ambient_cores must keep describing the reported time's own
    // measurement window, not the quietest window any attempt saw.
    val confirmedQuiet = scala.collection.mutable.Set.empty[String]
    // failed queries (-1.0) re-queue too: a load burst that OOMs/times out
    // one sample is exactly what the end-of-suite attempt exists to escape.
    // Load-tainted queries re-queue when their best sample ran above the
    // fence AND sits measurably above best-known (>1.1x — load only ever
    // slows a query, so a tainted sample at/below best-known is credible).
    def tainted(n: String, t: Double, l: Double): Boolean =
      l > loadFence && t >= 0 && baseline.get(n).forall(b => t > b * 1.1)
    while (sweep < 2 && results.exists { case (n, (t, l)) =>
             ranHot(n, t) || t < 0 || tainted(n, t, l) }) {
      sweep += 1
      val hot = results.collect { case (n, (t, l))
        if ranHot(n, t) || t < 0 || tainted(n, t, l) => n }
      System.err.println(
        s"[bench] end-of-suite retry pass $sweep: ${hot.size} hot/tainted queries")
      // give the co-tenant burst time to pass before burning the retries
      awaitQuiet(maxSec = 180)
      val retried = hot.map(n => n -> once(n)).toMap
      results = results.map { case (n, (t, l)) =>
        retried.get(n) match {
          case Some((r, rl)) if r >= 0 && (t < 0 || r < t) => n -> (r, rl)
          // keep the old (better) time AND its own ambient; the retry
          // CONFIRMING it from below the fence is flagged separately
          case Some((r, rl)) if r >= 0 && rl <= loadFence && r <= t * 1.5 =>
            confirmedQuiet += n; n -> (t, l)
          case _ => n -> (t, l)
        }
      }
    }
    // locale-proof decimal formatting (a comma decimal separator would
    // silently break the driver's JSON parse)
    def num(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    def dict(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + num(v) }.mkString("{", ",", "}")
    val timed = results.map { case (n, (t, _)) => n -> t }
    val loads = results.map { case (n, (_, l)) => n -> l }
    val total = timed.map(_._2).filter(_ >= 0).sum
    // "sf" is NUMERIC per the driver contract (sf0.1 -> 0.1)
    val sfNum = "sf([0-9.]+)".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).getOrElse("0")
    // The full per-query dict goes to STDERR (humans read it in the sbt log):
    // at 100+ queries it outgrew the driver's stdout tail-capture window and
    // truncated the metric line mid-JSON. Stdout stays one compact line —
    // total plus a handful of headline queries — well under 1 KB forever.
    System.err.println(s"""[bench] per-query: ${dict(timed)}""")
    System.err.println(s"""[bench] per-query ambient cores: ${dict(loads)}""")
    // The COMMITTED full artifact: the stderr dict is only as durable as the
    // driver's log tail (r6 lost 28 queries to mid-line truncation), so the
    // complete per-query timing table is also written to a repo file and
    // committed each round — the ≤2× contract must be provable from the
    // committed artifacts alone.
    // Standing drift gate vs the PRE-fence floor ledger (r16): the fenced
    // baselines were re-seeded in r15, so nothing would fail if fenced-era
    // floors keep creeping up. Every query >2x its pre-fence floor is
    // listed in the artifact with its ratio and ambient cores — each such
    // row must carry a cause in the committed BENCH_DRIFT.md (ambient,
    // source change, or a re-measured quiet-box number).
    val prefence: Map[String, Double] = {
      val f = new java.io.File(sys.env.getOrElse(
        "SPARK_GRAFT_PREFENCE", "bench_baseline_prefence.json"))
      if (!f.exists()) Map.empty
      else {
        val src = scala.io.Source.fromFile(f)
        try """"(q[^"]+)":\s*([0-9.]+)""".r.findAllMatchIn(src.mkString)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        finally src.close()
      }
    }
    val driftRows = timed.collect {
      case (n, t) if t >= 0 && prefence.get(n).exists(b => t > b * 2.0) =>
        val amb = loads.collectFirst { case (`n`, l) => l }.getOrElse(-1.0)
        "\"" + n + "\":{\"ratio\":" + num(t / prefence(n)) +
          ",\"ambient_cores\":" + num(amb) + "}"
    }
    val driftDict = driftRows.mkString("{", ",", "}")
    if (driftRows.nonEmpty)
      System.err.println(s"[bench] prefence >2x drift: $driftDict")
    val quietList =
      confirmedQuiet.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullOut = sys.env.getOrElse("SPARK_GRAFT_FULL_OUT", "bench_last.json")
    scala.util.Try {
      val w = new java.io.PrintWriter(fullOut, "UTF-8")
      try w.println(
        s"""{"metric":"total","value":${num(total)},"unit":"sec","sf":$sfNum,"load_fence":$loadFence,"queries":${dict(timed)},"ambient_cores":${dict(loads)},"confirmed_quiet":$quietList,"prefence_over2x":$driftDict}""")
      finally w.close()
    }.failed.foreach(e =>
      System.err.println(s"[bench] full-artifact write failed: ${e.getMessage}"))
    // BENCH_DRIFT.md is GENERATED from this run's data — a hand-written
    // ledger drifted from the artifact in r16 (3 documented rows vs 7 in
    // the committed JSON, a stale total). One row per prefence_over2x
    // entry; causes come from the committed bench_drift_causes.json
    // (query -> cause sentence, maintained when a row is adjudicated via
    // the A/B worktree protocol); a row with no recorded cause prints
    // loudly as UNATTRIBUTED so staleness is visible in review, never
    // silent. Only the RUN OF RECORD (default FULL_OUT) writes it — an
    // sf1 probe or a SPARK_GRAFT_ONLY dev loop must not clobber the
    // committed sf0.1 ledger with its own partial view.
    if (fullOut == "bench_last.json" && only.isEmpty) scala.util.Try {
      val causes: Map[String, String] = {
        val f = new java.io.File(sys.env.getOrElse(
          "SPARK_GRAFT_DRIFT_CAUSES", "bench_drift_causes.json"))
        if (!f.exists()) Map.empty
        else {
          val src = scala.io.Source.fromFile(f)
          try """"(q[^"]+)":\s*"([^"]*)"""".r.findAllMatchIn(src.mkString)
            .map(m => m.group(1) -> m.group(2)).toMap
          finally src.close()
        }
      }
      val rows = timed.collect {
        case (n, t) if t >= 0 && prefence.get(n).exists(b => t > b * 2.0) =>
          val amb = loads.collectFirst { case (`n`, l) => l }.getOrElse(-1.0)
          val cause = causes.getOrElse(n,
            "UNATTRIBUTED — run the A/B worktree protocol and record a " +
              "cause in bench_drift_causes.json")
          s"| $n | ${num(t)} | ${num(t / prefence(n))}x | ${num(amb)} | $cause |"
      }
      val ledger = new java.io.PrintWriter("BENCH_DRIFT.md", "UTF-8")
      try {
        ledger.println(
          s"""# BENCH_DRIFT — standing drift gate vs the pre-fence floor ledger
             |
             |GENERATED by `graft.Bench` from the same run that wrote
             |`bench_last.json` — do not edit by hand; adjudicate a row by
             |adding its cause to `bench_drift_causes.json` and re-running.
             |
             |Run of record: ${names.size} gates, ${num(total)} s total,
             |fence $loadFence cores, sf $sfNum. Every query >2x its
             |`bench_baseline_prefence.json` floor is listed with its cause.
             |
             |A/B protocol backing a "box regime" label: re-bench the flagged
             |query on the UNCHANGED previous commit in a clean worktree
             |(`git worktree add`, SPARK_GRAFT_ONLY) — if the old code
             |reproduces the inflated number at near-zero ambient, the cause
             |is co-tenant cache/memory-bandwidth pressure (invisible to
             |/proc CPU accounting), not source.
             |""".stripMargin)
        if (rows.isEmpty)
          ledger.println("No query ran above 2x its pre-fence floor.")
        else {
          ledger.println(
            "| query | run (s) | ratio vs pre-fence floor | ambient cores | cause |")
          ledger.println("|---|---|---|---|---|")
          rows.foreach(ledger.println)
        }
      } finally ledger.close()
    }.failed.foreach(e =>
      System.err.println(s"[bench] drift-ledger write failed: ${e.getMessage}"))
    val headline = Seq("q1_agg", "q_dedup_minhash", "q_ann_topk",
      "q_asof_join", "q_nested_create", "q_dup_clusters_dist")
    val qs = dict(timed.filter(r => headline.contains(r._1)))
    // Crash-proof the one-line stdout contract (r17 lost the driver's
    // entire 32-core perf comparison to this): streaming gates leave
    // state-store maintenance threads that log multi-line stack traces
    // while the RpcEnv tears down, and an interleaved trace clobbers a
    // metric line printed BEFORE spark.stop(). Order of operations:
    // GraftSession.stop quiesces straggler streams and stops the session
    // (all teardown noise lands here), THEN emit the metric line as the
    // process's final stdout write and flush it explicitly.
    GraftSession.stop(spark)
    println(s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,"sf":$sfNum}""")
    System.out.flush()
  }
}
