package perfbench

import java.nio.file.{Files, Path, Paths}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.SparkSession

/** What a workload hands back to the harness. Timings of calls and units
  * live in the [[Recorder]]; this carries the rest. */
final case class Outcome(
    setupOnceS: Double,          // one-time set-up after session start
    setupEpisodesS: Seq[Double], // repeated set-ups; their median counts
    checkFailures: Seq[String],  // empty = every output check passed
    details: Seq[(String, Double, String)],
    layers: Seq[(String, Double)])

final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val scale: Double, val perturb: Boolean, val work: Path,
                val data: Path, val rec: Recorder, val sparkTrace: SparkTrace) {
  /** Whether unit `i` of a traced run is traced: units 1, 5, 9, … are,
    * the rest are not. Each traced unit sits between two untraced ones,
    * so one run also measures the tracing overhead against the mean of its
    * neighbours, which cancels a steady warm-up trend. */
  def tracedUnit(i: Int): Boolean = rec.traced && i % 4 == 1

  /** Run timed units until `seconds` of unit time has passed and at least
    * `minUnits` ran (three in a traced run). Only `unit` is timed; `before`
    * and `after` hold per-unit set-up, probes and output checks. */
  def loop(name: String, minUnits: Int)(before: Int => Unit)(unit: Int => Unit)
          (after: Int => Unit): Unit = {
    val min = if (rec.traced) math.max(minUnits, 3) else minUnits
    var i = 0
    var spent = 0.0
    while (i < min || spent < seconds) {
      before(i)
      if (tracedUnit(i)) sparkTrace.attach()
      val t0 = System.nanoTime()
      rec.unit(name, tracedUnit(i))(unit(i))
      spent += (System.nanoTime() - t0) / 1e9
      if (tracedUnit(i)) sparkTrace.detach()
      after(i)
      i += 1
    }
  }
}

object Main {
  /** Every per-layer metric, with its unit. A traced run prints all of
    * them; a layer a workload does not exercise reads 0. */
  val perLayer: Seq[(String, String)] =
    Seq("pipeline.locator_s" -> "s", "pipeline.enricher_s" -> "s",
      "pipeline.crm_sync_s" -> "s", "pipeline.rows_inserted" -> "count",
      "spark.planning_s" -> "s", "spark.driver_gap_s" -> "s",
      "spark.jobs" -> "count", "spark.stages" -> "count",
      "spark.jobs_per_op" -> "count", "spark.task_run_s" -> "s",
      "spark.task_cpu_s" -> "s", "spark.shuffle_write_mb" -> "MB",
      "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
      "spark.input_files" -> "count", "spark.input_mb" -> "MB",
      "scan.rows_read_per_row_returned" -> "ratio",
      "store.commits" -> "count", "store.bytes_written_mb" -> "MB",
      "store.files_written" -> "count", "store.write_amp" -> "ratio",
      "store.bytes_per_row_changed" -> "B/row") ++
    Gates.gates.flatMap { case (g, _) => Seq(s"gate.${g}_s" -> "s", s"gate.${g}_jobs" -> "count") } ++
    Gates.families.map(f => s"family.${f}_s" -> "s") ++
    Seq("store.catalog_mb" -> "MB", "drain.warmup_s" -> "s", "gates.geomean_s" -> "s", "gates.warmup_s" -> "s",
      "unit.wall_s" -> "s", "unit.jit_cpu_s" -> "s",
      "jvm.peak_rss_mb" -> "MB", "trace.overhead_pct" -> "%",
      "trace.call_share" -> "ratio", "trace.traced_units" -> "count")

  /** `cpu_s` is the median CPU time of a unit without the JIT compiler
    * threads, not its wall time: on a shared host, wall time follows the
    * host's slow and fast regimes, which outlast a run (the wall time is
    * the per-layer `unit.wall_s`). Per-call percentiles are not here: a
    * run times 12-18 calls, too few for a tail percentile with ten samples
    * beyond it. A call rate is not here either: each unit makes a fixed
    * number of calls, so it would only restate the unit's wall time. */
  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "cpu_s" -> "s")

  private def arg(a: Array[String], k: String): Option[String] =
    a.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(argv: Array[String]): Unit = {
    val workload = arg(argv, "--workload").getOrElse(sys.error("--workload"))
    val seed = arg(argv, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(argv, "--seconds").map(_.toDouble).getOrElse(10.0)
    val traced = arg(argv, "--trace").contains("1")
    val scale = arg(argv, "--scale").map(_.toDouble).getOrElse(1.0)
    val perturb = argv.contains("--perturb")
    val work = Paths.get(arg(argv, "--work").getOrElse(".bench_build/run")).toAbsolutePath
    val data = Paths.get(arg(argv, "--data").getOrElse("perfbench/data/sf0.01")).toAbsolutePath
    val out = Paths.get(arg(argv, "--out").getOrElse(".bench_build/out")).toAbsolutePath
    val spawnMs = arg(argv, "--spawn-ms").map(_.toLong).getOrElse(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    require(Set("drain_bulk", "corpus_gates").contains(workload),
      s"unknown workload $workload")

    val nproc = Runtime.getRuntime.availableProcessors
    val cores = math.min(2, nproc)
    val amb0 = Ambient.ticks()
    val wall0 = System.nanoTime()
    Files.createDirectories(work)
    Files.createDirectories(out)
    graft.GraftLogging.silenceKnownNoise()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val startS = (System.currentTimeMillis() - spawnMs) / 1000.0

    val rec = new Recorder(traced)
    val st = new SparkTrace(spark)
    val ctx = new Ctx(spark, seed, seconds, scale, perturb, work, data, rec, st)
    val o = workload match {
      case "drain_bulk" => Drain.run(ctx)
      case "corpus_gates" => Gates.run(ctx,
        Paths.get(arg(argv, "--expect").getOrElse("perfbench/expected_gates.json")).toAbsolutePath,
        arg(argv, "--record").map(Paths.get(_).toAbsolutePath))
    }
    st.detach()
    spark.streams.active.foreach { q => scala.util.Try { q.stop(); q.awaitTermination(30000) } }

    // ---- end-to-end metrics (untraced units only in a traced run) ----
    val e2e = Seq(
      "setup_s" -> (startS + o.setupOnceS + Stats.median(o.setupEpisodesS)),
      "cpu_s" -> Stats.median(rec.plainUnits.map(_.cpuS)))

    // ---- per-layer metrics (traced runs) ----
    val layerVals: Map[String, Double] =
      if (!traced) Map.empty else (generic(rec, st) ++ o.layers).toMap

    val wallS = (System.nanoTime() - wall0) / 1e9
    val ambient = Ambient.cores(amb0, Ambient.ticks(), wallS)
    val correct = o.checkFailures.isEmpty
    val metrics =
      if (!traced) e2e.map { case (k, v) => k -> (v, endToEnd.toMap.apply(k)) }
      else perLayer.map { case (k, u) => k -> (layerVals.getOrElse(k, 0.0), u) }

    val stamp = Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "seconds" -> Json.num(seconds), "trace" -> traced.toString,
      "scale" -> Json.num(scale), "nproc" -> nproc.toString,
      "spark_master" -> Json.str(s"local[$cores]"),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "commit" -> Json.str(sys.env.getOrElse("PERFBENCH_COMMIT", "unknown")),
      "source_digest" -> Json.str(sys.env.getOrElse("PERFBENCH_SOURCE_DIGEST", "unknown")),
      "ambient_cores" -> Json.num(ambient), "run_wall_s" -> Json.num(wallS),
      "java" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version))
    val tag = s"$workload-seed$seed-trace${if (traced) 1 else 0}"
    val artifact = Json.obj(Seq(
      "stamp" -> Json.obj(stamp),
      "correct" -> correct.toString,
      "check_failures" -> Json.arr(o.checkFailures.map(Json.str)),
      "errors" -> Json.arr(rec.errors.toSeq.map(Json.str)),
      "attempted" -> rec.attempted.toString, "failed" -> rec.failed.toString,
      "end_to_end" -> Json.metrics(e2e.map { case (k, v) => (k, v, endToEnd.toMap.apply(k)) }),
      "details" -> Json.metrics(o.details),
      "per_layer" -> Json.metrics(perLayer.map { case (k, u) => (k, layerVals.getOrElse(k, 0.0), u) }),
      "setup_episodes_s" -> Json.arr(o.setupEpisodesS.map(Json.num)),
      "units_s" -> Json.arr(rec.units.toSeq.map(u => Json.obj(Seq(
        "traced" -> u.traced.toString, "s" -> Json.num(u.s), "cpu_s" -> Json.num(u.cpuS),
        "jit_cpu_s" -> Json.num(u.cpu.jitNs / 1e9))))),
      "calls" -> Json.arr(rec.calls.toSeq.map(c => Json.obj(Seq(
        "op" -> Json.str(c.op), "kind" -> Json.str(c.kind), "unit" -> c.unit.toString,
        "ok" -> c.ok.toString, "ms" -> Json.num(c.ms), "rows" -> c.rowsOut.toString))))))
    Files.write(out.resolve(s"run-$tag.json"), artifact.getBytes(UTF_8))
    if (traced) {
      val lines = rec.spans.map(s => Json.obj(Seq("id" -> s.id.toString,
        "name" -> Json.str(s.name), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString, "parent" -> s.parent.toString,
        "op_id" -> s.opId.toString)))
      Files.write(out.resolve(s"spans-$tag.jsonl"), (lines.mkString("\n") + "\n").getBytes(UTF_8))
    }

    graft.GraftLogging.silenceShutdownRaces()
    scala.util.Try(spark.stop())
    // human-readable lines first; the contract line is the LAST stdout line
    o.details.foreach { case (k, v, u) => println(s"[perfbench] $workload $k = ${Json.num(v)} $u") }
    o.checkFailures.foreach(f => println(s"[perfbench] CHECK FAILED: $f"))
    rec.errors.foreach(e => println(s"[perfbench] call failed: $e"))
    println(s"[perfbench] stamp ${Json.obj(stamp)}")
    println(Json.obj(Seq("correct" -> correct.toString,
      "attempted" -> rec.attempted.toString, "failed" -> rec.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }))))
    System.out.flush()
  }

  /** Layer metrics every workload has: Spark's listener-bus totals over
    * the traced units, driver gap, and the tracing overhead. */
  private def generic(rec: Recorder, st: SparkTrace): Seq[(String, Double)] = {
    val tracedUnits = rec.tracedUnits
    val calls = rec.callsIn(tracedUnits)
    val wall = tracedUnits.map(_.s).sum
    val callSelf = rec.spans.filter(_.parent >= 0).map(s => (s.endNs - s.startNs) / 1e9).sum
    // union of the Spark job intervals inside each call
    val covered = calls.map { c =>
      val (c0, c1) = (Clock.epochMs(c.startNs), Clock.epochMs(c.endNs))
      val iv = st.jobs.filter(j => j.startMs >= c0 - 1 && j.startMs <= c1)
        .map(j => (math.max(j.startMs.toDouble, c0), math.min(j.endMs.toDouble, c1)))
        .sortBy(_._1)
      var tot = 0.0; var end = Double.MinValue
      iv.foreach { case (a, b) =>
        if (b > end) { tot += b - math.max(a, end); end = b }
      }
      tot / 1000.0
    }.sum
    val callWall = calls.map(c => (c.endNs - c.startNs) / 1e9).sum
    val readCalls = calls.filter(_.kind == "read")
    val scanCalls = if (readCalls.nonEmpty) readCalls else calls
    // file-scan rows of the executions planned inside those calls
    val scanRows = st.execs.filter(e => scanCalls.exists(c =>
      e.atMs >= Clock.epochMs(c.startNs) - 1 && e.atMs <= Clock.epochMs(c.endNs) + 1))
      .map(_.scanRows).sum.toDouble
    // traced unit vs the mean of the untraced units on either side of it
    val secs = rec.units.map(u => u.ix -> u.s).toMap
    val pairs = tracedUnits.flatMap(u => for (a <- secs.get(u.ix - 1); b <- secs.get(u.ix + 1))
      yield u.s / ((a + b) / 2) - 1)
    Seq(
      "spark.planning_s" -> st.execs.map(_.planningMs).sum / 1000.0,
      "spark.driver_gap_s" -> (callWall - covered),
      "spark.jobs" -> st.jobs.size.toDouble,
      "spark.stages" -> st.stagesDone.toDouble,
      "spark.jobs_per_op" -> (if (calls.isEmpty) 0.0 else st.jobs.size.toDouble / calls.size),
      "spark.task_run_s" -> st.taskRunMs / 1000.0,
      "spark.task_cpu_s" -> st.taskCpuNs / 1e9,
      "spark.shuffle_write_mb" -> st.shuffleWrite / 1048576.0,
      "spark.shuffle_read_mb" -> st.shuffleRead / 1048576.0,
      "spark.spill_mb" -> st.spill / 1048576.0,
      "spark.input_files" -> st.execs.map(_.files).sum.toDouble,
      "spark.input_mb" -> st.inputBytes / 1048576.0,
      "scan.rows_read_per_row_returned" -> scanRows / math.max(1L, scanCalls.map(_.rowsOut).sum),
      "trace.overhead_pct" -> (if (pairs.isEmpty) 0.0 else 100 * pairs.sum / pairs.size),
      "trace.call_share" -> (if (wall > 0) callSelf / wall else 0.0),
      "trace.traced_units" -> tracedUnits.size.toDouble,
      "unit.wall_s" -> Stats.median(rec.plainUnits.map(_.s)),
      "unit.jit_cpu_s" -> Stats.median(rec.plainUnits.map(_.cpu.jitNs / 1e9)),
      "jvm.peak_rss_mb" -> Ambient.peakRssMb())
  }
}

/** Minimal JSON rendering (no dependency beyond the JDK). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  /** All digits as measured; +Inf (a failed sample's latency) renders as
    * 1e18 so the line stays valid JSON. */
  def num(v: Double): String =
    if (v.isNaN) "0" else if (v.isInfinite) "1e18"
    else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
  def metrics(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (k, v, u) => k -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
}
