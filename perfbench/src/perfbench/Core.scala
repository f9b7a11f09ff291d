package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Order statistics over latency samples. A failed call is a sample of
  * +Infinity: it is never dropped, and it misses every latency limit. */
object Stats {
  /** The middle sample, or the mean of the two middle ones. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}

/** One timed call into a layer's public function. `rowsOut` is the rows it
  * returned (reads) or changed (writes and stage runs). */
final case class Call(op: String, kind: String, unit: Int, startNs: Long,
                      endNs: Long, ok: Boolean, rowsOut: Long) {
  def ms: Double = if (ok) (endNs - startNs) / 1e6 else Double.PositiveInfinity
}

/** One timed unit of work: a drain or a pass over the gates, with the
  * CPU time the JVM spent during it (see [[Cpu]]). */
final case class UnitRun(ix: Int, startNs: Long, endNs: Long, traced: Boolean,
                         cpu: Cpu.Used) {
  def s: Double = (endNs - startNs) / 1e9
  def cpuS: Double = cpu.workNs / 1e9
}

/** CPU time of this JVM from /proc, in clock ticks (10 ms). Time the
  * machine gives to other tenants, or steals from this one, is not in it.
  * The JIT compiler threads' time is kept apart: how much compiling
  * happens inside a unit depends on how far compilation got before it,
  * which the machine's speed at that moment decides. */
object Cpu {
  final case class Used(totalNs: Long, jitNs: Long) {
    def -(o: Used): Used = Used(totalNs - o.totalNs, jitNs - o.jitNs)
    /** Every thread but the JIT compilers: the program's threads, Spark's,
      * and GC. */
    def workNs: Long = totalNs - jitNs
  }
  private val tickNs = 10000000L
  /** Thread (or process) name and its utime + stime, in ticks, from a
    * `/proc/.../stat` file. */
  def stat(p: Path): (String, Long) = {
    val s = new String(Files.readAllBytes(p))
    val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
    (s.substring(s.indexOf('(') + 1, s.lastIndexOf(')')), f(11).toLong + f(12).toLong)
  }
  def now(): Used = scala.util.Try {
    val total = stat(Paths.get("/proc/self/stat"))._2
    val tasks = Files.list(Paths.get("/proc/self/task"))
    val jit = try tasks.toArray.toSeq.flatMap { t =>
      scala.util.Try(stat(t.asInstanceOf[Path].resolve("stat"))).toOption
    }.collect { case (c, n) if c.contains("CompilerThre") => n }.sum
    finally tasks.close()
    Used(total * tickNs, jit * tickNs)
  }.getOrElse(Used(0L, 0L))
}

/** Wall-clock milliseconds of a `System.nanoTime` reading, so call spans
  * line up with the epoch timestamps of listener events. */
object Clock {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def epochMs(ns: Long): Double = (ns + offsetNs) / 1e6
}

/** A span: one interval at a layer boundary. `parent` is -1 for a root. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int, opId: Int)

/** The single client thread's call log plus the span tree. Spans are kept
  * in memory and written out once, at the end of a traced run. */
final class Recorder(val traced: Boolean) {
  val calls = ArrayBuffer.empty[Call]
  val spans = ArrayBuffer.empty[Span]
  val units = ArrayBuffer.empty[UnitRun]
  var attempted = 0L
  var failed = 0L
  private var unitIx = -1
  private var unitSpan = -1
  private var tracingUnit = false
  val errors = ArrayBuffer.empty[String]

  /** Time one unit of work (a drain or a gate pass). */
  def unit[A](name: String, traceIt: Boolean)(body: => A): A = {
    unitIx += 1
    tracingUnit = traced && traceIt
    unitSpan = if (tracingUnit) spans.size else -1
    val c0 = Cpu.now()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      units += UnitRun(unitIx, t0, t1, tracingUnit, Cpu.now() - c0)
      if (tracingUnit) spans += Span(unitSpan, name, t0, t1, -1, unitIx)
    }
  }

  /** Time one call; a thrown exception counts as a failed call. */
  def call[A](op: String, kind: String)(body: => A)(rows: A => Long): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    val r = try Some(body) catch {
      case NonFatal(e) =>
        failed += 1
        if (errors.size < 20) errors += s"$op: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
    val t1 = System.nanoTime()
    calls += Call(op, kind, unitIx, t0, t1, r.isDefined, r.map(rows).getOrElse(0L))
    if (tracingUnit) spans += Span(spans.size, op, t0, t1, unitSpan, calls.size - 1)
    r
  }

  def plainUnits: Seq[UnitRun] = units.filterNot(_.traced).toSeq
  def tracedUnits: Seq[UnitRun] = units.filter(_.traced).toSeq
  def callsIn(us: Seq[UnitRun]): Seq[Call] = {
    val ix = us.map(_.ix).toSet
    calls.filter(c => ix.contains(c.unit)).toSeq
  }
}

/** Spark-side counters, collected by listeners the benchmark attaches for
  * traced units only. Events are attributed to a traced unit by time. */
final class SparkTrace(spark: SparkSession) {
  final case class Job(startMs: Long, endMs: Long, stages: Int)
  /** One query execution; `atMs` is when its physical planning ended. */
  final case class Exec(atMs: Long, planningMs: Double, files: Long,
                        scanRows: Long)
  val jobs = ArrayBuffer.empty[Job]
  private val jobStart = scala.collection.mutable.Map.empty[Int, (Long, Int)]
  val execs = ArrayBuffer.empty[Exec]
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var stagesDone = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = (e.time, e.stageInfos.size)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, n) => jobs += Job(t0, e.time, n) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stagesDone += 1
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        taskRunMs += m.executorRunTime
        taskCpuNs += m.executorCpuTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  private object scans extends AdaptiveSparkPlanHelper {
    def of(p: SparkPlan): Seq[FileSourceScanExec] =
      collectWithSubqueries(p) { case s: FileSourceScanExec => s }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val planning = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs.toDouble).sum
      val ss = scala.util.Try(scans.of(qe.executedPlan)).getOrElse(Nil)
      def metric(s: FileSourceScanExec, k: String): Long =
        s.metrics.get(k).map(_.value).getOrElse(0L)
      val files = ss.map(metric(_, "numFiles")).sum
      val rows = ss.map(metric(_, "numOutputRows")).sum
      // the bus delivers this after the fact: date it by its own tracker
      val at = phases.get("planning").map(_.endTimeMs).getOrElse(System.currentTimeMillis())
      SparkTrace.this.synchronized { execs += Exec(at, planning, files, rows) }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private var attached = false
  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }
  /** Detach, after the bus has delivered everything already posted. */
  def detach(): Unit = if (attached) {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }
}

/** Ambient co-tenant cores: system-wide busy ticks from /proc/stat minus
  * this JVM's own ticks from /proc/self/stat, over a window, in cores
  * (the method `graft.Bench` uses for its load fence). */
object Ambient {
  private def read(p: String): String = new String(Files.readAllBytes(Paths.get(p)))
  def ticks(): (Long, Long) = scala.util.Try {
    val f = read("/proc/stat").linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    val busy = f.take(8).sum - f(3) - f(4) // minus idle + iowait
    (busy, Cpu.stat(Paths.get("/proc/self/stat"))._2)
  }.getOrElse((-1L, -1L))
  def cores(t0: (Long, Long), t1: (Long, Long), dtSec: Double): Double =
    if (t0._1 < 0 || t1._1 < 0 || dtSec <= 0) -1.0
    else math.max(0.0, ((t1._1 - t0._1) - (t1._2 - t0._2)) / 100.0 / dtSec)
  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = scala.util.Try {
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).get
  }.getOrElse(-1.0)
}

/** The engine's deterministic ids are a prefix plus the md5 of a natural
  * key (`Stages.keyId`); the models recompute them. */
object Keys {
  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}

/** Store-layer probe of one catalog root, taken between units. */
object StoreProbe {
  final case class At(bytes: Long, files: Long, commit: Long)
  def at(cat: graft.store.Catalog): At = {
    val (b, f) = Disk.usage(Paths.get(cat.root))
    At(b, f, cat.currentCommitId())
  }
  /** Commits, catalog growth and write amplification between two probes. */
  def layers(before: At, after: At, cat: graft.store.Catalog, rowsChanged: Long): Map[String, Double] = {
    val live = cat.manifest().keys.toSeq.flatMap(t => cat.currentDirs(t).values)
      .map(d => Disk.usage(Paths.get(d))._1).sum
    val written = (after.bytes - before.bytes).toDouble
    Map("store.commits" -> (after.commit - before.commit).toDouble,
      "store.bytes_written_mb" -> written / 1048576.0,
      "store.files_written" -> (after.files - before.files).toDouble,
      "store.write_amp" -> written / math.max(1L, live),
      "store.bytes_per_row_changed" -> written / math.max(1L, rowsChanged))
  }
  /** Per-key median over the probed units. */
  def median(ms: Seq[Map[String, Double]]): Seq[(String, Double)] =
    ms.headOption.toSeq.flatMap(_.keys).map(k => k -> Stats.median(ms.map(_(k))))
}

/** Bytes and files under a directory tree. */
object Disk {
  def usage(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val st = Files.walk(root)
      try {
        var bytes = 0L; var files = 0L
        st.filter(Files.isRegularFile(_)).forEach { p => bytes += Files.size(p); files += 1 }
        (bytes, files)
      } finally st.close()
    }
  def delete(root: Path): Unit = if (Files.exists(root)) {
    val st = Files.walk(root)
    try st.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p))
    finally st.close()
  }
}
