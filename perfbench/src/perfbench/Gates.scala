package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.{DataFrame, Row}

/** corpus_gates: a fixed list of `SparkEntry.queries` gates over the
  * read-only corpus, each run to completion and collected, in an order the
  * seed sets, after one untimed warm-up pass. The operator kernels and the
  * streaming lifecycle do almost all the work here; the pipeline store
  * almost none.
  *
  * The warm-up pass is a single cold sample, so it counts toward neither
  * end-to-end metric: `setup_s` is session start plus the median table
  * load, and `cpu_s` the median of [[TimedPasses]] warm passes. The
  * warm-up's time is the per-layer metric `gates.warmup_s`.
  *
  * Output check, outside the timer: each gate's collected rows reduce to an
  * order-independent fingerprint that must equal the one recorded in
  * `expected_gates.json` (whose rows were checked against
  * `SparkEntry.oracleSql` in DuckDB when it was recorded). */
object Gates {
  val gates: Seq[(String, String)] = Seq(
    "q1_agg" -> "relational", "q_include_count" -> "relational",
    "q_html_extract" -> "text", "q_scrub_pii" -> "text",
    "q_dedup_minhash" -> "dedup", "q_bm25_topk" -> "retrieval",
    "q_pagerank" -> "graph", "q_warc_extract" -> "media",
    "q_stream_window" -> "streaming")
  val families: Seq[String] = gates.map(_._2).distinct
  val SetupEpisodes = 3
  val TimedPasses = 2

  /** Canonical text of one cell: stable across runs and partitionings. */
  private def render(v: Any): String = v match {
    case null => "∅"
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case x => x.toString
  }

  /** Order-independent fingerprint: row count plus the wrapping sum of a
    * 64-bit digest of each row's canonical text (columns sorted by name). */
  def fingerprint(columns: Seq[String], rows: Seq[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val d = md.digest(order.map(i => render(r.get(i))).mkString("\u0001").getBytes(UTF_8))
      sum += java.nio.ByteBuffer.wrap(d).getLong
    }
    f"${rows.size}:$sum%016x"
  }

  /** `{"gate": "fingerprint", ...}` as written by the record mode. */
  def readExpected(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else """"(q[^"]+)"\s*:\s*"([^"]+)"""".r
      .findAllMatchIn(new String(Files.readAllBytes(p), UTF_8))
      .map(m => m.group(1) -> m.group(2)).toMap

  def run(ctx: Ctx, expectPath: Path, recordDir: Option[Path]): Outcome = {
    val spark = ctx.spark
    val dir = ctx.data.toString
    require(Files.exists(ctx.data.resolve("documents.parquet")), s"no corpus at $dir")
    val episodes = (0 until SetupEpisodes).map { _ =>
      val s0 = System.nanoTime()
      Tables.names.foreach(t => Tables.load(spark, dir, t).count())
      (System.nanoTime() - s0) / 1e9
    }
    // a scale below 1 (the self-test) runs a prefix of the gate list
    val active = gates.map(_._1).take(math.max(3, math.ceil(gates.size * math.min(1.0, ctx.scale)).toInt))
    val r = new java.util.Random(ctx.seed)
    val order = r.ints(0, Int.MaxValue).limit(active.size).toArray.toSeq
      .zip(active).sortBy(_._1).map(_._2)

    // ---- passes: each gate's rows are collected inside the timer and
    // checked outside it, against the recorded fingerprint ----
    val expected = readExpected(expectPath)
    val failures = mutable.ArrayBuffer.empty[String]
    val prints = mutable.LinkedHashMap.empty[String, String]
    type Result = (String, (Seq[String], Seq[Row], DataFrame))
    def pass(gs: Seq[String], call: String => Option[(Seq[String], Seq[Row], DataFrame)]): Seq[Result] =
      gs.flatMap { g =>
        val r = call(g)
        spark.catalog.clearCache()
        r.map(g -> _)
      }
    def check(gs: Seq[String], results: Seq[Result]): Unit = {
      gs.filterNot(g => results.exists(_._1 == g)).foreach(g => failures += s"$g produced no rows")
      results.foreach { case (g, (cols, rows0, df)) =>
        val rows = if (ctx.perturb && g == gs.head) rows0.drop(1) else rows0
        val fp = fingerprint(cols, rows)
        prints(g) = fp
        recordDir.foreach(d => df.coalesce(1).write.mode("overwrite").parquet(d.resolve(g).toString))
        if (recordDir.isEmpty && !expected.get(g).contains(fp))
          failures += s"$g fingerprint $fp, expected ${expected.getOrElse(g, "none recorded")}"
      }
    }
    def run(g: String) = {
      val df = SparkEntry.queries(g)(spark, dir)
      (df.columns.toSeq, df.collect().toSeq, df)
    }
    // warm-up pass, untimed and in list order: class loading, code
    // generation and JIT happen here, so the timed pass does not depend on
    // which gate the seed puts first
    val w0 = System.nanoTime()
    check(active, pass(active, g => scala.util.Try(run(g)).toOption))
    val warmS = (System.nanoTime() - w0) / 1e9
    var timed = Seq.empty[Result]
    ctx.loop("pass", minUnits = TimedPasses)(_ => ()) { _ =>
      timed = pass(order, g => ctx.rec.call(g, "read")(run(g))(_._2.size.toLong))
    } { _ => check(order, timed) }
    recordDir.foreach { d =>
      Files.write(d.resolve("fingerprints.json"),
        Json.obj(prints.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }).getBytes(UTF_8))
      Files.write(d.resolve("oracle_sql.json"), Json.obj(gates.map(_._1).flatMap(g =>
        SparkEntry.oracleSql.get(g).map(sql => g -> Json.str(sql)))).getBytes(UTF_8))
    }

    val plain = ctx.rec.plainUnits
    val traced = ctx.rec.tracedUnits
    def med(g: String, units: Seq[UnitRun]): Double = {
      val xs = ctx.rec.callsIn(units).filter(_.op == g).map(_.ms / 1000.0)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val gateMed = gates.map { case (g, _) => g -> med(g, plain) }.toMap
    // jobs per gate: listener job starts inside the gate's traced calls
    def jobsIn(g: String): Double = {
      val cs = ctx.rec.callsIn(traced).filter(_.op == g)
      if (cs.isEmpty) 0.0
      else cs.map { c =>
        val (a, b) = (Clock.epochMs(c.startNs), Clock.epochMs(c.endNs))
        ctx.sparkTrace.jobs.count(j => j.startMs >= a - 1 && j.startMs <= b)
      }.sum.toDouble / cs.size
    }
    val layers =
      gates.flatMap { case (g, _) => Seq(s"gate.${g}_s" -> med(g, traced), s"gate.${g}_jobs" -> jobsIn(g)) } ++
      families.map(f => s"family.${f}_s" -> gates.filter(_._2 == f).map(x => med(x._1, traced)).sum) :+
      ("gates.geomean_s" -> Stats.geomean(gateMed.values.filter(_ > 0).toSeq)) :+
      ("gates.warmup_s" -> warmS)
    Outcome(0.0, episodes, failures.toSeq,
      details = Seq(
        ("gates_s", Stats.median(plain.map(_.s)), "s"),
        ("gates_geomean_s", Stats.geomean(gateMed.values.filter(_ > 0).toSeq), "s"),
        ("failed_ratio", ctx.rec.failed.toDouble / math.max(1L, ctx.rec.attempted), "ratio"),
        ("warmup_s", warmS, "s"),
        ("gates", gates.size.toDouble, "count"), ("passes", plain.size.toDouble, "count")),
      layers = layers)
  }
}
