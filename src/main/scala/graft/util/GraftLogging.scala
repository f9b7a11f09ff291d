package graft

/** One place for the known-spurious Spark logger noise the engine's
  * sessions silence (every session is built by [[GraftSession.local]]).
  *
  * `org.apache.spark.sql.execution.LogicalRDD` warns "The output columns
  * are expected to the same (for name and type) for output …" on every
  * `localCheckpoint` whose origin plan prints its output in a different
  * Seq container (ArraySeq vs List) — a Spark-internal rewrite-assoc
  * miss that only costs the stats/constraints carry-over, never
  * correctness. It is not fixable from user code (the comparison happens
  * inside `LogicalRDD.rewriteStatsAndConstraints`), so the logger is
  * pinned to ERROR to keep green logs WARN-free.
  */
object GraftLogging {
  /** Called by [[GraftSession.local]] once the context is up. The
    * NativeCodeLoader pin only helps where a log4j2 config on the
    * classpath keeps Spark from resetting levels at context init (the
    * specs): its one startup WARN (no native hadoop lib; builtin-java
    * classes are fine) fires during that init. */
  def silenceKnownNoise(): Unit = {
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.LogicalRDD",
      org.apache.logging.log4j.Level.ERROR)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.hadoop.util.NativeCodeLoader",
      org.apache.logging.log4j.Level.ERROR)
    // "No Partition Defined for Window operation" — every PRODUCTION
    // window in this engine is partitioned or two-pass (plan-asserted:
    // Packing/Sampling use prefix sums, capPerGroup compiles to
    // WindowGroupLimit); the remaining unpartitioned windows are
    // DELIBERATE bounded heads (the ≤100-row RRF fusion over two
    // TakeOrderedAndProject(50) results) and tiny oracle twins in
    // specs. The WARN fires once per task — 243 lines in a green test
    // log — and the actual at-scale guard lives in the plan asserts,
    // not in this logger.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // Benign streaming notices on every gate-harness stream start/stop:
    // ResolveWriteToStream announces the temporary checkpoint location
    // and that spark.sql.adaptive is unsupported under streaming (both
    // inherent to the AvailableNow gate harness), MicroBatchExecution
    // logs lifecycle chatter on stop, FileStreamSink notes the absent
    // metadata directory when reading back plain parquet the harness
    // wrote through foreachBatch. None indicates a defect; all recur
    // per stream, so a green log was never WARN-free with them live.
    Seq(
      "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
      "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution",
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink"
    ).foreach(l =>
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        l, org.apache.logging.log4j.Level.ERROR))
  }

  /** Called by [[GraftSession.stop]] right before `spark.stop()`. State-store
    * maintenance threads race the RpcEnv teardown and log a multi-line
    * ERROR stack trace ("Could not unload state store provider …
    * RpcEnv already stopped") — a pure shutdown race with nothing left
    * to act on, whose interleaved trace cost r17 the driver's entire
    * 32-core bench parse. Only the teardown window is silenced; the
    * same logger stays live for the whole measured run. */
  def silenceShutdownRaces(): Unit =
    Seq(
      "org.apache.spark.sql.execution.streaming.state.StateStore",
      "org.apache.spark.sql.execution.streaming.state.StateStoreCoordinatorRef"
    ).foreach(l =>
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        l, org.apache.logging.log4j.Level.OFF))
}
