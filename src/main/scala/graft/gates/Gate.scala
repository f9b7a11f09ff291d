package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver gate: the Spark query `run(spark, sfDir)` and the DuckDB
  * `oracle` SQL over the same parquet tables whose result it must
  * hash-match. The oracle is a required argument, so a gate cannot be
  * written without one. */
final case class Gate(name: String,
                      run: (SparkSession, String) => DataFrame,
                      oracle: String)

object Gate {

  /** Name → gate. Throws on a duplicated name, which a `Map` literal would
    * resolve silently by dropping one gate and its oracle. */
  def index(gates: Seq[Gate]): Map[String, Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty, s"duplicate gate names: ${dups.toSeq.sorted.mkString(", ")}")
    gates.map(g => g.name -> g).toMap
  }
}
