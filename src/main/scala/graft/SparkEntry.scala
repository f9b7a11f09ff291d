package graft

import graft.gates._
import graft.gates.Fixtures.pricingSummary
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract: [[entry]] plus the gate registry. Each gate is one
  * [[graft.gates.Gate]] — a Spark query and the DuckDB oracle SQL it must
  * hash-match — written in its family's file under `graft/gates/`.
  *
  * Conventions for oracle parity:
  *   - every query ends in a deterministic total ORDER BY (driver hash
  *     compare must not depend on partition order);
  *   - monetary/double aggregates go through DECIMAL(18,2) so sums are
  *     exact and order-independent in both engines, then surface as DOUBLE
  *     (decimal128 vs float64 representation would otherwise differ);
  *   - every computed column is aliased identically on both sides.
  */
object SparkEntry {

  /** Flagship query; the smoke check wants rows > 0.
    * TPC-H-Q1-shaped pricing summary — the reference's only standalone
    * analytics query is a filtered count (`src/runQueries.ts:45-49`); this
    * is its natural Spark generalization (filter → groupBy → agg).
    */
  def entry(spark: SparkSession): DataFrame =
    pricingSummary(spark, "/root/testdata/sf0.001")

  /** Every gate, family by family. */
  def all: Seq[Gate] =
    RelationalGates.all ++ StoreGates.all ++ StreamingGates.all ++
      RetrievalGates.all ++ DedupGates.all ++ TextGates.all ++
      CrawlGates.all ++ MediaGates.all ++ GraphMlGates.all

  private lazy val registry: Map[String, Gate] = Gate.index(all)

  /** Gate name → Spark query over an sf directory. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, g) => name -> g.run }

  /** Gate name → equivalent DuckDB SQL over the same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    registry.map { case (name, g) => name -> g.oracle }

  /** Test hook: live temp roots for a prefix (the no-orphan invariant). */
  private[graft] def liveTempDirs(prefix: String): Seq[java.nio.file.Path] =
    Fixtures.liveTempDirs(prefix)
}
