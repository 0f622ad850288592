package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Quality, Reconcile}
import graft.pipelines.{CustomerSalesReport, ProductPerformance, ReconcileQueries, SupplierPerformance}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is a pure `(SparkSession, sfDir) => DataFrame`
  * pipeline over the driver fixtures; [[oracleSql]] carries the DuckDB
  * equivalent the driver uses for differential correctness at sf0.01.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    SupplierPerformance(spark, "/root/testdata/sf0.001")

  /** Inline base map (marts, dup gate, Raptor reconcile surface) —
    * exposed separately so ContractSpec can prove the ++ union below
    * never shadows a name across ANY constituent, this one included. */
  val baseQueries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
    "supplier_performance" -> ((s, dir) => SupplierPerformance(s, dir)),
    "product_performance" -> ((s, dir) => ProductPerformance(s, dir)),
    "customer_sales_report" -> ((s, dir) => CustomerSalesReport(s, dir)),
    // Q1 duplicate gate — offending groups on a deliberately non-unique key
    "dup_check" -> ((s, dir) => Quality.duplicates(
      graft.model.Entities.read(s, dir, "lineitem"), Seq("l_orderkey"))),
    // Q2-Q7 Raptor reconciliation surface
    "reconcile_row_diff" -> ReconcileQueries.cell(Reconcile.rowDiff),
    "reconcile_col_mismatch" -> ReconcileQueries.cell(Reconcile.colMismatch),
    "reconcile_src_extra" -> ReconcileQueries.cell(Reconcile.srcExtra),
    "reconcile_tgt_extra" -> ReconcileQueries.cell(Reconcile.tgtExtra),
    "reconcile_summary" -> ReconcileQueries.cell(Reconcile.summary),
    "reconcile_col_summary" -> ReconcileQueries.cell(Reconcile.colSummary),
  )

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    baseQueries ++
    graft.pipelines.OperatorQueries.all.map { case (k, (q, _)) => k -> q } ++
    graft.pipelines.ExtensionQueries.queries ++
    graft.pipelines.ModelQueries.queries ++
    graft.pipelines.CurationQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "supplier_performance" -> SupplierPerformance.oracle,
    "product_performance" -> ProductPerformance.oracle,
    "customer_sales_report" -> CustomerSalesReport.oracle,
    "dup_check" ->
      "SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY 1",
    "reconcile_row_diff" -> ReconcileQueries.rowDiffOracle,
    "reconcile_col_mismatch" -> ReconcileQueries.colMismatchOracle,
    "reconcile_src_extra" -> ReconcileQueries.srcExtraOracle,
    "reconcile_tgt_extra" -> ReconcileQueries.tgtExtraOracle,
    "reconcile_summary" -> ReconcileQueries.summaryOracle,
    "reconcile_col_summary" -> ReconcileQueries.colSummaryOracle,
  ) ++ graft.pipelines.OperatorQueries.all.map { case (k, (_, o)) => k -> o } ++
    graft.pipelines.ExtensionQueries.oracles ++
    graft.pipelines.ModelQueries.oracles ++
    graft.pipelines.CurationQueries.oracles
}
