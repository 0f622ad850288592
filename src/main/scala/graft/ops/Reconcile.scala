package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Raptor-semantics data reconciliation — re-expression of the reference's
  * comparison engine (reference: `Raptor/Raptor.py:536-655` inside the
  * shipped wheel) as one composable operator.
  *
  * Semantics preserved from the reference:
  *   - Record canonicalization erases types: every column cast to string,
  *     nulls to '' (null and "" indistinguishable *by design*,
  *     `Raptor.py:552-558`), concat_ws over a SOH (U+0001) separator into one
  *     Source_Record/Target_Record (`:560-569`).
  *   - Row diff = inner join on the key list where records differ (`:571-579`).
  *   - Column diff = positional zip of the split records, exploded, filtered
  *     to differing positions, position mapped back to a column name
  *     (`:581-606`). Expressed natively as arrays_zip + posexplode +
  *     element_at instead of the reference's expr() string.
  *   - Extra rows = outer join + null-side filter both directions (`:619-645`).
  *
  * Better physics than the reference, same results (SURVEY.md §4
  * anti-pattern 4): ONE full-outer join of the erased sides yields per row
  * the keys, a state (equal, mismatch, source-only, target-only) and record
  * strings; all six artifacts filter or aggregate it, and [[diff]] persists
  * it instead of both sides — one shuffle by key instead of six joins.
  *
  * Assumes keys are unique per side (the reference's dup gate runs
  * upstream); with duplicate keys the joins would fan out in both
  * engines identically, but summary counts lose their plain-English meaning.
  */
object Reconcile {

  /** The reference's record separator (`Raptor.py:561`). */
  val Sep = "\u0001"

  /** Cast every column to string, null→'', and append a concatenated
    * record column — the reference's canonicalization (`Raptor.py:550-569`). */
  def canonicalize(df: DataFrame, keys: Seq[String], recordCol: String): DataFrame =
    erased(df).select(keys.map(col) :+
      concat_ws(Sep, df.columns.toSeq.map(col): _*).as(recordCol): _*)

  /** Compare frames [[diff]] persisted, bounded per session (oldest
    * unpersisted on overflow — worst case a recompute). */
  private val cacheWindow = new CacheWindows(2)

  /** Drop every compare frame this module still has persisted. */
  def releaseCaches(): Unit = cacheWindow.releaseAll()

  // row states of the compare frame, in its `__state` column
  private val State = "__state"
  private final val Equal = 0; private final val Mismatch = 1
  private final val SrcOnly = 2; private final val TgtOnly = 3

  /** Type-erased frame: every column cast to string, null→''. */
  private def erased(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).cast("string").as(c)): _*).na.fill("")

  /** The one full-outer join every artifact reads: keys..., `__state`,
    * Source_Record, Target_Record. Record equality over the SOH concat is
    * column-wise equality of the erased tuples (as long as data carries no
    * SOH — the reference's own assumption), so the state compares columns
    * and record strings are built ONLY for rows that are not equal. */
  private def compare(source: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame = {
    val cols = source.columns.toSeq
    val s = erased(source)
    val t = erased(target).select(target.columns.map(c => col(c).as(s"__t_$c")).toSeq: _*)
    def tc(c: String) = t(s"__t_$c")
    // erased keys are never null, so a null key marks the absent side of the join
    val state = when(tc(keys.head).isNull, SrcOnly).when(s(keys.head).isNull, TgtOnly)
      .when(cols.map(c => s(c) =!= tc(c)).reduce(_ || _), Mismatch).otherwise(Equal)
    val st = col(State)
    s.join(t, keys.map(k => s(k) === tc(k)).reduce(_ && _), "full_outer")
      .withColumn(State, state)
      .select(keys.map(k => coalesce(s(k), tc(k)).as(k)) :+ st :+
        when(st.isin(Mismatch, SrcOnly), concat_ws(Sep, cols.map(s(_)): _*))
          .as("Source_Record") :+
        // in source column order for a mismatch row, its own for a target-only one
        when(st === Mismatch, concat_ws(Sep, cols.map(tc): _*))
          .when(st === TgtOnly, concat_ws(Sep, target.columns.toSeq.map(tc): _*))
          .as("Target_Record"): _*)
  }

  /** Rows of one state: keys..., then `records`. */
  private def rowsOf(c: DataFrame, keys: Seq[String], state: Int, records: String*): DataFrame =
    c.where(col(State) === state).select(keys.map(col) ++ records.map(col): _*)

  private def colMismatchOf(c: DataFrame, keys: Seq[String], colNames: Seq[String]): DataFrame =
    rowsOf(c, keys, Mismatch, "Source_Record", "Target_Record")
      .select((keys.map(col) :+
        split(col("Source_Record"), Sep).as("_2") :+
        split(col("Target_Record"), Sep).as("_3")): _*)
      .select((keys.map(col) :+ posexplode(arrays_zip(col("_2"), col("_3")))): _*)
      .withColumn("source_value", col("col._2"))
      .withColumn("target_value", col("col._3"))
      .filter(col("source_value") =!= col("target_value"))
      .select((keys.map(col) :+ col("source_value") :+ col("target_value") :+
        element_at(
          array(colNames.map(lit): _*), col("pos").cast("int") + 1
        ).as("mismatch_column_name")): _*)

  private def summaryOf(c: DataFrame): DataFrame = {
    val st = col(State)
    c.agg(
        count(when(st =!= TgtOnly, 1)).as("src_cnt"),
        count(when(st =!= SrcOnly, 1)).as("tgt_cnt"),
        count(when(st.isin(Equal, Mismatch), 1)).as("common_cnt"),
        count(when(st === Mismatch, 1)).as("mismatch_cnt"),
        count(when(st === SrcOnly, 1)).as("src_extra_cnt"),
        count(when(st === TgtOnly, 1)).as("tgt_extra_cnt"))
      .withColumn("pct",
        when(col("common_cnt") > 0,
          concat((col("mismatch_cnt") * lit(100.0) / col("common_cnt"))
            .cast("decimal(10,2)").cast("string"), lit("%")))
          .otherwise(lit(null).cast("string")))
      .selectExpr(
        """stack(7,
          |  'Number of rows in Source', cast(src_cnt as string),
          |  'Number of rows in Target', cast(tgt_cnt as string),
          |  'Number of rows in common', cast(common_cnt as string),
          |  'Number of rows mismatch', cast(mismatch_cnt as string),
          |  'Row Mismatch Percentage', pct,
          |  'Number of rows in Source but not in Target', cast(src_extra_cnt as string),
          |  'Number of rows in Target but not in Source', cast(tgt_extra_cnt as string)
          |) as (Description, Value)""".stripMargin)
  }

  private def colSummaryOf(c: DataFrame, keys: Seq[String], colNames: Seq[String]): DataFrame = {
    val compared = c.agg(count(when(col(State).isin(Equal, Mismatch), 1)).as("compared_cnt"))
    colMismatchOf(c, keys, colNames)
      .groupBy("mismatch_column_name")
      .agg(count(lit(1)).as("Mismatch_Record_Count_Column_Level"))
      .crossJoin(broadcast(compared))
      .withColumn("Percentage_Of_Mismatch",
        concat((col("Mismatch_Record_Count_Column_Level") * lit(100.0) /
          col("compared_cnt")).cast("decimal(10,2)").cast("string"), lit("%")))
      // worst-first by the NUMERIC ratio — sorting the formatted string
      // would be lexicographic ('9.09%' above '33.33%')
      .orderBy((col("Mismatch_Record_Count_Column_Level") /
          col("compared_cnt")).desc, col("mismatch_column_name"))
      .drop("compared_cnt")
  }

  /** Rows on both sides whose records differ: keys..., Source_Record, Target_Record. */
  def rowDiff(source: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame =
    rowsOf(compare(source, target, keys), keys, Mismatch, "Source_Record", "Target_Record")

  /** One row per differing cell: keys..., source_value, target_value, mismatch_column_name. */
  def colMismatch(source: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame =
    colMismatchOf(compare(source, target, keys), keys, source.columns.toSeq)

  /** Rows keyed only in source (`Raptor.py:619-631`): keys..., Source_Record. */
  def srcExtra(source: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame =
    rowsOf(compare(source, target, keys), keys, SrcOnly, "Source_Record")

  /** Rows keyed only in target (`Raptor.py:633-645`): keys..., Target_Record. */
  def tgtExtra(source: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame =
    rowsOf(compare(source, target, keys), keys, TgtOnly, "Target_Record")

  /** Reconciliation summary (Description, Value) — the reference's
    * `_raptor_result_summary` counts (`Raptor.py:271-437`) as plain counts
    * (thousands separators and labels are left to report renderers). */
  def summary(source: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame =
    summaryOf(compare(source, target, keys))

  /** The reference's `_raptor_column_summary` (`Raptor.py:441-474`):
    * per-column mismatch count and its percentage of compared rows,
    * worst-first; the compared-row count is a broadcast one-row aggregate
    * instead of the reference's eager `.count()`. */
  def colSummary(source: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame =
    colSummaryOf(compare(source, target, keys), keys, source.columns.toSeq)

  /** All diff artifacts of one reconciliation run, lazily (nothing
    * executes until a sink or action touches a member). */
  final case class DiffResult(rowDiff: DataFrame, colMismatch: DataFrame,
                              srcExtra: DataFrame, tgtExtra: DataFrame,
                              summary: DataFrame, colSummary: DataFrame)

  /** The composed operator — the Scala face of the reference's
    * `submit_raptor_request` compare stage (`Raptor.py:536-655`). The
    * compare frame is persisted once, in this module's cache window, and
    * all six artifacts read it (the reference caches both raw sides
    * instead, `Raptor.py:545-546`). The row-level tables [[persist]]
    * writes are sparse filters of that frame, so they carry a rebalance:
    * AQE sizes their files instead of every partition landing a small one. */
  def diff(source: DataFrame, target: DataFrame, keys: Seq[String]): DiffResult = {
    val c = cacheWindow.add(compare(source, target, keys))
    val cols = source.columns.toSeq
    DiffResult(
      rowsOf(c, keys, Mismatch, "Source_Record", "Target_Record"),
      colMismatchOf(c, keys, cols).hint("rebalance"),
      rowsOf(c, keys, SrcOnly, "Source_Record").hint("rebalance"),
      rowsOf(c, keys, TgtOnly, "Target_Record").hint("rebalance"),
      summaryOf(c), colSummaryOf(c, keys, cols))
  }

  /** Q8 — delta-table persistence under the reference's naming convention
    * `work.{col_,col_lvl_,src_,tgt_}{name}_{runstamp}` (`Raptor.py:
    * 608-645,464-472`), here as parquet paths under `baseDir` (the JDBC
    * variant is [[graft.io.Sinks.jdbc]] with the same table names). */
  def persist(result: DiffResult, name: String, runstamp: String,
              baseDir: String): Map[String, String] = {
    val artifacts = Map(
      s"col_${name}_$runstamp" -> result.colMismatch,
      s"col_lvl_${name}_$runstamp" -> result.colSummary,
      s"src_${name}_$runstamp" -> result.srcExtra,
      s"tgt_${name}_$runstamp" -> result.tgtExtra)
    artifacts.map { case (table, df) =>
      val path = s"$baseDir/$table"
      graft.io.Sinks.parquet(df, path)
      table -> path
    }
  }
}
