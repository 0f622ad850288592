package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame

import graft.SparkEntry
import graft.io.Sinks
import graft.model.Entities
import graft.ops.{Quality, Reconcile}
import graft.pipelines.{CustomerSalesReport, Dag, Ingestion, ProductPerformance, SupplierPerformance}

/** Helpers shared by the workloads. */
object Work {
  /** Bytes and part files under `dir` (data files only: no `_SUCCESS`, no
    * checksums). */
  def written(dir: File): (Long, Long) =
    if (dir.isDirectory)
      Option(dir.listFiles()).getOrElse(Array.empty).map(written)
        .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
    else if (dir.getName.startsWith("_") || dir.getName.startsWith(".")) (0L, 0L)
    else (dir.length, 1L)

  def sinkMetrics(out: String, inputBytes: Long): Map[String, Double] = {
    val (bytes, files) = written(new File(out))
    Map("sinks.bytes_written_mb" -> bytes / (1024.0 * 1024.0),
      "sinks.files_written" -> files.toDouble,
      "sinks.bytes_written_per_input_byte" -> bytes.toDouble / inputBytes)
  }

  def inputBytes(ctx: Ctx, tables: Seq[String]): Long =
    tables.map(t => written(new File(s"${ctx.dataDir}/$t.parquet"))._1).sum

  def sum(spans: Seq[Span], name: String): Double =
    spans.filter(_.name == name).map(_.seconds).sum

  /** Drop the output of the operation before `i`; the latest stays for
    * the checks that run after the timed region. */
  def dropPrevious(ctx: Ctx, prefix: String, i: Int): Unit =
    if (i > 0) Main.rmTree(new File(s"${ctx.workDir}/out/$prefix-${i - 1}"))

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** The platform's daily batch in one operation: the production DAG
  * (`[suppliers, products, customers] >> sales >> marts`, every stage gated
  * and landed twice, raw overwrite plus legacy append), then the Raptor
  * reconciliation of lineitem against a seeded, perturbed re-delivery on
  * the unique composite key (all six artifacts, four of them persisted).
  * Every operation writes into a fresh output directory. */
final class EtlDaily extends Workload {
  val Tables = Seq("supplier", "part", "customer", "orders", "lineitem", "lineitem_target")
  val Tasks = Seq("suppliers", "products", "customers", "sales",
    "supplier_performance", "product_performance", "customer_sales_report")
  val Keys = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")

  def setup(ctx: Ctx): Map[String, Double] = {
    Tables.foreach(t => Entities.read(ctx.spark, ctx.dataDir, t).count())
    Map.empty
  }

  def out(ctx: Ctx, i: Int) = s"${ctx.workDir}/out/etl-$i"

  def op(ctx: Ctx, i: Int, traced: Boolean): OpResult = {
    val t0 = System.nanoTime()
    val tasks = dag(ctx, i, traced)
    val t1 = System.nanoTime()
    val rec = reconcile(ctx, i, traced)
    val t2 = System.nanoTime()
    OpResult(tasks.size + 7, rec ++ Map("tasks" -> tasks, "out" -> out(ctx, i),
      "dag_s" -> (t1 - t0) / 1e9, "reconcile_s" -> (t2 - t1) / 1e9))
  }

  def dag(ctx: Ctx, i: Int, traced: Boolean): Seq[Map[String, Any]] = {
    val dir = s"${out(ctx, i)}/dag"
    val outcomes =
      if (!traced) Dag.runAllWithRetries(ctx.spark, ctx.dataDir, dir)
      else Dag.runTaskGroups(tracedStages(ctx, dir))
    outcomes.map {
      case Dag.TaskSucceeded(n, r, attempts) =>
        if (attempts != 1) ctx.fail(s"op $i task $n succeeded only on attempt $attempts")
        Map("task" -> n, "status" -> "ok", "attempts" -> attempts, "rows" -> r.rows)
      case Dag.TaskFailed(n, attempts, cause) =>
        ctx.fail(s"op $i task $n failed after $attempts attempt(s): ${cause.getMessage}")
        Map("task" -> n, "status" -> "failed", "attempts" -> attempts, "rows" -> -1L)
      case Dag.TaskSkipped(n, up) =>
        ctx.fail(s"op $i task $n skipped after $up failed")
        Map("task" -> n, "status" -> "skipped", "attempts" -> 0, "rows" -> -1L)
    }
  }

  /** The DAG's stage groups rebuilt from the same public calls `Dag` makes,
    * with a span around each task, gate, sink and count. */
  def tracedStages(ctx: Ctx, out: String): Seq[Seq[(String, () => Dag.StageResult)]] = {
    val (s, dir) = (ctx.spark, ctx.dataDir)
    def load(name: String, df: => DataFrame,
             pk: Option[Seq[String]]): (String, () => Dag.StageResult) =
      name -> { () =>
        ctx.span(s"dag.task.$name") {
          val gated = pk.fold(df)(k => ctx.span("quality.gate")(Quality.gate(df, k)))
          ctx.span("sinks.write")(
            Sinks.snapshot(gated, s"$out/raw/$name", s"$out/legacy/$name"))
          Dag.StageResult(name, ctx.span("dag.count")(gated.count()), s"$out/raw/$name")
        }
      }
    Seq(
      Seq(
        load("suppliers", Ingestion.suppliersSnapshot(s, dir), Some(Seq("SUPPLIER_ID"))),
        load("products", Entities.products(s, dir), Some(Seq("PRODUCT_ID"))),
        load("customers", Entities.customers(s, dir), Some(Seq("CUSTOMER_ID")))),
      Seq(load("sales", Entities.sales(s, dir), None)),
      Seq(load("supplier_performance", SupplierPerformance(s, dir),
        Some(Seq("SUPPLIER_ID", "DAY_DT")))),
      Seq(load("product_performance", ProductPerformance(s, dir),
        Some(Seq("PRODUCT_ID", "DAY_DT")))),
      Seq(load("customer_sales_report", CustomerSalesReport(s, dir), None)))
  }

  def reconcile(ctx: Ctx, i: Int, traced: Boolean): Map[String, Any] = {
    val dir = s"${out(ctx, i)}/reconcile"
    val src = Entities.read(ctx.spark, ctx.dataDir, "lineitem")
    val tgt = Entities.read(ctx.spark, ctx.dataDir, "lineitem_target")
    val r = Reconcile.diff(src, tgt, Keys)
    // the traced variant materialises the two cached sides on their own,
    // so their cost is a span instead of being folded into the first artifact
    if (traced) ctx.span("reconcile.side_cache") { src.count(); tgt.count() }
    val summary = ctx.span("reconcile.summary")(r.summary.collect())
    val colSummary = ctx.span("reconcile.col_summary")(r.colSummary.collect())
    ctx.span("reconcile.row_diff")(Work.noop(r.rowDiff))
    val stamp = s"run$i"
    if (!traced) Reconcile.persist(r, "lineitem", stamp, dir)
    else ctx.span("reconcile.persist") {
      // Reconcile.persist's four tables, one span each
      Seq(("col_mismatch", s"col_lineitem_$stamp", r.colMismatch),
        ("col_summary", s"col_lvl_lineitem_$stamp", r.colSummary),
        ("src_extra", s"src_lineitem_$stamp", r.srcExtra),
        ("tgt_extra", s"tgt_lineitem_$stamp", r.tgtExtra)).foreach { case (span, table, df) =>
        ctx.span(s"reconcile.persist.$span")(Sinks.parquet(df, s"$dir/$table"))
      }
    }
    Map(
      "summary" -> summary.map(row => row.getString(0) -> row.getString(1)).toMap,
      "col_summary" -> colSummary.map(row =>
        row.getAs[String]("mismatch_column_name") ->
          row.getAs[Long]("Mismatch_Record_Count_Column_Level")).toMap,
      "reconcile_out" -> dir, "stamp" -> stamp)
  }

  override def afterOp(ctx: Ctx, i: Int, r: OpResult): Map[String, Double] = {
    Work.dropPrevious(ctx, "etl", i)
    Work.sinkMetrics(out(ctx, i), Work.inputBytes(ctx, Tables)) ++
      Seq("dag_s", "reconcile_s").flatMap(k =>
        r.detail.get(k).map(v => s"etl.$k" -> v.asInstanceOf[Double]))
  }

  def layerMetrics(ctx: Ctx, spans: Seq[Span], c: OpCounters): Map[String, Double] = {
    val task = spans.filter(_.name.startsWith("dag.task."))
    val ingest = task.filter(s => Set("dag.task.suppliers", "dag.task.products",
      "dag.task.customers").contains(s.name))
    val ingestWall =
      if (ingest.isEmpty) 0.0 else (ingest.map(_.endNs).max - ingest.map(_.startNs).min) / 1e9
    Tasks.map(t => s"dag.task.${t}_s" -> Work.sum(spans, s"dag.task.$t")).toMap ++ Map(
      "dag.attempts_per_task" -> task.size.toDouble / Tasks.size,
      "dag.ingest_overlap" -> (if (ingestWall > 0) ingest.map(_.seconds).sum / ingestWall else 0.0),
      "quality.gate_s" -> Work.sum(spans, "quality.gate"),
      "sinks.write_s" -> (Work.sum(spans, "sinks.write") + Work.sum(spans, "reconcile.persist")),
      "reconcile.side_cache_s" -> Work.sum(spans, "reconcile.side_cache"),
      "reconcile.summary_s" -> Work.sum(spans, "reconcile.summary"),
      "reconcile.col_summary_s" -> Work.sum(spans, "reconcile.col_summary"),
      "reconcile.row_diff_s" -> Work.sum(spans, "reconcile.row_diff"),
      "reconcile.col_mismatch_s" -> Work.sum(spans, "reconcile.persist.col_mismatch"),
      "reconcile.src_extra_s" -> Work.sum(spans, "reconcile.persist.src_extra"),
      "reconcile.tgt_extra_s" -> Work.sum(spans, "reconcile.persist.tgt_extra"),
      "reconcile.persist_s" -> Work.sum(spans, "reconcile.persist"))
  }

  override def finish(ctx: Ctx): Map[String, Any] =
    Map("oracles" -> Seq("supplier_performance", "product_performance",
      "customer_sales_report").map(n => n -> SparkEntry.oracleSql(n)).toMap)
}

/** A closed loop with one client over read-only curation cells, one or
  * two per operator module, in a seed-permuted order, each to a noop sink.
  * IndexStore indexes are built during set-up. The cold pass collects each
  * cell's rows instead, and lands them after the pass for the oracle check. */
final class QueryMix extends Workload {
  val Modules: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("q_dedup_minhash_lsh"),
    "text" -> Seq("q_text_lm_foreign"),
    "retrieval" -> Seq("q_select_dsir", "q_select_dsir_topn_indexed"),
    "classifier" -> Seq("q_nb_calibration"),
    "curation" -> Seq("q_corpus_pipeline"),
    "timeseries" -> Seq("q_events_cooccurrence"))
  /** Cells that read IndexStore indexes; running them once builds every index. */
  val IndexedCells = Seq("q_select_dsir_topn_indexed")
  val Tables = Seq("documents", "embeddings", "events")

  private var order: Seq[String] = Nil
  private val collected = scala.collection.mutable.Map.empty[String, DataFrame]

  def cell(ctx: Ctx, c: String): DataFrame = SparkEntry.queries(c)(ctx.spark, ctx.dataDir)

  def setup(ctx: Ctx): Map[String, Double] = {
    if (order.isEmpty)
      order = new scala.util.Random(ctx.seed).shuffle(Modules.flatMap(_._2))
    // every set-up round starts from an empty index store
    Option(new File(sys.env("GRAFT_INDEX_STORE")).listFiles())
      .getOrElse(Array.empty).foreach(Main.rmTree)
    Tables.foreach(t => Entities.read(ctx.spark, ctx.dataDir, t).count())
    val t0 = System.nanoTime()
    IndexedCells.foreach(c => Work.noop(cell(ctx, c)))
    Map("indexstore.build_s" -> (System.nanoTime() - t0) / 1e9)
  }

  def op(ctx: Ctx, i: Int, traced: Boolean): OpResult = {
    val times = order.map { c =>
      val t0 = System.nanoTime()
      try ctx.span(s"mix.cell.$c") {
        val df = cell(ctx, c)
        if (i == 0) collected(c) = ctx.spark.createDataFrame(
          java.util.Arrays.asList(df.collect(): _*), df.schema)
        else Work.noop(df)
      }
      catch { case e: Throwable => ctx.fail(s"op $i cell $c: ${e.getMessage}") }
      c -> (System.nanoTime() - t0) / 1e9
    }
    OpResult(order.size, Map("cells" -> times.toMap))
  }

  override def afterOp(ctx: Ctx, i: Int, r: OpResult): Map[String, Double] = {
    collected.foreach { case (c, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"${ctx.workDir}/out/mix-check/$c")
    }
    collected.clear()
    val cells = r.detail.get("cells").map(_.asInstanceOf[Map[String, Double]]).getOrElse(Map.empty)
    if (cells.isEmpty) Map.empty
    else Map("mix.query_geomean_s" ->
      math.exp(cells.values.map(math.log).sum / cells.size))
  }

  def layerMetrics(ctx: Ctx, spans: Seq[Span], c: OpCounters): Map[String, Double] =
    Modules.map { case (m, cells) =>
      s"mix.${m}_s" -> cells.map(x => Work.sum(spans, s"mix.cell.$x")).sum
    }.toMap ++ Map(
      "mix.jobs_per_query" -> c.jobs.toDouble / order.size,
      "indexstore.indexed_cells_s" -> IndexedCells.map(x => Work.sum(spans, s"mix.cell.$x")).sum)

  override def finish(ctx: Ctx): Map[String, Any] =
    Map("out" -> s"${ctx.workDir}/out/mix-check",
      "oracles" -> order.map(c => c -> SparkEntry.oracleSql(c)).toMap)
}
