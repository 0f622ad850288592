package graft.io

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode}

/** Sink connectors — reference §2.1 S7, S8, S10.
  *
  * Scale posture: parquet writes inherit the frame's partitioning — callers
  * control file count via the upstream plan (repartition by the write key),
  * never via driver-side collects. `land` applies the reference's
  * raw-overwrite + legacy-append convention from one execution of a plan.
  */
object Sinks {

  /** S8 — parquet sink, overwrite mode, optional dated path layout
    * (reference `Raptor.py:104-109` writes `{bucket}/{yyyymmdd}/{name}`). */
  def parquet(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).parquet(path)

  /** S7 — JDBC sink with save mode (reference `dags/utils.py:90-105`). */
  def jdbc(df: DataFrame, url: String, table: String, mode: SaveMode,
           props: Map[String, String]): Unit = {
    val w = df.write.format("jdbc").option("url", url).option("dbtable", table)
    props.foldLeft(w) { case (b, (k, v)) => b.option(k, v) }.mode(mode).save()
  }

  /** S10 — DDL side-channel executed before a JDBC load (the reference
    * creates the `work` schema via psycopg2, `Raptor.py:41-57`). Runs an
    * arbitrary pre-statement on a plain java.sql connection. */
  def jdbcWithPreDdl(df: DataFrame, url: String, table: String, mode: SaveMode,
                     props: Map[String, String], preDdl: String): Unit = {
    val info = new java.util.Properties()
    props.foreach { case (k, v) => info.setProperty(k, v) }
    val conn = java.sql.DriverManager.getConnection(url, info)
    try { val st = conn.createStatement(); try st.execute(preDdl) finally st.close() }
    finally conn.close()
    jdbc(df, url, table, mode, props)
  }

  /** Bucketed parquet table: rows pre-hashed into `buckets` files per
    * partition by the bucket columns and sorted within. Two tables
    * bucketed the same way join WITHOUT a shuffle exchange (verified in
    * `BucketingSpec`) — the 100 TB answer to the fact⋈fact join, e.g.
    * lineitem⋈orders on the order key (`graft.model.Entities.sales`).
    * Requires the table catalog (`saveAsTable`); plain `save` cannot
    * carry bucket metadata. */
  def bucketed(df: DataFrame, table: String, buckets: Int,
               bucketCols: Seq[String],
               mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Hive-style partitioned parquet layout (`path/col=value/...`) — the
    * 100 TB landing pattern: downstream scans with a partition-column
    * predicate prune whole directories before reading a byte. */
  def partitionedParquet(df: DataFrame, path: String, partitionCols: Seq[String],
                         mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** JSONL (newline-delimited JSON) sink — the interchange format corpus
    * releases ship in. One JSON object per line; compression via the
    * standard `compression` option (e.g. "gzip") when the consumer
    * expects `.jsonl.gz`. */
  def jsonl(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite,
            compression: Option[String] = None): Unit = {
    val w = df.write.mode(mode)
    compression.fold(w)(c => w.option("compression", c)).json(path)
  }

  /** CSV sink — the interchange edge for spreadsheet/warehouse-import
    * consumers. Header on by default; compression and quoting via the
    * standard writer options. Completes the format matrix with
    * [[graft.io.Sources.csv]] on the read side. */
  def csv(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite,
          options: Map[String, String] = Map.empty): Unit = {
    val w = df.write.mode(mode).option("header", "true")
    options.foldLeft(w) { case (b, (k, v)) => b.option(k, v) }.csv(path)
  }

  /** ORC sink — Spark's other native columnar format; same lazy,
    * partitioning-inheriting posture as [[parquet]]. Useful when the
    * downstream warehouse is ORC-native (Hive/Trino deployments). */
  def orc(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).orc(path)

  /** The reference's snapshot-ledger convention (`ingestion_task.py:66-69`
    * and parallels): the current frame overwrites `raw`, and the same frame
    * appends to the `legacy` history — a hand-rolled SCD-0 daily ledger —
    * through [[land]], from one execution of the frame's plan. */
  def snapshot(df: DataFrame, rawPath: String, legacyPath: String): Unit =
    land(df, rawPath, legacyPath)

  /** Gate, snapshot and count `df` from one execution of its plan; returns
    * the rows landed. It writes `df` once, to a staging directory next to
    * `raw`, gates `primaryKey` (if any) over the staged files and counts
    * their parquet footers, appends them to `legacy`, then renames the stage
    * over `raw`. A failed gate or write leaves `raw` and `legacy` untouched. */
  def land(df: DataFrame, rawPath: String, legacyPath: String,
           primaryKey: Seq[String] = Nil): Long = {
    val raw = new Path(rawPath)
    val fs = raw.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val stage = new Path(raw.getParent, s".stage-${raw.getName}-${java.util.UUID.randomUUID}")
    try {
      df.write.parquet(stage.toString)
      val staged = df.sparkSession.read.schema(df.schema).parquet(stage.toString)
      if (primaryKey.nonEmpty) graft.ops.Quality.gate(staged, primaryKey)
      val rows = fs.listStatus(stage).filter(f => f.isFile && !f.getPath.getName.matches("[._].*"))
        .map { f =>
          val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, fs.getConf))
          try r.getRecordCount finally r.close()
        }.sum
      staged.write.mode(SaveMode.Append).parquet(legacyPath)
      fs.delete(raw, true)
      if (!fs.rename(stage, raw)) throw new java.io.IOException(s"cannot rename $stage to $raw")
      rows
    } finally fs.delete(stage, true)
  }
}
