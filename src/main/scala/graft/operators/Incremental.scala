package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental (watermark-bounded) batch processing — the reference's core
  * orchestration semantic (`etl_job.py:99-120,159-198,489-513`; SURVEY §2.8):
  *
  *  - a per-symbol high watermark = max(timestamp) of the last processed
  *    batch, persisted in a small state table;
  *  - each run loads only rows with timestamp > watermark (pushed into the
  *    source scan), computes indicators, appends, advances the watermark;
  *  - late rows older than the watermark are silently skipped forever
  *    (documented reference behavior — no event-time lateness).
  *
  * Window-boundary semantics (SURVEY §7.4.3): the reference computes
  * indicators over ONLY the new rows, so the first 199 rows of each
  * increment see truncated SMA-200 frames. Both behaviors are offered:
  * `Truncated` replicates the reference; `OverlapReload` re-reads
  * (frame−1) rows of history per symbol, computes over the overlap, and
  * trims the warm-up rows — exact indicators at ~1 extra frame of I/O.
  * At 100 TB the overlap re-read is bounded (199 rows/symbol) and prunes
  * via the symbol partitioning + timestamp min/max.
  */
object Incremental {

  sealed trait BoundaryMode
  case object Truncated extends BoundaryMode
  case object OverlapReload extends BoundaryMode

  val maxFrame = 200 // longest lookback in the indicator set (SMA-200)

  private val wmSchema = StructType(Seq(
    StructField("symbol", StringType, nullable = false),
    StructField("last_processed_timestamp", TimestampType),
    StructField("updated_at", TimestampType)))

  /** Read the watermark state table (empty frame when absent). */
  def readWatermarks(spark: SparkSession, stateDir: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def nonEmpty(dir: String) = {
      val p = new org.apache.hadoop.fs.Path(dir)
      fs.exists(p) && fs.listStatus(p).nonEmpty
    }
    if (nonEmpty(stateDir)) spark.read.parquet(stateDir)
    else if (nonEmpty(stateDir + "_bak")) spark.read.parquet(stateDir + "_bak")
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], wmSchema)
  }

  /** Upsert new per-symbol watermarks (keep the max per symbol) — the
    * `etl_watermarks` upsert at `etl_job.py:110-120`.
    */
  def advanceWatermarks(spark: SparkSession, stateDir: String, newWm: DataFrame): Unit = {
    val merged = readWatermarks(spark, stateDir)
      .unionByName(newWm.withColumn("updated_at", current_timestamp()))
      .groupBy("symbol")
      .agg(max("last_processed_timestamp").as("last_processed_timestamp"),
        max("updated_at").as("updated_at"))
    // small state table; swap via backup so a crash mid-swap never loses
    // the watermark table (readWatermarks falls back to the .bak copy)
    val tmp = stateDir + "_tmp"
    merged.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    val conf = spark.sparkContext.hadoopConfiguration
    val state = new org.apache.hadoop.fs.Path(stateDir)
    val bak = new org.apache.hadoop.fs.Path(stateDir + "_bak")
    val fs = state.getFileSystem(conf)
    // the backup must survive until the new state is promoted: a recovery
    // run (only _bak present) goes straight to the promote step. Hadoop
    // rename() reports failure via its return value — treat false as
    // fatal or the delete below could destroy the only surviving copy.
    def renameOrDie(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit =
      require(fs.rename(src, dst), s"watermark state rename failed: $src -> $dst")
    if (fs.exists(state)) {
      fs.delete(bak, true)
      renameOrDie(state, bak)
    }
    renameOrDie(new org.apache.hadoop.fs.Path(tmp), state)
    fs.delete(bak, true)
  }

  /** One incremental run: filter past watermarks, compute indicators,
    * append idempotently (dedup key), advance watermarks. Returns the
    * newly processed frame.
    */
  // orderCols has NO default on purpose: it must be a total order on the
  // caller's data (Queries.tieCols for the OHLCV testdata) and no single
  // column set is total on every frame — a silent wrong default made
  // window frames nondeterministic.
  /** `historyBound`: optional predicate bounding the OverlapReload
    * history scan (e.g. `col("timestamp") >= <watermark − 2 years>`).
    * Without it, finding the last 199 rows per symbol row_number-sorts
    * the ENTIRE processed history — the re-read is bounded but the
    * tail-finding is not (measured in StressBench's incremental pair).
    * A caller always knows a safe time bound covering maxFrame−1 trading
    * rows; the predicate pushes into the source scan (partition/row-group
    * pruning), making overlap cost O(bound), independent of history
    * size. Contract: the bound must keep ≥ maxFrame−1 rows per symbol,
    * else the first new rows see partially truncated frames.
    */
  def runIncremental(spark: SparkSession, input: DataFrame, stateDir: String,
      outDir: String, mode: BoundaryMode, orderCols: Seq[String],
      historyBound: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    val wm = readWatermarks(spark, stateDir)
      .select(col("symbol"), col("last_processed_timestamp").as("_wm"))

    val withWm = input.join(broadcast(wm), Seq("symbol"), "left")
    val fresh = withWm.filter(col("_wm").isNull || col("timestamp") > col("_wm"))

    // orderCols must be a TOTAL order within each symbol or window results
    // are nondeterministic (Queries.tieCols is the canonical testdata set)
    val w = Window.partitionBy("symbol").orderBy(orderCols.map(col): _*)
    val processed = mode match {
      case Truncated =>
        // reference behavior: indicators over new rows only
        Indicators.withIndicators(fresh.drop("_wm"), w)
      case OverlapReload =>
        // exact: include up to (maxFrame-1) rows of already-processed tail
        // per symbol as warm-up context, then trim them from the output
        val histW = Window.partitionBy("symbol").orderBy(orderCols.map(c => col(c).desc): _*)
        val histAll = withWm
          .filter(col("_wm").isNotNull && col("timestamp") <= col("_wm"))
        val history = historyBound.fold(histAll)(histAll.filter)
          .withColumn("_rn", row_number().over(histW))
          .filter(col("_rn") <= maxFrame - 1)
          .drop("_rn")
        val all = history.withColumn("_warmup", lit(true))
          .unionByName(fresh.withColumn("_warmup", lit(false)))
        Indicators.withIndicators(all.drop("_wm"), w)
          .filter(!col("_warmup"))
          .drop("_warmup")
    }

    // Materialize before advancing the watermark: the plan reads the state
    // table, which is rewritten below — a lazily returned frame would
    // otherwise silently re-filter against the NEW watermark.
    // localCheckpoint truncates the lineage (no re-eval hazard) and its
    // blocks are released when the frame is GC'd, unlike an unbounded
    // cache() per incremental run.
    val keyed = processed.withColumn("symbol_date_key",
      Clean.compositeKey(col("symbol"), col("trading_date"))).localCheckpoint(true)
    // At-least-once, like the reference's Mongo append (etl_job.py:389-394):
    // a crash between this append and the watermark advance duplicates the
    // increment on retry; symbol_date_key lets downstream consumers dedup
    // (the reference's ES-upsert semantics).
    keyed.write.mode(SaveMode.Append).partitionBy("symbol").parquet(outDir)

    val newWm = fresh.groupBy("symbol")
      .agg(max("timestamp").as("last_processed_timestamp"))
    if (!newWm.isEmpty) advanceWatermarks(spark, stateDir, newWm)
    keyed
  }
}
