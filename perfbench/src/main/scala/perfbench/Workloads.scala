package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{SparkEntry, Tables}
import graft.operators.{Clean, Indicators}

/** The benchmark's workloads: named, ordered key lists. Every key except
  * [[Workloads.EtlPipeline]] is a `SparkEntry.queries` key; that one is the
  * reference's indicator ETL composed from the public operator calls and
  * written to a parquet sink partitioned by `symbol`.
  */
object Workloads {

  val EtlPipeline = "etl_pipeline"

  val all: Seq[(String, Seq[String])] = Seq(
    // the reference's product: the indicator ETL into its parquet sink,
    // micro-batch ingest through a state store and a keyed upsert
    "etl_ingest" -> Seq(EtlPipeline, "stream_sessions", "merge_upsert"),
    // driver-bound eager iterative loops beside executor-bound codecs and
    // native expressions
    "graph_corpus" -> Seq("label_prop", "wiki_dump_bz2", "jpeg_pixels",
      "minhash_dedup"))

  /** A run measures `round(seconds / nominalPassSeconds)` passes (the
    * passes of each workload take about this long on a 4-core box).
    */
  val nominalPassSeconds = 5.0

  def keys(workload: String): Seq[String] =
    all.collectFirst { case (w, ks) if w == workload => ks }.getOrElse(
      throw new IllegalArgumentException(s"unknown workload: $workload " +
        s"(known: ${all.map(_._1).mkString(", ")})"))

  /** The reference job (`etl_job.py:524-568`) from public calls. */
  def etlPipeline(spark: SparkSession, dir: String): DataFrame = {
    val cleaned = Clean.dropNullRows(Clean.castNumeric(Tables.ohlcv(spark, dir)))
    Indicators.withIndicators(cleaned, Indicators.baseWindow())
      .withColumn("symbol_date_key",
        Clean.compositeKey(col("symbol"), col("trading_date")))
  }

  /** The key's query-construction call, resolved once outside any timing. */
  def resolve(key: String): (SparkSession, String) => DataFrame =
    if (key == EtlPipeline) etlPipeline
    else SparkEntry.queries.getOrElse(key,
      throw new IllegalArgumentException(s"key $key is not in SparkEntry.queries"))

  /** Consumes every row and column: the parquet sink for the ETL job, a
    * `noop` write for every other key. Never `count()`, which lets
    * Catalyst prune windows, generators and decode expressions away.
    */
  def materialize(key: String, df: DataFrame, sinkDir: String): Unit =
    if (key == EtlPipeline)
      df.write.mode("overwrite").partitionBy("symbol")
        .parquet(s"$sinkDir/$EtlPipeline")
    else df.write.format("noop").mode("overwrite").save()
}
