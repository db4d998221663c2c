package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.Indicators

/** The native indicator kernel ([[org.apache.spark.sql.graftnative.IndicatorStateAgg]])
  * behind [[Indicators.withIndicators]] against the built-in window
  * composition it replaced: every indicator column, every row, equal bit
  * for bit (`doubleToRawLongBits`) and null for null. Series come from
  * fixed-seed ScalaCheck generators (raw generators; the scalatestplus
  * bridge isn't in the offline dependency cache).
  */
class IndicatorKernelSpec extends SparkSpec {

  /** The built-in composition, verbatim: bounded ROWS-frame avg/stddev,
    * lag and an unbounded running sum (8 frames over 4 WindowExecs).
    */
  private def reference(df: DataFrame, w: WindowSpec): DataFrame = {
    val close = col("close")
    var d = df
      .withColumn("sma_5", avg(close).over(w.rowsBetween(-4, 0)))
      .withColumn("sma_20", avg(close).over(w.rowsBetween(-19, 0)))
      .withColumn("sma_50", avg(close).over(w.rowsBetween(-49, 0)))
      .withColumn("sma_200", avg(close).over(w.rowsBetween(-199, 0)))
      .withColumn("_ema_12", avg(close).over(w.rowsBetween(-11, 0)))
      .withColumn("_ema_26", avg(close).over(w.rowsBetween(-25, 0)))
      .withColumn("macd", col("_ema_12") - col("_ema_26"))
    d = d.withColumn("signal_line", avg(col("macd")).over(w.rowsBetween(-8, 0)))
      .withColumn("macd_histogram", col("macd") - col("signal_line"))
      .withColumn("bb_middle", avg(close).over(w.rowsBetween(-19, 0)))
      .withColumn("_bb_stddev", stddev(close).over(w.rowsBetween(-19, 0)))
      .withColumn("bb_upper", col("bb_middle") + (col("_bb_stddev") * lit(2)))
      .withColumn("bb_lower", col("bb_middle") - (col("_bb_stddev") * lit(2)))
      .withColumn("_prev_close", lag(close, 1).over(w))
      .withColumn("_price_change", close - col("_prev_close"))
      .withColumn("_gain", when(col("_price_change") > 0, col("_price_change")).otherwise(0))
      .withColumn("_loss", when(col("_price_change") < 0, -col("_price_change")).otherwise(0))
      .withColumn("_avg_gain", avg("_gain").over(w.rowsBetween(-13, 0)))
      .withColumn("_avg_loss", avg("_loss").over(w.rowsBetween(-13, 0)))
      .withColumn("_rs", when(col("_avg_loss") =!= 0, col("_avg_gain") / col("_avg_loss")).otherwise(lit(100)))
      .withColumn("rsi", lit(100) - (lit(100) / (lit(1) + col("_rs"))))
      .withColumn("_volume_sign",
        when(col("_price_change") > 0, col("volume"))
          .when(col("_price_change") < 0, -col("volume"))
          .otherwise(0))
      .withColumn("obv", sum("_volume_sign").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("day_change_pct", (close - col("_prev_close")) / col("_prev_close") * 100)
      .withColumn("_prev_5d_close", lag(close, 5).over(w))
      .withColumn("week_change_pct",
        when(col("_prev_5d_close").isNotNull,
          (close - col("_prev_5d_close")) / col("_prev_5d_close") * 100)
          .otherwise(lit(0)))
      .withColumn("_prev_20d_close", lag(close, 20).over(w))
      .withColumn("month_change_pct",
        when(col("_prev_20d_close").isNotNull,
          (close - col("_prev_20d_close")) / col("_prev_20d_close") * 100)
          .otherwise(lit(0)))
    d = d.drop("_ema_12", "_ema_26", "_bb_stddev", "_prev_close",
      "_price_change", "_gain", "_loss", "_avg_gain", "_avg_loss", "_rs",
      "_volume_sign", "_prev_5d_close", "_prev_20d_close")
    Indicators.indicatorCols.foldLeft(d) { (acc, c) =>
      if (acc.columns.contains(c)) acc.withColumn(c, col(c).cast(DoubleType))
      else acc.withColumn(c, lit(null).cast(DoubleType))
    }
  }

  /** Partition lengths around every frame edge, plus ones longer than
    * the 256-slot close ring.
    */
  private val lengths = Seq(1, 4, 19, 199, 200, 201, 300, 600)

  private sealed trait Step
  private case class Price(v: Double) extends Step
  private case object Flat extends Step
  private case object Missing extends Step
  private case object Zero extends Step

  private def stepGen(zeros: Boolean): Gen[Step] = Gen.frequency(
    60 -> Gen.choose(1.0, 500.0).map(v => Price(math.rint(v * 100) / 100)),
    20 -> Gen.choose(0.01, 1000.0).map(Price(_)),
    12 -> Gen.const(Flat),
    6 -> Gen.const(Missing),
    (if (zeros) 2 else 0) -> Gen.const(Zero))

  /** One series: closes with flat runs, nulls and (optionally) zeros;
    * volumes with nulls.
    */
  private def seriesGen(n: Int, zeros: Boolean): Gen[Seq[(Option[Double], Option[Long])]] =
    for {
      steps <- Gen.listOfN(n, stepGen(zeros))
      vols <- Gen.listOfN(n, Gen.frequency(
        94 -> Gen.choose(0L, 100000L).map(Option(_)), 6 -> Gen.const(None)))
    } yield {
      val closes = steps.scanLeft(Option(100.0)) {
        case (_, Price(v)) => Some(v)
        case (prev, Flat) => prev
        case (_, Missing) => None
        case (_, Zero) => Some(0.0)
      }.tail
      closes.zip(vols)
    }

  private val rowSchema = StructType(Seq(
    StructField("symbol", StringType), StructField("idx", IntegerType),
    StructField("close", DoubleType), StructField("volume", LongType)))

  /** One symbol per entry of `lengths`, generated from `seed`. */
  private def frame(seed: Long, zeros: Boolean = false): DataFrame = {
    val rows = lengths.zipWithIndex.flatMap { case (n, s) =>
      seriesGen(n, zeros)(Gen.Parameters.default, Seed(seed * 100 + s)).get
        .zipWithIndex.map { case ((c, v), i) =>
          Row(s"S$s", i, c.map(Double.box).orNull, v.map(Long.box).orNull)
        }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), rowSchema)
  }

  private val w = Window.partitionBy("symbol").orderBy("idx")

  /** Fractional double volumes, so the double OBV sum rounds. */
  private def doubleVolume(df: DataFrame): DataFrame =
    df.withColumn("volume", col("volume").cast(DoubleType) * lit(0.37))

  private def assertSame(df: DataFrame, win: WindowSpec, keys: Seq[String]): Unit = {
    val want = reference(df, win)
    val got = Indicators.withIndicators(df, win)
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(got.schema.map(_.dataType) == want.schema.map(_.dataType))
    val cols = (keys ++ Indicators.indicatorCols).map(col)
    def rows(d: DataFrame) = d.select(cols: _*).collect()
      .sortBy(r => keys.indices.map(r.get(_).toString).mkString("\u0000"))
    val (a, b) = (rows(want), rows(got))
    assert(a.length == b.length && a.nonEmpty)
    a.zip(b).foreach { case (x, y) =>
      val key = keys.indices.map(x.get).mkString("/")
      assert(keys.indices.forall(i => x.get(i) == y.get(i)), s"row keys differ at $key")
      Indicators.indicatorCols.zipWithIndex.foreach { case (c, j) =>
        val i = keys.size + j
        assert(x.isNullAt(i) == y.isNullAt(i),
          s"$c at $key: null mismatch (reference ${x.get(i)}, kernel ${y.get(i)})")
        if (!x.isNullAt(i))
          assert(java.lang.Double.doubleToRawLongBits(x.getDouble(i)) ==
            java.lang.Double.doubleToRawLongBits(y.getDouble(i)),
            s"$c at $key: reference ${x.getDouble(i)}, kernel ${y.getDouble(i)}")
      }
    }
  }

  test("kernel == built-in composition bit for bit, long, double and int volume") {
    for (seed <- 1L to 3L) {
      val df = frame(seed)
      assertSame(df, w, Seq("symbol", "idx"))
      assertSame(doubleVolume(df), w, Seq("symbol", "idx"))
    }
    assertSame(frame(4).withColumn("volume", col("volume").cast(IntegerType)),
      w, Seq("symbol", "idx"))
  }

  test("kernel == built-in composition over the (symbol, chunk_id) window") {
    // the chunkedIndicators shape: 250-row chunks, each seeded with the
    // previous chunk's last 199 rows as warm-up clones
    val chunked = frame(7).withColumn("chunk_id", floor(col("idx") / 250))
    val warmup = chunked.filter(col("idx") % 250 >= 250 - 199)
      .withColumn("chunk_id", col("chunk_id") + 1)
    val staged = chunked.unionByName(warmup)
    val cw = Window.partitionBy("symbol", "chunk_id").orderBy("idx")
    assertSame(staged, cw, Seq("symbol", "chunk_id", "idx"))
  }

  test("0.0 closes: null divides without ANSI, the same divide-by-zero with it") {
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      assertSame(frame(11, zeros = true), w, Seq("symbol", "idx"))
      spark.conf.set(key, "true")
      def failure(d: DataFrame): String =
        intercept[Exception](d.collect()).getMessage
      val df = frame(11, zeros = true)
      assert(failure(reference(df, w)).contains("DIVIDE_BY_ZERO"))
      assert(failure(Indicators.withIndicators(df, w)).contains("DIVIDE_BY_ZERO"))
    } finally spark.conf.set(key, before)
  }

  test("indicator_state fails fast on grouped (merge-order-dependent) use") {
    val df = frame(3).repartition(4)
    val e = intercept[Exception] {
      df.groupBy("symbol")
        .agg(org.apache.spark.sql.graftnative.IndicatorFunctions
          .indicator_state(col("close"), col("volume")).as("s"))
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("ordered-window-only")),
      messages(e).mkString(" | "))
  }
}
