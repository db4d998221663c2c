package org.apache.spark.sql.graftnative

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{MathUtils, SQLOrderingUtil}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Ring-buffer state of [[IndicatorStateAgg]] for one window partition:
  * the last [[IndicatorRing.Cap]] closes, the last
  * [[IndicatorRing.SmallCap]] macd / gain / loss values, and the running
  * OBV. A null is stored as 0.0 with its `ok` flag cleared — exactly what
  * `Average` adds for a null input (`coalesce(x, 0.0)`) without counting it.
  */
final class IndicatorRing(integralVolume: Boolean, volumeMin: Long,
    failOnOverflow: Boolean) extends Serializable {
  import IndicatorRing._

  var n: Long = 0L
  private val close = new Array[Double](Cap)
  private val closeOk = new Array[Boolean](Cap)
  private val macd = new Array[Double](SmallCap)
  private val macdOk = new Array[Boolean](SmallCap)
  private val gain = new Array[Double](SmallCap)
  private val loss = new Array[Double](SmallCap)
  private var obvSeen = false
  private var obvLong = 0L
  private var obvDouble = 0.0
  // non-null input count of the last frameSum call
  private var cnt = 0L

  /** Sum of the last k slots, oldest to newest from 0.0 (Average's order);
    * leaves the non-null count in `cnt`. `ok == null` means no nulls.
    */
  private def frameSum(v: Array[Double], ok: Array[Boolean], mask: Int, k: Int): Double = {
    var t = math.max(0L, n - k)
    var sum = 0.0
    var c = 0L
    while (t < n) {
      val i = (t & mask).toInt
      sum += v(i)
      if (ok == null || ok(i)) c += 1
      t += 1
    }
    cnt = c
    sum
  }

  private def mean(v: Array[Double], ok: Array[Boolean], mask: Int, k: Int): Any = {
    val s = frameSum(v, ok, mask, k)
    if (cnt == 0) null else s / cnt
  }

  /** `stddev_samp` over the last k closes: CentralMomentAgg's update
    * sequence; null for fewer than two non-null inputs.
    */
  private def sampleStddev(k: Int): Any = {
    var t = math.max(0L, n - k)
    var cn = 0.0
    var avg = 0.0
    var m2 = 0.0
    while (t < n) {
      val i = (t & Mask).toInt
      if (closeOk(i)) {
        val newN = cn + 1.0
        val delta = close(i) - avg
        val deltaN = delta / newN
        avg = avg + deltaN
        m2 = m2 + delta * (delta - deltaN)
        cn = newN
      }
      t += 1
    }
    if (cn == 0.0 || cn == 1.0) null else math.sqrt(m2 / (cn - 1.0))
  }

  /** The close `k` rows before the newest folded row (null before the
    * partition's first row).
    */
  private def lagClose(k: Int): Any = {
    val t = n - 1 - k
    if (t < 0) null else {
      val i = (t & Mask).toInt
      if (closeOk(i)) close(i) else null
    }
  }

  /** `-v` in the volume's own width (long or int), as UnaryMinus computes it. */
  private def negate(v: Long): Long =
    if (v != volumeMin) -v
    else if (!failOnOverflow) v
    else if (volumeMin == Long.MinValue) MathUtils.negateExact(v)
    else MathUtils.negateExact(v.toInt).toLong

  /** Folds the next row's close and volume (either may be null). */
  def update(c: Any, v: Any): Unit = {
    val i = (n & Mask).toInt
    val prev = lagClose(0)
    val cOk = c != null
    // price change vs the previous close; Spark's `> 0` / `< 0` (NaN is
    // the largest double, -0.0 equals 0.0)
    val chgOk = cOk && prev != null
    val chg = if (chgOk) c.asInstanceOf[Double] - prev.asInstanceOf[Double] else 0.0
    val up = chgOk && SQLOrderingUtil.compareDoubles(chg, 0.0) > 0
    val down = chgOk && SQLOrderingUtil.compareDoubles(chg, 0.0) < 0
    val si = (n & SmallMask).toInt
    gain(si) = if (up) chg else 0.0
    loss(si) = if (down) -chg else 0.0
    // OBV: Sum over the signed volume, which is 0 when the change is
    // null or flat and null (skipped) when the volume is
    if (!(up || down)) obvSeen = true
    else if (v != null) {
      if (integralVolume) {
        val x = v.asInstanceOf[Number].longValue
        val signed = if (up) x else negate(x)
        obvLong = if (failOnOverflow) MathUtils.addExact(obvLong, signed) else obvLong + signed
      } else {
        val x = v.asInstanceOf[Number].doubleValue
        obvDouble = obvDouble + (if (up) x else -x)
      }
      obvSeen = true
    }
    close(i) = if (cOk) c.asInstanceOf[Double] else 0.0
    closeOk(i) = cOk
    n += 1
    // macd = sma_12 - sma_26, null when either is
    val s12 = frameSum(close, closeOk, Mask, 12)
    val c12 = cnt
    val s26 = frameSum(close, closeOk, Mask, 26)
    val c26 = cnt
    macdOk(si) = c12 > 0 && c26 > 0
    macd(si) = if (macdOk(si)) s12 / c12 - s26 / c26 else 0.0
  }

  /** The frame-dependent values at the newest row, in [[FieldNames]] order. */
  def result: InternalRow = {
    val newest = ((n - 1) & SmallMask).toInt
    new GenericInternalRow(Array[Any](
      mean(close, closeOk, Mask, 5),
      mean(close, closeOk, Mask, 20),
      mean(close, closeOk, Mask, 50),
      mean(close, closeOk, Mask, 200),
      if (n > 0 && macdOk(newest)) macd(newest) else null,
      mean(macd, macdOk, SmallMask, 9),
      sampleStddev(20),
      mean(gain, null, SmallMask, 14),
      mean(loss, null, SmallMask, 14),
      if (!obvSeen) null else if (integralVolume) obvLong else obvDouble,
      lagClose(1), lagClose(5), lagClose(20)))
  }
}

object IndicatorRing {
  /** Close ring: holds the 200-row SMA frame (and the 20-row lag). */
  val Cap = 256
  val Mask: Int = Cap - 1
  /** macd / gain / loss rings: hold the 9- and 14-row frames. */
  val SmallCap = 16
  val SmallMask: Int = SmallCap - 1

  val FieldNames: Seq[String] = Seq("sma_5", "sma_20", "sma_50", "sma_200",
    "macd", "signal_line", "stddev_20", "avg_gain", "avg_loss", "obv",
    "lag_1", "lag_5", "lag_20")
}

/** The 15-indicator kernel as ONE window aggregate. Evaluated over a
  * running frame (`rowsBetween(unboundedPreceding, currentRow)`), each row
  * pushes its close into a ring buffer and emits a struct with every
  * frame-dependent value of [[graft.operators.Indicators.withIndicators]]:
  * SMA 5/20/50/200, macd (SMA 12 − SMA 26), the 9-row signal line, the
  * 20-row sample stddev, the 14-row average gain and loss, OBV and the
  * 1/5/20-row lagged closes.
  *
  * Bit-identical to the built-in window functions it replaces (pinned by
  * IndicatorKernelSpec): Spark re-aggregates each bounded ROWS frame from
  * scratch, so every frame sum here runs oldest to newest from 0.0 and
  * skips nulls as `Average` does; the stddev repeats `CentralMomentAgg`'s
  * update sequence; OBV sums in `long` for integral volume (overflow
  * raises under ANSI, as `Sum` does) and in `double` otherwise.
  *
  * Ordered-window-only, like [[EmaRunAgg]]: a real two-buffer merge has
  * no row order to restore, so it fails fast.
  */
case class IndicatorStateAgg(close: Expression, volume: Expression,
    failOnOverflow: Boolean, mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[IndicatorRing] with BinaryLike[Expression] {

  override def left: Expression = close
  override def right: Expression = volume

  override def nullable: Boolean = false

  private def integralVolume: Boolean =
    volume.dataType == LongType || volume.dataType == IntegerType

  private def volumeMin: Long =
    if (volume.dataType == IntegerType) Int.MinValue else Long.MinValue

  override def checkInputDataTypes(): TypeCheckResult =
    if (close.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(s"indicator_state needs a double close, got ${close.dataType}")
    else volume.dataType match {
      case LongType | IntegerType | FloatType | DoubleType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"indicator_state needs a long, int, float or double volume, got $t")
    }

  override def dataType: DataType = StructType(IndicatorRing.FieldNames.map { f =>
    StructField(f, if (f == "obv" && integralVolume) LongType else DoubleType)
  })

  override def createAggregationBuffer(): IndicatorRing =
    new IndicatorRing(integralVolume, volumeMin, failOnOverflow)

  override def update(s: IndicatorRing, input: InternalRow): IndicatorRing = {
    s.update(close.eval(input), volume.eval(input))
    s
  }

  override def merge(a: IndicatorRing, b: IndicatorRing): IndicatorRing =
    if (b.n == 0) a
    else if (a.n == 0) b
    else throw new UnsupportedOperationException("indicator_state is " +
      "ordered-window-only: grouped aggregation would merge partial buffers " +
      "with no row order between them")

  override def eval(s: IndicatorRing): Any = s.result

  override def serialize(s: IndicatorRing): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(s)
    out.close()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): IndicatorRing =
    new ObjectInputStream(new ByteArrayInputStream(bytes)).readObject()
      .asInstanceOf[IndicatorRing]

  override def withNewMutableAggBufferOffset(o: Int): IndicatorStateAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): IndicatorStateAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(close = newLeft, volume = newRight)
  override def prettyName: String = "indicator_state"
}

object IndicatorFunctions {
  /** The indicator kernel's struct (see [[IndicatorStateAgg]]); evaluate
    * it over a running ROWS frame of an ordered window. Overflow behavior
    * of the integral OBV sum follows the session's ANSI mode.
    */
  def indicator_state(close: Column, volume: Column): Column =
    ExpressionUtils.column(IndicatorStateAgg(ExpressionUtils.expression(close),
      ExpressionUtils.expression(volume), SQLConf.get.ansiEnabled)
      .toAggregateExpression())
}
