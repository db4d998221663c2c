package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** A key's pinned output: the row count, plus an order-independent hash
  * over every column where that hash repeats from run to run.
  */
final case class Pin(rows: Long, hash: Option[String]) {
  def matches(o: Pin): Boolean = rows == o.rows && hash.forall(h => o.hash.contains(h))
  def show: String = s"$rows\t${hash.getOrElse("-")}"
}

object Pins {

  val ObservationName = "perfbench_pin"

  /** The row count and `sum(xxhash64(row))`, order-independent over all
    * columns, observed on whatever action materializes `df`.
    */
  def observed(df: DataFrame): DataFrame = {
    val cols = df.columns.toSeq.map(c => col(s"`${c.replace("`", "``")}`"))
    df.observe(ObservationName, count(lit(1)).as("rows"),
      sum(xxhash64(cols: _*).cast(DecimalType(20, 0))).as("hash"))
  }

  def fromObserved(m: Map[String, org.apache.spark.sql.Row]): Option[Pin] =
    m.get(ObservationName).map { r =>
      Pin(r.getLong(0), Option(r.get(1)).map(_.toString))
    }

  def load(path: String): Map[String, Pin] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
      .split("\n").toSeq.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(k, rows, h) = l.split("\t")
        k -> Pin(rows.toLong, if (h == "-") None else Some(h))
      }.toMap

  def save(path: String, pins: Seq[(String, Pin)]): Unit = {
    val body = pins.sortBy(_._1).map { case (k, p) => s"$k\t${p.show}" }
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.write(Paths.get(path), (("# key\trows\thash (- = rows only)" +: body)
      .mkString("", "\n", "\n")).getBytes(StandardCharsets.UTF_8))
    ()
  }
}
