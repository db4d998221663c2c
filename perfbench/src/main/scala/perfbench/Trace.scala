package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** In-memory spans of a traced run: run > pass > key > {queries.build,
  * materialize} > job > stage. Written out once, when the run ends.
  */
object Trace {

  final class Span(val kind: String, val name: String, val start: Long) {
    var end = 0L
    val children = ArrayBuffer.empty[Span]
    /** Intervals that count as covered by children; the children by default. */
    var cover: Seq[(Long, Long)] = Nil
    var metrics: Map[String, Double] = Map.empty
    def dur: Long = end - start
    def covered: Long =
      union(if (cover.nonEmpty) cover else children.map(c => (c.start, c.end)).toSeq,
        start, end)
    /** Duration minus the part of it that child spans cover. */
    def self: Long = dur - covered
    def withKeys(ex: Seq[Main.Exec]): Span = { children ++= ex.map(keySpan); this }
    def flatten: Seq[Span] = this +: children.toSeq.flatMap(_.flatten)
  }

  def open(kind: String, name: String): Span = new Span(kind, name, Clock.now())
  def close(s: Span): Unit = s.end = Clock.now()

  private def span(kind: String, name: String, s: Long, e: Long): Span = {
    val x = new Span(kind, name, s); x.end = e; x
  }

  /** Length of the union of `iv`, clipped to [lo, hi]. */
  def union(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** The key's span tree and its per-layer numbers. Jobs hang under the
    * phase their start falls in; the phases' self time is the key's driver
    * time outside any job.
    */
  def keySpan(e: Main.Exec): Span = {
    val st = e.stats
    val k = span("key", e.key, st.start, st.end)
    val phases = Seq(span("queries.build", "build", st.start, st.buildEnd),
      span("materialize", "materialize", st.buildEnd, st.end))
    val jobIv = st.jobs.map(j => (j.start, j.end)).toSeq
    st.jobs.sortBy(_.start).foreach { j =>
      val js = span("job", j.name, j.start, j.end)
      st.stages.filter(_.parent == j.id).sortBy(_.start)
        .foreach(s => js.children += span("stage", s.name, s.start, s.end))
      phases.find(p => j.start < p.end).getOrElse(phases.last).children += js
    }
    phases.foreach { p => p.cover = jobIv; k.children += p }
    val wall = k.dur / 1e9
    val busy = union(jobIv, k.start, k.end) / 1e9
    // how far a job or stage, as the listener saw it and before clipping,
    // reaches outside the key's timed interval
    val overhang = (st.jobs ++ st.stages)
      .map(j => math.max(k.start - j.start, j.end - k.end)).foldLeft(0L)(math.max)
    k.metrics = st.c.toMap ++ Map(
      "check.overhang_ns" -> overhang.toDouble,
      "check.orphans" -> st.orphans.toDouble,
      "wall_s" -> wall,
      "queries.build_s" -> phases.head.dur / 1e9,
      "queries.materialize_s" -> phases.last.dur / 1e9,
      "scheduler.jobs" -> st.jobs.size.toDouble,
      "scheduler.stages" -> st.stages.size.toDouble,
      "scheduler.job_busy_s" -> busy,
      "scheduler.outside_jobs_s" -> (wall - busy),
      "driver.self_s" -> phases.map(_.self).sum / 1e9,
      "blockmanager.retained_bytes" -> e.retainedBytes.toDouble,
      "failed" -> (if (e.failed) 1.0 else 0.0))
    k
  }
}

/** `graft.Bench`'s two drift lanes rebuilt from public calls: a CPU-bound
  * PNG synth + decode and a shuffle-bound hash aggregation. Diagnostics,
  * not gates.
  */
object Control {
  def measure(spark: SparkSession): Map[String, Double] = {
    def best(f: => Unit): Double = {
      f
      (1 to 2).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }.min
    }
    val cores = Main.Cores
    val cpu = best {
      spark.range(0, 8000, 1, cores)
        .select(graft.operators.ScaleOps.imageDecode(
          graft.operators.ScaleOps.synthPng(lit(64), lit(64), col("id"), 3))
          .getField("width").as("w"))
        .agg(sum("w")).collect()
    }
    val shuffle = best {
      spark.range(0, 4L * 1000 * 1000, 1, cores)
        .select(((col("id") * 2654435761L) % 262144).as("k"))
        .groupBy("k").agg(count(lit(1)).as("c"))
        .agg(sum("c")).collect()
    }
    Map("control.cpu_s" -> cpu, "control.shuffle_s" -> shuffle)
  }
}
