package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Turns a [[Main.Result]] into the metric table, the trace file and the
  * one-line result JSON.
  */
object Report {

  val EndToEnd: Seq[(String, String)] = Seq(
    "pass_s" -> "s", "setup_s" -> "s", "peak_rss_mb" -> "MiB")

  val PerLayer: Seq[(String, String)] = Seq(
    "queries.build_s" -> "s", "queries.materialize_s" -> "s",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s", "catalyst.queries" -> "count",
    "codegen.compiles" -> "count", "codegen.compile_s" -> "s",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count",
    "scheduler.tasks" -> "count", "scheduler.job_busy_s" -> "s",
    "scheduler.outside_jobs_s" -> "s",
    "executor.task_run_s" -> "s", "executor.task_cpu_s" -> "s",
    "executor.cpu_share" -> "ratio", "executor.core_util" -> "ratio",
    "executor.gc_s" -> "s", "executor.deserialize_s" -> "s",
    "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
    "shuffle.fetch_wait_s" -> "s", "shuffle.spill_bytes" -> "bytes",
    "scan.input_bytes" -> "bytes", "scan.input_rows" -> "rows",
    "sink.output_bytes" -> "bytes", "sink.output_rows" -> "rows",
    "streaming.batches" -> "count", "streaming.trigger_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.state_rows" -> "rows",
    "streaming.state_commit_ms" -> "ms",
    "blockmanager.retained_bytes" -> "bytes",
    "control.cpu_s" -> "s", "control.shuffle_s" -> "s",
    "trace.overhead_s" -> "s")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest-ranked sample with at least ten samples beyond it (the
    * lowest sample when there are fewer than eleven), and its percentile
    * rank.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val i = math.max(0, s.size - 11)
    (if (s.isEmpty) 0.0 else s(i), if (s.isEmpty) 0.0 else 100.0 * (i + 1) / s.size)
  }

  /** One traced pass's per-layer totals from its key spans. */
  def passLayers(keys: Seq[Trace.Span], wall: Double): Map[String, Double] = {
    def total(m: String) = keys.map(_.metrics.getOrElse(m, 0.0)).sum
    val run = total("executor.task_run_s")
    PerLayer.map(_._1).map {
      case m @ "executor.cpu_share" => m -> (if (run > 0) total("executor.task_cpu_s") / run else 0.0)
      case m @ "executor.core_util" => m -> (if (wall > 0) run / (wall * Main.Cores) else 0.0)
      case m @ "blockmanager.retained_bytes" => m -> keys.map(_.metrics.getOrElse(m, 0.0)).max
      case m => m -> total(m)
    }.toMap
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def render(o: Main.Opts, r: Main.Result): String = {
    val plain = r.execs.filterNot(_.traced)
    val plainPasses = r.passes.filterNot(_._2).map(_._3)
    val (tailV, tailPct) = tail(plain.map(_.wall))
    val e2e = Map(
      "pass_s" -> median(plainPasses),
      "setup_s" -> r.setups.head,
      "peak_rss_mb" -> r.peakRssMb)
    val attempted = r.attempted
    val failed = r.failed
    (r.warm ++ r.execs).filter(_.failed).foreach(e =>
      System.err.println(s"[perfbench] ${e.key} failed in pass ${e.pass}: ${e.error}"))

    println(s"[perfbench] workload=${o.workload} seed=${o.seed} keys=${r.keys.size} " +
      s"passes=${r.passes.size} (traced ${r.passes.count(_._2)}) " +
      s"setups=${r.setups.map(v => f"$v%.2f").mkString("/")} s (cold/warm) " +
      s"pass walls=${r.passes.map(p => f"${p._3}%.3f").mkString("/")} s")
    EndToEnd.foreach { case (m, u) => println(f"[perfbench] $m%-28s ${e2e(m)}%.6f $u") }
    println(f"[perfbench] ${"failed_ratio"}%-28s ${failed.toDouble / attempted}%.6f ratio " +
      s"($failed of $attempted executions; not gated)")
    // per-key times over a mix of keys jump between keys from run to run,
    // so these two are shown, not gated
    println(f"[perfbench] ${"query_p50_s"}%-28s ${median(plain.map(_.wall))}%.6f s " +
      s"(${plain.size} samples; not gated)")
    println(f"[perfbench] ${"query_tail_s"}%-28s $tailV%.6f s " +
      f"(p$tailPct%.0f of ${plain.size} samples, " +
      (if (plain.size > 10) "10 beyond it" else "fewer than 10 beyond it") + "; not gated)")
    r.keys.foreach { k =>
      val ex = plain.filter(_.key == k)
      println(f"[perfbench] key $k%-22s median wall ${median(ex.map(_.wall))}%.3f s " +
        f"build ${median(ex.map(_.build))}%.3f s materialize ${median(ex.map(_.materialize))}%.3f s " +
        s"walls ${ex.map(e => f"${e.wall}%.3f").mkString("/")}")
    }

    val layers: Map[String, Double] =
      if (!o.trace) Map.empty
      else {
        val passSpans = r.spans.flatMap(_.children)
        val traced = r.passes.filter(_._2)
        val perPass = passSpans.zip(traced).map { case (ps, (_, _, wall)) =>
          passLayers(ps.children.toSeq, wall)
        }
        val med = PerLayer.map(_._1).map(m => m -> median(perPass.map(_(m)))).toMap
        // each pair's traced pass minus its untraced pass
        val overhead = median(r.passes.grouped(2).map(_.map(p => if (p._2) p._3 else -p._3).sum).toSeq)
        writeTrace(o, r, overhead)
        med ++ r.control + ("trace.overhead_s" -> overhead)
      }
    if (o.trace) PerLayer.foreach { case (m, u) =>
      println(f"[perfbench] $m%-28s ${layers.getOrElse(m, 0.0)}%.6f $u")
    }

    val shown = if (o.trace) PerLayer.map { case (m, u) => (m, u, layers.getOrElse(m, 0.0)) }
      else EndToEnd.map { case (m, u) => (m, u, e2e(m)) }
    obj(Seq(
      "correct" -> (if (failed == 0) "true" else "false"),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> obj(shown.map { case (m, u, v) =>
        m -> obj(Seq("value" -> num(v), "unit" -> str(u))) })))
  }

  /** The span tree, every span's self time, each layer's total self time
    * and the per-key breakdown, as one JSON file.
    */
  def writeTrace(o: Main.Opts, r: Main.Result, overhead: Double): Unit = {
    val all = r.spans.flatMap(_.flatten)
    val ids = all.zipWithIndex.toMap
    val parent = all.flatMap(p => p.children.map(c => c -> ids(p))).toMap
    val spans = all.map { s =>
      obj(Seq("id" -> ids(s).toString, "parent" -> parent.get(s).map(_.toString).getOrElse("null"),
        "kind" -> str(s.kind), "name" -> str(s.name), "start_ns" -> s.start.toString,
        "end_ns" -> s.end.toString, "self_ns" -> s.self.toString))
    }
    val selfByKind = all.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, ss) =>
      k -> num(ss.map(_.self).sum / 1e9)
    }
    val keys = all.filter(_.kind == "key")
    val overhang = keys.map(_.metrics("check.overhang_ns")).foldLeft(0.0)(math.max)
    val orphans = keys.map(_.metrics("check.orphans")).sum.toInt
    val perKey = keys.map { k =>
      obj(Seq("key" -> str(k.name)) ++ k.metrics.toSeq.sortBy(_._1).map { case (m, v) => m -> num(v) })
    }
    val body = obj(Seq(
      "workload" -> str(o.workload), "seed" -> o.seed.toString,
      "tracing_overhead_s" -> num(overhead),
      "job_overhang_ns" -> num(overhang),
      "orphan_events" -> orphans.toString,
      "stray_events" -> r.strays.toString,
      "self_s_by_kind" -> obj(selfByKind),
      "keys" -> perKey.mkString("[", ",", "]"),
      "spans" -> spans.mkString("[", ",\n", "]")))
    val path = Paths.get(o.traceOut)
    Files.createDirectories(path.toAbsolutePath.getParent)
    Files.write(path, body.getBytes(StandardCharsets.UTF_8))
    println(s"[perfbench] trace written to $path; self time by span kind (s): " +
      selfByKind.map { case (k, v) => s"$k=$v" }.mkString(" "))
    println(f"[perfbench] trace checks over ${keys.size} keys: jobs and stages reach at most " +
      f"$overhang%.0f ns outside their key (limit ${Clock.SlackNs}%d ns); $orphans orphan and " +
      s"${r.strays} stray listener events (limit 0); so each key's driver self time plus " +
      "job-covered time is its wall time")
    if (overhang > Clock.SlackNs || orphans > 0 || r.strays > 0)
      throw new IllegalStateException("trace attribution check failed")
  }
}
