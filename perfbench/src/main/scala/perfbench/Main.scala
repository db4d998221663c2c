package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution

import graft.GraftSession

/** Closed-loop benchmark runner: one client, one `local[4]` session, one
  * key at a time; a key's next execution starts only after the previous one
  * has fully materialized.
  *
  * {{{
  * Main --workload W --seed N --seconds S --trace 0|1 --data DIR --work DIR
  *      --pins FILE [--mode run|pin] [--launch-ms EPOCH_MS] [--trace-out FILE]
  * }}}
  *
  * `--launch-ms` (the process launch time, from which the cold set-up is
  * charged) is required to run, and `--trace-out` to trace.
  *
  * `run` sets up [[Setups]] times (a fresh session and one untimed pass:
  * the first checks every key against its pin, the others are warm
  * passes), then runs `round(S / Workloads.nominalPassSeconds)` timed
  * passes and prints the result JSON as the last stdout line. `pin` writes
  * the pins file from [[Setups]] check passes in fresh sessions.
  */
object Main {

  val Cores = 4
  val Setups = 3

  final case class Opts(workload: String = "", seed: Long = 0L,
      seconds: Double = 10.0, trace: Boolean = false, data: String = "",
      work: String = "", pins: String = "",
      launchMs: Double = -1.0, mode: String = "run", traceOut: String = "")

  def parse(args: Array[String]): Opts =
    args.toSeq.grouped(2).foldLeft(Opts()) {
      case (o, Seq("--workload", v)) => o.copy(workload = v)
      case (o, Seq("--seed", v)) => o.copy(seed = v.toLong)
      case (o, Seq("--seconds", v)) => o.copy(seconds = v.toDouble)
      case (o, Seq("--trace", v)) => o.copy(trace = v == "1")
      case (o, Seq("--data", v)) => o.copy(data = v)
      case (o, Seq("--work", v)) => o.copy(work = v)
      case (o, Seq("--pins", v)) => o.copy(pins = v)
      case (o, Seq("--launch-ms", v)) => o.copy(launchMs = v.toDouble)
      case (o, Seq("--mode", v)) => o.copy(mode = v)
      case (o, Seq("--trace-out", v)) => o.copy(traceOut = v)
      case (_, bad) => throw new IllegalArgumentException(s"bad arguments: ${bad.mkString(" ")}")
    }

  def main(args: Array[String]): Unit = {
    val code =
      try {
        val o = parse(args)
        require(!o.trace || o.traceOut.nonEmpty, "--trace 1 needs --trace-out")
        require(o.mode != "run" || o.launchMs > 0, "--mode run needs --launch-ms")
        o.mode match {
          case "run" =>
            val r = run(o)
            println(Report.render(o, r))
            0
          case "pin" => pin(o); 0
          case m => throw new IllegalArgumentException(s"unknown mode $m")
        }
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] FAILED: $e")
          e.printStackTrace()
          1
      }
    System.out.flush()
    sys.exit(code)
  }

  def session(o: Opts): SparkSession = {
    val s = GraftSession.builder(Cores)
      .master(s"local[$Cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.queryExecutionListeners", classOf[QeListener].getName)
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s.sparkContext.addSparkListener(new BusListener)
    Probe.installCodegenTap()
    s
  }

  /** One timed or checked key execution. */
  final case class Exec(key: String, pass: Int, traced: Boolean, wall: Double,
      build: Double, materialize: Double, failed: Boolean, error: String,
      stats: KeyStats, retainedBytes: Long)

  /** Runs keys one at a time against one session. `want` holds the Window,
    * Generate and Aggregate counts of each key's optimized plan, from its
    * check; a write plan with fewer of any was pruned.
    */
  final class Runner(val spark: SparkSession, o: Opts, keys: Seq[String],
      want: scala.collection.mutable.Map[String, Map[String, Int]] =
        scala.collection.mutable.Map.empty) {
    private val fns = keys.map(k => k -> Workloads.resolve(k)).toMap
    private val sink = s"${o.work}/sink"

    def drain(): Unit = BusDrain(spark.sparkContext)

    /** Untimed cleanup between keys, so one key's cache and garbage do not
      * land on the next; returns the RDD storage still held afterwards.
      */
    private def settle(): Long = {
      spark.catalog.clearCache()
      System.gc()
      drain()
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    }

    private def lost(key: String, qes: Seq[QueryExecution]): String = {
      val got = qes.map(q => Probe.heavyOps(q.optimizedPlan))
        .reduceOption((a, b) => a.map { case (op, n) => op -> math.max(n, b(op)) })
        .getOrElse(Map.empty[String, Int])
      val w = want.getOrElse(key, Map.empty)
      if (w.forall { case (op, n) => got.getOrElse(op, 0) >= n }) ""
      else s"timed plan lost nodes: want $w, got $got"
    }

    /** Call into the key, then materialize every row and column. The warm
      * passes of the set-up also check the write plan against the key's
      * optimized plan.
      */
    def execute(key: String, pass: Int, traced: Boolean): Exec = {
      val st = Probe.begin(traced)
      val t0 = System.nanoTime()
      var t1 = t0
      val err =
        try {
          val df = fns(key)(spark, o.data)
          t1 = System.nanoTime()
          if (pass < 0 && want.contains(key))
            lost(key, Probe.capture(drain())(Workloads.materialize(key, df, sink))._2)
          else { Workloads.materialize(key, df, sink); "" }
        } catch { case NonFatal(e) => if (t1 == t0) t1 = System.nanoTime(); e.toString }
      val t2 = System.nanoTime()
      // the key's spans are these same three readings
      st.start = Clock.at(t0); st.buildEnd = Clock.at(t1); st.end = Clock.at(t2)
      val retained = settle()
      Probe.end(st)
      Exec(key, pass, traced, (t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
        err.nonEmpty, err, st, retained)
    }

    /** Untimed: run the key once with its output observed, compare with the
      * pin, and check that the write kept every Window, Generate and
      * Aggregate node of the key's optimized plan.
      */
    def check(key: String): (Option[Pin], String) =
      try {
        val df = fns(key)(spark, o.data)
        want(key) = Probe.heavyOps(df.queryExecution.optimizedPlan)
        val (_, qes) = Probe.capture(drain()) {
          Workloads.materialize(key, Pins.observed(df), sink)
        }
        settle()
        qes.find(_.observedMetrics.contains(Pins.ObservationName)) match {
          case None => (None, "no observed write plan")
          case Some(qe) => (Pins.fromObserved(qe.observedMetrics), lost(key, Seq(qe)))
        }
      } catch { case NonFatal(e) => settle(); (None, e.toString) }
  }

  /** Everything one run measured. `setups` starts with the cold one;
    * `passes` holds each pass's number, whether it was traced and its wall
    * time; `strays`
    * counts the listener events of the timed passes that arrived while no
    * key was running.
    */
  final case class Result(keys: Seq[String], setups: Seq[Double],
      checks: Seq[(String, Boolean, String)], warm: Seq[Exec], execs: Seq[Exec],
      passes: Seq[(Int, Boolean, Double)], control: Map[String, Double],
      peakRssMb: Double, spans: Seq[Trace.Span], strays: Int) {
    def attempted: Int = checks.size + warm.size + execs.size
    def failed: Int = checks.count(!_._2) + (warm ++ execs).count(_.failed)
  }

  def shuffled(keys: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(keys)

  def checkPass(r: Runner, keys: Seq[String], pins: Map[String, Pin])
      : Seq[(String, Boolean, String)] =
    keys.map { k =>
      val (got, problem) = r.check(k)
      val verdict =
        if (problem.nonEmpty) problem
        else pins.get(k) match {
          case None => s"no pin for $k"
          case Some(p) if got.exists(p.matches) => ""
          case Some(p) => s"pin mismatch: want ${p.show}, got ${got.map(_.show)}"
        }
      if (verdict.nonEmpty) System.err.println(s"[perfbench] check $k: $verdict")
      (k, verdict.isEmpty, verdict)
    }

  def run(o: Opts): Result = {
    val keys = Workloads.keys(o.workload)
    val pins = Pins.load(o.pins)
    // set-up, three times: a fresh session plus one untimed pass. The first
    // is the cold one, charged from process launch, and its pass checks
    // every key against its pin; it alone is `setup_s`. The others warm the
    // JVM up and run the plan self-check on the exact timed plans.
    val setups = ArrayBuffer.empty[Double]
    val checks = ArrayBuffer.empty[(String, Boolean, String)]
    val warm = ArrayBuffer.empty[Exec]
    var spark: SparkSession = null
    var runner: Runner = null
    val want = scala.collection.mutable.Map.empty[String, Map[String, Int]]
    (0 until Setups).foreach { i =>
      val t0 = if (i == 0) o.launchMs else System.currentTimeMillis().toDouble
      if (spark != null) spark.stop()
      spark = session(o)
      runner = new Runner(spark, o, keys, want)
      val order = shuffled(keys, o.seed, -1 - i)
      if (i == 0) checks ++= checkPass(runner, order, pins)
      else warm ++= order.map(k => runner.execute(k, -1 - i, traced = false))
      setups += (System.currentTimeMillis() - t0) / 1e3
    }
    // timed passes: a fixed count for the time budget, so every run has the
    // same warm-up history. A traced run makes twice as many, in pairs of
    // one untraced and one traced pass, alternating which of the two goes
    // first; a pair's difference is the tracing overhead.
    val execs = ArrayBuffer.empty[Exec]
    val passes = ArrayBuffer.empty[(Int, Boolean, Double)]
    val runSpan = Trace.open("run", o.workload)
    val count = math.max(1, math.round(o.seconds / Workloads.nominalPassSeconds).toInt) *
      (if (o.trace) 2 else 1)
    Probe.strays.set(0)
    (0 until count).foreach { p =>
      val traced = o.trace && (p % 2 == 1) != (p / 2 % 2 == 1)
      val ps = Trace.open("pass", s"pass $p")
      val ex = shuffled(keys, o.seed, p).map(k => runner.execute(k, p, traced))
      Trace.close(ps)
      if (traced) runSpan.children += ps.withKeys(ex)
      execs ++= ex
      passes += ((p, traced, ex.map(_.wall).sum))
    }
    Trace.close(runSpan)
    val strays = Probe.strays.get
    val control = if (o.trace) Control.measure(spark) else Map.empty[String, Double]
    spark.stop()
    Result(keys, setups.toSeq, checks.toSeq, warm.toSeq, execs.toSeq, passes.toSeq,
      control, peakRssMb(), Seq(runSpan), strays)
  }

  /** Writes the pins file from [[Setups]] check passes in fresh sessions.
    * A hash that differs between passes is dropped (row count only).
    */
  def pin(o: Opts): Unit = {
    val keys = Workloads.keys(o.workload)
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Option[Pin]]]
    (0 until Setups).foreach { i =>
      val spark = session(o)
      val r = new Runner(spark, o, keys)
      shuffled(keys, o.seed, i).foreach { k =>
        val (got, problem) = r.check(k)
        require(problem.isEmpty, s"$k: $problem")
        seen.getOrElseUpdate(k, ArrayBuffer.empty) += got
      }
      spark.stop()
    }
    val fresh = seen.toSeq.map { case (k, gots) =>
      val ps = gots.flatten
      require(ps.size == gots.size && ps.map(_.rows).distinct.size == 1,
        s"$k: unstable or missing row count ${gots.mkString(",")}")
      val hashes = ps.map(_.hash).distinct
      k -> Pin(ps.head.rows, if (hashes.size == 1) hashes.head else None)
    }
    val kept = Pins.load(o.pins).filter { case (k, _) => !seen.contains(k) }
    Pins.save(o.pins, kept.toSeq ++ fresh)
    fresh.foreach { case (k, p) => System.err.println(s"[perfbench] pin $k ${p.show}") }
  }

  /** The process's peak resident set (`VmHWM`), in MiB. */
  def peakRssMb(): Double =
    try {
      new String(Files.readAllBytes(Paths.get("/proc/self/status")), StandardCharsets.UTF_8)
        .split("\n").find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    } catch { case NonFatal(_) => 0.0 }
}
