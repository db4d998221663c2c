package perfbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Smoke test of the benchmark itself, on the sf0.001 tables:
  * `sbt test` from this directory.
  */
class SmokeSpec extends AnyFunSuite {

  test("every workload key resolves to a query") {
    for ((_, keys) <- Workloads.all; k <- keys)
      assert(k == Workloads.EtlPipeline || graft.SparkEntry.queries.contains(k), k)
    assert(Workloads.all.map(_._1).distinct.size == Workloads.all.size)
  }

  test("one pass of each workload at sf0.001 has failed_ratio 0") {
    for ((w, keys) <- Workloads.all) {
      val work = Paths.get("target", "smoke", w).toAbsolutePath
      Files.createDirectories(work)
      val o = Main.Opts(workload = w, data = "data/sf0.001", work = work.toString,
        pins = "pins/sf0.001.tsv")
      val spark = Main.session(o)
      try {
        val r = new Main.Runner(spark, o, keys)
        val checks = Main.checkPass(r, keys, Pins.load(o.pins))
        // a warm pass: it also runs the plan self-check
        val execs = keys.map(k => r.execute(k, -2, traced = false))
        assert(checks.forall(_._2), s"$w: ${checks.filterNot(_._2)}")
        assert(!execs.exists(_.failed), s"$w: ${execs.filter(_.failed).map(_.error)}")
      } finally spark.stop()
    }
  }
}
