package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.Indicators

/** Property tests (SURVEY §5.3): indicator invariants over generated
  * series. Raw ScalaCheck generators with fixed seeds (the scalatestplus
  * bridge isn't in the offline dependency cache).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](gen: Gen[T], n: Int = 5): Seq[T] =
    (1 to n).flatMap(i => gen(Gen.Parameters.default.withSize(40), Seed(i.toLong)))

  private val seriesGen: Gen[List[(Double, Long)]] =
    Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(1.0, 1000.0).map(v => math.rint(v * 100) / 100),
      Gen.choose(1L, 10000L)))

  private def frame(rows: List[(Double, Long)]) =
    rows.zipWithIndex.map { case ((c, v), i) => ("S", i, c, v) }
      .toDF("symbol", "idx", "close", "volume")
      .withColumn("trading_date", expr("date_add(date '2020-01-01', idx)"))

  private val w = Window.partitionBy("symbol").orderBy("trading_date")

  test("rsi in [0,100]; bb_lower <= bb_middle <= bb_upper; sma positive") {
    samples(seriesGen).foreach { rows =>
      val out = Indicators.withIndicators(frame(rows), w)
        .select("rsi", "bb_lower", "bb_middle", "bb_upper", "sma_5").collect()
      out.foreach { r =>
        val rsi = r.getDouble(0)
        assert(rsi >= 0.0 && rsi <= 100.0)
        if (!r.isNullAt(1)) {
          assert(r.getDouble(1) <= r.getDouble(2) + 1e-9)
          assert(r.getDouble(2) <= r.getDouble(3) + 1e-9)
        }
        assert(r.getDouble(4) > 0.0)
      }
    }
  }

  test("obv telescopes: obv(n) - obv(n-1) = signed volume change") {
    samples(seriesGen).foreach { rows =>
      val out = Indicators.withIndicators(frame(rows), w)
        .orderBy("trading_date").select("close", "volume", "obv").collect()
      out.sliding(2).foreach {
        case Array(prev, cur) =>
          val expectedDelta =
            if (cur.getDouble(0) > prev.getDouble(0)) cur.getLong(1).toDouble
            else if (cur.getDouble(0) < prev.getDouble(0)) -cur.getLong(1).toDouble
            else 0.0
          assert(cur.getDouble(2) - prev.getDouble(2) == expectedDelta)
        case _ => ()
      }
    }
  }

  test("constant series: sma == close, macd == 0, pct changes == 0 past warm-up") {
    samples(Gen.zip(Gen.choose(5, 60), Gen.choose(1.0, 500.0))).foreach { case (n, c0) =>
      val c = math.rint(c0 * 100) / 100
      val out = Indicators.withIndicators(
        frame(List.fill(n)((c, 10L))), w)
        .select("sma_20", "macd", "day_change_pct").collect()
      out.foreach { r =>
        assert(math.abs(r.getDouble(0) - c) < 1e-9)
        assert(math.abs(r.getDouble(1)) < 1e-9)
        if (!r.isNullAt(2)) assert(r.getDouble(2) == 0.0)
      }
    }
  }

  test("EmaAggregator: any chunking composes to the sequential recurrence") {
    // property behind chunkedTrueEma/chunkedWilderRsi: fold the series in
    // arbitrarily-many arbitrary-size pieces, merge left-to-right → the
    // exact sequential EMA (within fp association tolerance); and merge
    // is associative on random cut pairs
    val agg = new graft.functions.EmaAggregator(2.0 / 13)
    val xsGen = Gen.nonEmptyListOf(Gen.choose(1.0, 1000.0))
    val cutsGen = Gen.listOf(Gen.choose(0.0, 1.0))
    samples(Gen.zip(xsGen, cutsGen), 20).foreach { case (xs, fracs) =>
      val seq = xs.reduceLeft((acc, x) => x * (2.0 / 13) + acc * (1 - 2.0 / 13))
      val cuts = fracs.map(f => (f * xs.size).toInt).distinct.sorted
      val pieces = (0 +: cuts :+ xs.size).distinct.sorted
        .sliding(2).collect { case Seq(a, b) if b > a => xs.slice(a, b) }.toList
      val bufs = pieces.map(_.foldLeft(agg.zero)(agg.reduce))
      val merged = agg.finish(bufs.reduceLeft(agg.merge))
      assert(math.abs(merged - seq) <= 1e-9 * math.max(1.0, math.abs(seq)),
        s"pieces=${pieces.map(_.size)}: $merged vs $seq")
      // associativity on a random 3-way split
      if (bufs.size >= 3) {
        val l = agg.merge(agg.merge(bufs(0), bufs(1)), bufs(2))
        val r = agg.merge(bufs(0), agg.merge(bufs(1), bufs(2)))
        assert(math.abs(agg.finish(l) - agg.finish(r)) <=
          1e-9 * math.max(1.0, math.abs(agg.finish(l))))
      }
    }
  }

  test("RangeJoin.pointInInterval ≡ naive range join over random interval sets") {
    // arbitrary keys, spans (including zero-length and bucket-straddling),
    // and point placements: the bucket decomposition must be result-
    // identical to the naive range-condition join, for every bucket width
    val caseGen = Gen.zip(
      Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("A", "B"), Gen.choose(0, 120))),
      Gen.nonEmptyListOf(Gen.zip(Gen.oneOf("A", "B"), Gen.choose(0, 120),
        Gen.choose(0, 30))),
      Gen.oneOf(1, 7, 30))
    samples(caseGen, 6).foreach { case (pts, ivs, width) =>
      val points = pts.zipWithIndex
        .map { case ((k, d), i) => (k, i, d) }.toDF("k", "pid", "d")
        .withColumn("pt", expr("date_add(date '2020-01-01', d)")).drop("d")
      val intervals = ivs.zipWithIndex
        .map { case ((k, st, span), i) => (i.toLong, k, st, st + span) }
        .toDF("id", "k", "st", "en")
        .select(col("id"), col("k"),
          expr("date_add(date '2020-01-01', st)").as("lo"),
          expr("date_add(date '2020-01-01', en)").as("hi"))
      val got = graft.operators.RangeJoin
        .pointInInterval(points, intervals, Seq("k"), "pt", "lo", "hi", width)
        .filter(col("_in_range"))
        .select("id", "pid").collect()
        .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      val naive = intervals.as("i").join(points.as("p"),
          col("p.k") === col("i.k") && col("p.pt").between(col("i.lo"), col("i.hi")))
        .select("id", "pid").collect()
        .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
      assert(got == naive, s"width=$width: got $got vs naive $naive")
    }
  }

  test("skewSafeCountJoin: resolved counts are invariant to the head/tail routing split") {
    // the Zipf split-join's contract: headSize only balances partitions,
    // never changes values — both routing paths must serve identical
    // (key, count) pairs for ANY split point, including all-tail (0) and
    // all-head (beyond the distinct-key count)
    val wordGen = Gen.nonEmptyListOf(Gen.oneOf("a", "b", "c", "dd", "ee", "f g"))
    samples(wordGen, 4).foreach { words =>
      val stream = words.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("row_id", "term")
      val freq = stream.groupBy("term").agg(count(lit(1)).as("_cnt"))
      val byHead = Seq(0, 1, 2, 1000).map { h =>
        graft.operators.ScaleOps
          .skewSafeCountJoin(stream, freq, "term", col("row_id"), "_c", headSize = h)
          .select("row_id", "term", "_c").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
      }
      assert(byHead.distinct.size == 1,
        s"counts changed with headSize: ${byHead.map(_.take(3))}")
      // and every resolved count equals the true frequency
      val truth = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
      byHead.head.foreach { case (_, t, c) => assert(c == truth(t)) }
    }
  }

  test("trueEma stays within [min, max] of the series; wilder rsi in [0,100]") {
    samples(seriesGen, 3).foreach { rows =>
      val df = Indicators.withWilderRsi(
        frame(rows).withColumn("ema", Indicators.trueEma(col("close"), 12, w)), w)
      val stats = df.agg(min("close"), max("close")).head
      val (lo, hi) = (stats.getDouble(0), stats.getDouble(1))
      df.select("ema", "rsi_wilder").collect().foreach { r =>
        assert(r.getDouble(0) >= lo - 1e-9 && r.getDouble(0) <= hi + 1e-9)
        assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 100.0)
      }
    }
  }

  // ------------------------------------------- relational/graph operators

  private val changelogGen: Gen[(List[(Long, String)], List[(Long, String, String)])] =
    for {
      tgt <- Gen.listOf(Gen.zip(Gen.choose(1L, 20L), Gen.alphaStr.map(_.take(4))))
      chg <- Gen.listOf(Gen.zip(Gen.choose(1L, 25L), Gen.alphaStr.map(_.take(4)),
        Gen.oneOf("U", "D")))
    } yield (tgt.distinctBy(_._1), chg.distinctBy(_._1))

  test("applyChangelog equals the per-key reference fold for random logs") {
    samples(changelogGen, 8).foreach { case (tgt, chg) =>
      val target = tgt.toDF("k", "s")
      val changes = chg.toDF("k", "s", "op")
      val got = graft.operators.MergeUpsert
        .applyChangelog(target, changes, Seq("k"), "op")
        .as[(Long, String)].collect().toMap
      // reference: start from target state, apply each op
      val ref = chg.foldLeft(tgt.toMap) {
        case (st, (k, s, "U")) => st + (k -> s)
        case (st, (k, _, "D")) => st - k
        case (st, _) => st
      }
      assert(got == ref, s"tgt=$tgt chg=$chg")
    }
  }

  private val graphGen: Gen[List[(Long, Long)]] =
    Gen.listOf(Gen.zip(Gen.choose(1L, 12L), Gen.choose(1L, 12L)))

  test("triangleCount equals brute-force triple enumeration on random graphs") {
    samples(graphGen, 8).foreach { es =>
      val edges = es.toDF("src", "dst")
      val row = graft.operators.ScaleOps.triangleCount(edges).head()
      val adj = es.flatMap { case (u, v) => Seq((u, v), (v, u)) }
        .filter { case (u, v) => u != v }.toSet
      val nodes = adj.map(_._1).toList.sorted
      val brute = (for {
        i <- nodes; j <- nodes if i < j && adj((i, j))
        k <- nodes if j < k && adj((j, k)) && adj((i, k))
      } yield 1).size.toLong
      assert(row.getLong(2) == brute, s"edges=$es")
      assert(row.getLong(0) == nodes.size.toLong)
      assert(row.getLong(1) == adj.size.toLong / 2)
    }
  }

  test("labelPropagation equals the reference synchronous min-tie-break rounds") {
    import graft.operators.ScaleOps
    // reference: synchronous rounds over the DEDUPED undirected adjacency
    // (multi-edges don't multi-vote, self-loops and null endpoints drop
    // out), label := most frequent neighbor label, ties to the smallest;
    // a node's own label does not vote
    def reference(es: Seq[(Long, Long)], iterations: Int): Map[Long, Long] = {
      val adj = es.flatMap { case (u, v) => Seq((u, v), (v, u)) }
        .filter { case (u, v) => u != v }.toSet
        .groupBy((p: (Long, Long)) => p._1)
        .view.mapValues(_.map(_._2).toList).toMap
      var ref = adj.keys.map(n => n -> n).toMap
      for (_ <- 1 to iterations) {
        ref = ref.map { case (n, _) =>
          val freq = adj(n).map(ref).groupBy(identity)
            .view.mapValues(_.size).toMap
          n -> freq.toSeq.minBy { case (l, c) => (-c, l) }._1
        }
      }
      ref
    }
    // the public operator (driver path at these sizes), the driver kernel
    // and the distributed rounds labelPropagation runs above the edge cap
    // must each give the reference labels
    def check(edges: org.apache.spark.sql.DataFrame,
        ref: Map[Long, Long], iterations: Int, clue: String): Unit = {
      val got = ScaleOps.labelPropagation(edges, iterations)
      assert(got.schema.map(f => (f.name, f.dataType)) ==
        Seq(("node", org.apache.spark.sql.types.LongType),
          ("label", org.apache.spark.sql.types.LongType)), clue)
      assert(got.as[(Long, Long)].collect().toMap == ref, s"operator $clue")
      val (und, nEdges) = ScaleOps.lpaAdjacency(edges, "src", "dst")
      val rows = und.collect()
      assert(nEdges == rows.length.toLong, clue)
      val (nodes, labels) = ScaleOps.lpaLocalRounds(rows.map(_.getLong(0)),
        rows.map(_.getLong(1)), iterations)
      assert(nodes.toSeq == nodes.sorted.toSeq, clue)
      assert(nodes.zip(labels).toMap == ref, s"driver kernel $clue")
      assert(ScaleOps.lpaDistributedRounds(und, iterations)
        .as[(Long, Long)].collect().toMap == ref, s"distributed $clue")
      // every community label is one of its members' ids
      ref.values.foreach(l => assert(ref.contains(l), clue))
    }
    samples(graphGen, 8).zipWithIndex.foreach { case (es, i) =>
      // every graph over 4 rounds; the first two also at 0 rounds, where
      // each node keeps its own id
      for (iterations <- if (i < 2) Seq(4, 0) else Seq(4))
        check(es.toDF("src", "dst"), reference(es, iterations), iterations,
          s"iterations=$iterations edges=$es")
    }
    // self-loops and duplicate edges in both directions
    val dupes = Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L),
      (3L, 3L), (3L, 4L), (4L, 1L), (4L, 1L))
    check(dupes.toDF("src", "dst"), reference(dupes, 3), 3, "dupes")
    // rows with a null endpoint carry no edge
    val withNulls = Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)),
      (None, Some(2L)), (Some(3L), None), (None, None), (Some(2L), Some(3L)),
      (Some(3L), Some(4L)))
    check(withNulls.toDF("src", "dst"),
      reference(withNulls.collect { case (Some(u), Some(v)) => (u, v) }, 2),
      2, "nulls")
    // Int-typed id columns widen to long
    val ints = Seq((1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4))
    check(ints.toDF("src", "dst"),
      reference(ints.map { case (u, v) => (u.toLong, v.toLong) }, 4), 4, "ints")
    // ids near Long.MaxValue: the distributed argmax negates labels
    val big = Long.MaxValue
    val bigEs = Seq((big, big - 1), (big - 1, big - 2), (big - 2, big),
      (big - 2, big - 3), (big - 3, 0L))
    check(bigEs.toDF("src", "dst"), reference(bigEs, 4), 4, "near max")
    // an empty edge frame labels nothing
    check(Seq.empty[(Long, Long)].toDF("src", "dst"), Map.empty, 4, "empty")
  }

  test("ssspWeighted equals reference bounded Bellman-Ford on random graphs") {
    samples(graphGen, 8).foreach { es =>
      val edges = es.toDF("src", "dst")
        .withColumn("weight",
          org.apache.spark.sql.functions.expr("1 + (src + dst) % 7"))
      val seeds = Seq(1L, 2L)
      val maxRounds = 3
      val got = graft.operators.ScaleOps
        .ssspWeighted(edges, seeds.toDF("node"), maxRounds)
        .as[(Long, Long)].collect().toMap
      // reference: full (unpruned) Bellman-Ford rounds over the deduped
      // undirected adjacency — dist after k rounds = min over ≤k-edge
      // paths, the exact bounded semantics the operator claims
      val adj = es.flatMap { case (u, v) =>
          Seq((u, v, 1L + (u + v) % 7), (v, u, 1L + (u + v) % 7)) }
        .filter { case (u, v, _) => u != v }
        .groupBy(t => (t._1, t._2)).map { case ((u, v), g) =>
          (u, v, g.map(_._3).min) }.toList
      var ref = seeds.map(_ -> 0L).toMap
      for (_ <- 1 to maxRounds) {
        val relax = adj.flatMap { case (u, v, w) =>
          ref.get(u).map(d => v -> (d + w)) }
          .groupBy(_._1).map { case (n, g) => n -> g.map(_._2).min }
        ref = (ref.keySet ++ relax.keySet).map { n =>
          n -> math.min(ref.getOrElse(n, Long.MaxValue),
            relax.getOrElse(n, Long.MaxValue))
        }.toMap
      }
      assert(got == ref, s"edges=$es")
    }
  }

  test("bfsLevels equals reference BFS distances on random graphs") {
    samples(graphGen, 8).foreach { es =>
      val edges = es.toDF("src", "dst")
      val seeds = Seq(1L, 2L)
      val maxLevel = 3
      val got = graft.operators.ScaleOps
        .bfsLevels(edges, seeds.toDF("node"), maxLevel)
        .as[(Long, Int)].collect().toMap
      // reference BFS over the undirected adjacency (self-loops dropped)
      val adj = es.flatMap { case (u, v) => Seq((u, v), (v, u)) }
        .filter { case (u, v) => u != v }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      var ref = seeds.map(_ -> 0).toMap
      var frontier = seeds.toSet
      for (l <- 1 to maxLevel) {
        frontier = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
          .diff(ref.keySet)
        ref = ref ++ frontier.map(_ -> l)
      }
      assert(got == ref, s"edges=$es")
    }
  }
}
