package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Queries.Q

/** Relational / warehouse operators beyond [[QueriesWarehouse]]'s sink
  * shapes: wide→long reshape (unpivot), referential-integrity anti join,
  * batch MERGE of a changelog, blocked fuzzy record linkage, and exact
  * triangle counting on a co-occurrence graph. Each is a capability a
  * 100 TB lakehouse pipeline reaches for weekly; none needs more than
  * equi-joins + aggregates, so every one of them is fully
  * oracle-checkable in ANSI SQL.
  */
object QueriesRelational {

  // ------------------------------------------------------- unpivot (melt)
  // The wide→long reshape (pandas `melt`, SQL UNPIVOT): the OHLCV frame's
  // four price columns become (field, value) rows — the layout feature
  // stores and long-format plotting/ML consumers want. Spark plans
  // unpivot as a single Expand (each input row replicated once per value
  // column, same operator the rollup key pins) — ONE scan whatever the
  // arity, no join, no shuffle until the presentation sort. Values pass
  // through untouched (no arithmetic), so doubles hash-match bitwise.
  private val unpivotQ = Q(
    (s, dir) =>
      Tables.ohlcv(s, dir)
        .unpivot(
          Array(col("symbol"), col("trading_date"), col("l_orderkey"),
            col("l_linenumber"), col("l_partkey"), col("l_suppkey")),
          Array(col("open"), col("high"), col("low"), col("close")),
          "field", "value")
        .orderBy(col("symbol"), col("trading_date"), col("l_orderkey"),
          col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          col("field")),
    Some(
      s"""WITH base AS (${Tables.ohlcvSql}),
         | long AS (
         |  SELECT symbol, trading_date, l_orderkey, l_linenumber,
         |         l_partkey, l_suppkey, 'open' AS field, open AS value FROM base
         |  UNION ALL
         |  SELECT symbol, trading_date, l_orderkey, l_linenumber,
         |         l_partkey, l_suppkey, 'high', high FROM base
         |  UNION ALL
         |  SELECT symbol, trading_date, l_orderkey, l_linenumber,
         |         l_partkey, l_suppkey, 'low', low FROM base
         |  UNION ALL
         |  SELECT symbol, trading_date, l_orderkey, l_linenumber,
         |         l_partkey, l_suppkey, 'close', close FROM base)
         | SELECT * FROM long
         | ORDER BY symbol, trading_date, l_orderkey, l_linenumber,
         |          l_partkey, l_suppkey, field""".stripMargin))

  // ------------------------------------------- referential-integrity anti
  // The data-quality sweep every ingest runs: facts whose expected
  // detail rows are absent. Here: orders with NO high-quantity
  // (≥ 45) lineitem — a NOT EXISTS with a correlated predicate, planned
  // as build-side-pre-aggregated LEFT ANTI. The build side is first
  // filtered AND key-distinct'd, so the anti join probes the smallest
  // possible hash set; at 100 TB the distinct key set is a fraction of
  // the detail table and AQE can broadcast it outright. No count-based
  // outer-join-then-filter detour, no driver collection.
  private val antiJoinQ = Q(
    (s, dir) => {
      val bigLines = Tables.lineitem(s, dir)
        .filter(col("l_quantity") >= 45.0)
        .select(col("l_orderkey")).distinct()
      Tables.orders(s, dir)
        .join(bigLines,
          col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"))
        .orderBy(col("o_orderkey"))
    },
    Some(
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       o_orderdate
        | FROM orders o
        | WHERE NOT EXISTS (SELECT 1 FROM lineitem l
        |   WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45.0)
        | ORDER BY o_orderkey""".stripMargin))

  // ---------------------------------------------------- batch MERGE apply
  // operators.MergeUpsert.applyChangelog over an order-derived state
  // table: the snapshot is each customer's latest order state before the
  // 1997-01-01 cutoff; the changelog is the latest post-cutoff order per
  // customer, read as an upsert — or, for customers whose latest order
  // closed (status 'F'), a delete. Latest-wins collapse on BOTH sides is
  // the max(struct(...)) idiom over the unique (o_orderdate, o_orderkey)
  // order, so the oracle's ROW_NUMBER() DESC picks the identical row.
  // One full-outer shuffle applies the whole log; see the operator
  // scaladoc for the 100 TB story.
  private val mergeUpsertQ = Q(
    (s, dir) => {
      val cutoff = lit("1997-01-01").cast(TimestampType)
      def latest(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("o_custkey"))
        .agg(max(struct(col("o_orderdate"), col("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"))).as("_m"))
        .select(col("o_custkey"), col("_m.o_orderkey").as("o_orderkey"),
          col("_m.o_orderstatus").as("status"),
          col("_m.o_totalprice").as("o_totalprice"),
          col("_m.o_orderdate").as("o_orderdate"))
      val orders = Tables.orders(s, dir)
      val target = latest(orders.filter(col("o_orderdate") < cutoff))
      val changes = latest(orders.filter(col("o_orderdate") >= cutoff))
        .withColumn("op",
          when(col("status") === "F", lit("D")).otherwise(lit("U")))
      operators.MergeUpsert
        .applyChangelog(target, changes, Seq("o_custkey"), "op")
        .orderBy(col("o_custkey"))
    },
    Some(
      """WITH tgt AS (
        |  SELECT o_custkey, o_orderkey, o_orderstatus AS status,
        |         o_totalprice, o_orderdate
        |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate DESC, o_orderkey DESC) = 1),
        | chg AS (
        |  SELECT o_custkey, o_orderkey, o_orderstatus AS status,
        |         o_totalprice, o_orderdate,
        |         CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate DESC, o_orderkey DESC) = 1)
        | SELECT COALESCE(t.o_custkey, c.o_custkey) AS o_custkey,
        |  CASE WHEN c.op = 'U' THEN c.o_orderkey ELSE t.o_orderkey END AS o_orderkey,
        |  CASE WHEN c.op = 'U' THEN c.status ELSE t.status END AS status,
        |  CASE WHEN c.op = 'U' THEN c.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
        |  CASE WHEN c.op = 'U' THEN c.o_orderdate ELSE t.o_orderdate END AS o_orderdate
        | FROM tgt t FULL OUTER JOIN chg c ON t.o_custkey = c.o_custkey
        | WHERE c.op IS NULL OR c.op = 'U'
        | ORDER BY o_custkey""".stripMargin))

  // ------------------------------------------------- fuzzy record linkage
  // Blocked edit-distance self-linkage over the part-name dimension —
  // the record-linkage shape behind vendor/product/entity dedup when
  // names drift. The blocking key (the name's noun token) turns the
  // quadratic all-pairs problem into per-block equi-join groups, and the
  // expensive distance function runs ONLY on block-colocated pairs —
  // the same never-all-pairs stance as the MinHash banding family, with
  // a plain string key instead of a signature. levenshtein() is
  // codegen'd; the ≤ 3 cutoff and a < b dedup keep output linear in the
  // block sizes. At 100 TB: names dim ≪ facts, blocks bound the fanout,
  // and a skewed block is exactly the salted_join precedent.
  private val fuzzyJoinQ = Q(
    (s, dir) => {
      val names = Tables.part(s, dir).select(col("p_name")).distinct()
        .select(col("p_name"),
          expr("split_part(p_name, ' ', 2)").as("blk"))
      val a = names.select(col("p_name").as("name_a"), col("blk"))
      val b = names.select(col("p_name").as("name_b"), col("blk"))
      a.join(b, Seq("blk"))
        .filter(col("name_a") < col("name_b"))
        .select(col("name_a"), col("name_b"),
          levenshtein(col("name_a"), col("name_b"))
            .cast(IntegerType).as("edit_dist"))
        .filter(col("edit_dist") <= 3)
        .orderBy(col("name_a"), col("name_b"))
    },
    Some(
      """WITH names AS (SELECT DISTINCT p_name,
        |   split_part(p_name, ' ', 2) AS blk FROM part)
        | SELECT a.p_name AS name_a, b.p_name AS name_b,
        |   CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist
        | FROM names a JOIN names b
        |   ON a.blk = b.blk AND a.p_name < b.p_name
        | WHERE levenshtein(a.p_name, b.p_name) <= 3
        | ORDER BY name_a, name_b""".stripMargin))

  // ------------------------------------- shared urgent co-occurrence graph
  // Parts sharing an urgent order are connected — the ONE graph both the
  // triangle and BFS keys (and their oracles' shared CTE text) are
  // defined on; a single builder keeps the two keys' graphs from ever
  // desynchronizing.
  private def urgentCoOccurrenceEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val urgent = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val li = Tables.lineitem(s, dir)
      .join(urgent, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_partkey"))
    val a = li.select(col("l_orderkey"), col("l_partkey").as("src"))
    val b = li.select(col("l_orderkey"), col("l_partkey").as("dst"))
    a.join(b, Seq("l_orderkey"))
      .filter(col("src") < col("dst"))
      .select(col("src"), col("dst")).distinct()
  }

  private val coGraphCtes =
    """li AS (
      |  SELECT l.l_orderkey, l.l_partkey
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  WHERE o.o_orderpriority = '1-URGENT'),
      | pairs AS (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM li a JOIN li b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)""".stripMargin

  // -------------------------------------------------------- triangle count
  // operators.ScaleOps.triangleCount over the urgent co-occurrence graph:
  // exact global triangle count by degree-ordered orientation — wedge
  // volume bounded by m^1.5 instead of Σd², see the operator scaladoc.
  // The oracle restates the identical orientation rule, so the single
  // (n_nodes, n_edges, n_triangles) row hash-matches exactly.
  private val triangleQ = Q(
    (s, dir) => operators.ScaleOps.triangleCount(urgentCoOccurrenceEdges(s, dir)),
    Some(
      s"""WITH $coGraphCtes,
        | deg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS d
        |  FROM (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
        |  GROUP BY node),
        | ori AS (
        |  SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v)
        |              THEN u ELSE v END AS s,
        |         CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v)
        |              THEN v ELSE u END AS t
        |  FROM pairs JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v)
        | SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
        |        (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
        |        CAST(count(*) AS BIGINT) AS n_triangles
        | FROM ori e1
        |   JOIN ori e2 ON e1.t = e2.s
        |   JOIN ori e3 ON e3.s = e1.s AND e3.t = e2.t""".stripMargin))

  // ------------------------------------------------------ bounded BFS
  // operators.ScaleOps.bfsLevels over the same urgent co-occurrence
  // graph: minimum hop distance (≤ 3) from the Brand#11 part set — the
  // blast-radius / neighborhood-expansion query. Level-synchronous
  // frontier joins on the engine side; the oracle restates BFS as a
  // depth-capped recursive CTE with MIN(level) per node (recursive
  // UNION dedups (node, level) pairs, the level cap bounds the walk,
  // and min-over-levels IS the BFS distance). Isolated seeds count at
  // level 0 on both sides.
  private val bfsQ = Q(
    (s, dir) => {
      val seeds = Tables.part(s, dir)
        .filter(col("p_brand") === "Brand#11")
        .select(col("p_partkey").as("node"))
      operators.ScaleOps
        .bfsLevels(urgentCoOccurrenceEdges(s, dir), seeds, maxLevel = 3)
        .orderBy(col("node"))
    },
    Some(
      s"""WITH RECURSIVE $coGraphCtes,
        | und AS (SELECT u AS a, v AS b FROM pairs
        |         UNION ALL SELECT v, u FROM pairs),
        | seeds AS (SELECT DISTINCT p_partkey AS node FROM part
        |           WHERE p_brand = 'Brand#11'),
        | walk(node, level) AS (
        |  SELECT node, 0 FROM seeds
        |  UNION
        |  SELECT u.b, w.level + 1 FROM walk w JOIN und u ON u.a = w.node
        |  WHERE w.level < 3)
        | SELECT node, CAST(MIN(level) AS INT) AS level
        | FROM walk GROUP BY node ORDER BY node""".stripMargin))

  // --------------------------------------------- weighted shortest paths
  // The graph family's fifth primitive — distance with real edge costs
  // (equivalence = CC, centrality = PageRank, cohesion = triangles,
  // community = LPA, reach = BFS): operators.ScaleOps.ssspWeighted over
  // the same urgent co-occurrence graph with deterministic integer
  // weights 1 + (u+v) mod 7. Level-synchronous Bellman-Ford rounds with
  // frontier pruning on the engine side; because dist after round k is
  // EXACTLY the min over ≤k-edge paths, the oracle restates the bounded
  // form as a depth-capped recursive walk accumulating path weight with
  // MIN(dist) per node — same shape as the BFS oracle plus a weight
  // column. Isolated seeds sit at dist 0 on both sides.
  private val ssspQ = Q(
    (s, dir) => {
      val seeds = Tables.part(s, dir)
        .filter(col("p_brand") === "Brand#12")
        .select(col("p_partkey").as("node"))
      val edges = urgentCoOccurrenceEdges(s, dir)
        .withColumn("weight", lit(1L) + (col("src") + col("dst")) % 7)
      operators.ScaleOps.ssspWeighted(edges, seeds, maxRounds = 3)
        .orderBy(col("node"))
    },
    Some(
      s"""WITH RECURSIVE $coGraphCtes,
        | und AS (SELECT u AS a, v AS b, 1 + (u + v) % 7 AS w FROM pairs
        |         UNION ALL SELECT v, u, 1 + (u + v) % 7 FROM pairs),
        | seeds AS (SELECT DISTINCT p_partkey AS node FROM part
        |           WHERE p_brand = 'Brand#12'),
        | walk(node, dist, steps) AS (
        |  SELECT node, CAST(0 AS BIGINT), 0 FROM seeds
        |  UNION
        |  SELECT u.b, w.dist + u.w, w.steps + 1
        |  FROM walk w JOIN und u ON u.a = w.node
        |  WHERE w.steps < 3)
        | SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
        | FROM walk GROUP BY node ORDER BY node""".stripMargin))

  // ----------------------------------------------- RANGE-interval window
  // The calendar-time window every ROWS frame in the inventory cannot
  // express: 30-day rolling volume per symbol over an IRREGULAR trading
  // calendar — "last 30 rows" is wrong across gaps; "last 30 days" is
  // what risk/liquidity metrics mean. Spark needs a numeric RANGE order
  // key, so the date becomes epoch-days (unix_date) with a [-29, 0]
  // frame; the oracle states the identical integer day arithmetic.
  // RANGE frames are also tie-INsensitive (all peers of the current
  // value are always in-frame), so same-day rows need no tiebreaker for
  // the sums to be deterministic — integer volume sums stay exact.
  // Plan: ONE exchange on symbol feeds one WindowExec, same shape as
  // the ROWS indicator family.
  private val rangeWindowQ = Q(
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("symbol"))
        .orderBy(col("_d"))
        .rangeBetween(-29, 0)
      Tables.ohlcv(s, dir)
        .withColumn("_d", unix_date(to_date(col("trading_date"))))
        .withColumn("vol_sum_30d", sum(col("volume")).over(w))
        .withColumn("n_30d", count(lit(1)).over(w))
        .select(col("symbol"), col("trading_date"), col("l_orderkey"),
          col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          col("volume"), col("vol_sum_30d"), col("n_30d"))
        .orderBy(col("symbol"), col("trading_date"), col("l_orderkey"),
          col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
    },
    Some(
      s"""WITH base AS (${Tables.ohlcvSql}),
         | d AS (SELECT *, CAST(CAST(trading_date AS DATE) - DATE '1970-01-01'
         |   AS BIGINT) AS _d FROM base)
         | SELECT symbol, trading_date, l_orderkey, l_linenumber, l_partkey,
         |  l_suppkey, volume,
         |  CAST(SUM(volume) OVER (PARTITION BY symbol ORDER BY _d
         |    RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS vol_sum_30d,
         |  CAST(COUNT(*) OVER (PARTITION BY symbol ORDER BY _d
         |    RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_30d
         | FROM d
         | ORDER BY symbol, trading_date, l_orderkey, l_linenumber,
         |  l_partkey, l_suppkey""".stripMargin))

  // -------------------------------------------------------- star join
  // The canonical OLAP star: fact (lineitem) against FIVE dimension
  // edges, with nation role-playing twice (the customer's nation→region
  // and the supplier's nation) — the TPC-H Q5 family re-cut to this
  // testdata's dimension spread. Revenue is decimal-exact end-to-end
  // (rule 1: DECIMAL casts before the product, exact decimal sum, ONE
  // final cast to double), so the 50-group result hash-matches bitwise.
  //
  // 100 TB shape: every dimension here is broadcast-sized (region 5,
  // nation 25, supplier/customer ≪ fact), so the plan must be a chain
  // of BroadcastHashJoins over a single fact scan with the date filter
  // pushed down — zero shuffles until the final 50-group aggregate.
  // Catalyst derives that freely from the declarative join graph;
  // PlanSpec pins it (≥4 broadcasts, no fact-side SMJ on dim edges).
  private val starJoinQ = Q(
    (s, dir) => {
      val rev = (col("l_extendedprice").cast(DecimalType(12, 2)) *
        (lit(1).cast(DecimalType(3, 2)) -
          col("l_discount").cast(DecimalType(3, 2))))
      val nationC = Tables.nation(s, dir)
        .select(col("n_nationkey").as("nc_key"), col("n_regionkey"))
      val nationS = Tables.nation(s, dir)
        .select(col("n_nationkey").as("ns_key"), col("n_name").as("supp_nation"))
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir)
            .filter(col("o_orderdate") >= lit("1996-01-01").cast(TimestampType) &&
              col("o_orderdate") < lit("1998-01-01").cast(TimestampType)),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(nationC, col("c_nationkey") === col("nc_key"))
        .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(nationS, col("s_nationkey") === col("ns_key"))
        .groupBy(col("r_name").as("cust_region"), col("supp_nation"))
        .agg(count(lit(1)).as("n_rows"),
          sum(rev).cast(DoubleType).as("revenue"))
        .orderBy(col("cust_region"), col("supp_nation"))
    },
    Some(
      """SELECT r.r_name AS cust_region, ns.n_name AS supp_nation,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |    (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2))))
        |    AS DOUBLE) AS revenue
        | FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation nc ON c.c_nationkey = nc.n_nationkey
        |  JOIN region r ON nc.n_regionkey = r.r_regionkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN nation ns ON s.s_nationkey = ns.n_nationkey
        | WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
        |   AND o.o_orderdate < TIMESTAMP '1998-01-01'
        | GROUP BY 1, 2
        | ORDER BY cust_region, supp_nation""".stripMargin))

  // ------------------------------------------- approximate triangle count
  // DOULION (Tsourakakis et al., KDD'09): count triangles on an
  // edge-SAMPLED graph and scale by 1/p³ — the standard scale path when
  // the exact wedge shuffle is too expensive. Sampling here is
  // DETERMINISTIC (md5 bucket of the edge key, p = 1/4), which buys two
  // things at once: the 100 TB property that re-runs and retries see the
  // same subgraph, and a bitwise DuckDB oracle for an *approximation* —
  // the oracle replays the identical sampled subgraph and orientation,
  // so even the estimator is hash-green rather than ⊘.
  private val triangleApproxQ = Q(
    (s, dir) => {
      val edges = urgentCoOccurrenceEdges(s, dir)
        .filter(conv(substring(md5(concat(lit("te|"),
            col("src").cast(StringType), lit(":"),
            col("dst").cast(StringType))), 1, 8), 16, 10)
          .cast(LongType) % 4 === 0)
      operators.ScaleOps.triangleCount(edges)
        .select(col("n_nodes").as("n_sampled_nodes"),
          col("n_edges").as("n_sampled_edges"),
          col("n_triangles").as("tri_sampled"),
          (col("n_triangles") * lit(64L)).as("tri_estimate"))
    },
    Some(
      s"""WITH $coGraphCtes,
        | sampled AS (
        |  SELECT u, v FROM pairs
        |  WHERE CAST(('0x' || substr(md5('te|' || u || ':' || v), 1, 8))
        |    AS BIGINT) % 4 = 0),
        | deg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS d
        |  FROM (SELECT u AS node FROM sampled UNION ALL SELECT v FROM sampled)
        |  GROUP BY node),
        | ori AS (
        |  SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v)
        |              THEN u ELSE v END AS s,
        |         CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND u < v)
        |              THEN v ELSE u END AS t
        |  FROM sampled JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v),
        | tri AS (
        |  SELECT CAST(count(*) AS BIGINT) AS tri_sampled
        |  FROM ori e1
        |   JOIN ori e2 ON e1.t = e2.s
        |   JOIN ori e3 ON e3.s = e1.s AND e3.t = e2.t)
        | SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_sampled_nodes,
        |        (SELECT CAST(count(*) AS BIGINT) FROM sampled) AS n_sampled_edges,
        |        tri_sampled, tri_sampled * 64 AS tri_estimate
        | FROM tri""".stripMargin))

  // ------------------------------------------ label propagation communities
  // The graph family's fourth primitive (equivalence = CC, centrality =
  // PageRank, cohesion = triangles, community = LPA):
  // operators.ScaleOps.labelPropagation over the same urgent
  // co-occurrence graph — the deterministic min-label-tie-break
  // synchronous variant, so the oracle can replay the unrolled rounds
  // (neighbor-label frequency argmax per node per round) and the full
  // community assignment hash-matches, not just summary stats. Four
  // bounded rounds; this graph's adjacency is far under
  // ScaleOps.DriverGraphEdgeCap, so they run on the driver after the one
  // probe job that materializes the adjacency (above the cap they run as
  // distributed join/aggregate rounds, with the same answer).
  private val labelPropIterations = 4
  private val labelPropQ = Q(
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("label"))
      operators.ScaleOps
        .labelPropagation(urgentCoOccurrenceEdges(s, dir),
          iterations = labelPropIterations)
        .select(col("node"), col("label").as("community"),
          count(lit(1)).over(w).as("community_size"))
        .orderBy(col("node"))
    },
    Some {
      val iters = (1 to labelPropIterations).map { i =>
        s"""c$i AS (SELECT u.a AS node, p.label, COUNT(*) AS cnt
           |  FROM und u JOIN lp${i - 1} p ON p.node = u.b GROUP BY 1, 2),
           | lp$i AS (SELECT node, label FROM (
           |   SELECT node, label, row_number() OVER (
           |     PARTITION BY node ORDER BY cnt DESC, label ASC) AS rn
           |   FROM c$i) WHERE rn = 1)""".stripMargin
      }.mkString(",\n ")
      s"""WITH $coGraphCtes,
         | und AS (SELECT u AS a, v AS b FROM pairs
         |         UNION ALL SELECT v, u FROM pairs),
         | lp0 AS (SELECT DISTINCT a AS node, a AS label FROM und),
         | $iters
         |SELECT node, label AS community,
         | CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT) AS community_size
         |FROM lp$labelPropIterations ORDER BY node""".stripMargin
    })

  val all: Map[String, Q] = Map(
    "unpivot_long" -> unpivotQ,
    "anti_join_orphans" -> antiJoinQ,
    "merge_upsert" -> mergeUpsertQ,
    "fuzzy_join" -> fuzzyJoinQ,
    "triangle_count" -> triangleQ,
    "triangle_count_approx" -> triangleApproxQ,
    "bfs_levels" -> bfsQ,
    "label_prop" -> labelPropQ,
    "sssp_weighted" -> ssspQ,
    "range_window" -> rangeWindowQ,
    "star_join" -> starJoinQ
  )
}
