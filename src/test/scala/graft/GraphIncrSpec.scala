package graft

import org.apache.spark.sql.functions._
import graft.etl.EventsEtl
import graft.ops.PageRank

/** PageRank power iteration and incremental aggregate maintenance. */
class GraphIncrSpec extends SparkSpec {

  test("pagerank covers every graph node and conserves bounded integer mass") {
    val rows = PageRank.pageRank(spark, sfDir).collect()
    val li = graft.sources.Tables.lineitem(spark, sfDir)
    val ord = graft.sources.Tables.orders(spark, sfDir)
    val nNodes = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .agg(countDistinct("c") + countDistinct("s")).head().getLong(0)
    assert(rows.length == nNodes)
    // every integral floor only LOSES mass: total stays in (0.5, 1]×10^12
    val mass = rows.map(_.getAs[Long]("rank")).sum
    assert(mass <= PageRank.TotalMass && mass > PageRank.TotalMass / 2, s"mass $mass")
    assert(rows.forall(_.getAs[Long]("rank") > 0))
    // suppliers (odd ids) are the high-degree side of the bipartite
    // walk: their average rank must dominate the customer average
    val (supp, cust) = rows.partition(r => r.getAs[Long]("node") % 2 == 1)
    val avgS = supp.map(_.getAs[Long]("rank")).sum / supp.length
    val avgC = cust.map(_.getAs[Long]("rank")).sum / cust.length
    assert(avgS > 2 * avgC, s"supplier avg $avgS vs customer avg $avgC")
  }

  test("bfs distances satisfy the shortest-path edge inequality") {
    val (bfs, rounds) = PageRank.bfsHopsRounds(spark, sfDir)
    val rows = bfs.collect()
    val dist = rows.map(r => r.getAs[Long]("node") -> r.getAs[Long]("dist")).toMap
    val seeds = graft.sources.Tables.customer(spark, sfDir)
      .filter(col("c_nationkey") === 0)
      .select((col("c_custkey") * 2).as("node")).collect()
      .map(_.getAs[Long]("node")).toSet
    assert(seeds.nonEmpty && seeds.forall(dist.get(_).contains(0L)))
    assert(rows.exists(_.getAs[Long]("dist") > 0), "BFS never left the seeds")
    // every edge connects distances differing by at most 1 (both ends
    // reached), and no reached node is closer than a neighbor - 1
    val li = graft.sources.Tables.lineitem(spark, sfDir)
    val ord = graft.sources.Tables.orders(spark, sfDir)
    val edges = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct().collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst")))
    for ((u, v) <- edges; du <- dist.get(u); dv <- dist.get(v))
      assert(math.abs(du - dv) <= 1, s"edge ($u,$v) dists $du,$dv")
    // a node at dist d>0 must have SOME neighbor at d-1
    val nbrs = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    for ((n, d) <- dist if d > 0 && d < PageRank.BfsMaxHops.toLong)
      assert(nbrs(n).exists(m => dist.get(m).contains(d - 1)), s"node $n orphan at $d")
    // r12 early exit: the dense bipartite graph saturates well inside
    // the hop budget, so the loop must have stopped at the first empty
    // frontier (max observed dist + the one probe round that found it
    // empty) instead of running all BfsMaxHops rounds. The distance
    // assertions above pin that stopping early changed nothing.
    val maxD = rows.map(_.getAs[Long]("dist")).max
    assert(rounds == maxD + 1 || rounds == PageRank.BfsMaxHops,
      s"ran $rounds rounds, max dist $maxD")
    assert(maxD < PageRank.BfsMaxHops, "fixture graph should saturate early")
    assert(rounds < PageRank.BfsMaxHops, "early exit never fired")
  }

  test("weighted shortest path equals sequential Bellman-Ford at 6 rounds") {
    val li = graft.sources.Tables.lineitem(spark, sfDir)
    val ord = graft.sources.Tables.orders(spark, sfDir)
    val e0 = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .agg(countDistinct("l_orderkey").as("cnt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), 1L + 1000000L / r.getLong(2)))
    val edges = e0 ++ e0.map(e => (e._2, e._1, e._3))
    val seeds = graft.sources.Tables.customer(spark, sfDir)
      .filter(col("c_nationkey") === 0)
      .select((col("c_custkey") * 2).as("node")).collect()
      .map(_.getLong(0)).toSet
    var dist = seeds.map(_ -> 0L).toMap
    // sequential reference runs ALL SpRounds unconditionally; the round
    // where it first stops changing is the fixed point the engine's r12
    // early exit must detect (and stopping there is provably the same
    // answer — that is what the equality assertion below pins)
    var seqConverge = PageRank.SpRounds
    for (k <- 1 to PageRank.SpRounds) {
      val next = scala.collection.mutable.Map(dist.toSeq: _*)
      for ((u, v, w) <- edges; du <- dist.get(u)) {
        val cand = du + w
        if (!next.contains(v) || next(v) > cand) next(v) = cand
      }
      if (next.toMap == dist && k < seqConverge) seqConverge = k
      dist = next.toMap
    }
    val exp = dist.toSeq.sortBy(_._1)
    val (sp, rounds) = PageRank.shortestPathRounds(spark, sfDir)
    val got = sp.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == exp)
    assert(rounds == seqConverge,
      s"engine ran $rounds rounds, sequential fixed point at $seqConverge")
    assert(exp.exists(_._2 > 0), "never left the seeds")
    // weighted distances refine hops: any reached node is BFS-reachable
    val hops = PageRank.bfsHops(spark, sfDir).collect()
      .map(r => r.getLong(0)).toSet
    assert(dist.keySet == hops)
  }

  test("merged base+delta partials equal the one-shot aggregate exactly") {
    val merged = EventsEtl.incrementalAgg(spark, sfDir).collect().toSeq
    val oneShot = graft.sources.Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts").cast("date").as("d"),
        unix_micros(col("ts")).as("ts_us"),
        round(col("value") * 100).cast("long").as("vc"))
      .groupBy("event_type", "d")
      .agg(count(lit(1)).as("n"), sum("vc").as("sum_cents"),
        min("ts_us").as("first_us"), max("ts_us").as("last_us"))
      .orderBy("event_type", "d").collect().toSeq
    assert(merged == oneShot && merged.nonEmpty)
    // the delta split is genuinely non-trivial on this data
    val delta = graft.sources.Tables.events(spark, sfDir)
      .filter(pmod(col("event_id"), lit(10)) === 0).count()
    assert(delta > 0)
  }
}
