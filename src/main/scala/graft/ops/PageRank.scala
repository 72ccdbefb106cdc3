package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** PageRank by power iteration over the customer↔supplier trade graph
  * (distinct (o_custkey, l_suppkey) pairs, made symmetric; node ids
  * disambiguated as cust·2 / supp·2+1).
  *
  * Deterministic-by-construction so the whole iteration is EXACTLY
  * oracle-able (a recursive CTE recomputes it): rank mass is an
  * integer (10^12 total), each edge contribution is the integral
  * division (rank·85) div (100·outdeg), and integer sums are
  * order-independent — no floating-point accumulation, so 1000
  * executors and DuckDB agree bit-for-bit, iteration by iteration.
  *
  * Scale shape (same discipline as the CC loop, TextOps.scala): the
  * edge list (with outdeg folded in) is computed once, cached, and
  * co-partitioned on src; each of the 10 rounds shuffles only the
  * n_nodes-row rank vector into it, and a periodic localCheckpoint
  * stops lineage/plan doubling. The only driver action is the scalar
  * node count that fixes the teleport constant.
  */
object PageRank {
  val Iterations = 10
  val TotalMass = 1000000000000L // 10^12 integer rank units

  /** Symmetric trade-graph edge list: distinct (cust·2, supp·2+1)
    * pairs plus their reversals. No distinct after the union — forward
    * rows are (even, odd) and reversed rows (odd, even), disjoint
    * sets, each already distinct. */
  private def symmetricEdges(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val e0 = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Degree distribution of the trade graph by side — the structural
    * profile read before running anything iterative on a graph (hub
    * detection, skew planning for the PageRank join). Two map-side-
    * combinable aggregations, nothing else. */
  def degreeDist(spark: SparkSession, dir: String): DataFrame =
    symmetricEdges(spark, dir)
      .groupBy("src").agg(count(lit(1)).as("degree"))
      .select(when(col("src") % 2 === 0, lit("customer"))
        .otherwise(lit("supplier")).as("side"), col("degree"))
      .groupBy("side", "degree").agg(count(lit(1)).as("n_nodes"))
      .orderBy("side", "degree")

  val BfsMaxHops = 6

  /** Level-synchronous BFS: minimum hop distance (≤ 6) from the seed
    * set (nation-0 customers) to every reachable trade-graph node —
    * the reachability/blast-radius primitive. Each round expands ONLY
    * the new frontier (anti-join against nodes already reached, which
    * is exactly the BFS invariant: a node seen earlier can never get a
    * smaller distance later), so per-round work is frontier×degree,
    * not graph×degree. The dense bipartite graph saturates in a few
    * hops, keeping late frontiers empty. Distances are small exact
    * integers — the bounded recursive-CTE oracle reproduces them
    * bit-for-bit. */
  def bfsHops(spark: SparkSession, dir: String): DataFrame =
    bfsHopsRounds(spark, dir)._1

  /** [[bfsHops]] plus the number of hop rounds the loop executed
    * (spec hook pinning that the early exit fires). */
  private[graft] def bfsHopsRounds(spark: SparkSession, dir: String): (DataFrame, Int) = {
    val edges = symmetricEdges(spark, dir)
      .repartition(col("src"))
      .persist()
    val seeds = Tables.customer(spark, dir)
      .filter(col("c_nationkey") === 0)
      .select((col("c_custkey") * 2).as("node"))
      .distinct()
    // seed ids not in the graph still get dist 0 in the oracle's seed
    // anchor; keep the same contract (BFS FROM them finds nothing
    // because their edges don't exist)
    var reached = seeds.select(col("node"), lit(0L).as("dist")).localCheckpoint()
    var frontier = reached
    var hop = 1
    var saturated = false
    while (hop <= BfsMaxHops && !saturated) {
      val next = edges.join(frontier.hint("SHUFFLE_HASH"), col("src") === col("node"))
        .select(col("dst").as("node")).distinct()
        .join(reached.select("node"), Seq("node"), "left_anti")
        .select(col("node"), lit(hop.toLong).as("dist"))
        .localCheckpoint() // frontier is reused twice (union + next expansion)
      // EARLY EXIT (r12): an empty frontier is the BFS fixed point —
      // every later hop expands nothing, so skipping the remaining
      // rounds is provably output-identical (the dense bipartite graph
      // saturates in ~3 hops, and each skipped hop is a full
      // join+distinct+anti-join job over an empty frontier). isEmpty
      // is a limit-1 read of the just-checkpointed blocks.
      if (next.isEmpty) saturated = true
      else {
        reached = reached.unionByName(next)
        frontier = next
      }
      hop += 1
    }
    edges.unpersist(blocking = false)
    (reached.orderBy("node"), hop - 1)
  }

  // Measured tuning note (sf0.1, local[32]): disabling AQE for the
  // round loop was tried and is ~25% SLOWER at 32 shuffle partitions —
  // AQE's partition coalescing on the per-round aggregations is what
  // keeps the vertex-sized shuffles from paying 32 near-empty tasks
  // each. Keep AQE on; the remaining cost is the 10 synchronous
  // stage barriers, inherent to power iteration and amortized at
  // real scale (10× edges costs only 1.6×).
  def pageRank(spark: SparkSession, dir: String): DataFrame =
    powerIterate(symmetricEdges(spark, dir)).orderBy("node")

  /** The iteration loop over an arbitrary symmetric (src, dst) edge
    * list — shared by the trade graph above and TextRank's word
    * co-occurrence graph (graft.text.TextRank); node ids may be any
    * orderable type (long trade nodes, string words). Returns
    * (node, rank) unordered. */
  private[graft] def powerIterate(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // one cached, src-partitioned structure reused by every round
    val adj = edges.join(deg, "src")
      .repartition(col("src"))
      .persist()
    // materialize the cache FIRST, then take the scalar node count off
    // it — counting deg directly would recompute the whole distinct
    // edge pipeline a second time (persist is lazy)
    val nodes = adj.select(col("src")).distinct()
    val nNodes = nodes.count()
    if (nNodes == 0) { // empty graph: nothing to rank
      adj.unpersist(blocking = false)
      return nodes.select(col("src").as("node"), lit(0L).as("rank"))
    }
    val teleport = (TotalMass * 15 / 100) / nNodes
    var ranks = nodes.select(col("src").as("node"), lit(TotalMass / nNodes).as("rank"))
    for (i <- 1 to Iterations) {
      // SHUFFLE_HASH on the rank vector: only the vertex-sized side
      // shuffles+builds; the cached edge side streams with NO per-round
      // sort (sort-merge would re-sort the adjacency all 10 rounds)
      ranks = adj.join(ranks.hint("SHUFFLE_HASH"), col("src") === col("node"))
        .select(col("dst"),
          expr("(rank * 85) div (100 * outdeg)").as("c"))
        .groupBy(col("dst").as("node2"))
        .agg((sum(col("c")) + lit(teleport)).as("rank"))
        .withColumnRenamed("node2", "node")
      // eager checkpoint every 5 rounds: caps lineage/compile depth
      // (one 10-join plan costs more in Catalyst than two 5-join jobs;
      // measured 8.2 s vs 5.2 s at sf0.1), and the final one pins the
      // result so adj can be dropped before the caller materializes
      if (i % 5 == 0) ranks = ranks.localCheckpoint()
    }
    adj.unpersist(blocking = false)
    ranks
  }

  /** Power iteration with the bounded-driver fast path — for graphs
    * that are STRUCTURALLY bounded regardless of corpus size (the
    * TextRank word graph: vocabulary saturates by Heaps' law, so its
    * distinct-bigram edge list stops growing long before the corpus
    * does — the same justification as DBSCAN's resolution-bounded cell
    * graph and IVF's bounded sample). Under the edge budget the pinned
    * edge list is collected once and iterated on the driver with the
    * IDENTICAL integer arithmetic (teleport = (M·15/100) div n, per-edge
    * contribution (rank·85) div (100·outdeg), integer sums — order-
    * independent, so the recursive-CTE oracle cannot tell the branches
    * apart); past the budget the distributed loop runs unchanged. NOT
    * used for the trade-graph PageRank, whose edge list scales with the
    * data — a cap there would make small-scale measurements
    * unrepresentative of the plan that runs at 100 TB.
    *
    * PRECONDITION (same as powerIterate, and load-bearing for branch
    * equivalence): the edge list must be SYMMETRIC — every (a, b) has
    * its (b, a). The driver path takes the node universe as distinct
    * src, the distributed loop's output set is distinct dst (its last
    * groupBy); only symmetry makes the two sets equal, so an
    * asymmetric caller would get different node sets depending on
    * which side of the edge cap its graph lands. Both in-repo callers
    * (trade graph, TextRank bigram graph) construct explicit
    * symmetric unions. */
  private[graft] def guardedPowerIterate(edges: DataFrame,
      edgeCap: Long = 2000000L): DataFrame = {
    import org.apache.spark.sql.types.{StructType, StructField, LongType}
    val spark = edges.sparkSession
    // fresh projection before .rdd: Dataset.rdd is a cached lazy val,
    // so checkpointing the CALLER's rdd in place would poison any later
    // use of the same frame (the unpersisted checkpoint blocks would be
    // the only way to recompute it)
    val edgesRdd = edges.select(col("src"), col("dst")).rdd.localCheckpoint()
    val n = edgesRdd.count()
    val out =
      if (n <= edgeCap) {
        val es = edgesRdd.collect().map(r => (r.get(0), r.get(1)))
        val outdeg = scala.collection.mutable.Map.empty[Any, Long]
        es.foreach { case (s, _) => outdeg(s) = outdeg.getOrElse(s, 0L) + 1L }
        val nodes = es.map(_._1).distinct
        val nNodes = nodes.length.toLong
        val schema = StructType(Seq(
          StructField("node", edges.schema.head.dataType),
          StructField("rank", LongType)))
        if (nNodes == 0)
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        else {
          val teleport = (TotalMass * 15 / 100) / nNodes
          var rank = nodes.map(_ -> TotalMass / nNodes).toMap
          for (_ <- 1 to Iterations) {
            val next = scala.collection.mutable.Map.empty[Any, Long]
            es.foreach { case (s, d) =>
              next(d) = next.getOrElse(d, 0L) + (rank(s) * 85) / (100L * outdeg(s))
            }
            rank = nodes.map(nd => nd -> (next.getOrElse(nd, 0L) + teleport)).toMap
          }
          spark.createDataFrame(
            spark.sparkContext.parallelize(
              rank.toSeq.map { case (nd, r) => org.apache.spark.sql.Row(nd, r) }, 4),
            schema)
        }
      } else powerIterate(spark.createDataFrame(edgesRdd, edges.schema))
    edgesRdd.unpersist(blocking = false)
    out
  }

  val SpRounds = 6

  /** Bounded weighted shortest path (Bellman-Ford, 6 synchronous
    * rounds) from the nation-0 customer seed set over the trade graph,
    * edge weight = 1 + 10⁶ div (shared-order count) — frequent trading
    * pairs are "close", so the distance is a supply-chain proximity
    * metric, the weighted twin of `bfsHops`. After k rounds the vector
    * is EXACTLY min path weight over ≤ k edges (the Bellman-Ford
    * invariant), so a bounded recursive-CTE oracle (with explicit
    * 0-weight self-loops standing in for the carry-forward min)
    * reproduces it bit-for-bit — all-integer weights, no FP.
    *
    * Scale shape (the repo's iterative discipline): the weighted edge
    * list is built once, src-partitioned and cached; each round
    * shuffles only the frontier-sized dist vector into it
    * (SHUFFLE_HASH — the cached side never re-sorts), relaxation is
    * union + min-aggregate (map-side combinable), and a per-round
    * localCheckpoint stops lineage doubling. No driver action at all. */
  def shortestPath(spark: SparkSession, dir: String): DataFrame =
    shortestPathRounds(spark, dir)._1

  /** [[shortestPath]] plus the number of relaxation rounds the loop
    * executed (spec hook pinning that the early exit fires). */
  private[graft] def shortestPathRounds(spark: SparkSession, dir: String): (DataFrame, Int) = {
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val e0 = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .agg(countDistinct(col("l_orderkey")).as("cnt"))
    val ew = e0.select(col("src"), col("dst"),
      expr("CAST(1 + 1000000 div cnt AS BIGINT)").as("w"))
    val edges = ew
      .unionByName(ew.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .repartition(col("src"))
      .persist()
    val seeds = Tables.customer(spark, dir)
      .filter(col("c_nationkey") === 0)
      .select((col("c_custkey") * 2).as("node"))
      .distinct()
    var dist = seeds.withColumn("dist", lit(0L)).localCheckpoint(true)
    // EARLY EXIT (r12): the Bellman-Ford vector is MONOTONE — the node
    // set only grows (the union keeps every prior node) and each dist
    // only decreases (min-aggregate) — so an unchanged (count, Σdist)
    // fingerprint proves the vector itself is unchanged, and an
    // unchanged vector is the fixed point: every later round recomputes
    // it bit-for-bit. Each fingerprint is one tiny aggregate over the
    // just-checkpointed vertex-sized blocks; each SKIPPED round is a
    // full edge-relaxation shuffle. Σdist stays far inside BIGINT
    // (dist ≤ rounds · max-weight ≈ 6·10⁶; even 10⁹ nodes keep the sum
    // under 10¹⁶).
    def fingerprint(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)), sum("dist")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var prevFp = fingerprint(dist)
    var round = 1
    var fixed = false
    while (round <= SpRounds && !fixed) {
      dist = edges.join(dist.hint("SHUFFLE_HASH"), col("src") === col("node"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        .unionByName(dist)
        .groupBy("node").agg(min("dist").as("dist"))
        .localCheckpoint(true)
      val fp = fingerprint(dist)
      if (fp == prevFp) fixed = true
      prevFp = fp
      round += 1
    }
    edges.unpersist(blocking = false)
    (dist.orderBy("node"), round - 1)
  }
}
