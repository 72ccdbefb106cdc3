package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Exact triangle counting over the part co-purchase graph (parts are
  * adjacent when some order contains both). Triangle density is the
  * standard cohesion metric for co-occurrence graphs — the "products
  * bought together form cliques?" question — and the operator is the
  * canonical example of a join whose naive form dies at scale.
  *
  * Scale design: the classic degree-ordered orientation (node rank =
  * (degree, id); every edge points low→high). Wedge generation joins
  * oriented out-edges with themselves on the source, so per-node work
  * is out-degree², and orientation bounds every out-degree by O(√m) —
  * the worst-case optimal bound — where the unoriented self-join is
  * max-degree² on hub nodes. The closing-edge probe is a semi-join on
  * the oriented edge set. Three shuffles total (degree agg, wedge
  * self-join, closing probe), all on integer keys; nothing touches the
  * driver.
  */
object Triangles {

  /** Distinct (order, part) incidence rows — the pair-expansion input
    * shared by the triangle and k-core graphs. Dedup BEFORE the
    * self-join: a part appearing on two lines of one order would
    * otherwise expand duplicate pair rows that the post-join aggregate
    * then pays to shuffle away. */
  private def liPairs(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()

  private def chunkCount(rows: Long, target: Long): Int =
    math.max(1L, (rows + target - 1) / target).toInt

  /** Co-purchase pair counts (a < b, n_orders) with SPILL-BOUNDED
    * construction: the per-order pair expansion over a 100×-scaled
    * lineitem streams ~6×|lineitem| rows into one aggregation exchange
    * — linear WORK, but the single-box smoke measured the in-flight
    * shuffle footprint spilling tens of GB at sf10 (blockmgr 54 GB).
    * Order-count aggregates are ADDITIVE across any partition of the
    * ORDER space, so when lineitem is large the expansion runs in
    * hash(ok)-range chunks, each materialized (and so its shuffle
    * retired) before the next starts, then a final combine over the
    * pre-deduped per-chunk pair counts — same rows, bounded peak. One
    * chunk below the threshold ⇒ the plan is literally the old one
    * (test-SF hashes and bench plans unchanged). */
  private[graft] def copurchaseCounts(li: DataFrame,
      nChunks: Int): DataFrame = {
    def pairsOf(src: DataFrame): DataFrame = {
      val a = src.toDF("ok", "a")
      val b = src.toDF("ok", "b")
      a.join(b.hint("shuffle_hash"), Seq("ok"))
        .filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("n_orders"))
    }
    if (nChunks <= 1) pairsOf(li)
    else (0 until nChunks)
      .map(i => pairsOf(li.filter(pmod(hash(col("ok")), lit(nChunks)) === i))
        .localCheckpoint(true))
      .reduce(_ unionAll _)
      .groupBy("a", "b").agg(sum("n_orders").as("n_orders"))
  }

  /** Rows per expansion chunk: ~24M (order, part) incidences keep the
    * per-chunk exchange comfortably in memory on a 128 GB box while a
    * cluster sees only more, smaller tasks. */
  private val LiChunkRows = 24000000L

  /** Oriented edges per closing-probe chunk (triangleCount): each probe
    * row carries two O(√m) neighbor arrays, so this bounds the
    * in-flight join payload. */
  private val ProbeChunkRows = 16000000L

  /** Distinct undirected co-purchase edges (a < b). Per-order line
    * counts are bounded (≤ 7 in TPC-H-ish data, small in any order
    * system), so the intra-order pair expansion is linear in lineitem
    * with a constant factor — not a quadratic blow-up. */
  private[graft] def copurchaseEdges(spark: SparkSession, dir: String): DataFrame = {
    // dial on the RAW lineitem row count (a column-less parquet count,
    // no shuffle) — ≥ the distinct incidence count, so conservative
    val raw = Tables.lineitem(spark, dir).count()
    copurchaseCounts(liPairs(spark, dir), chunkCount(raw, LiChunkRows))
      .select("a", "b")
  }

  /** One-row report: nodes, edges, and the exact triangle count.
    *
    * Edge-iterator formulation: orient, build per-node sorted
    * out-neighbor arrays (payload Σd = m longs; each array bounded
    * O(√m) by the orientation), then per oriented edge (u,v) count
    * |N⁺(u) ∩ N⁺(v)| with codegen'd array_intersect and sum. Each
    * triangle {a<b<c by rank} is counted exactly once — at its (a,b)
    * edge, where c is a common out-neighbor. No wedge relation is ever
    * materialized (the wedge-join form shuffles Σd² rows — 30× the
    * edge count on this graph); the only per-edge payload is two
    * bounded arrays. The oriented edge set is localCheckpoint'd once
    * because three consumers read it — otherwise the scan+distinct+
    * degree subtree executes three times. */
  def triangleCount(spark: SparkSession, dir: String): DataFrame = {
    val edges = copurchaseEdges(spark, dir)
    // degree table over the undirected graph
    val deg = edges.select(col("a").as("node"))
      .unionAll(edges.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient each edge from the (degree, id)-smaller endpoint to the
    // larger; the rank join is two joins against the bounded degree
    // table (it scales with |nodes|, but no broadcast hint — the
    // planner broadcasts while it fits)
    val da = deg.toDF("a", "deg_a")
    val db = deg.toDF("b", "deg_b")
    val oriented = edges.join(da, Seq("a")).join(db, Seq("b"))
      .select(
        when(struct(col("deg_a"), col("a")) < struct(col("deg_b"), col("b")),
          col("a")).otherwise(col("b")).as("src"),
        when(struct(col("deg_a"), col("a")) < struct(col("deg_b"), col("b")),
          col("b")).otherwise(col("a")).as("dst"))
      .localCheckpoint(true)
    graft.functions.GraftFunctions.register(spark)
    val adj = oriented.groupBy("src").agg(sort_array(collect_list("dst")).as("nbrs"))
    // dst may have no out-edges: left join + empty-array default.
    // sorted_intersect_count: the neighbor arrays are sorted by
    // construction (sort_array above), so the closing probe is an
    // allocation-free two-pointer merge — size(array_intersect(...))
    // built a hash set + result array per edge row and made the
    // probe GC-bound (4.8-15 s run-to-run swings on identical work)
    def probeSum(edgesIn: DataFrame): DataFrame = edgesIn
      .join(adj.toDF("src", "u_nbrs"), Seq("src"))
      .join(adj.toDF("dst", "v_nbrs").hint("shuffle_hash"), Seq("dst"), "left")
      .select(expr(
        "sorted_intersect_count(u_nbrs, coalesce(v_nbrs, cast(array() as array<bigint>)))").as("c"))
      .agg(sum("c").as("n"))
    // The probe join's in-flight payload is two O(√m) arrays PER EDGE
    // ROW — linear work, but ~1 KB/row × m crosses a single box's
    // memory at the 100× tier (the sf10 smoke's 54 GB blockmgr spike).
    // The triangle total is a SUM over edges, additive across any
    // partition of the edge set — so past a threshold the probe runs
    // in hash(src,dst)-range chunks against the (persisted) adjacency,
    // each chunk's shuffle retired before the next starts. One chunk
    // below the threshold ⇒ exactly the old single-join plan.
    val mEdges = oriented.count()
    val pChunks = chunkCount(mEdges, ProbeChunkRows)
    val nTri =
      if (pChunks == 1) probeSum(oriented)
      else {
        import spark.implicits._
        adj.persist()
        val total = (0 until pChunks).map { i =>
          // chunk on hash(src): the u-side adjacency FILTERS to the
          // same hash range (read from cache — no full re-shuffle per
          // chunk), and the v-side joins shuffle_hash so the carried
          // u_nbrs arrays stream through a hash probe instead of being
          // SORT-materialized (the single-pass plan's 54 GB spike was
          // exactly that sort; a first chunked attempt that re-sorted
          // the full adjacency per chunk measured 2.4× SLOWER)
          val r = oriented
            .filter(pmod(hash(col("src")), lit(pChunks)) === i)
            .join(adj.filter(pmod(hash(col("src")), lit(pChunks)) === i)
              .toDF("src", "u_nbrs"), Seq("src"))
            .join(adj.toDF("dst", "v_nbrs").hint("shuffle_hash"),
              Seq("dst"), "left")
            .select(expr(
              "sorted_intersect_count(u_nbrs, coalesce(v_nbrs, cast(array() as array<bigint>)))").as("c"))
            .agg(sum("c").as("n")).head()
          if (r.isNullAt(0)) 0L else r.getLong(0)
        }.sum
        adj.unpersist(blocking = false)
        Seq(total).toDF("n")
      }
    // node/edge tallies read the CHECKPOINTED oriented set, not the
    // scan subtree — otherwise the co-purchase join runs two more times
    val nNodes = oriented.select(col("src").as("n"))
      .unionAll(oriented.select(col("dst").as("n")))
      .agg(countDistinct(col("n")).as("n"))
    val nEdges = oriented.agg(count(lit(1)).as("n"))
    nNodes.toDF("n_nodes").crossJoin(nEdges.toDF("n_edges"))
      .crossJoin(nTri.toDF("n_triangles"))
  }

  /** k-core decomposition (k = 3) of the REPEAT co-purchase graph
    * (parts adjacent when ≥ `minOrders` orders contain both — the
    * count threshold prunes one-off coincidences, the standard
    * sparsification before cohesion mining) by iterative peeling: drop
    * every node whose CURRENT degree is below k, remove its edges,
    * repeat to the fixpoint — the dense-substructure filter (spam
    * rings, core communities) that no single-pass degree cut can
    * compute, because removals cascade. Each round is two bounded
    * shuffles (degree agg + anti-join edge prune) over the SHRINKING
    * edge set; the driver reads one victim count per round and
    * localCheckpoint truncates the per-round lineage — same loop
    * discipline as connected components. Emits the surviving nodes
    * with their in-core degree. */
  def kCore(spark: SparkSession, dir: String, k: Int = 3,
      minOrders: Long = 2L): DataFrame = {
    // same spill-bounded chunked pair aggregation as the triangle
    // graph (order-count sums are additive across order chunks)
    val raw = Tables.lineitem(spark, dir).count()
    var edges = copurchaseCounts(liPairs(spark, dir),
        chunkCount(raw, LiChunkRows))
      .filter(col("n_orders") >= minOrders)
      .select(col("a").as("src"), col("b").as("dst"))
    edges = edges.unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 40) {
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      val victims = deg.filter(col("deg") < k).select("src")
      val nVictims = victims.limit(1).count()
      if (nVictims == 0) converged = true
      else {
        edges = edges
          .join(victims, Seq("src"), "left_anti")
          .join(victims.toDF("dst"), Seq("dst"), "left_anti")
          .select("src", "dst")
          .localCheckpoint(true)
      }
      rounds += 1
    }
    // an under-peeled edge set is silently WRONG (nodes below k keep
    // their neighbors' degrees inflated) — fail loudly like the CC loop
    if (!converged)
      throw new IllegalStateException(s"kCore did not converge in $rounds rounds")
    edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("core_degree"))
      .orderBy("node")
  }
}
