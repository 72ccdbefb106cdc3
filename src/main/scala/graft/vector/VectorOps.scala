package graft.vector

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Similarity search over the `embeddings` table (64-dim float
  * vectors).
  *
  * Scale design: brute-force cosine is a broadcast of the (small)
  * query set against a full corpus scan — linear, no shuffle of the
  * corpus. The LSH variant buckets the corpus by random-hyperplane
  * signature so each query only probes its bucket — the 100 TB path.
  * Dot products / norms run in the codegen'd vec_dot / vec_norm
  * kernels (sequential sums, bit-identical to a fold), not in
  * interpreted higher-order-function lambdas.
  */
object VectorOps {

  /** element-wise double view of the float vector (for plane dots) */
  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  private def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Brute-force cosine top-5 per query vector (queries = vec_id < 10),
    * exact baseline for the ANN path. */
  def annBruteForce(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("e"))
      .withColumn("nrm", expr("vec_norm(e)"))
      // zero-norm vectors have no direction: excluded from cosine ops
      // (0/0 -> NaN, and Spark's NaN-is-largest comparison semantics
      // would rank the garbage FIRST, not drop it)
      .filter(col("nrm") > 0)
    val q = vecs.filter(col("vec_id") < 10).toDF("query_id", "qe", "qn")
    val c = vecs.toDF("neighbor_id", "ce", "cn")
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", round(expr("vec_dot(qe, ce)") / (col("qn") * col("cn")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos"))
      .orderBy("query_id", "rank")
  }

  // Deterministic random hyperplanes (LCG seed 7) over 64 dims. Bucket
  // count 2^6 suits the test corpus (~8 vectors/bucket); at cluster
  // scale raise the plane count so buckets stay executor-memory-sized.
  private val planes: Seq[Array[Double]] = {
    var s = 7L
    def next(): Double = {
      s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 11).toDouble / (1L << 53).toDouble) * 2.0 - 1.0
    }
    Seq.fill(6)(Array.fill(64)(next()))
  }

  /** Random-hyperplane LSH ANN: signature-bit buckets, probe only
    * the query's bucket, top-3 by exact cosine within it. */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val sigBits = planes.zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.toIndexedSeq.map(lit): _*)
      when(hofDot(asDouble(col("e")), planeLit) >= 0.0, lit(1L << i)).otherwise(lit(0L))
    }
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("e"))
      .withColumn("nrm", expr("vec_norm(e)"))
      // zero-norm vectors have no direction: excluded from cosine ops
      // (0/0 -> NaN, and Spark's NaN-is-largest comparison semantics
      // would rank the garbage FIRST, not drop it)
      .filter(col("nrm") > 0)
      .withColumn("bucket", sigBits.reduce((a, b) => a.bitwiseOR(b)))
    val q = vecs.filter(col("vec_id") < 10).toDF("query_id", "qe", "qn", "bucket")
    val c = vecs.toDF("neighbor_id", "ce", "cn", "bucket")
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    q.join(c, Seq("bucket")).filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", round(expr("vec_dot(qe, ce)") / (col("qn") * col("cn")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("bucket"), col("rank"), col("neighbor_id"), col("cos"))
      .orderBy("query_id", "rank")
  }

  /** Lloyd's k-means over a bounded in-memory sample — the IVF coarse
    * quantizer trainer. Deterministic: evenly-spaced init over the
    * id-sorted sample, fixed iteration count, lowest-index tie-breaks.
    * O(sample × k × dim × iters) driver work (~20M flops here). */
  private def lloyd(data: Array[Array[Float]], k: Int, iters: Int): Array[Array[Double]] = {
    val n = data.length
    val dim = data.head.length
    val cent = Array.tabulate(k)(j => data((j.toLong * n / k).toInt).map(_.toDouble))
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      // argmin phase parallelized over rows (each row writes only its
      // own slot — deterministic); the n·k·d distance work dominates at
      // the adaptive-nlist sizes (k ∝ corpus/occ can reach 4096)
      java.util.stream.IntStream.range(0, n).parallel().forEach { r =>
        val v = data(r)
        var best = 0; var bestDist = Double.MaxValue
        var j = 0
        while (j < k) {
          var s = 0.0; var i = 0
          while (i < dim) { val d = v(i) - cent(j)(i); s += d * d; i += 1 }
          if (s < bestDist) { bestDist = s; best = j }
          j += 1
        }
        assign(r) = best
      }
      // accumulation stays SEQUENTIAL in sample-row order — the DuckDB
      // oracle replays these plain-double sums term for term (IEEE
      // determinism needs the same values in the same order)
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      var r = 0
      while (r < n) {
        val acc = sums(assign(r)); val v = data(r); var i = 0
        while (i < dim) { acc(i) += v(i); i += 1 }
        counts(assign(r)) += 1
        r += 1
      }
      var j = 0
      while (j < k) {
        if (counts(j) > 0) {
          var i = 0
          while (i < dim) { cent(j)(i) = sums(j)(i) / counts(j); i += 1 }
        }
        j += 1
      }
      it += 1
    }
    cent
  }

  /** IVF (inverted-file) ANN: partition the corpus into k-means cells,
    * probe only the query's cell, rank by exact cosine — the classic
    * coarse-quantizer scale path alongside LSH. The 100 TB shape is
    * explicit here: centroids train on a BOUNDED driver-side sample
    * (capped rows — never the corpus), and cell assignment is a
    * broadcast-by-reference argmin (graft.functions.NearestCell) fused
    * into the corpus scan — one pass, no ML-pipeline job storm. */
  /** Bounded-sample Lloyd training shared by the IVF variants: at most
    * 4096 rows ever reach the driver, whatever the corpus size. */
  private def trainCentroids(spark: SparkSession, dir: String): Array[Array[Double]] =
    trainCentroidsK(spark, dir, 16)

  private[graft] def trainCentroidsK(spark: SparkSession, dir: String,
      k: Int): Array[Array[Double]] = {
    val sample = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .orderBy("vec_id").limit(4096)
      .collect().map(_.getSeq[Float](1).toArray)
    // empty corpus ⇒ no centroids; NearestCell degenerates to cell 0
    // over zero rows (day-one deployments must plan cleanly)
    if (sample.isEmpty) Array.empty[Array[Double]] else lloyd(sample, k, 10)
  }

  /** The adaptive-nlist dial: cell count from a TARGET PER-CELL
    * OCCUPANCY instead of a constant — `autoR`'s fixed-occupancy cure
    * (ops/SpatialJoin.scala) applied to the IVF coarse quantizer.
    * Integer ceiling so both engines derive the identical value;
    * clamped to [1, 4096] (the driver-sample bound — past ~4096·occ
    * corpus rows the quantizer would need more training rows than the
    * bounded sample holds, and occupancy degrades gracefully linear
    * instead of the index failing). */
  private[graft] def deriveNlist(corpusN: Long, targetOcc: Long): Int =
    math.max(1L, math.min(4096L, (corpusN + targetOcc - 1) / targetOcc)).toInt

  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val centroids = trainCentroids(spark, dir)
    val assigned = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("e"))
      .withColumn("nrm", expr("vec_norm(e)"))
      // zero-norm vectors have no direction: excluded from cosine ops
      // (0/0 -> NaN, and Spark's NaN-is-largest comparison semantics
      // would rank the garbage FIRST, not drop it)
      .filter(col("nrm") > 0)
      .withColumn("cell", org.apache.spark.sql.GraftPlanBridge.column(
        graft.functions.NearestCell(
          org.apache.spark.sql.GraftPlanBridge.expression(col("e")), centroids)))
    val q = assigned.filter(col("vec_id") < 10).toDF("query_id", "qe", "qn", "cell")
    val c = assigned.toDF("neighbor_id", "ce", "cn", "cell")
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    q.join(c, Seq("cell")).filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", round(expr("vec_dot(qe, ce)") / (col("qn") * col("cn")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("cell"), col("rank"), col("neighbor_id"), col("cos"))
      .orderBy("query_id", "rank")
  }

  /** Multi-probe IVF (nprobe = `probes`): each query inspects its
    * `probes` nearest cells instead of one, recovering true neighbors
    * that landed just across a Voronoi boundary — the standard
    * recall/cost dial on an IVF index. The corpus index is untouched
    * (one cell per vector); only the 10-row query side fans out ×p via
    * a codegen'd top-p cell expression + explode, so the join cost
    * scales with probes × query count, never with the corpus. The
    * candidate union is deduped on bare ids before the exact rerank.
    * Single-probe results are a subset by construction (a vector's own
    * cell is its nearest), which the spec pins as rank-wise cosine
    * dominance. */
  def annIvfProbe(spark: SparkSession, dir: String, probes: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val centroids = trainCentroids(spark, dir)
    val assigned = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("e"))
      .withColumn("nrm", expr("vec_norm(e)"))
      // zero-norm vectors have no direction: excluded from cosine ops
      // (0/0 -> NaN, and Spark's NaN-is-largest comparison semantics
      // would rank the garbage FIRST, not drop it)
      .filter(col("nrm") > 0)
      .withColumn("cell", org.apache.spark.sql.GraftPlanBridge.column(
        graft.functions.NearestCell(
          org.apache.spark.sql.GraftPlanBridge.expression(col("e")), centroids)))
    val q = Tables.embeddings(spark, dir)
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .withColumn("qn", expr("vec_norm(qe)"))
      .filter(col("qn") > 0)
      .withColumn("cell", explode(org.apache.spark.sql.GraftPlanBridge.column(
        graft.functions.NearestCells(
          org.apache.spark.sql.GraftPlanBridge.expression(col("qe")), centroids, probes))))
    val c = assigned.toDF("neighbor_id", "ce", "cn", "cell")
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    q.join(c, Seq("cell")).filter(col("neighbor_id") =!= col("query_id"))
      .dropDuplicates("query_id", "neighbor_id") // same neighbor via 2 probed cells
      .withColumn("cos", round(expr("vec_dot(qe, ce)") / (col("qn") * col("cn")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
      .orderBy("query_id", "rank")
  }

  /** Embedding-cosine near-duplicate pairs (cosine ≥ 0.45): the
    * semantic twin of the text dedup family. Exact all-pairs via a
    * BLOCK-PARTITIONED theta-join — no broadcast, no driver state:
    * each vector is hashed to one of P blocks and replicated to the P
    * unordered block-pairs it participates in; the equi-join on the
    * block-pair key meets every vector pair in exactly one task, so a
    * task holds 2n/P vectors (bounded by choosing P), and the n²/2 dot
    * products spread evenly over P(P+1)/2 tasks. Replication cost is
    * P·n rows — linear, tunable.
    *
    * Exactness is the contract here, and exact all-pairs is Θ(n²)
    * compute no matter the plan; what this shape fixes is MEMORY — the
    * previous broadcast of the full corpus dies at scale, a block pair
    * never does. When approximate recall is acceptable the candidates
    * come from `annLsh`/`annIvf` buckets instead (note: this corpus has
    * true pairs at cos 0.4501 with bulk mass at 0.40, so no LSH
    * parameterization reaches recall 1.0 — exactness requires the
    * blocked product). */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    dedupEmbeddingBlocked(spark, dir, blocks = 32)

  private[graft] def dedupEmbeddingBlocked(spark: SparkSession, dir: String,
      blocks: Int): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val par = spark.sparkContext.defaultParallelism
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("e"))
      .withColumn("nrm", expr("vec_norm(e)"))
      // zero-norm vectors have no direction: excluded from cosine ops
      // (0/0 -> NaN, and Spark's NaN-is-largest comparison semantics
      // would rank the garbage FIRST, not drop it)
      .filter(col("nrm") > 0)
      .withColumn("blk", pmod(hash(col("vec_id")), lit(blocks)))
    // role-split replication — each vector pair meets EXACTLY once:
    // the "lo role" copy of a block-i row serves keys (i, j≥i), the
    // "hi role" copy of a block-j row serves keys (i≤j, j), so a
    // cross-block pair joins only at its own (lo-block, hi-block) key,
    // in one orientation; same-block pairs meet at the diagonal in both
    // orientations and keep a_id < b_id. Product count is the optimal
    // n²/2, and the explicit pre-join repartition on the key pins the
    // parallelism — without it AQE sees a few-MB shuffle and coalesces
    // the quadratic COMPUTE onto one core.
    val lo = vecs
      .withColumn("hi_blk", explode(sequence(col("blk"), lit(blocks - 1))))
      .select(struct(col("blk").as("lo"), col("hi_blk").as("hi")).as("bp"),
        col("vec_id").as("a_id"), col("e").as("ae"), col("nrm").as("an"),
        col("blk").as("a_blk"))
      .repartition(par, col("bp"))
    val hi = vecs
      .withColumn("lo_blk", explode(sequence(lit(0), col("blk"))))
      .select(struct(col("lo_blk").as("lo"), col("blk").as("hi")).as("bp"),
        col("vec_id").as("b_id"), col("e").as("be"), col("nrm").as("bn"),
        col("blk").as("b_blk"))
      .repartition(par, col("bp"))
    lo.join(hi, Seq("bp"))
      .filter(col("a_blk") =!= col("b_blk") || col("a_id") < col("b_id"))
      .withColumn("cos", round(expr("vec_dot(ae, be)") / (col("an") * col("bn")), 6))
      .filter(col("cos") >= 0.45)
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"), col("cos"))
      .orderBy("a_id", "b_id")
  }

  /** k-NN GRAPH construction — every (non-zero-norm) vector's exact
    * top-k cosine neighbors, plus the MUTUAL flag (am I in my
    * neighbor's top-k too?). The k-NN graph is the substrate of the
    * embedding-side curation stack: SemDeDup-style cluster pruning,
    * graph-based diversity sampling, and agglomerative topic grouping
    * all start from exactly this edge list, and mutual-kNN edges are
    * the standard robust-clustering filter (one-directional edges are
    * usually hub noise in high dimensions).
    *
    * Plan shape: the same block-partitioned theta-join as
    * `dedupEmbedding` (each unordered vector pair met exactly once, no
    * broadcast of a data-scaled side, P(P+1)/2 bounded tasks), then
    * BOTH orientations of each scored pair feed the heap top-k
    * operator (graft.plans.TopKPerKey — per-key bounded state, no
    * sort), and the mutual flag is one linear self-join of the
    * k·n-sized edge list on the swapped key. Exact all-pairs scoring
    * is Θ(n²) by contract; at corpus scale the candidate generator
    * swaps to the IVF/LSH cells (`annIvfProbe`) with this same top-k +
    * mutual tail — the graph stages are built to be generator-agnostic. */
  def vecKnnGraph(spark: SparkSession, dir: String, k: Int = 5,
      blocks: Int = 32): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val par = spark.sparkContext.defaultParallelism
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("e"))
      .withColumn("nrm", expr("vec_norm(e)"))
      .filter(col("nrm") > 0) // zero-norm: no direction, excluded (NaN cos)
      .withColumn("blk", pmod(hash(col("vec_id")), lit(blocks)))
    val lo = vecs
      .withColumn("hi_blk", explode(sequence(col("blk"), lit(blocks - 1))))
      .select(struct(col("blk").as("lo"), col("hi_blk").as("hi")).as("bp"),
        col("vec_id").as("a_id"), col("e").as("ae"), col("nrm").as("an"),
        col("blk").as("a_blk"))
      .repartition(par, col("bp"))
    val hi = vecs
      .withColumn("lo_blk", explode(sequence(lit(0), col("blk"))))
      .select(struct(col("lo_blk").as("lo"), col("blk").as("hi")).as("bp"),
        col("vec_id").as("b_id"), col("e").as("be"), col("nrm").as("bn"),
        col("blk").as("b_blk"))
      .repartition(par, col("bp"))
    // each unordered pair scored once (rounded BEFORE ranking, so both
    // engines rank the same 6-digit values), then emitted in both
    // directions for the per-query top-k
    val scored = lo.join(hi, Seq("bp"))
      .filter(col("a_blk") =!= col("b_blk") || col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        round(expr("vec_dot(ae, be)") / (col("an") * col("bn")), 6).as("cos"))
    val directed = scored.select(col("a_id").as("query_id"),
        col("b_id").as("neighbor_id"), col("cos"))
      .unionByName(scored.select(col("b_id").as("query_id"),
        col("a_id").as("neighbor_id"), col("cos")))
    val topk = graft.plans.TopK.perKey(directed, k, Seq("query_id"),
        "cos", "neighbor_id")
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("neighbor_id"))).cast("long"))
    val swapped = topk.select(col("neighbor_id").as("query_id"),
      col("query_id").as("neighbor_id"), lit(true).as("mutual"))
    topk.join(swapped, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"),
        coalesce(col("mutual"), lit(false)).as("mutual"))
      .orderBy("query_id", "rank")
  }

  /** The CORPUS-SCALE realization of the k-NN graph: candidates from
    * multi-probe IVF cells instead of the exact blocked product — the
    * generator swap `vecKnnGraph`'s contract names, actually wired.
    * Every vector lands in its nearest cell and probes its `probes`
    * nearest (query side), so candidate pairs are (cell-mates) — the
    * SemDeDup partitioning argument: Σ n_c² instead of n², perfectly
    * parallel per cell, nothing broadcast but the k·d centroid array
    * (corpus-constant). The ranking/mutual tail is IDENTICAL to the
    * exact operator (heap top-k per query, linear swapped self-join),
    * so recall loss is confined to the candidate stage and is
    * MEASURED: the spec computes edge recall against `vecKnnGraph` on
    * the test corpus and pins its floor. Rows-only (approximate by
    * design); the exact twin is the oracle-checked verifier. */
  def vecKnnGraphAnn(spark: SparkSession, dir: String, k: Int = 5,
      probes: Int = 3): DataFrame =
    knnGraphAnnImpl(spark, dir, k, probes, nlist = None, twoLevel = false)

  /** `vecKnnGraphAnn` with the fixed-occupancy-dial disease cured: the
    * cell count derives from a target per-cell occupancy (`deriveNlist`
    * — nlist ≈ n/occ, the `q_dbscan_auto` recipe on the vector plane),
    * so per-query candidate work stays ~probes·occ·d whatever the
    * corpus size, instead of growing ∝ n under a constant nlist (the
    * r7-measured 39.6×-at-10×-rows pathology). One extra corpus-count
    * job derives n; the derived nlist is emitted as a column so the
    * DuckDB oracle replays the derivation AND the nlist-term Lloyd
    * unroll (variable-k CTEs, SparkEntry.lloydCtesVarKSql).
    *
    * Cost ledger at scale: scoring is n·probes·occ·d — LINEAR in n by
    * construction. Assignment rides the TWO-LEVEL coarse search
    * (graft.functions.TwoLevel — ⌈√nlist⌉ index-stride supers, each
    * centroid grouped under its nearest super, queries scan the supers
    * plus min(4, g) groups' members): Θ(n·√nlist·d) instead of the
    * flat argmin's n·nlist·d, which the sf10 smoke measured going
    * superlinear (5.4× wall at 3.33× rows) as nlist tracked n below
    * the 4096 clamp. The derived nlist column AND the two-level
    * routing both replay in the DuckDB oracle (super stride, group
    * argmin, probe set — SparkEntry.ivfAssignTlSql). */
  def vecKnnGraphAnnAuto(spark: SparkSession, dir: String, k: Int = 5,
      probes: Int = 3, targetOcc: Long = 128L): DataFrame = {
    // register BEFORE the derive-n count: sessions without the
    // GraftExtensions config (plan-audit tools) reach vec_norm here
    graft.functions.GraftFunctions.register(spark)
    val corpusN = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("e"))
      .filter(expr("vec_norm(e)") > 0).count()
    knnGraphAnnImpl(spark, dir, k, probes,
      nlist = Some(deriveNlist(corpusN, targetOcc)), twoLevel = true)
  }

  private[graft] def knnGraphAnnImpl(spark: SparkSession, dir: String, k: Int,
      probes: Int, nlist: Option[Int], twoLevel: Boolean): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val centroids = nlist match {
      case Some(n) => trainCentroidsK(spark, dir, n)
      case None => trainCentroids(spark, dir)
    }
    // the AUTO variant assigns through the two-level coarse search
    // (graft.functions.TwoLevel): ~√nlist + 4·√nlist distance evals
    // per row instead of the flat nlist-term argmin — the r8 smoke's
    // residual superlinear assignment cost (n·nlist below the 4096
    // clamp) drops to Θ(n·√nlist). The fixed-dial twin keeps the flat
    // argmin (nlist=16 — nothing to prefilter); when p ≥ g the
    // two-level search IS the flat argmin, spec-pinned.
    val tlIdx =
      if (twoLevel) Some(graft.functions.TwoLevel.build(centroids)) else None
    import org.apache.spark.sql.GraftPlanBridge.{column => exCol, expression => exExpr}
    def homeCell(e: org.apache.spark.sql.Column) = tlIdx match {
      case Some(idx) =>
        element_at(exCol(graft.functions.TwoLevelCells(exExpr(e), idx, 1)), 1)
      case None => exCol(graft.functions.NearestCell(exExpr(e), centroids))
    }
    def probeCells(e: org.apache.spark.sql.Column) = tlIdx match {
      case Some(idx) =>
        exCol(graft.functions.TwoLevelCells(exExpr(e), idx, probes))
      case None =>
        exCol(graft.functions.NearestCells(exExpr(e), centroids, probes))
    }
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("e"))
      .withColumn("nrm", expr("vec_norm(e)"))
      .filter(col("nrm") > 0)
    val home = base.withColumn("cell", homeCell(col("e")))
      .select(col("vec_id").as("neighbor_id"), col("e").as("ce"),
        col("nrm").as("cn"), col("cell"))
    val probed = base.withColumn("cell", explode(probeCells(col("e"))))
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn"), col("cell"))
    // cosine BEFORE the met-via-≤probes-cells dedup: the duplicate rows
    // of a pair carry the same qe/ce, so cos is identical whichever
    // survives — but deduping first would shuffle both full embedding
    // arrays per candidate row, while deduping after ships 3 scalars.
    // The extra cost is one codegen'd dot per duplicate (≤probes−1),
    // in-memory compute traded for the dominant exchange's bytes.
    val scored = probed.join(home, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos",
        round(expr("vec_dot(qe, ce)") / (col("qn") * col("cn")), 6))
      .select("query_id", "neighbor_id", "cos")
      .dropDuplicates("query_id", "neighbor_id")
    val topk = graft.plans.TopK.perKey(scored, k, Seq("query_id"),
        "cos", "neighbor_id")
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("neighbor_id"))).cast("long"))
    val swapped = topk.select(col("neighbor_id").as("query_id"),
      col("query_id").as("neighbor_id"), lit(true).as("mutual"))
    val graph = topk.join(swapped, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"),
        coalesce(col("mutual"), lit(false)).as("mutual"))
    // auto variant: the derived cell count rides along so the oracle
    // verifies the k-derivation, not just the graph built from it
    nlist.fold(graph)(n => graph.withColumn("nlist", lit(n.toLong)))
      .orderBy("query_id", "rank")
  }

  /** Symmetric int8 scalar quantization of the embedding column — the
    * 4× storage/bandwidth path for a 100 TB embedding corpus (recall
    * work like IVF/PQ assumes quantized storage; this is the simplest
    * production variant). Per vector: scale = max |x|, q_i =
    * floor(x_i/scale·127 + 0.5). Output is integer-only (scale in
    * micro-units, sum/min/max and a position-weighted checksum of the
    * quantized codes) so the DuckDB oracle compares exactly — floor
    * arithmetic over IEEE doubles is engine-independent, round() HALF
    * conventions are not. */
  def vecQuantize(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("e"))
      .withColumn("scale", array_max(transform(col("e"), x => abs(x))))
      .withColumn("q", transform(col("e"),
        x => floor(x / col("scale") * 127 + 0.5).cast("int")))
      .select(col("vec_id"),
        size(col("q")).cast("long").as("dim"),
        floor(col("scale") * 1e6).cast("long").as("scale_micro"),
        aggregate(col("q"), lit(0L), (acc, v) => acc + v).as("q_sum"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max"),
        aggregate(zip_with(col("q"), sequence(lit(1), size(col("q"))),
          (a, i) => a.cast("long") * i), lit(0L), (acc, v) => acc + v).as("q_wsum"))
      .orderBy("vec_id")

  /** Johnson–Lindenstrauss ±1 random projection (Achlioptas 2001):
    * 64-dim embeddings → 16 dims through a DATA-INDEPENDENT sign
    * matrix — the training-free dimensionality reduction a 100 TB
    * pipeline runs where PCA (`vec_pca`) would need a covariance pass
    * first. The sign matrix is a pure function of (dim j, output i)
    * via md5 hex parity, so 1000 executors and the DuckDB oracle
    * derive the SAME matrix with zero coordination and zero broadcast;
    * components quantize to exact integer micro-units first
    * (floor(x·1e6+0.5)), making every projected component an exact
    * ±-signed integer sum — order-independent, engine-independent.
    * Output per vector: first component, an md5 digest of the full
    * projected tuple, and the JL norm-preservation ratio
    * E[‖Px‖²/k] = ‖x‖² in exact ppm through DECIMAL(38,0) (the
    * micro²-scaled cross-multiply clears BIGINT). Embarrassingly
    * parallel — one scan, no shuffle before the presentation sort. */
  /** The JL sign matrix: sign(j,i) = +1 iff the first hex char of
    * md5("j_i") is odd — the same formula the oracles derive inline. */
  private def rpSignOf(j: Int, i: Int): Int = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${j}_${i}".getBytes("UTF-8"))
    if (((h(0) >> 4) & 1) == 1) 1 else -1
  }

  /** (vec_id, qv) with micro-unit quantized components. */
  private def microVecs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1e6 + 0.5).cast("long")).as("qv"))

  /** The k projected components of `qv` as ±-signed integer sums —
    * retained (spec-only consumer) as the executable definition the
    * fused RpProject kernel is pinned against. */
  private[graft] def rpCompCols(k: Int, dim: Int): Seq[Column] =
    (0 until k).map { i =>
      (0 until dim).map { j =>
        val e = element_at(col("qv"), j + 1)
        if (rpSignOf(j, i) > 0) e else -e
      }.reduce(_ + _).as(s"c$i")
    }

  /** All k projected components in ONE codegen'd expression
    * ([[graft.functions.RpProject]]) instead of the k×dim column
    * expansion above: the expanded tree is ~17k Catalyst nodes that
    * the optimizer re-walks on every pass (measured ~3.5 s of
    * planning per vec_rp_eval pass at sf0.1 vs ~0.1 s of execution).
    * Same md5-parity sign matrix, same sequential signed integer
    * sums — component values are bit-identical (spec-pinned against
    * rpCompCols). */
  private[graft] def rpProjectCol(in: Column, k: Int, dim: Int): Column =
    org.apache.spark.sql.GraftPlanBridge.column(
      graft.functions.RpProject(
        org.apache.spark.sql.GraftPlanBridge.expression(in), k, dim))

  def randomProjection(spark: SparkSession, dir: String, k: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val dim = 64
    val q = microVecs(spark, dir)
    // one fused rp_project node + codegen'd self-dots (see
    // rpProjectCol) — the column-expanded form re-planned a k×dim
    // expression tree per pass; values are identical by integer
    // associativity (digest string, sums, c0 all unchanged)
    val projected = q.select(col("vec_id"), col("qv"),
      rpProjectCol(col("qv"), k, dim).as("rp"))
    // both sums fit BIGINT (|comp| ≤ dim·1e6 ⇒ rp_sq ≤ k·(dim·1e6)² ≈
    // 6.6e16; src_sq ≤ dim·1e12); only the ×1e6 ppm cross-multiply
    // needs DECIMAL(38,0) — the q8_mktshare discipline
    projected
      .withColumn("rp_digest",
        md5(concat_ws(",", (0 until k).map(i =>
          element_at(col("rp"), i + 1).cast("string")): _*)))
      .withColumn("rp_sq", expr("vec_dot_long(rp, rp)"))
      .withColumn("src_sq", expr("vec_dot_long(qv, qv)"))
      .withColumn("norm_ratio_ppm",
        expr("CAST((CAST(rp_sq AS DECIMAL(38,0)) * 1000000)" +
          s" div nullif(CAST($k AS BIGINT) * src_sq, 0) AS BIGINT)"))
      .select(col("vec_id"), element_at(col("rp"), 1).as("c0_micro"),
        col("rp_digest"), col("norm_ratio_ppm"))
      .orderBy("vec_id")
  }

  /** Retrieval-quality audit of the JL projection (`vec_rp`): per
    * query (the bounded vec_id < 10 set), top-10 nearest by EXACT
    * integer L2² in the original 64-dim micro space vs top-10 by L2²
    * in the 16-dim projected space, and the overlap in exact ppm —
    * the number a pipeline owner reads before swapping full vectors
    * for projections in a first-stage retriever (JL preserves
    * pairwise distances, so rank inversions concentrate where true
    * distances nearly tie). Every distance is an integer (micro
    * units / signed projected sums), so ranking ties break
    * deterministically on neighbor_id and the DuckDB oracle
    * reproduces the table bit-for-bit. Scale shape: one broadcast of
    * the 10-row query set against the corpus scan — the annBruteForce
    * discipline — with both distance columns computed in the same
    * pass (no second scan for the projected side). */
  def rpRetrievalEval(spark: SparkSession, dir: String, k: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val base = microVecs(spark, dir)
      .select(col("vec_id"), col("qv"),
        rpProjectCol(col("qv"), k, 64).as("rp"))
    val q = base.toDF("query_id", "q_qv", "q_rp").filter(col("query_id") < 10)
    val c = base.toDF("neighbor_id", "c_qv", "c_rp")
    // codegen'd exact integer L2² (vec_l2sq_long) instead of the
    // interpreted aggregate/zip_with lambda pair — same sequential long
    // sum, bit-identical, ~an order of magnitude cheaper per joined row
    // (guide §4: no interpreted expressions on the per-pair hot path)
    val joined = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("d_true", expr("vec_l2sq_long(q_qv, c_qv)"))
      .withColumn("d_rp", expr("vec_l2sq_long(q_rp, c_rp)"))
    val wTrue = Window.partitionBy("query_id")
      .orderBy(col("d_true"), col("neighbor_id"))
    val wRp = Window.partitionBy("query_id")
      .orderBy(col("d_rp"), col("neighbor_id"))
    // ONE pass (r11, guide §2.4): both ranks ride the same query_id
    // exchange, and the overlap |top10_true ∩ top10_rp| is a
    // conditional count over the true-top-10 rows — the old
    // top10 ⋈ rp10 left join consumed `ranked` twice, duplicating the
    // whole scan → projection(16×64-term rp comps) → broadcast-join →
    // window subtree (2 parquet scans, 2 joins in the committed before
    // plan). Row-for-row identical: a neighbor is in both top-10s
    // exactly when r_true ≤ 10 ∧ r_rp ≤ 10.
    joined
      .withColumn("r_true", row_number().over(wTrue))
      .withColumn("r_rp", row_number().over(wRp))
      .filter(col("r_true") <= 10)
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_true"),
        count(when(col("r_rp") <= 10, 1)).as("n_overlap"))
      .withColumn("recall_ppm",
        expr("n_overlap * 1000000 div nullif(n_true, 0)"))
      .orderBy("query_id")
  }

  /** Per-label centroid accumulation — the distributed "sum step" of
    * k-means / class-prototype computation, laid out the only way it
    * scales: posexplode to (label, position, value), hash-aggregate
    * exact integer micro-units per (label, position). Map-side partials
    * bound the shuffle by labels × dim, not corpus size; the centroid
    * itself is sum/n, derivable from the emitted columns without FP
    * accumulation-order drift (floor(x·1e6+0.5) is engine-independent;
    * round() half-way conventions are not). */
  def vecCentroid(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "val")))
      .select(col("label"), col("pos").cast("long").as("pos"),
        floor(col("val").cast("double") * 1e6 + 0.5).cast("long").as("val_micro"))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n_vecs"), sum("val_micro").as("sum_micro"))
      .orderBy("label", "pos")

  /** Per-label embedding stats. Norms are summed as exact integer
    * micro-units so the aggregate is order-independent across
    * partitions (no FP accumulation drift). */
  def vecStats(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables.embeddings(spark, dir)
      .select(col("label"), col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        round(expr("vec_norm(embedding)") * 1e6).cast("long").as("norm_micro"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        max("dim").as("dim"),
        sum("norm_micro").as("sum_norm_micro"),
        min("norm_micro").as("min_norm_micro"),
        max("norm_micro").as("max_norm_micro"))
      .withColumn("avg_norm", round(col("sum_norm_micro") / col("n") / lit(1e6), 3))
      .select("label", "n", "dim", "avg_norm", "min_norm_micro", "max_norm_micro")
      .orderBy("label")
  }

  /** One-pass Gram-matrix accumulator: the upper triangle of
    * Σ_rows (v·vᵀ) in a fixed-size Array[Long] buffer — slot 0 holds
    * the row count, slot 1+ the d(d+1)/2 pair sums. Merging is
    * element-wise addition, so map-side combine applies and the final
    * reduce moves ONE 2081-long buffer per partition regardless of
    * corpus size. */
  private object GramAgg extends org.apache.spark.sql.expressions.Aggregator[
      Array[Long], Array[Long], Array[Long]] {
    import org.apache.spark.sql.{Encoder, Encoders}
    override def zero: Array[Long] = Array.emptyLongArray
    override def reduce(buf: Array[Long], m: Array[Long]): Array[Long] = {
      val d = m.length
      val b = if (buf.isEmpty) new Array[Long](1 + d * (d + 1) / 2) else buf
      b(0) += 1L
      var k = 1; var i = 0
      while (i < d) {
        var j = i
        while (j < d) { b(k) += m(i) * m(j); k += 1; j += 1 }
        i += 1
      }
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      if (a.isEmpty) b else if (b.isEmpty) a
      else { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a }
    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Distributed Gram matrix (XᵀX upper triangle) — the covariance /
    * PCA accumulation step: one pass over the vectors, components
    * quantized to exact integer micro-units (floor(x·1e6+0.5), the
    * engine-independent rounding) so the Θ(d²)-per-row products sum
    * associatively with zero FP drift. Where vec_centroid posexplodes
    * d rows per vector, the d²/2 cross terms would explode 2 080 rows
    * per vector — the typed Aggregator keeps them in one fixed-size
    * buffer instead, and the plan moves one buffer per task. Output is
    * the 2 080-row upper triangle, exactly recomputable by the oracle's
    * index cross join. */
  // Product-quantization geometry: 64 dims = 8 subspaces × 8 dims,
  // 16 centroids per subspace ⇒ one 4-bit code per subspace, 8 codes
  // (4 bytes) per vector — 64× smaller than the raw 256-byte float
  // vector. The memory-bound trade every billion-scale ANN index makes.
  private val PqM = 8
  private val PqSubDim = 8
  private val PqK = 16

  /** Per-subspace codebooks trained with Lloyd on the SAME bounded
    * 4096-row driver sample the IVF quantizer uses (sample-train /
    * broadcast-assign: training is constant-cost, assignment is a
    * broadcast argmin — nothing driver-side ever scales with the
    * corpus). */
  /** Unit-normalize so ADC's L2 agrees with the cosine ranking target:
    * for unit vectors, ‖a−b‖² = 2−2cos — monotone in cosine, so the
    * compressed scan ranks in the same order the rerank scores. */
  private def unitNorm(v: Array[Float]): Array[Float] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0) v else v.map(x => (x / n).toFloat)
  }

  private def trainPqCodebooks(spark: SparkSession, dir: String): Array[Array[Array[Double]]] = {
    val sample = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .orderBy("vec_id").limit(4096)
      .collect().map(r => unitNorm(r.getSeq[Float](1).toArray))
    if (sample.isEmpty) Array.empty
    else Array.tabulate(PqM) { j =>
      lloyd(sample.map(_.slice(j * PqSubDim, (j + 1) * PqSubDim)), PqK, 10)
    }
  }

  /** Product-quantization ANN: per-subspace codes via the codegen'd
    * NearestCell argmin over each 8-dim slice, then an ADC
    * (asymmetric-distance) scan — each query precomputes its 8×16
    * subspace distance table on the driver (query set is bounded;
    * 128 doubles per query) and the corpus pass is pure table lookups
    * over the 4-byte codes, never the raw vectors. The ADC top-32
    * shortlist is exact-reranked by true cosine (the standard
    * two-stage PQ serving shape: compressed scan → exact rerank of a
    * constant-size candidate set). Rows-only: Lloyd codebooks are
    * engine-specific; the spec measures recall vs brute force and
    * pins code-domain bounds + the 64× compression arithmetic. */
  def annPq(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val books = trainPqCodebooks(spark, dir)
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("e"))
      .withColumn("nrm", expr("vec_norm(e)"))
      // zero-norm vectors have no direction: excluded from cosine ops
      // (0/0 -> NaN, and Spark's NaN-is-largest comparison semantics
      // would rank the garbage FIRST, not drop it)
      .filter(col("nrm") > 0)
    if (books.isEmpty)
      return vecs.select(col("vec_id").as("query_id"), lit(0L).as("rank"),
        col("vec_id").as("neighbor_id"), lit(0.0).as("cos"),
        lit(0.0).as("adc_dist")).filter(lit(false))
    // codes computed over the UNIT-NORMALIZED vector (matches training)
    val coded = books.zipWithIndex.foldLeft(
        vecs.withColumn("en", transform(col("e"),
          x => (x / greatest(col("nrm"), lit(1e-30))).cast("float")))) {
      case (df, (book, j)) =>
        df.withColumn(s"c$j", org.apache.spark.sql.GraftPlanBridge.column(
          graft.functions.NearestCell(
            org.apache.spark.sql.GraftPlanBridge.expression(
              slice(col("en"), j * PqSubDim + 1, PqSubDim)), book)))
    }.withColumn("codes", array((0 until PqM).map(j => col(s"c$j")): _*))
      .select("vec_id", "e", "nrm", "codes")
    // bounded query set: distance tables computed driver-side
    val qRows = Tables.embeddings(spark, dir).filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    if (qRows.isEmpty)
      return coded.select(col("vec_id").as("query_id"), lit(0L).as("rank"),
        col("vec_id").as("neighbor_id"), lit(0.0).as("cos"),
        lit(0.0).as("adc_dist")).filter(lit(false))
    import spark.implicits._
    val qTables = qRows.map { case (qid, raw) =>
      val q = unitNorm(raw)
      val table = Array.tabulate(PqM * PqK) { idx =>
        val j = idx / PqK; val c = idx % PqK
        var s = 0.0; var i = 0
        while (i < PqSubDim) {
          val d = q(j * PqSubDim + i) - books(j)(c)(i); s += d * d; i += 1
        }
        s
      }
      (qid, raw, table)
    }.toSeq.toDF("query_id", "qe", "dist_table")
    val w = Window.partitionBy("query_id").orderBy(col("adc_dist"), col("neighbor_id"))
    val shortlist = coded.toDF("neighbor_id", "ce", "cn", "codes")
      .join(broadcast(qTables), col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_dist", aggregate(sequence(lit(0), lit(PqM - 1)), lit(0.0),
        (acc, j) => acc + element_at(col("dist_table"),
          (j * PqK + element_at(col("codes"), j + 1) + 1).cast("int"))))
      .withColumn("adc_rank", row_number().over(w))
      .filter(col("adc_rank") <= 32)
    // exact rerank of the constant-size ADC shortlist
    val wCos = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    shortlist
      .withColumn("qn", expr("vec_norm(qe)"))
      .filter(col("qn") > 0)
      .withColumn("cos", round(expr("vec_dot(qe, ce)") / (col("qn") * col("cn")), 6))
      .withColumn("rank", row_number().over(wCos).cast("long"))
      .filter(col("rank") <= 3)
      .withColumn("adc_dist", round(col("adc_dist"), 6))
      .select("query_id", "rank", "neighbor_id", "cos", "adc_dist")
      .orderBy("query_id", "rank")
  }

  /** driver-side twin of NearestCell for bounded sets: index of the
    * nearest centroid (ties to the lowest index). */
  private def nearestIdx(v: Array[Float], cs: Array[Array[Double]]): Int = {
    var best = 0; var bestDist = Double.MaxValue
    var j = 0
    while (j < cs.length) {
      var s = 0.0; var i = 0
      while (i < cs(j).length) { val d = v(i) - cs(j)(i); s += d * d; i += 1 }
      if (s < bestDist) { bestDist = s; best = j }
      j += 1
    }
    best
  }

  /** IVF+PQ composed index (Jégou, Douze & Schmid, TPAMI '11 §V — the
    * FAISS IVFADC serving shape, and the only one of the ANN family
    * that combines PRUNING with COMPRESSION): coarse k-means cells
    * restrict each query to nprobe=3 inverted lists, product
    * quantization encodes the RESIDUAL (vector − its cell centroid, the
    * paper's key variance-reduction step) in 4 bytes, ADC tables score
    * codes without touching raw vectors, and exact cosine reranks a
    * constant-size shortlist. At 100 TB this is the serving index:
    * the scan touches nprobe/k of the corpus as 4-byte codes (64×
    * compression), both trainings are bounded driver samples, and the
    * per-probe distance tables are (queries × nprobe × 128) doubles —
    * broadcast by construction. The cell equi-join replaces annPq's
    * every-query×every-vector scan, which is exactly the IVF pruning
    * claim; each (query, neighbor) pair meets at most once because a
    * corpus vector lives in ONE cell. Rows-only: Lloyd structures are
    * engine-specific; the spec measures recall vs brute force and pins
    * the pruning arithmetic. */
  def annIvfPq(spark: SparkSession, dir: String, probes: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val cents = trainCentroids(spark, dir)
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("e"))
      .withColumn("nrm", expr("vec_norm(e)"))
      // zero-norm vectors have no direction: excluded from cosine ops
      .filter(col("nrm") > 0)
    def emptyOut = vecs.select(col("vec_id").as("query_id"), lit(0L).as("rank"),
      col("vec_id").as("neighbor_id"), lit(0.0).as("cos"),
      lit(0.0).as("adc_dist")).filter(lit(false))
    if (cents.isEmpty) return emptyOut
    // residual codebooks: same bounded sample, assigned driver-side
    val sample = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      .orderBy("vec_id").limit(4096)
      .collect().map(r => unitNorm(r.getSeq[Float](1).toArray))
    val residualSample = sample.map { v =>
      val c = cents(nearestIdx(v, cents))
      Array.tabulate(v.length)(i => (v(i) - c(i)).toFloat)
    }
    val books = Array.tabulate(PqM) { j =>
      lloyd(residualSample.map(_.slice(j * PqSubDim, (j + 1) * PqSubDim)), PqK, 10)
    }
    // corpus: one cell + 8 residual codes per vector, all fused into
    // the scan (NearestCell is broadcast-by-reference codegen)
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    val coded0 = vecs
      .withColumn("en", transform(col("e"),
        x => (x / greatest(col("nrm"), lit(1e-30))).cast("float")))
      .withColumn("cell", org.apache.spark.sql.GraftPlanBridge.column(
        graft.functions.NearestCell(
          org.apache.spark.sql.GraftPlanBridge.expression(col("en")), cents)))
      .withColumn("res", zip_with(col("en"),
        element_at(centsLit, col("cell") + 1),
        (a, b) => (a - b).cast("float")))
    val coded = books.zipWithIndex.foldLeft(coded0) { case (df, (book, j)) =>
      df.withColumn(s"c$j", org.apache.spark.sql.GraftPlanBridge.column(
        graft.functions.NearestCell(
          org.apache.spark.sql.GraftPlanBridge.expression(
            slice(col("res"), j * PqSubDim + 1, PqSubDim)), book)))
    }.withColumn("codes", array((0 until PqM).map(j => col(s"c$j")): _*))
      .select("vec_id", "e", "nrm", "cell", "codes")
    // bounded query set: one ADC table per (query, probed cell), each
    // against the residual codebooks relative to THAT cell's centroid
    val qRows = Tables.embeddings(spark, dir).filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    if (qRows.isEmpty) return emptyOut
    import spark.implicits._
    val qTables = qRows.toSeq.flatMap { case (qid, raw) =>
      val q = unitNorm(raw)
      val dists = cents.map { c =>
        var s = 0.0; var i = 0
        while (i < c.length) { val d = q(i) - c(i); s += d * d; i += 1 }
        s
      }
      dists.zipWithIndex.sortBy { case (d, j) => (d, j) }.take(probes)
        .map { case (_, cell) =>
          val table = Array.tabulate(PqM * PqK) { idx =>
            val j = idx / PqK; val c = idx % PqK
            var s = 0.0; var i = 0
            while (i < PqSubDim) {
              val qr = q(j * PqSubDim + i) - cents(cell)(j * PqSubDim + i)
              val d = qr - books(j)(c)(i); s += d * d; i += 1
            }
            s
          }
          (qid, raw, cell, table)
        }
    }.toDF("query_id", "qe", "cell", "dist_table")
    val w = Window.partitionBy("query_id").orderBy(col("adc_dist"), col("neighbor_id"))
    val shortlist = coded.toDF("neighbor_id", "ce", "cn", "cell", "codes")
      .join(broadcast(qTables), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_dist", aggregate(sequence(lit(0), lit(PqM - 1)), lit(0.0),
        (acc, j) => acc + element_at(col("dist_table"),
          (j * PqK + element_at(col("codes"), j + 1) + 1).cast("int"))))
      .withColumn("adc_rank", row_number().over(w))
      .filter(col("adc_rank") <= 32)
    val wCos = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    shortlist
      .withColumn("qn", expr("vec_norm(qe)"))
      .filter(col("qn") > 0)
      .withColumn("cos", round(expr("vec_dot(qe, ce)") / (col("qn") * col("cn")), 6))
      .withColumn("rank", row_number().over(wCos).cast("long"))
      .filter(col("rank") <= 3)
      .withColumn("adc_dist", round(col("adc_dist"), 6))
      .select("query_id", "rank", "neighbor_id", "cos", "adc_dist")
      .orderBy("query_id", "rank")
  }

  /** Graph-traversal ANN (NSW-lite — Malkov & Yashunin's navigable
    * small-world search reduced to its bounded-beam core): greedy
    * best-first over the k-NN graph from IVF-seeded entry points.
    * Per query: seed with the multi-probe IVF top-3 (`probes` nearest
    * cells — the coarse index drops the walk inside the right region;
    * 1-probe seeding put it across a Voronoi boundary often enough to
    * cost 0.13 recall), then `hops` rounds of expand-and-prune —
    * candidates = beam ∪ top-`k` graph neighbors of every beam node,
    * scored by exact cosine against the query, kept to the best
    * `beam` (cos desc, id tie-break) — and emit the final top-3.
    * Deterministic end to end (rounded-6 scores, id tie-breaks), so
    * unlike classic NSW this walk is hash-oracled: DuckDB replays
    * seeding, every hop, and the pruning exactly. The (probes=3,
    * beam=24, hops=3, k=12) default is the measured sweep knee —
    * recall@3 0.767 vs ivf_3probe's 0.500 at sf0.1, from 0.40 under
    * the r10 (1, 8, 2, 5) point (SURVEY §6); cost stays
    * Θ(hops·touched·n·d) with touched ≤ queries·beam.
    *
    * Graph substrate: the neighbor lists are exactly
    * [[vecKnnGraph]]'s rows (same rounding, same tie-break — the spec
    * pins traversal-over-the-prebuilt-graph identical), derived here
    * ON DEMAND for the ≤ queries·beam nodes the walk actually
    * touches: each hop is one corpus scan against a broadcast of the
    * touched handful, so a traversal costs Θ(hops·touched·n·d) —
    * linear in corpus size, never n². At serving scale the graph is
    * prebuilt once (vec_knn_graph / vec_knn_graph_ann_auto — the
    * generator-agnostic contract those operators document) and each
    * hop becomes a constant-time edge-list lookup; the on-demand
    * derivation keeps this ENTRY self-contained without charging it a
    * full graph build per call. Recall is measured, not assumed: the
    * `graph_nsw` row of `ann_eval` scores this walk against the
    * brute-force truth. */
  def annGraphNsw(spark: SparkSession, dir: String, k: Int = 12,
      beam: Int = 24, hops: Int = 3, probes: Int = 3,
      prebuiltEdges: Option[DataFrame] = None): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("e"))
      .withColumn("nrm", expr("vec_norm(e)"))
      .filter(col("nrm") > 0)
    val queries = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qn"))
    // beam state: (query_id, node[, cos]) — entries start unscored;
    // the first hop's candidate union includes the beam itself, so
    // every surviving node carries an exact score from then on.
    // Seeding is the MULTI-probe IVF top-3 by default (r10 verdict
    // item 3: the 1-probe seed dropped the walk in the wrong Voronoi
    // region often enough that graph_nsw recall@3 was 0.40 vs
    // ivf_3probe's higher row — and the walk's final top-3 keeps any
    // exact-scored seed it can't beat, so the traversal is a
    // structural ≥ on its own seed generator's recall; the sweep
    // measurement behind the (probes, beam, hops, k) default is in
    // SURVEY §6).
    // LAZY localCheckpoint on the beam state, seed included (r11): the
    // loop body reads beamDf THREE times per hop (touched set, the
    // candidate union's both branches) and each hop's output feeds the
    // next, so without lineage truncation the physical plan re-executes
    // the whole upstream subtree ~3^hops times — measured at the
    // (3-probe, beam 24, 3 hops) default as a 7,169-line plan with 212
    // parquet scans, 15.5 s at sf0.1. One pin per hop collapses it to a
    // linear chain (3.9 s at sf0.1; ann_eval's graph_nsw row rides the
    // same fix, 28.0 → 7.5 s); each hop's computation — and so every
    // emitted row — is unchanged, only materialized once.
    var beamDf: DataFrame =
      (if (probes <= 1) annIvf(spark, dir)
       else annIvfProbe(spark, dir, probes))
        .select(col("query_id"), col("neighbor_id").as("node"))
        .localCheckpoint(false)
    for (_ <- 1 to hops) {
      val touched = beamDf.select("node").distinct()
      // exact top-k neighbors of each touched node — vecKnnGraph's
      // rows for these sources: looked up in a caller-prebuilt graph
      // (the serving shape — `prebuiltEdges` as (src, dst) rows), or
      // derived on demand with one broadcast-scan (the self-contained
      // entry shape; the spec pins the two traversals row-identical)
      val edges = prebuiltEdges match {
        case Some(pe) => pe.join(broadcast(touched),
            pe("src") === touched("node")).select(pe("src"), pe("dst"))
        case None =>
          val tn = base.join(broadcast(touched), col("vec_id") === col("node"))
            .select(col("node").as("src"), col("e").as("ue"), col("nrm").as("un"))
          graft.plans.TopK.perKey(
              base.join(broadcast(tn), col("vec_id") =!= col("src"))
                .withColumn("cos",
                  round(expr("vec_dot(ue, e)") / (col("un") * col("nrm")), 6)),
              k, Seq("src"), "cos", "vec_id")
            .select(col("src"), col("vec_id").as("dst"))
      }
      val cand = beamDf.select("query_id", "node")
        .unionByName(beamDf.join(edges, beamDf("node") === edges("src"))
          .select(col("query_id"), col("dst").as("node")))
        .filter(col("node") =!= col("query_id"))
        .distinct()
      beamDf = base.join(broadcast(
          cand.join(queries, Seq("query_id"))),
          col("vec_id") === col("node"))
        .withColumn("cos",
          round(expr("vec_dot(qe, e)") / (col("qn") * col("nrm")), 6))
        .withColumn("rk", row_number().over(
          Window.partitionBy("query_id").orderBy(col("cos").desc, col("node"))))
        .filter(col("rk") <= beam)
        .select("query_id", "node", "cos")
        .localCheckpoint(false)
    }
    beamDf
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("node"))).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("node").as("neighbor_id"),
        col("cos"))
      .orderBy("query_id", "rank")
  }

  /** The SERVING shape of the NSW walk (r11 verdict item 6): the
    * bounded-beam traversal over a PREBUILT production substrate —
    * `vecKnnGraphAnnAuto`'s IVF-derived k = 12 edge table (linear to
    * build; the exact graph is quadratic) — instead of deriving each
    * hop's neighbor lists on demand. Measured 17× faster at sf10
    * (walk 5.8 s vs 97.3 s on-demand, substrate growth 1.3× per 10×
    * rows vs 8.6×): at serving scale the graph is built
    * once and amortized across every query batch, and each hop is an
    * edge-table semi-join instead of a Θ(touched·n·d) broadcast scan.
    * This entry stays standalone by contract — every invocation builds
    * the substrate from the parquet inputs (one lazy pin shares it
    * across the walk's hops inside a single materialization; Bench's
    * blanket unpersist retires it after every pass) — so its bench row
    * prices build + walk, the worst case for the serving claim.
    * Edges are approximate (IVF cell-mates), so rows may differ from
    * `ann_graph`'s exact-substrate walk; the DuckDB oracle replays the
    * ann-auto graph construction AND the walk over it end to end, and
    * `ann_eval`'s truth machinery prices the recall of the underlying
    * generator. */
  def annGraphNswPrebuilt(spark: SparkSession, dir: String): DataFrame = {
    val edges = vecKnnGraphAnnAuto(spark, dir, k = 12)
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
      .localCheckpoint(false)
    annGraphNsw(spark, dir, prebuiltEdges = Some(edges))
  }

  /** ANN-method quality report — the vector twin of `dedup_eval`: each
    * approximate path's top-3 neighbor set scored against the exact
    * brute-force truth in integer ppm (recall@3) plus its candidate
    * volume — the dashboard a pipeline owner reads before trading
    * exactness for index cost. Truth computed once and joined against
    * each method; everything reuses the production operators. */
  def annEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val truth = annBruteForce(spark, dir)
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id")).persist()
    val nTruth = truth.count()
    // single-action scoring + concurrent method submission, same
    // rationale as TextOps.dedupEval: truth is a distinct (query,
    // neighbor) set (rank ≤ 3 per query), so the left-join marker
    // can't fan out, and the independent method pipelines overlap on
    // the scheduler instead of serializing their idle phases
    def score(method: String, pairs: DataFrame): (String, Long, Long) = {
      val row = pairs.select("query_id", "neighbor_id")
        .join(truth.withColumn("hit", lit(1)),
          Seq("query_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n"), count(col("hit")).as("h")).head()
      (method, row.getLong(0), row.getLong(1))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val rows = try {
      val fs = Seq(
        "lsh_hyperplane" -> (() => annLsh(spark, dir)),
        "ivf_1probe" -> (() => annIvf(spark, dir)),
        "ivf_3probe" -> (() => annIvfProbe(spark, dir)),
        "ivfpq_adc" -> (() => annIvfPq(spark, dir)),
        "bq_hamming" -> (() => annBq(spark, dir)),
        "pq_adc" -> (() => annPq(spark, dir)),
        "graph_nsw" -> (() => annGraphNsw(spark, dir)))
        .map { case (m, f) => scala.concurrent.Future(score(m, f())) }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(fs),
        scala.concurrent.duration.Duration(20, "min"))
    } finally pool.shutdown()
    truth.unpersist(blocking = false)
    rows.map { case (m, nPairs, nHit) =>
      (m, nPairs, nTruth, nHit,
        if (nTruth == 0) 0L else nHit * 1000000L / nTruth) }
      .toDF("method", "n_returned", "n_truth", "n_hits", "recall_ppm")
      .orderBy("method")
  }

  /** Cluster-balanced representative sampling — the embedding-side
    * corpus PRUNING step (SemDeDup/DataComp family): train k-means,
    * then keep the `perCell` most-representative vectors of every
    * cell (smallest distance to centroid, id tie-break). Balancing
    * across cells is the point — a global "closest to any centroid"
    * top-N collapses onto the densest region, while per-cell quotas
    * preserve coverage of the embedding space's structure.
    *
    * Shape: training is the bounded-driver-state Lloyd fit
    * ([[kmeansFit]]); assignment + distance are one broadcast-argmin
    * scan (NearestCell codegen); per-cell selection is the heap top-k
    * operator keyed by cell. Distances in integer micro-units
    * (deterministic ranking, no FP-order seams). Rows-only: the
    * k-means basis is driver-trained, so no SQL oracle — the spec pins
    * quota exactness, representativeness (selected ≤ every
    * non-selected distance within the cell), and determinism. */
  def sampleDiverse(spark: SparkSession, dir: String, k: Int = 8,
      perCell: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val (cent, _) = kmeansFit(spark, dir, k, iters = 6)
    if (cent.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Long, Long)]
        .toDF("vec_id", "cell", "dist_micro", "cell_rank")
    }
    val assigned = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("e"))
      .withColumn("cell", org.apache.spark.sql.GraftPlanBridge.column(
        graft.functions.NearestCell(
          org.apache.spark.sql.GraftPlanBridge.expression(col("e")), cent))
        .cast("long"))
    // exact squared distance to the assigned centroid, micro-quantized:
    // ‖x−c‖² = ‖x‖² − 2x·c + ‖c‖², computed per row against the
    // broadcast-by-value centroid array
    val centSqNorm = cent.map(c => c.map(x => x * x).sum)
    val centCols = cent.indices.map(i => struct(
      lit(centSqNorm(i)).as("c2"),
      array(cent(i).map(lit(_)): _*).as("cv")))
    val withDist = assigned
      .withColumn("_c", element_at(array(centCols: _*), col("cell").cast("int") + 1))
      .withColumn("dist_micro", expr(
        "CAST(floor((vec_dot(e, e) - 2 * vec_dot(e, _c.cv) + _c.c2) * 1e6 + 0.5) AS BIGINT)"))
      .withColumn("neg_d", -col("dist_micro"))
    graft.plans.TopK.perKey(withDist, perCell, Seq("cell"), "neg_d", "vec_id")
      .withColumn("cell_rank", row_number().over(
        Window.partitionBy("cell")
          .orderBy(col("dist_micro"), col("vec_id"))).cast("long"))
      .select("vec_id", "cell", "dist_micro", "cell_rank")
      .orderBy("cell", "cell_rank")
  }

  /** Matryoshka (MRL) truncation evaluation: how much top-5 retrieval
    * quality survives when the 64-dim embeddings are truncated to their
    * first 8/16/32 dimensions — the measurement behind the
    * matryoshka-representation storage trade (truncated prefixes as
    * cheap first-stage vectors, full dims only for rerank). For each
    * prefix width the per-query top-5 by truncated cosine is scored
    * against the full-width exact top-5 in integer ppm; width 64 scores
    * against itself (recall exactly 1.0 — a built-in self-check the
    * spec pins).
    *
    * One blocked pass computes all four truncated cosines per
    * (query, candidate) pair from the same two arrays (codegen'd
    * vec_dot/vec_norm over array slices), so adding widths adds scalar
    * work, not scans or shuffles; per-(query,width) ranking rides the
    * heap top-k operator and the recall join is over the 50-row truth
    * set. Queries are the bounded vec_id < 10 set (same contract as
    * annBruteForce) — corpus side only ever streams. */
  def mrlEval(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val widths = Seq(8, 16, 32, 64)
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("e"))
      .filter(expr("vec_norm(e)") > 0)
    val q = vecs.select(col("vec_id").as("query_id"), col("e").as("qe"))
      .filter(col("query_id") < 10)
    val pairs = vecs.select(col("vec_id").as("neighbor_id"), col("e").as("ce"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
    // per pair: one row per width with the truncated cosine (rounded
    // before ranking, the engine-exact convention)
    val scored = pairs.select(col("query_id"), col("neighbor_id"),
      explode(array(widths.map { d =>
        struct(lit(d.toLong).as("dim"),
          round(expr(s"vec_dot(slice(qe, 1, $d), slice(ce, 1, $d))") /
            (expr(s"vec_norm(slice(qe, 1, $d))") *
              expr(s"vec_norm(slice(ce, 1, $d))")), 6).as("cos"))
      }: _*)).as("s"))
      .select(col("query_id"), col("neighbor_id"),
        col("s.dim").as("dim"), col("s.cos").as("cos"))
      // zero-norm prefixes have no direction at that width (NaN cos):
      // excluded, mirroring the full-width zero-norm rule
      .filter(!isnan(col("cos")))
    // tiny (|queries|·|widths|·5 rows) and read twice (truth count +
    // recall join) — persist so the blocked pass runs once; the bench
    // harness sweeps persisted blocks between queries
    val top5 = graft.plans.TopK.perKey(scored, 5,
      Seq("query_id", "dim"), "cos", "neighbor_id").persist()
    val truth = top5.filter(col("dim") === 64)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    val nTruth = truth.count()
    top5.join(truth, Seq("query_id", "neighbor_id"), "left")
      .groupBy("dim")
      .agg(count(lit(1)).as("n_returned"), count(col("hit")).as("n_hits"))
      .withColumn("n_truth", lit(nTruth))
      .withColumn("recall_ppm", when(lit(nTruth) === 0, 0L)
        .otherwise(expr("n_hits * 1000000 div n_truth")))
      .select("dim", "n_returned", "n_truth", "n_hits", "recall_ppm")
      .orderBy("dim")
  }

  /** Distributed Lloyd k-means over the FULL corpus (vs the IVF coarse
    * quantizer, which trains on a bounded driver sample): per round,
    * assignment is the broadcast-by-reference NearestCell argmin fused
    * into the scan, and the centroid update is ONE map-side-combinable
    * aggregate of EXACT integer micro-unit sums per (cell, dim) — so
    * centroids, assignments, and the whole trajectory are layout- and
    * run-reproducible (float accumulation order never enters). The
    * driver holds k×d sums per round — constant in the corpus. Inertia
    * per round comes free from the same sums via
    * Σ‖x−μ_c‖² = Σ‖x‖² − Σ_c ‖s_c‖²/n_c (exact integers in micro²).
    * Init = the k lowest-id vectors (deterministic; any seeded bounded
    * sample works at scale). Returns (centroids, inertia history). */
  private[graft] def kmeansFit(spark: SparkSession, dir: String, k: Int,
      iters: Int): (Array[Array[Double]], Array[Double]) = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
      // iterated `iters` times: cache if it fits, recompute if not
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val init = base.orderBy("vec_id").limit(k).collect()
        .map(_.getSeq[Float](1).toArray.map(_.toDouble))
      if (init.isEmpty) return (Array.empty, Array.empty)
      // tiny corpora: fewer vectors than requested cells — train with
      // what exists rather than indexing past the centroid array
      val kEff = math.min(k, init.length)
      val d = init.head.length
      val micro = floor(col("v").cast("double") * 1e6 + 0.5).cast("long")
      var cent = init.take(kEff)
      var totSq = 0L // Σ‖x‖² rides the round-1 aggregate — no extra scan
      val hist = new Array[Double](iters)
      for (it <- 0 until iters) {
        val stats = base
          .withColumn("cell", org.apache.spark.sql.GraftPlanBridge.column(
            graft.functions.NearestCell(
              org.apache.spark.sql.GraftPlanBridge.expression(col("embedding")), cent)))
          .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .select(col("cell"), col("pos"), micro.as("vm"))
          .groupBy("cell", "pos")
          .agg(sum("vm").as("s"), count(lit(1)).as("n"),
            sum(col("vm") * col("vm")).as("sq"))
          .collect()
        val sums = Array.ofDim[Long](kEff, d)
        val counts = new Array[Long](kEff)
        stats.foreach { r =>
          val c = r.getInt(0); val p = r.getInt(1)
          sums(c)(p) = r.getLong(2); counts(c) = r.getLong(3)
        }
        if (it == 0) totSq = stats.map(_.getLong(4)).sum
        cent = Array.tabulate(kEff) { c =>
          if (counts(c) == 0) cent(c) // empty cell keeps its centroid
          else sums(c).map(_.toDouble / counts(c) / 1e6)
        }
        var within = 0.0
        for (c <- 0 until kEff if counts(c) > 0; i <- 0 until d)
          within += sums(c)(i).toDouble * sums(c)(i).toDouble / counts(c)
        hist(it) = (totSq - within) / 1e12
      }
      (cent, hist)
    } finally base.unpersist(blocking = false)
  }

  /** Corpus clustering: every vector's final k-means cell plus the
    * cell population — the prototype/clustering prep step (topic
    * bucketing, stratified curation) done with the distributed trainer
    * above; one extra broadcast-argmin pass emits the assignment. */
  def vecKmeans(spark: SparkSession, dir: String, k: Int = 8,
      iters: Int = 8): DataFrame = {
    val (cent, _) = kmeansFit(spark, dir, k, iters)
    if (cent.isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Int, Long)].toDF("vec_id", "cluster", "cluster_n")
    }
    val assigned = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        org.apache.spark.sql.GraftPlanBridge.column(
          graft.functions.NearestCell(
            org.apache.spark.sql.GraftPlanBridge.expression(col("embedding")),
            cent)).as("cluster"))
    val sizes = assigned.groupBy("cluster").agg(count(lit(1)).as("cluster_n"))
    assigned.join(sizes, "cluster")
      .select("vec_id", "cluster", "cluster_n")
      .orderBy("vec_id")
  }

  /** Deterministic cyclic-Jacobi symmetric eigendecomposition —
    * fixed sweep order, fixed tolerance, no randomness, so the same
    * Gram gives the same basis on every run and every driver. Returns
    * (eigenvalues, eigenvectors as ROWS), unordered. d ≤ ~512 keeps
    * the O(d³) driver cost trivial. */
  private[graft] def jacobiEigen(a0: Array[Array[Double]], sweeps: Int = 64)
      : (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val m = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < sweeps && off > 1e-12) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = m(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (m(q)(q) - m(p)(p)) / (2.0 * apq)
            val t =
              if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              else -1.0 / (-theta + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < d) {
              val mip = m(i)(p); val miq = m(i)(q)
              m(i)(p) = c * mip - s * miq
              m(i)(q) = s * mip + c * miq
              i += 1
            }
            i = 0
            while (i < d) {
              val mpi = m(p)(i); val mqi = m(q)(i)
              m(p)(i) = c * mpi - s * mqi
              m(q)(i) = s * mpi + c * mqi
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      var i = 0
      while (i < d - 1) {
        var j = i + 1
        while (j < d) { off += m(i)(j) * m(i)(j); j += 1 }
        i += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => m(i)(i)), Array.tabulate(d, d)((c, i) => v(i)(c)))
  }

  /** Top-`k` principal components of the embedding covariance, with a
    * deterministic basis (eigenvalue-desc order, index tie-break, sign
    * fixed so each component's largest-|coordinate| entry is positive).
    * Driver cost is O(d²) collect + O(d³) Jacobi — CONSTANT in the
    * corpus, the same sample-train/broadcast-assign contract as IVF/PQ:
    * the data-scaled work is one Gram/centroid aggregate in exact
    * integer micro-units and one codegen'd projection pass. */
  private[graft] def pcaBasis(spark: SparkSession, dir: String, k: Int)
      : (Array[Double], Array[Array[Double]], Array[Double]) = {
    import spark.implicits._
    val micro = Tables.embeddings(spark, dir)
      .select(transform(col("embedding"),
        x => floor(x.cast("double") * 1e6 + 0.5).cast("long")).as("m"))
      .as[Array[Long]]
    val g = micro.select(GramAgg.toColumn).head()
    require(g.nonEmpty, "empty embeddings table")
    val n = g(0).toDouble
    val d = ((math.sqrt(8.0 * (g.length - 1) + 1) - 1) / 2).toInt
    // per-dim sums (bounded d-row aggregate) for the mean vector
    val sums = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("pos"), floor(col("v").cast("double") * 1e6 + 0.5)
        .cast("long").as("vm"))
      .groupBy("pos").agg(sum("vm").as("s"))
      .collect().sortBy(_.getInt(0)).map(_.getLong(1).toDouble)
    val mu = sums.map(_ / n / 1e6)
    // covariance in ORIGINAL units: (G/n − μμᵀ), G in micro²
    val cov = Array.ofDim[Double](d, d)
    var kk = 1
    for (i <- 0 until d; j <- i until d) {
      val c = g(kk) / n / 1e12 - mu(i) * mu(j); kk += 1
      cov(i)(j) = c; cov(j)(i) = c
    }
    val (evals, evecs) = jacobiEigen(cov)
    val order = (0 until d).sortBy(i => (-evals(i), i)).take(k)
    val basis = order.map { i =>
      val v = evecs(i)
      val amax = v.indices.maxBy(j => (math.abs(v(j)), -j))
      if (v(amax) < 0) v.map(x => -x) else v
    }.toArray
    (order.map(evals(_)).toArray, basis, mu)
  }

  /** PCA projection: each embedding reduced to its top-4 principal
    * coordinates (exact micro-unit output) plus the squared residual —
    * the dimensionality-reduction / whitening prep step of an embedding
    * pipeline, and the variance-explained diagnostic in one result.
    * The projection is z_c = x·v_c − μ·v_c with the constant μ·v_c
    * folded on the driver — one zip_with/aggregate chain per component,
    * no UDF, no per-row driver work. */
  def vecPca(spark: SparkSession, dir: String, k: Int = 4): DataFrame = {
    // day-one robustness: no vectors yet -> empty result, same schema
    if (Tables.embeddings(spark, dir).isEmpty) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Long, Long)]
        .toDF("vec_id", "comp", "z_micro", "eval_nano")
    }
    val (evals, basis, mu) = pcaBasis(spark, dir, k)
    val e = asDouble(col("embedding"))
    val comps = basis.zipWithIndex.map { case (v, c) =>
      val vLit = typedLit(v.toSeq)
      val shift = v.indices.map(i => v(i) * mu(i)).sum
      struct(lit(c).cast("long").as("comp"),
        round((hofDot(e, vLit) - lit(shift)) * 1e6, 0).cast("long").as("z_micro"),
        lit(math.round(evals(c) * 1e9)).as("eval_nano"))
    }
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), explode(array(comps: _*)).as("p"))
      .select(col("vec_id"), col("p.comp").as("comp"),
        col("p.z_micro").as("z_micro"), col("p.eval_nano").as("eval_nano"))
      .orderBy("vec_id", "comp")
  }

  /** Hash-oracled companion of `vec_pca` (r9 verdict item 7): the
    * Jacobi eigensolver itself has no SQL replay, but the FULL-RANK
    * projection it produces satisfies an invariant any SQL engine can
    * compute independently — with k = d orthonormal components,
    * Σ_c z_c² = ‖x − μ‖² per vector (Parseval on the centered
    * embedding). The engine side derives the left-hand sum THROUGH
    * the eigenbasis (d dot products against the solved components,
    * exactly the `vec_pca` projection path at full rank), while the
    * DuckDB oracle computes the right-hand norm straight from the
    * parquet column and the micro-exact mean — the two sides share no
    * code and no basis, so a non-orthonormal eigensolve, a dropped
    * component, or a wrong centering shift is a hash mismatch here
    * even though `vec_pca` itself stays rows-only. Both sides round
    * to 4 decimals: the identity holds to ~1e-13 relative (Jacobi's
    * off-diagonal residual), four orders below the rounding grid.
    * KNOWN FLAKE MODE (r10 ADVICE, documented by decision): the two
    * sides compute through DIFFERENT arithmetic, so a recon_norm2
    * landing within ~1e-13 of a 0.00005 grid boundary can round to
    * different 4-decimal cells and fail the hash without any
    * orthonormality defect. Odds per value ≈ 2e-13/5e-5 ≈ 4e-9 —
    * ~2e-6 per 500-row run — so a single isolated mismatch on this
    * entry is first re-read as a grid-edge draw (diff the two parquet
    * dumps: a boundary flake differs by exactly one grid step on one
    * row; a real defect moves many rows or moves one row far).
    * Coarsening the grid only rescales the same odds, and an
    * epsilon-tolerant compare can't be expressed in the driver's
    * hash-equality gate, so the mode is documented instead of
    * engineered away.
    * Per-component variance-vs-eigenvalue and basis orthonormality
    * are additionally pinned in-JVM by VectorOpsSpec's second
    * implementation; this entry is the cross-engine anchor. */
  def vecPcaCheck(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val emb = Tables.embeddings(spark, dir)
    if (emb.isEmpty)
      return Seq.empty[(Long, Long, Double)]
        .toDF("vec_id", "dim", "recon_norm2")
    val d = emb.select(size(col("embedding"))).head().getInt(0)
    val (_, basis, mu) = pcaBasis(spark, dir, d)
    val e = asDouble(col("embedding"))
    val z2 = basis.map { v =>
      val vLit = typedLit(v.toSeq)
      val shift = v.indices.map(i => v(i) * mu(i)).sum
      val z = call_function("vec_dot", e, vLit) - lit(shift)
      z * z
    }.reduce(_ + _)
    emb.select(col("vec_id"), lit(d.toLong).as("dim"),
        round(z2, 4).as("recon_norm2"))
      .orderBy("vec_id")
  }

  /** Exact MIPS (maximum inner-product search): top-5 neighbors per
    * query by RAW dot product — the retrieval objective when vectors
    * carry magnitude signal (recommendation scores, un-normalized
    * output embeddings), where cosine's normalization is wrong.
    *
    * The scale story is the norm-augmentation reduction (Bachrach et
    * al. '14 / Shrivastava-Li '14): with M = max corpus norm, append
    * sqrt(M² − ‖x‖²) to each corpus vector and 0 to each query — then
    * every augmented corpus vector has norm M, so cos(q', x') =
    * q·x / (‖q‖·M) is a per-query monotone function of the dot
    * product, and the ENTIRE cosine-ANN machinery (LSH buckets, IVF
    * cells, PQ codes) applies to MIPS unchanged. The spec pins the
    * augmented-cosine ranking identical to this exact ranking; this
    * entry ships the exact form (broadcast of the bounded query set
    * against one corpus scan — same plan as `annBruteForce`).
    * Zero-norm vectors are legal here (dot = 0 is meaningful), unlike
    * the cosine family. */
  def annMips(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("e"))
    val q = vecs.filter(col("vec_id") < 10).toDF("query_id", "qe")
    val c = vecs.toDF("neighbor_id", "ce")
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("neighbor_id"))
    c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("dot", round(expr("vec_dot(qe, ce)"), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("dot"))
      .orderBy("query_id", "rank")
  }

  /** Binary-quantized ANN: 1-bit-per-dimension sign masks (the 32×
    * storage cut modern vector stores ship as "binary quantization"),
    * Hamming-distance prefilter, exact-cosine rerank of the shortlist.
    * The 64 sign bits pack into TWO 32-bit halves (m0 = dims 0–31,
    * m1 = dims 32–63) so no bit ever reaches a BIGINT's sign position
    * — both engines' shift/xor arithmetic stays in the portable range,
    * and the DuckDB oracle recomputes masks, Hamming distances, and
    * the rerank bit-for-bit.
    *
    * Plan shape: the mask table is a 2-long-per-vector scan (the
    * compressed representation a real deployment stores); the
    * shortlist is the heap top-32 per query by (−Hamming, id) — sign
    * masks never shuffle more than 16 bytes/vector; only the ≤32
    * shortlisted candidates rejoin the full float vectors for the
    * exact rerank (index join on ids). Queries are the bounded
    * vec_id < 10 set. */
  def annBq(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("e"))
      .withColumn("nrm", expr("vec_norm(e)"))
      .filter(col("nrm") > 0)
    val masks = vecs.select(col("vec_id"),
      expr("""aggregate(sequence(0, 31),  CAST(0 AS BIGINT),
             | (acc, j) -> acc | CAST(CASE WHEN element_at(e, j + 1)  > 0 THEN shiftleft(CAST(1 AS BIGINT), j) ELSE 0 END AS BIGINT))""".stripMargin).as("m0"),
      expr("""aggregate(sequence(0, 31),  CAST(0 AS BIGINT),
             | (acc, j) -> acc | CAST(CASE WHEN element_at(e, j + 33) > 0 THEN shiftleft(CAST(1 AS BIGINT), j) ELSE 0 END AS BIGINT))""".stripMargin).as("m1"))
    val qm = masks.filter(col("vec_id") < 10)
      .toDF("query_id", "q0", "q1")
    val cand = masks.toDF("neighbor_id", "c0", "c1")
      .join(broadcast(qm), col("neighbor_id") =!= col("query_id"))
      .withColumn("hamming", expr(
        "CAST(bit_count(q0 ^ c0) + bit_count(q1 ^ c1) AS BIGINT)"))
      .withColumn("neg_h", -col("hamming"))
    val shortlist = graft.plans.TopK.perKey(cand, 32,
        Seq("query_id"), "neg_h", "neighbor_id")
      .select("query_id", "neighbor_id", "hamming")
    // exact rerank over the ≤32-per-query shortlist
    val qv = vecs.select(col("vec_id").as("query_id"), col("e").as("qe"),
      col("nrm").as("qn")).filter(col("query_id") < 10)
    val cv = vecs.select(col("vec_id").as("neighbor_id"), col("e").as("ce"),
      col("nrm").as("cn"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    shortlist
      .join(broadcast(qv), Seq("query_id"))
      .join(cv, Seq("neighbor_id"))
      .withColumn("cos", round(expr("vec_dot(qe, ce)") / (col("qn") * col("cn")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos"), col("hamming"))
      .orderBy("query_id", "rank")
  }

  /** SemDeDup (Abbas et al. '23): semantic deduplication that makes
    * embedding near-dup removal tractable at corpus scale by searching
    * for duplicates ONLY within k-means clusters — the all-pairs cost
    * drops from n² to Σ n_c², a k× reduction for balanced clusters,
    * and each cluster's pair search is independent (perfectly
    * parallel). Clusters come from the distributed exact-integer Lloyd
    * trainer ([[kmeansFit]] — deterministic, layout-proof), so the
    * whole operator is reproducible. Within a cluster the pair search
    * reuses the block-partitioned join shape of [[dedupEmbedding]]
    * (key = (cluster, block-pair)): per-task memory stays bounded by
    * 2·n_c/B vectors no matter how large a cluster grows, and nothing
    * is broadcast or driver-held.
    *
    * Verdict per vector: `keep = 0` iff a same-cluster neighbor with
    * cosine ≥ τ and a LOWER vec_id exists (dup_of = the smallest such
    * partner) — the min-id canonical rule used by the exact-dedup
    * family. Zero-norm vectors have no direction, never pair, and are
    * always kept. The trade vs exact [[dedupEmbedding]] is recall
    * across cluster boundaries: a pair split by the partition is
    * missed — the spec measures that recall against the exact
    * all-pairs truth and pins within-cluster completeness. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    semanticDedupBlocked(spark, dir, k = 8, iters = 4, blocks = 8, tau = 0.45)

  private[graft] def semanticDedupBlocked(spark: SparkSession, dir: String,
      k: Int, iters: Int, blocks: Int, tau: Double): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val (cent, _) = kmeansFit(spark, dir, k, iters)
    if (cent.isEmpty)
      return Seq.empty[(Long, Int, Int, Option[Long])]
        .toDF("vec_id", "cluster", "keep", "dup_of")
    val par = spark.sparkContext.defaultParallelism
    val assigned = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("e"))
      .withColumn("nrm", expr("vec_norm(e)"))
      .withColumn("cluster", org.apache.spark.sql.GraftPlanBridge.column(
        graft.functions.NearestCell(
          org.apache.spark.sql.GraftPlanBridge.expression(col("e")), cent)))
    val vecs = assigned.filter(col("nrm") > 0)
      .withColumn("blk", pmod(hash(col("vec_id")), lit(blocks)))
    // role-split block replication within each cluster — every
    // same-cluster pair meets exactly once (see dedupEmbeddingBlocked)
    val lo = vecs
      .withColumn("hi_blk", explode(sequence(col("blk"), lit(blocks - 1))))
      .select(col("cluster"),
        struct(col("blk").as("lo"), col("hi_blk").as("hi")).as("bp"),
        col("vec_id").as("a_id"), col("e").as("ae"), col("nrm").as("an"),
        col("blk").as("a_blk"))
      .repartition(par, col("cluster"), col("bp"))
    val hi = vecs
      .withColumn("lo_blk", explode(sequence(lit(0), col("blk"))))
      .select(col("cluster"),
        struct(col("lo_blk").as("lo"), col("blk").as("hi")).as("bp"),
        col("vec_id").as("b_id"), col("e").as("be"), col("nrm").as("bn"),
        col("blk").as("b_blk"))
      .repartition(par, col("cluster"), col("bp"))
    val pairs = lo.join(hi, Seq("cluster", "bp"))
      .filter(col("a_blk") =!= col("b_blk") || col("a_id") < col("b_id"))
      .withColumn("cos", round(expr("vec_dot(ae, be)") / (col("an") * col("bn")), 6))
      .filter(col("cos") >= tau)
      .select(least(col("a_id"), col("b_id")).as("lo_id"),
        greatest(col("a_id"), col("b_id")).as("hi_id"))
    val dupOf = pairs.groupBy(col("hi_id").as("vec_id"))
      .agg(min("lo_id").as("dup_of"))
    assigned.select("vec_id", "cluster").join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        when(col("dup_of").isNull, 1).otherwise(0).as("keep"), col("dup_of"))
      .orderBy("vec_id")
  }

  /** same-cluster exact pairs, for the spec's completeness check */
  private[graft] def semanticPairsBrute(spark: SparkSession, dir: String,
      k: Int, iters: Int, tau: Double): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val (cent, _) = kmeansFit(spark, dir, k, iters)
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("e"))
      .withColumn("nrm", expr("vec_norm(e)"))
      .filter(col("nrm") > 0)
      .withColumn("cluster", org.apache.spark.sql.GraftPlanBridge.column(
        graft.functions.NearestCell(
          org.apache.spark.sql.GraftPlanBridge.expression(col("e")), cent)))
    val a = vecs.toDF("a_id", "ae", "an", "cluster")
    val b = vecs.toDF("b_id", "be", "bn", "cluster")
    a.join(b, Seq("cluster")).filter(col("a_id") < col("b_id"))
      .withColumn("cos", round(expr("vec_dot(ae, be)") / (col("an") * col("bn")), 6))
      .filter(col("cos") >= tau)
      .select("a_id", "b_id")
  }

  def vecGram(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val micro = Tables.embeddings(spark, dir)
      .select(transform(col("embedding"),
        x => floor(x.cast("double") * 1e6 + 0.5).cast("long")).as("m"))
      .as[Array[Long]]
    val gram: org.apache.spark.sql.Dataset[Array[Long]] =
      micro.select(GramAgg.toColumn)
    gram.flatMap { g =>
      if (g.isEmpty) Iterator.empty
      else {
      val n = g(0)
      // g.length = 1 + d(d+1)/2  ⇒  recover d
      val d = ((math.sqrt(8.0 * (g.length - 1) + 1) - 1) / 2).toInt
      var k = 1
      for (i <- 0 until d; j <- i until d) yield {
        val r = (i.toLong, j.toLong, n, g(k)); k += 1; r
      }
      }
    }.toDF("i", "j", "n_vecs", "sum_micro2")
      .orderBy("i", "j")
  }

  /** Embedding-space outlier detection — the curation step that prunes
    * mislabeled / out-of-distribution vectors before they poison a
    * training mix: the 5 vectors farthest from their label centroid,
    * per label, by exact squared distance in integer micro-units.
    *
    * Exactness: coordinates quantize to micro ints
    * (floor(x·1e6+0.5), engine-independent); the centroid quantizes
    * ONCE per (label, pos) as `sum_micro div n` (integral division),
    * so the distance Σ(x_micro − c_micro)² is pure BIGINT arithmetic —
    * order-independent, oracle-reproducible. 64 dims × (2·10⁶)² ≈
    * 2.6·10¹⁴ per vector: no overflow headroom issues.
    *
    * Scale shape: the (label, pos) sum is one map-side-combinable
    * aggregate bounded by |labels|·dim; centroid ARRAYS ride a
    * broadcast join back (corpus-constant build side — labels×dim,
    * never corpus-sized); the per-row distance is one codegen'd
    * zip_with/aggregate over the joined arrays (no explode of the
    * corpus, no second shuffle); the top-5-per-label tail is the heap
    * operator. The corpus is scanned twice and shuffled never. */
  def vecOutliers(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val micro = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1e6 + 0.5).cast("long")).as("m"))
    val cent = micro
      .select(col("label"), posexplode(col("m")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
      // coordinate sums go negative; Spark `div` truncates where
      // DuckDB `//` floors, so shift into the non-negative domain
      // (coords are unit-scale ≪ 10, so s ≥ −n·10⁷ always) where the
      // two conventions coincide
      .withColumn("c", expr("(s + n * 10000000) div n - 10000000"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("label"), expr("transform(pc, p -> p.c)").as("cvec"))
    // codegen'd exact integer L2² — bit-identical to the lambda fold
    // it replaces (sequential long sum), guide §4
    val d2 = micro.join(broadcast(cent), Seq("label"))
      .withColumn("d2", expr("vec_l2sq_long(m, cvec)"))
      .select(col("label"), col("vec_id"), col("d2"))
    graft.plans.TopK.perKey(d2, k, Seq("label"), "d2", "vec_id")
      .withColumn("rank", row_number().over(
        Window.partitionBy("label")
          .orderBy(col("d2").desc, col("vec_id"))).cast("long"))
      .select("label", "rank", "vec_id", "d2")
      .orderBy("label", "rank")
  }

  /** Cluster-quality report per label: cohesion (mean squared distance
    * to the own-label centroid) against separation (squared distance
    * to the nearest OTHER centroid) — the Davies-Bouldin-style check
    * run after any clustering/labeling pass before the labels are
    * trusted downstream (a label whose cohesion_ppm ≫ 10⁶ overlaps its
    * neighbor and is not a cluster). Same micro-int/shifted-floor
    * centroid contract as `vecOutliers`, so both engines agree
    * bit-for-bit.
    *
    * Scale shape: centroids come from one (label, pos) combinable
    * aggregate (bounded |labels|·dim); the per-row distance rides a
    * broadcast of that corpus-constant table and folds straight into a
    * per-label aggregate (sum widened to DECIMAL(38,0) — d2 is ~2.6e16
    * per row, the BIGINT sum dies at ~350 rows); the centroid-pair
    * scan is |labels|² on the bounded table. The corpus is scanned
    * twice and shuffled never. */
  def clusterEval(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val micro = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1e6 + 0.5).cast("long")).as("m"))
    val cent = micro
      .select(col("label"), posexplode(col("m")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
      .withColumn("c", expr("(s + n * 10000000) div n - 10000000"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("label"), expr("transform(pc, p -> p.c)").as("cvec"))
    // codegen'd exact integer L2² (see vecOutliers) — guide §4
    val coh = micro.join(broadcast(cent), Seq("label"))
      .withColumn("d2", expr("vec_l2sq_long(m, cvec)"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        expr("CAST(SUM(CAST(d2 AS DECIMAL(38,0))) div COUNT(1) AS BIGINT)")
          .as("mean_d2"))
    val sep = cent.toDF("label", "ca").crossJoin(cent.toDF("lb", "cb"))
      .filter(col("label") =!= col("lb"))
      .withColumn("cd2", expr("vec_l2sq_long(ca, cb)"))
      .groupBy("label")
      .agg(min(struct(col("cd2"), col("lb"))).as("m"))
      .select(col("label"), col("m.lb").as("nearest_label"),
        col("m.cd2").as("sep_d2"))
    coh.join(sep, Seq("label"), "left")
      .withColumn("cohesion_ppm", expr(
        "CAST(CAST(mean_d2 AS DECIMAL(38,0)) * 1000000 div sep_d2 AS BIGINT)"))
      .select("label", "n_vecs", "mean_d2", "nearest_label", "sep_d2",
        "cohesion_ppm")
      .orderBy("label")
  }

  /** k-NN label classifier with exact neighbors — the label-propagation
    * / auto-labeling primitive of a curation pipeline (classify
    * unlabeled documents from their embedding neighborhoods): a
    * deterministic holdout (vec_id % 5 = 0) plays the unlabeled set,
    * every held-out vector takes the majority label of its k=5 nearest
    * labeled neighbors by cosine (tie → smaller label id), and the
    * output carries truth for accuracy audits downstream.
    *
    * Shape: the labeled side hash-blocks once; each held-out vector
    * replicates across the `blocks` block ids (bounded constant
    * fan-out), so the candidate product is block-partitioned test×train
    * — P bounded tasks, no broadcast of a data-scaled side, same
    * contract as `vecKnnGraph`'s exact tier. Top-k rides the heap
    * operator (no per-query sort); the vote argmax is ONE aggregate
    * (lexicographic max over (votes, −label) structs), not a second
    * window. Exactness tier is the documented contract — the corpus-
    * scale swap keeps the vote/argmax tail and feeds it IVF/LSH
    * candidates instead (see vecKnnGraphAnn). Cosines round to 6
    * digits BEFORE ranking so both engines rank identical values. */
  def knnClassify(spark: SparkSession, dir: String, k: Int = 5,
      blocks: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val par = spark.sparkContext.defaultParallelism
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("e"), col("label"))
      .withColumn("nrm", expr("vec_norm(e)"))
      .filter(col("nrm") > 0) // zero-norm: no direction (NaN cos)
    val test = base.filter(col("vec_id") % 5 === 0)
      .withColumn("blk", explode(sequence(lit(0), lit(blocks - 1))))
      .select(col("blk"), col("vec_id"), col("e").as("qe"),
        col("nrm").as("qn"), col("label").as("true_label"))
      .repartition(par, col("blk"))
    val train = base.filter(col("vec_id") % 5 =!= 0)
      .withColumn("blk", pmod(hash(col("vec_id")), lit(blocks)))
      .select(col("blk"), col("vec_id").as("n_id"), col("e").as("ce"),
        col("nrm").as("cn"), col("label").as("n_label"))
      .repartition(par, col("blk"))
    val scored = test.join(train, Seq("blk"))
      .select(col("vec_id"), col("true_label"), col("n_id"), col("n_label"),
        round(expr("vec_dot(qe, ce)") / (col("qn") * col("cn")), 6).as("cos"))
    graft.plans.TopK.perKey(scored, k, Seq("vec_id"), "cos", "n_id")
      .groupBy("vec_id", "true_label", "n_label")
      .agg(count(lit(1)).as("votes"))
      .groupBy("vec_id", "true_label")
      .agg(max(struct(col("votes"), (-col("n_label")).as("neg_label"),
        col("n_label"))).as("best"))
      .select(col("vec_id"), col("true_label"),
        col("best.n_label").as("pred_label"), col("best.votes").as("votes"))
      .withColumn("correct", col("pred_label") === col("true_label"))
      .orderBy("vec_id")
  }

  /** Reciprocal-rank fusion of two retrievers — cosine (direction)
    * and raw dot product (MIPS magnitude×direction) — the standard
    * hybrid-search combiner (Cormack-Clarke-Büttcher RRF, the same
    * formula production vector stores ship for dense+sparse fusion):
    *
    *   score(c) = Σ_lists ⌊10⁶ / (60 + rank_list(c))⌋
    *
    * in exact integers, so fusion is order-independent and both
    * engines agree bit-for-bit; a candidate absent from one list
    * contributes only its present term (the standard top-k-list
    * convention). Per query each retriever contributes its EXACT
    * top-64 via the heap operator (`TopKPerKey` — no per-query corpus
    * sort), ranks come from windows over those ≤64-row lists, the
    * full-outer fuse joins two 64-row lists per query, and the tail is
    * another 10-heap. Retriever semantics match `annBruteForce`
    * (zero-norm vectors have no direction: excluded from the cosine
    * list) and `annMips` (all vectors eligible) exactly. */
  def annRrf(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val vecs = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding").as("e"))
    val q = vecs.filter(col("vec_id") < 10).toDF("query_id", "qe")
    val scored = vecs.toDF("neighbor_id", "ce")
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("dot", round(expr("vec_dot(qe, ce)"), 6))
      .withColumn("qn", expr("vec_norm(qe)"))
      .withColumn("cn", expr("vec_norm(ce)"))
    val wCos = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    val wDot = Window.partitionBy("query_id").orderBy(col("dot").desc, col("neighbor_id"))
    val cosList = graft.plans.TopK.perKey(
        scored.filter(col("qn") > 0 && col("cn") > 0)
          .withColumn("cos", round(expr("vec_dot(qe, ce)") / (col("qn") * col("cn")), 6))
          .select("query_id", "neighbor_id", "cos"),
        64, Seq("query_id"), "cos", "neighbor_id")
      .withColumn("rank_cos", row_number().over(wCos).cast("long"))
      .select("query_id", "neighbor_id", "rank_cos")
    val dotList = graft.plans.TopK.perKey(
        scored.select("query_id", "neighbor_id", "dot"),
        64, Seq("query_id"), "dot", "neighbor_id")
      .withColumn("rank_dot", row_number().over(wDot).cast("long"))
      .select("query_id", "neighbor_id", "rank_dot")
    val fused = cosList.join(dotList, Seq("query_id", "neighbor_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(expr("1000000 div (60 + rank_cos)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + rank_dot)"), lit(0L)))
    graft.plans.TopK.perKey(fused, 10, Seq("query_id"), "rrf_score", "neighbor_id")
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("rrf_score").desc, col("neighbor_id"))).cast("long"))
      .select("query_id", "rank", "neighbor_id", "rrf_score", "rank_cos", "rank_dot")
      .orderBy("query_id", "rank")
  }

  /** Embedding-space drift monitor: per-label squared centroid shift
    * between two deterministic snapshots (vec_id parity stands in for
    * old/new ingestion batches) — the embedding twin of `q_drift`
    * (value-histogram TVD): a label whose centroid moves between
    * snapshots signals upstream encoder or distribution change BEFORE
    * it corrupts ANN indexes and dedup thresholds downstream. Exact
    * integer micro units end to end (the shifted-floor-division
    * centroid idiom from vec_outliers, so Spark `div` and DuckDB `//`
    * agree on negative sums); the per-(label, snapshot, pos) aggregate
    * is map-side combinable and |labels|·2·dim-bounded — the corpus is
    * scanned once and never shuffled. A label missing one snapshot
    * reports NULL drift. */
  def vecDrift(spark: SparkSession, dir: String): DataFrame = {
    val micro = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"), (col("vec_id") % 2 === 0).as("is_a"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1e6 + 0.5).cast("long")).as("m"))
    val counts = micro.groupBy("label")
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_b"))
    val cent = micro
      .select(col("label"), col("is_a"), posexplode(col("m")).as(Seq("pos", "v")))
      .groupBy("label", "is_a", "pos")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
      .withColumn("c", expr("(s + n * 10000000) div n - 10000000"))
    val drift = cent.groupBy("label", "pos")
      .agg(max(when(col("is_a"), col("c"))).as("ca"),
        max(when(!col("is_a"), col("c"))).as("cb"))
      .filter(col("ca").isNotNull && col("cb").isNotNull)
      .groupBy("label")
      .agg(sum(expr("(ca - cb) * (ca - cb)")).as("drift_d2"))
    counts.join(drift, Seq("label"), "left")
      .select(col("label"), col("n_a"), col("n_b"), col("drift_d2"))
      .orderBy("label")
  }
}
