package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1.0 certification data: scale the driver's sf0.1 drop ×R (default
  * 10) into the same `<dir>/<table>.parquet` layout, so the full
  * Verify + DuckDB oracle + Bench surface can run at real sf1.0 data
  * volume (~6M lineitem rows) rather than synthetic in-query
  * replication.
  *
  * Fidelity rules (what makes this "sf1.0" and not "10 copies"):
  *  - Keys are contiguous 0..N-1 in the driver drop, so replica r
  *    shifts every key column by r·N — ranges stay contiguous
  *    0..10N-1 and every FK (orders→customer, lineitem→orders/part/
  *    supplier, events→user) lands on the matching shifted row.
  *  - Key-derived strings (Customer#%09d, Supplier#%09d) are
  *    regenerated from the new key, as the driver's generator would.
  *  - `nation`/`region` don't scale (TPC-H semantics).
  *  - Timestamps don't shift: sf scales traffic per unit time, not the
  *    covered time range (matches orders/lineitem date literals in the
  *    query surface selecting proportional subsets).
  *  - `documents.text` in replica r>0 is deterministically reworded:
  *    ~1/3 of positions are replaced by OTHER words of the same
  *    document (position+rep keyed, content-only), so cross-replica
  *    trigram-shingle Jaccard falls to ~0.3 — below every near-dup
  *    threshold in the surface — while unigram/language distributions
  *    and WITHIN-replica planted dup structure (identical texts map to
  *    identical perturbations) are preserved. n_chars is recomputed.
  *  - `embeddings` in replica r>0 are fresh samples from the same
  *    cluster: v' = normalize(v + s·g) with g a unit gaussian seeded by
  *    (vec_id, rep) and s the corpus mean distance-to-label-centroid,
  *    i.e. each replica vector moves by ~one cluster radius — new data
  *    from the same label distribution, not a near-identical copy that
  *    would fake 10× near-dup density.
  *
  * Output layout is `<out>/<table>.parquet` as a DIRECTORY of part
  * files (splittable, realistic scan parallelism at sf1); Tables.load
  * reads it unchanged and tools/check.py globs directories.
  */
object MakeSf {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/root/repo/testdata-sf1")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.LocalSession("32")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    import spark.implicits._

    val repCol = explode(lit((0 until reps).toArray))

    def write(df: DataFrame, name: String, parts: Int): Unit = {
      df.repartition(parts).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[makesf] $name written")
    }

    def rowCount(name: String): Long =
      graft.sources.Tables.load(spark, src, name).count()

    val nC = rowCount("customer"); val nS = rowCount("supplier")
    val nP = rowCount("part"); val nO = rowCount("orders")
    val nE = rowCount("events"); val nD = rowCount("documents")
    val nV = rowCount("embeddings")

    // dims that don't scale: byte-identical copies
    Seq("region", "nation").foreach { t =>
      write(graft.sources.Tables.load(spark, src, t), t, 1)
    }

    def shifted(name: String, shifts: Map[String, Long]): DataFrame =
      graft.sources.Tables.load(spark, src, name)
        .withColumn("rep", repCol)
        .transform(df => shifts.foldLeft(df) { case (d, (c, n)) =>
          d.withColumn(c, col(c) + col("rep").cast("long") * lit(n))
        })

    write(
      shifted("customer", Map("c_custkey" -> nC))
        .withColumn("c_name", format_string("Customer#%09d", col("c_custkey")))
        .drop("rep"),
      "customer", 4)
    write(
      shifted("supplier", Map("s_suppkey" -> nS))
        .withColumn("s_name", format_string("Supplier#%09d", col("s_suppkey")))
        .drop("rep"),
      "supplier", 1)
    write(shifted("part", Map("p_partkey" -> nP)).drop("rep"), "part", 4)
    write(
      shifted("orders", Map("o_orderkey" -> nO, "o_custkey" -> nC)).drop("rep"),
      "orders", 8)
    write(
      shifted("lineitem", Map(
        "l_orderkey" -> nO, "l_partkey" -> nP, "l_suppkey" -> nS)).drop("rep"),
      "lineitem", 32)

    val maxUser = graft.sources.Tables.events(spark, src)
      .agg(max($"user_id")).head().getLong(0) + 1L
    // `value` carries the 2-D spatial plane's x-coordinate (centi-unit
    // resolution): replicas get a deterministic ±0.50 jitter at the
    // same 2-decimal granularity the driver generates, because a real
    // sf1.0 draw would sample fresh continuous values — 10 stacked
    // points at identical (value, k) is a replication artifact that
    // fakes zero-distance neighbor mass in every spatial operator.
    // abs() keeps the value domain non-negative at the 0 boundary.
    write(
      graft.sources.Tables.events(spark, src)
        .withColumn("rep", repCol)
        .withColumn("value", when($"rep" === 0, $"value").otherwise(
          round(abs($"value" +
            (pmod($"event_id" * 2654435761L + $"rep" * 40503L, lit(101L)) - 50L)
              .cast("double") / 100.0), 2)))
        .withColumn("event_id", $"event_id" + $"rep".cast("long") * lit(nE))
        .withColumn("user_id", $"user_id" + $"rep".cast("long") * lit(maxUser))
        .drop("rep"),
      "events", 8)

    // documents: content-keyed rewording (see scaladoc). Positions are
    // selected by a (pos, rep) LCG so identical texts perturb
    // identically; the replacement word comes from the SAME document
    // (language/vocabulary preserved).
    val reword = udf { (text: String, rep: Int) =>
      if (rep == 0 || text == null || text.isEmpty) text
      else {
        val ws = text.split(' ')
        if (ws.length < 2) text
        else {
          var i = 0
          val outW = ws.clone()
          while (i < ws.length) {
            if (((i.toLong * 2654435761L + rep.toLong * 40503L) & 0x7fffffffL) % 3 == 0) {
              val j = math.floorMod(i * 7 + rep * 13 + 1, ws.length)
              outW(i) = ws(j)
            }
            i += 1
          }
          outW.mkString(" ")
        }
      }
    }
    write(
      graft.sources.Tables.documents(spark, src)
        .withColumn("rep", repCol)
        .withColumn("doc_id", $"doc_id" + $"rep".cast("long") * lit(nD))
        .withColumn("text", reword($"text", $"rep"))
        .withColumn("n_chars", length($"text").cast("long"))
        .drop("rep"),
      "documents", 4)

    // embeddings: fresh same-cluster samples for replicas. Mean
    // distance-to-label-centroid is computed once (≤20k rows at sf0.1,
    // a driver-side scalar, not a scale concern — this is a data
    // generator, not a query operator).
    val base = graft.sources.Tables.embeddings(spark, src)
      .select($"vec_id", $"embedding", $"label")
      .as[(Long, Array[Float], Int)].collect()
    val dim = base.head._2.length
    val centroids: Map[Int, Array[Double]] = base.groupBy(_._3).map { case (l, vs) =>
      val c = new Array[Double](dim)
      vs.foreach { case (_, v, _) => var i = 0; while (i < dim) { c(i) += v(i); i += 1 } }
      var i = 0; while (i < dim) { c(i) /= vs.length; i += 1 }
      l -> c
    }
    val meanResid = base.iterator.map { case (_, v, l) =>
      val c = centroids(l)
      math.sqrt((0 until dim).map(i => (v(i) - c(i)) * (v(i) - c(i))).sum)
    }.sum / base.length
    val resample = udf { (vec: Seq[Float], vecId: Long, rep: Int) =>
      if (rep == 0) vec
      else {
        val rnd = new java.util.Random(vecId * 1000003L + rep * 7919L)
        val g = Array.fill(vec.length)(rnd.nextGaussian())
        val gn = math.sqrt(g.map(x => x * x).sum)
        val moved = vec.indices.map(i => vec(i) + (meanResid * g(i) / gn)).toArray
        val n = math.sqrt(moved.map(x => x * x).sum)
        moved.map(x => (x / n).toFloat).toSeq
      }
    }
    write(
      graft.sources.Tables.embeddings(spark, src)
        .withColumn("rep", repCol)
        .withColumn("embedding",
          resample($"embedding", $"vec_id", $"rep").cast("array<float>"))
        .withColumn("vec_id", $"vec_id" + $"rep".cast("long") * lit(nV))
        .drop("rep"),
      "embeddings", 2)

    println(s"[makesf] done: $out (x$reps from $src)")
    spark.stop()
  }
}
