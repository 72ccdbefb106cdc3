package graft

import graft.text.TextOps
import org.apache.spark.sql.DataFrame

/** Contract of the session-scoped pair-substrate cache (r10 verdict
  * item 2): consecutive consumers of the SAME doc snapshot reuse one
  * generation; an invalidated pin (Bench's blanket unpersist between
  * passes) forces a clean regeneration; and the emitted pair set is
  * bit-identical in every mode — the cache can change WHEN generation
  * runs, never what it produces. */
class SubstrateCacheSpec extends SparkSpec {

  private def pairs(): DataFrame =
    TextOps.jaccardPairsFrom(TextOps.shingledDocs(spark, sfDir))

  private def triples(df: DataFrame): Set[(Long, Long, Double)] =
    df.select("a_id", "b_id", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("same doc snapshot hits the cache; results identical; unpersist invalidates") {
    TextOps.clearPairCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    val h0 = TextOps.pairCacheHits.get()
    val first = triples(pairs())
    assert(TextOps.pairCacheHits.get() == h0, "first generation must be a miss")

    // second consumer in the same session: a HIT, same pair set
    val second = triples(pairs())
    assert(TextOps.pairCacheHits.get() == h0 + 1,
      "second call over the same snapshot must reuse the cached generation")
    assert(second == first)

    // the bench discipline: blanket unpersist between timed passes.
    // The cached entry's pin is gone, so the next call must NOT serve
    // it (a recompute of an unpersisted local checkpoint throws) —
    // it regenerates, and the regenerated set is again identical.
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val h1 = TextOps.pairCacheHits.get()
    val third = triples(pairs())
    assert(TextOps.pairCacheHits.get() == h1,
      "a swept pin must force regeneration, not a stale cache hit")
    assert(third == first)
  }

  test("a filtered doc subset keys its own entry, never the whole-corpus one") {
    TextOps.clearPairCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val whole = pairs()
    val wholeN = whole.count()
    val h0 = TextOps.pairCacheHits.get()
    // curate-style FILTERED input: different canonicalized plan ⇒
    // different key ⇒ a fresh generation, not the whole-corpus table
    val docs = TextOps.shingledDocs(spark, sfDir).filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0)
    val sub = TextOps.jaccardPairsFrom(docs)
    val subN = sub.count()
    assert(TextOps.pairCacheHits.get() == h0,
      "filtered input must miss the whole-corpus entry")
    // sanity: the filtered pair set is the whole-corpus set restricted
    // to even ids (both endpoints survive the filter)
    val expect = whole.filter("a_id % 2 = 0 AND b_id % 2 = 0").count()
    assert(subN == expect, s"filtered pairs $subN != restricted whole $expect")
    assert(wholeN >= subN)
  }
}
