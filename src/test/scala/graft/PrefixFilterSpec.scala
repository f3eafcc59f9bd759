package graft

import scala.util.Random

/** Pins the two exact all-pairs Jaccard implementations — the
  * prefix-filtered AllPairs join (`Dedup.exactJaccardPairs`, the
  * large-vocabulary plan behind `dedup_allpairs`) and the
  * length-filtered inverted count join (`Dedup.invertedCountPairs`, the
  * hot-vocabulary plan behind `dedup_lsh_recall`'s ground truth) —
  * against a brute-force all-pairs reference. The random-corpus trials
  * run in `RouteEquivalenceSpec`, which also forces the prefix-filtered
  * route; this spec keeps the hand-built edge cases. */
class PrefixFilterSpec extends SparkSpec {
  import PrefixFilterSpec._

  private def elementFrame(sets: Map[Long, Set[Long]]) = {
    import spark.implicits._
    sets.toSeq.flatMap { case (id, fps) => fps.toSeq.map(fp => (id, fp)) }
      .toDF("doc_id", "fp")
  }

  test("singleton and identical-set edge cases survive both paths") {
    val sets = Map(
      1L -> Set(10L), 2L -> Set(10L),             // identical singletons: J = 1
      3L -> Set(10L, 11L, 12L), 4L -> Set(10L, 11L, 12L), // identical triples
      5L -> Set(20L))                             // disjoint singleton
    val df = elementFrame(sets)
    val expected = bruteForce(sets, 1, 2)
    assert(expected.map(t => (t._1, t._2)) === Set((1L, 2L), (3L, 4L)))
    assert(collectPairs(graft.operators.Dedup.exactJaccardPairs(df, 1, 2)) === expected)
    assert(collectPairs(graft.operators.Dedup.invertedCountPairs(df, 1, 2)) === expected)
  }
}

object PrefixFilterSpec {

  def bruteForce(sets: Map[Long, Set[Long]], p: Int, q: Int)
      : Set[(Long, Long, Long, Long, Long)] = {
    val ids = sets.keys.toSeq.sorted
    (for {
      i <- ids.indices; j <- (i + 1) until ids.size
      a = ids(i); b = ids(j)
      inter = (sets(a) & sets(b)).size.toLong
      na = sets(a).size.toLong; nb = sets(b).size.toLong
      if inter * (p + q) >= (na + nb) * p
    } yield (a, b, inter, na, nb)).toSet
  }

  def collectPairs(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSet

  /** A HOT corpus (universes of 5–40 elements, Zipf-ish element choice):
    * the regime where a broken prefix bound would actually drop pairs —
    * with every element shared by many docs, any off-by-one in the
    * prefix length n − ⌈(p/q)·n⌉ + 1 or the length filter surfaces as a
    * missing pair. */
  def randomCorpus(rng: Random): Map[Long, Set[Long]] = {
    val universe = 5 + rng.nextInt(36)
    val nDocs = 20 + rng.nextInt(40)
    (0L until nDocs).map { id =>
      val n = 1 + rng.nextInt(12)
      // Zipf-ish: low element ids drawn far more often (hot universe)
      val fps = Seq.fill(n * 2)(
        math.min(rng.nextInt(universe), rng.nextInt(universe)).toLong)
        .distinct.take(n).toSet
      id -> fps
    }.toMap
  }
}
