package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Retrieval}

/** Unit coverage for the retrieval/tokenizer-training operators and the
  * incremental-dedup family beyond the oracle gate: the invariants that
  * define each op, pinned on the sf0.001 fixture and on crafted inputs.
  */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("bm25 ranks by the fixed-order rational-idf chain and every hit holds a query term") {
    val out = Retrieval.textBm25.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(out.size == 10)
    // descending, ties broken by doc_id: the sequence must be strictly ordered
    assert(out.sliding(2).forall { case Seq((i1, s1), (i2, s2)) =>
      s1 > s2 || (s1 == s2 && i1 < i2) }, "top-10 not in (score DESC, doc_id) order")
    assert(out.forall(_._2 > 0.0), "a ranked doc scored zero")
    // every ranked doc really contains at least one query term
    val ids = out.map(_._1).toSet
    val terms = graft.operators.TextOps.SearchTerms.toSet
    val hits = Tables.documents(spark, sf)
      .filter(col("doc_id").isin(ids.toSeq: _*))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[String](1).exists(terms.contains)).toMap
    assert(hits.values.forall(identity), "ranked doc without any query term")
  }

  test("bm25 term score increases with tf at fixed dl/df/N/T") {
    // score_t = (2(N-df)+1)*22*T*tf / ((2df+1)*(10*T*tf + 3*T + 9*dl*N)):
    // numerator linear in tf, denominator affine with a constant part ⇒
    // strictly increasing in tf (saturating toward the k1+1 asymptote)
    def s(tf: Long, df: Long, dl: Long, n: Long, t: Long): Double =
      ((2 * (n - df) + 1) * 22 * t * tf).toDouble /
        ((2 * df + 1) * (10 * t * tf + 3 * t + 9 * dl * n)).toDouble
    val xs = (1L to 6L).map(s(_, 100, 50, 500, 30000))
    assert(xs.sliding(2).forall { case Seq(a, b) => a < b })
    // and decreasing in df (rarer terms weigh more)
    val ys = (1L to 6L).map(df => s(3, df * 50, 50, 500, 30000))
    assert(ys.sliding(2).forall { case Seq(a, b) => a > b })
  }

  test("rrf fusion: score recomputes from the leg ranks and both legs contribute") {
    val out = graft.operators.Retrieval.textRrfHybrid
      .run(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    val K = graft.operators.Retrieval.RrfK
    out.foreach { case (_, rl, rv, rrf) =>
      val expect = (if (rl > 0) 1.0 / (K + rl) else 0.0) +
        (if (rv > 0) 1.0 / (K + rv) else 0.0)
      assert(rrf == expect, s"rrf mismatch: $rrf vs $expect")
      assert(rl > 0 || rv > 0)
    }
    // the fixture query hits both legs — the fusion is not vacuous
    assert(out.exists(_._2 > 0) && out.exists(_._3 > 0))
  }

  test("textrank conserves scaled mass up to truncation and ranks high-degree tokens") {
    val out = Retrieval.textRank.run(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out.size == 20)
    assert(out.sliding(2).forall { case Seq((t1, r1), (t2, r2)) =>
      r1 > r2 || (r1 == r2 && t1 < t2) })
    // every rank holds at least the undamped base mass and at most S
    assert(out.forall { case (_, r) =>
      r > 0 && r < Retrieval.RankScale })
  }

  test("bpe merge fold is leftmost-non-overlapping greedy") {
    // 'aaab' under merge (a,a) must become [aa, a, b] — not [a, aa, b]
    // and not [aa, ab]; this is the exact fold both engines run
    val df = Seq("aaab").toDF("word")
      .select(split(col("word"), "").as("syms"))
      .withColumn("m", expr(
        "aggregate(syms, CAST(array() AS ARRAY<STRING>), (acc, x) -> " +
          "CASE WHEN size(acc) > 0 AND element_at(acc, -1) = 'a' AND x = 'a' " +
          "THEN concat(slice(acc, 1, size(acc) - 1), array('aa')) " +
          "ELSE concat(acc, array(x)) END)"))
    assert(df.select("m").as[Seq[String]].head == Seq("aa", "a", "b"))
  }

  test("bpe merges are distinct, count-monotone, and char-split is bare") {
    // Spark's split(word, '') must yield exactly the characters (no
    // empty leading/trailing slot) — the oracle's string_split twin
    assert(Seq("ab").toDF("w").select(split(col("w"), ""))
      .as[Seq[String]].head == Seq("a", "b"))
    val out = Retrieval.bpeMerges.run(spark, sf)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(out.map(_._1).toSeq == Seq(1, 2, 3))
    // a merged pair cannot repeat, and counts cannot increase round-over-round
    assert(out.map(m => (m._2, m._3)).distinct.length == 3)
    assert(out.map(_._5).toSeq.sliding(2).forall { case Seq(a, b) => a >= b })
    assert(out.forall(m => m._4 == m._2 + m._3))
  }

  test("incremental dedup conserves passage counts and agrees with the store split") {
    val out = Dedup.incremental.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getInt(5)))
    assert(out.nonEmpty)
    assert(out.forall(r => r._1 % 5 == 0), "a non-batch doc in the report")
    assert(out.forall(r => r._3 + r._4 + r._5 == r._2),
      "in_store + dup_batch + new != n_passages")
    assert(out.forall(r => (((r._3 + r._4) * 2 <= r._2)) == (r._6 == 1)))
    // the fixture split genuinely exercises the store path
    assert(out.map(_._3).sum > 0, "no passage ever hit the store — vacuous fixture")
  }

  test("containment bounds: jaccard <= min containment <= max containment <= 1") {
    val out = Dedup.containment.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(5), r.getDouble(6),
        r.getDouble(7)))
    assert(out.nonEmpty)
    assert(out.forall { case (a, b, _, _, _) => a < b })
    assert(out.forall { case (_, _, ca, cb, j) =>
      val lo = math.min(ca, cb); val hi = math.max(ca, cb)
      j <= lo + 1e-15 && lo <= hi && hi <= 1.0 && hi >= 0.95 })
  }
}
