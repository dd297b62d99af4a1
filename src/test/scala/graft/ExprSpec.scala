package graft

import org.apache.spark.sql.functions._

/** Behavioral checks of the custom Catalyst expressions through the
  * registered SQL surface.
  */
class ExprSpec extends SparkSpec {

  private def row1(sql: String) = {
    graft.functions.GraftFunctions.register(spark)
    spark.sql(sql).collect()(0)
  }

  test("cosine: identity, orthogonality, symmetry") {
    val r = row1(
      """SELECT graft_cosine(array(1.0F,2.0F,3.0F), array(1.0F,2.0F,3.0F)) AS self,
        | graft_cosine(array(1.0F,0.0F), array(0.0F,1.0F)) AS orth,
        | graft_cosine(array(1.0F,2.0F), array(3.0F,4.0F)) AS ab,
        | graft_cosine(array(3.0F,4.0F), array(1.0F,2.0F)) AS ba""".stripMargin)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
    assert(r.getDouble(2) === r.getDouble(3))
  }

  test("minhash approximates jaccard") {
    // two texts sharing most 3-gram shingles -> high signature overlap
    val r = row1(
      """SELECT
        | size(array_intersect(graft_minhash('a b c d e f g h i j k l', 64, 3),
        |                      graft_minhash('a b c d e f g h i j k m', 64, 3))) AS near,
        | size(array_intersect(graft_minhash('a b c d e f g h i j k l', 64, 3),
        |                      graft_minhash('z y x w v u t s r q p o', 64, 3))) AS far""".stripMargin)
    assert(r.getInt(0) > 30, s"near overlap ${r.getInt(0)} should be high")
    assert(r.getInt(1) === 0)
  }

  test("simhash hamming distance orders by similarity") {
    val r = row1(
      """SELECT
        | bit_count(graft_simhash('the quick brown fox jumps over the lazy dog')
        |         ^ graft_simhash('the quick brown fox jumps over the lazy cat')) AS near,
        | bit_count(graft_simhash('the quick brown fox jumps over the lazy dog')
        |         ^ graft_simhash('entirely unrelated words about query engines')) AS far""".stripMargin)
    assert(r.getInt(0) < r.getInt(1))
  }

  test("ngram jaccard: bounds and exact values") {
    val r = row1(
      """SELECT graft_ngram_jaccard('a b c d', 'a b c d', 2) AS self,
        | graft_ngram_jaccard('a b c d', 'x y z w', 2) AS disjoint,
        | graft_ngram_jaccard('a b c', 'a b d', 2) AS third""".stripMargin)
    assert(r.getDouble(0) === 1.0)
    assert(r.getDouble(1) === 0.0)
    assert(math.abs(r.getDouble(2) - 1.0 / 3.0) < 1e-12) // {ab,bc} vs {ab,bd}
  }

  test("fingerprint: deterministic, shift-insensitive minimum") {
    val r = row1(
      """SELECT graft_fingerprint('abcdefghijklmnop', 8) AS a,
        | graft_fingerprint('abcdefghijklmnop', 8) AS a2,
        | graft_fingerprint('XYabcdefghijklmnop', 8) AS shifted""".stripMargin)
    assert(r.getLong(0) === r.getLong(1))
    // the global-min window hash survives a prefix shift iff the
    // minimal 8-gram is still present - it is here
    assert(r.getLong(2) === r.getLong(0) ||
      java.lang.Long.compareUnsigned(r.getLong(2), r.getLong(0)) < 0)
  }

  test("lsh buckets: deterministic, and equal vectors share buckets") {
    val r = spark.sql(
      """SELECT graft_lsh_bucket(array(1.0F,2.0F,3.0F,4.0F), 16, 42) AS a,
        | graft_lsh_bucket(array(1.0F,2.0F,3.0F,4.0F), 16, 42) AS b,
        | graft_lsh_bucket(array(2.0F,4.0F,6.0F,8.0F), 16, 42) AS scaled""".stripMargin).collect()(0)
    assert(r.getLong(0) === r.getLong(1))
    // cosine-LSH is scale-invariant: colinear vectors hash identically
    assert(r.getLong(2) === r.getLong(0))
  }

  test("oracle-safe fixed point sums are order-independent") {
    import spark.implicits._
    val vals = (1 to 1000).map(i => i * 0.01 + 0.001 * (i % 7))
    val df1 = vals.toDF("x").repartition(1)
    val df32 = vals.reverse.toDF("x").repartition(32)
    val s1 = df1.agg(graft.operators.OracleSafe.sumMoney($"x")).collect()(0).getDouble(0)
    val s32 = df32.agg(graft.operators.OracleSafe.sumMoney($"x")).collect()(0).getDouble(0)
    assert(s1 === s32)
  }

  test("byte phash: locality-sensitive on small edits, far on different content") {
    import graft.multimodal.Multimodal.bytePHash
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // document-length payloads: a one-word edit is a small fraction
    // of the 4-grams, like the corpus's planted near-dups
    val para = Seq.fill(8)("the quick brown fox jumps over the lazy dog").mkString(" ")
    val base = para.getBytes("UTF-8")
    val edit = (para.take(20) + "cat" + para.drop(23)).getBytes("UTF-8")
    val other = Seq.fill(8)("zebra xylophones quietly vex jumbled dwarf mobs").mkString(" ").getBytes("UTF-8")
    assert(bytePHash(base) === bytePHash(base.clone())) // deterministic
    assert(ham(bytePHash(base), bytePHash(edit)) <= 8,
      "one-word edit must flip few bits")
    assert(ham(bytePHash(base), bytePHash(other)) > 16,
      "unrelated content must be far")
  }

  test("topk_str: best-first, tag tiebreak, partition-invariant") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val rows = Seq((3.0, "c"), (1.0, "a"), (3.0, "b"), (2.0, "d"), (0.5, "e"))
    def run(parts: Int) =
      rows.toDF("s", "t").repartition(parts)
        .agg(expr("graft_topk_str(s, t, 3)")).collect()(0)
        .getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getDouble(0), r.getString(1)))
    val expected = Seq((3.0, "b"), (3.0, "c"), (2.0, "d")) // score desc, tag asc
    assert(run(1) === expected)
    assert(run(7) === expected, "merge order must not change the result")
  }

  test("topk: every insertion order keeps the same k, NaN first, ties by key") {
    import graft.functions.{TopKBuffer, TopKStrBuffer}
    val nan = Double.NaN
    val scored = Seq((nan, 5L), (0.9, 3L), (0.9, 1L), (nan, 2L), (0.5, 4L), (Double.PositiveInfinity, 6L))
    val best = Seq((nan, 2L), (nan, 5L), (Double.PositiveInfinity, 6L), (0.9, 1L), (0.9, 3L), (0.5, 4L))
    def bits[K](xs: Seq[(Double, K)]) = xs.map { case (s, t) => (java.lang.Double.doubleToLongBits(s), t) }
    (1 to scored.size).foreach { k =>
      scored.permutations.foreach { order =>
        val ids = new TopKBuffer(k)
        order.foreach { case (s, id) => ids.add(s, id) }
        assert(bits(ids.sorted.toSeq) === bits(best.take(k)), s"k=$k order=$order")
        val tags = new TopKStrBuffer(k)
        order.foreach { case (s, id) => tags.add(s, id.toString) }
        assert(bits(tags.sorted.toSeq) === bits(best.take(k).map { case (s, id) => (s, id.toString) }))
      }
    }
  }

  test("aspectFit: box on the long side, floor on the short, never zero") {
    import graft.multimodal.Multimodal.aspectFit
    assert(aspectFit(640, 480, 224) === ((224L, 168L))) // landscape
    assert(aspectFit(480, 640, 224) === ((168L, 224L))) // portrait
    assert(aspectFit(100, 100, 224) === ((224L, 224L))) // square upscale
    assert(aspectFit(10000, 16, 224) === ((224L, 1L))) // extreme ratio floors to 1, not 0
    val (w, h) = aspectFit(1920, 1080, 224)
    assert(w.max(h) === 224 && w > 0 && h > 0)
  }
}
