package graft

import org.apache.spark.sql.functions._

/** `Dedup.exactSelf1nn` against a plain double loop, bit for bit, on
  * a small generated corpus with exact duplicates (ties go to the
  * smaller id), a zero vector (NaN cosines rank first), vectors of
  * another length, and duplicate pairs inside one block and across
  * blocks, at several block counts.
  */
class ExactSelf1nnSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  private val rnd = new scala.util.Random(17)
  private val base: Seq[(Long, Array[Float])] =
    (0 until 40).map(i => (3L * i + 1, Array.fill(dim)(rnd.nextGaussian().toFloat)))

  private def blockOf(ids: Seq[Long], b: Int): Map[Long, Long] =
    ids.toDF("id").select(col("id"), pmod(xxhash64(col("id")), lit(b)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  // copies of base(0): one in base(0)'s block for both 3 and 8 blocks,
  // one in another block for both; a copy of base(1) twice (a triple)
  private val (sameBlk, otherBlk) = {
    val a = base.head._1
    val cands = (1000L until 1400L)
    val b3 = blockOf(a +: cands, 3); val b8 = blockOf(a +: cands, 8)
    (cands.find(c => b3(c) == b3(a) && b8(c) == b8(a)).get,
      cands.find(c => b3(c) != b3(a) && b8(c) != b8(a)).get)
  }
  private val dups: Seq[(Long, Array[Float])] =
    Seq(sameBlk -> base(0)._2, otherBlk -> base(0)._2, 2000L -> base(1)._2, 2001L -> base(1)._2)
  private val zero = Seq(500L -> new Array[Float](dim))
  private val short = Seq(600L -> base(2)._2.take(12), 601L -> Array.fill(9)(rnd.nextGaussian().toFloat))

  /** `graft_cosine`'s sequential fold over the shorter vector. */
  private def cosine(x: Array[Float], y: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    (0 until math.min(x.length, y.length)).foreach { k =>
      dot += x(k).toDouble * y(k); na += x(k).toDouble * x(k); nb += y(k).toDouble * y(k)
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** vec_id -> (nn_id, cosine bits), by (score desc with NaN first, id asc). */
  private def loop(vs: Seq[(Long, Array[Float])]): Map[Long, (Long, Long)] =
    vs.map { case (q, x) =>
      val (cos, nn) = vs.filter(_._1 != q).map { case (c, y) => (cosine(x, y), c) }
        .reduce { (a, b) =>
          val cmp = java.lang.Double.compare(b._1, a._1)
          if (cmp > 0 || (cmp == 0 && b._2 < a._2)) b else a
        }
      q -> ((nn, java.lang.Double.doubleToLongBits(cos)))
    }.toMap

  private def run(vs: Seq[(Long, Array[Float])], blocks: Int): Map[Long, (Long, Long)] =
    dedup.Dedup.exactSelf1nn(spark, vs.toDF("vec_id", "embedding"), blocks).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), java.lang.Double.doubleToLongBits(r.getDouble(2)))))
      .toMap

  test("exact 1-NN equals a plain double loop bit for bit at 1, 3 and 8 blocks") {
    val corpora = Seq("duplicates" -> (base ++ dups), "zero vector" -> (base ++ dups ++ zero),
      "mixed lengths" -> (base ++ dups ++ short))
    corpora.foreach { case (name, vs) =>
      val want = loop(vs)
      Seq(1, 3, 8).foreach { b =>
        assert(run(vs, b) === want, s"$name at $b blocks")
      }
    }
    val withDups = loop(base ++ dups)
    assert(withDups(base.head._1)._1 === math.min(sameBlk, otherBlk), "a tie goes to the smaller id")
    assert(withDups(2001L)._1 === base(1)._1 && withDups(2000L)._1 === base(1)._1)
    assert(loop(base ++ dups ++ zero).values.count(_._1 == 500L) === base.size + dups.size,
      "NaN ranks first, so every other vector's nearest is the zero vector")
  }

  test("exact 1-NN cosines are graft_cosine's") {
    graft.functions.GraftFunctions.register(spark)
    val e = (base ++ dups ++ short).toDF("vec_id", "embedding")
    val nn = dedup.Dedup.exactSelf1nn(spark, e, 3)
    val diff = nn.join(e.select(col("vec_id"), col("embedding").as("q")), "vec_id")
      .join(e.select(col("vec_id").as("nn_id"), col("embedding").as("c")), "nn_id")
      .filter(expr("graft_cosine(q, c)") =!= col("cos"))
    assert(nn.count() === base.size + dups.size + short.size)
    assert(diff.isEmpty)
  }
}
