package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ann.IvfIndex
import graft.dedup.{ConnectedComponents, Dedup}

/** `llm_dedup`: a batch pipeline over a seeded LLM-data corpus with
  * planted near-duplicates, in whole passes: exact self
  * 1-NN (`Dedup.exactSelf1nn`), near-duplicate document clustering
  * (`Dedup.dedupCorpus`), `ConnectedComponents.run` over the 1-NN
  * edges, and an IVF index build and query (`IvfIndex.buildAt`,
  * `IvfIndex.probe`). Each stage call is one timed operation.
  */
final class LlmDedup extends Workload {
  import LlmDedup._

  private var dir = ""
  private var vectors: Array[(Long, Array[Float], Long)] = Array.empty
  private var docSource: Map[Long, Long] = Map.empty
  private var sample: Seq[Long] = Nil
  private var queries: Seq[Long] = Nil
  private var exactTop: Map[Long, Seq[Long]] = Map.empty

  private def emb = spark.read.parquet(s"$dir/embeddings")
  private def docs = spark.read.parquet(s"$dir/documents")
  private var spark: org.apache.spark.sql.SparkSession = _

  def setup(ctx: Ctx, d: String): Unit = {
    dir = d
    spark = ctx.spark
    val seed = ctx.seed
    Gen.embeddingsFrame(spark, seed, Vectors, PlantedVectors).write.parquet(s"$d/embeddings")
    Gen.documentsFrame(spark, seed, Docs, PlantedDocs).write.parquet(s"$d/documents")
    // driver-side references: the generated vectors and planted sources
    vectors = (0L until Vectors).map(i => Gen.vector(seed, Vectors, PlantedVectors, i)).toArray
    docSource = (Docs - PlantedDocs until Docs)
      .map(i => i -> Gen.document(seed, Docs, PlantedDocs, i)._3).toMap
    val r = new scala.util.Random(seed)
    sample = r.shuffle((0L until Vectors).toList).take(50)
    queries = r.shuffle((0L until Vectors).toList).take(Queries)
    exactTop = queries.map(q => q -> topK(q, 10)).toMap
  }

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var k = 0
    while (k < a.length) {
      dot += a(k).toDouble * b(k); na += a(k).toDouble * a(k); nb += b(k).toDouble * b(k); k += 1
    }
    dot / math.sqrt(na * nb)
  }

  /** Exact top-k neighbours of vector `q` by a plain loop (score desc, id asc). */
  private def topK(q: Long, k: Int): Seq[Long] = {
    val v = vectors(q.toInt)._2
    vectors.iterator.filter(_._1 != q).map(x => (x._1, cos(v, x._2))).toSeq
      .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)
  }

  // two passes: the first timed pass otherwise still runs 20-60% slow
  def warmup(ctx: Ctx): Unit = (0 until 2).foreach(_ => onePass(ctx))

  def run(ctx: Ctx): Unit =
    if (ctx.maxOps > 0) while (ctx.rec.ops.size < ctx.maxOps) onePass(ctx)
    else (0 until ctx.units(PassSeconds)).foreach(_ => onePass(ctx))

  private def onePass(ctx: Ctx): Unit = {
    val rec = ctx.rec
    val s = spark
    def stage[T](name: String, rows: Long)(body: => T): Option[T] = {
      val (id, res) = rec.op(s"stage.$name")(body)
      rec.annotate(id, "rows" -> rows.toDouble)
      lastId = id
      res
    }
    // 1. exact self 1-NN, checked against the driver loop
    val nn = stage("self1nn", Vectors) {
      rec.span("dedup.exactSelf1nn")(Dedup.exactSelf1nn(s, emb).collect())
    }.map(_.map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap)
    nn.foreach { m =>
      val id = lastId
      sample.foreach { q =>
        if (!m.get(q).map(_._1).contains(topK(q, 1).head))
          rec.fail(id, s"1-NN of $q differs from the exact loop")
      }
      vectors.filter(_._3 >= 0).foreach { case (i, _, src) =>
        val got = m.get(i).map(_._1)
        if (!got.exists(n => n == src || vectors(n.toInt)._3 == src))
          rec.fail(id, s"planted vector $i not paired with its source $src")
      }
    }
    // 2. near-duplicate documents
    stage("dedup_corpus", Docs) {
      rec.span("dedup.dedupCorpus")(Dedup.dedupCorpus(s, docs).select("doc_id", "component").collect())
    }.foreach { rows =>
      val comp = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      docSource.foreach { case (d, src) =>
        if (comp.get(d) != comp.get(src)) rec.fail(lastId, s"planted document $d not clustered with $src")
      }
    }
    // 3. components over the close 1-NN edges
    nn.foreach { m =>
      val edges = m.toSeq.collect { case (a, (b, c)) if c >= EdgeCos => Row(a, b) }
      import scala.jdk.CollectionConverters._
      val edgeDf = s.createDataFrame(edges.asJava,
        org.apache.spark.sql.types.StructType.fromDDL("src BIGINT, dst BIGINT"))
      stage("cc", Vectors) {
        rec.span("dedup.ConnectedComponents.run")(
          ConnectedComponents.run(edgeDf, emb.select(col("vec_id").as("id"))).collect())
      }.foreach { rows =>
        val comp = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
        vectors.filter(_._3 >= 0).foreach { case (i, _, src) =>
          if (comp.get(i) != comp.get(src)) rec.fail(lastId, s"planted vector $i not in $src's component")
        }
      }
    }
    // 4. IVF build and query; recall against the exact top-10
    val root = s"$dir/ivf"
    stage("ivf_build", Vectors) {
      rec.span("ann.IvfIndex.buildAt")(IvfIndex.buildAt(s, root, emb, nLists = 16, lloydIters = 2))
    }
    val q = emb.filter(col("vec_id").isin(queries: _*))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    stage("ivf_query", Queries) {
      rec.span("ann.IvfIndex.probe")(IvfIndex.probe(s, root, q, k = 10, nProbes = 4).collect())
    }.foreach { rows =>
      val got = rows.groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(2)).toSet }
      val hits = queries.map(qid => exactTop(qid).count(got.getOrElse(qid, Set.empty[Long])))
      rec.annotate(lastId, "recall_at_10" -> hits.sum / (10.0 * queries.size))
    }
  }

  private var lastId = 0

  def finish(ctx: Ctx): Map[String, Any] =
    Lake.gauges(spark, Seq(s"$dir/ivf/centroids", s"$dir/ivf/lists")) ++
      (if (ctx.rec.tracing) Map("functions" -> microbench(ctx)) else Map.empty)

  /** Row-throughput microbenchmarks of the custom expressions over the
    * generated corpus, materialised through the `noop` sink. Rows/s is
    * the median of three repetitions.
    */
  private def microbench(ctx: Ctx): Map[String, Double] = {
    val s = spark
    graft.functions.GraftFunctions.register(s)
    val e = emb.crossJoin(s.range(MicroRepeat).withColumnRenamed("id", "rep")).cache()
    val d = docs.crossJoin(s.range(MicroRepeat / 10).withColumnRenamed("id", "rep")).cache()
    val nE = e.count()
    val nD = d.count()
    val probe = vectors(0)._2.map(_.toDouble)
    def rate(n: Long)(df: => DataFrame): Double = {
      val ts = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      n / ts(1)
    }
    val out = Map(
      "functions.cosine_rows_per_s" -> rate(nE)(e.select(
        expr(s"graft_cosine(embedding, CAST(array(${probe.mkString(",")}) AS ARRAY<FLOAT>))"))),
      "functions.minhash_rows_per_s" -> rate(nD)(d.select(expr("graft_minhash(text, 64, 3)"))),
      "functions.topk_rows_per_s" -> rate(nE)(e
        .select((col("vec_id") % 64).as("g"), col("vec_id"),
          ((col("vec_id") * 7919 + col("rep")) % 1000).cast("double").as("score"))
        .groupBy("g").agg(expr("graft_topk(score, vec_id, 10)"))))
    e.unpersist(); d.unpersist()
    out
  }

  override def stateful: Boolean = false

  def digests(ctx: Ctx): Map[String, String] = Map(
    "embeddings" -> Gen.digest(Gen.embeddingsFrame(ctx.spark, ctx.seed, Vectors, PlantedVectors), "vec_id"),
    "documents" -> Gen.digest(Gen.documentsFrame(ctx.spark, ctx.seed, Docs, PlantedDocs), "doc_id"))
}

object LlmDedup {
  /** Corpus: 1.5 times sf0.1's 2000 embeddings and 1.2 times its 5000
    * documents, with 5% planted near-duplicates.
    */
  val Vectors = 3000L
  val PlantedVectors = 150L
  val Docs = 6000L
  val PlantedDocs = 300L
  val Queries = 200
  /** 1-NN edges at or above this cosine join components. */
  val EdgeCos = 0.99
  val MicroRepeat = 50L
  /** About how long one pass takes. */
  val PassSeconds = 3.5
}
