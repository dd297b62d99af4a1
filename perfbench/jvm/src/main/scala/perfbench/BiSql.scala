package perfbench

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.lake.SnapshotTable

/** `bi_sql`: one analyst in a closed loop running a fixed SQL mix, in
  * a seeded order, against sf0.1-shaped tables committed as snapshot
  * tables (`events` day-partitioned on `ts`) and reached by name
  * through `GraftCatalog`.
  */
final class BiSql extends Workload {
  import BiSql._

  private var ns = ""
  private var reference = Map.empty[String, String]

  private var root = ""

  def setup(ctx: Ctx, dir: String): Unit = {
    val s = ctx.spark
    ns = "s" + dir.reverse.takeWhile(_.isDigit).reverse
    root = s"${ctx.work}/glake/$ns"
    Gen.tables(s, ctx.seed, scale).foreach { case (name, df) =>
      if (name == "events") SnapshotTable.commitPartitionedByDay(s, s"$root/$name", df, "ts")
      else SnapshotTable.commit(s, s"$root/$name", df)
    }
  }

  /** Computes the reference answers: every statement over the tables'
    * data files read as plain parquet, bypassing the catalog and the
    * manifest planning, four statements at a time. This pass also
    * compiles the operators; a few statements through the catalog
    * then warm its path.
    */
  def warmup(ctx: Ctx): Unit = {
    val s = ctx.spark
    tableNames.foreach { name =>
      val t = s"$root/$name"
      s.read.parquet(SnapshotTable.dataFiles(s, t, SnapshotTable.currentVersion(s, t)): _*)
        .createOrReplaceTempView(name)
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = statements.map { case (n, sql) =>
        n -> pool.submit(() => scala.util.Try(hash(s.sql(sql).collect())))
      }
      val refs = futures.map { case (n, f) => n -> f.get() }
      val broken = refs.collect { case (n, scala.util.Failure(e)) => s"$n: ${e.getMessage.take(300)}" }
      require(broken.isEmpty, "statements fail on the raw tables:\n" + broken.mkString("\n"))
      reference = refs.map { case (n, t) => n -> t.get }.toMap
    } finally pool.shutdown()
    tableNames.foreach(s.catalog.dropTempView)
    s.sql(s"USE glake.$ns")
    statements.take(4).foreach { case (_, sql) => s.sql(sql).collect() }
  }

  /** Whole rounds of the mix, each in a seeded order: every run times
    * each statement equally often.
    */
  def run(ctx: Ctx): Unit = {
    val total = if (ctx.maxOps > 0) ctx.maxOps else ctx.units(RoundSeconds) * statements.size
    Iterator.from(0).flatMap(round => new scala.util.Random(ctx.seed * 1000 + round).shuffle(statements))
      .take(total).foreach { case (name, sql) =>
        // statements over the day-partitioned `events` table are the
        // workload's reads of a partitioned snapshot table
        val kind = if (readsEvents(sql)) "statement_events" else "statement"
        val (id, rows) = ctx.rec.op(kind) {
          ctx.rec.span("sources.GraftCatalog.sql")(ctx.spark.sql(sql).collect())
        }
        ctx.rec.annotate(id, "stmt" -> statements.indexWhere(_._1 == name).toDouble)
        rows.foreach(r => if (hash(r) != reference(name)) ctx.rec.fail(id, s"$name: result differs"))
      }
  }

  def finish(ctx: Ctx): Map[String, Any] = {
    Lake.gauges(ctx.spark, tableNames.map(n => s"$root/$n"))
  }

  override def stateful: Boolean = false

  def digests(ctx: Ctx): Map[String, String] =
    Gen.tables(ctx.spark, ctx.seed, scale).map { case (n, df) =>
      n -> Gen.digest(df, df.columns.head)
    }.toMap
}

object BiSql {
  /** sf0.1-shaped schema at a tenth of its size: statements cost about
    * the same as at sf0.1, being dominated by fixed per-query costs,
    * and set-up stays short enough to repeat.
    */
  val scale: Gen.Scale = Gen.Scale(0.01)

  /** About how long one round of the mix takes on a 4-core box. */
  val RoundSeconds = 10.0

  val tableNames: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")

  /** TPC-H q01-q22 and the reference's headline query (average value
    * by key and day) as the registry's ANSI SQL, plus window and
    * percentile statements.
    */
  lazy val statements: Seq[(String, String)] = {
    val oracle = SparkEntry.oracleSql
    val tpch = oracle.keys.filter(_.matches("q\\d\\d_.*")).toSeq.sorted
    // the registry's SQL is written for DuckDB; Spark spells VARCHAR
    // without a length as STRING
    (tpch :+ "q_date_trunc_daily").map(n =>
      n -> oracle(n).replaceAll("(?i)AS VARCHAR\\)", "AS STRING)")) ++ Seq(
      "w_rank_orders" ->
        """SELECT o_custkey, o_orderkey, rn FROM (
          |  SELECT o_custkey, o_orderkey, ROW_NUMBER() OVER (
          |    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
          |  FROM orders) t WHERE rn <= 2""".stripMargin,
      "w_running_events" ->
        """SELECT user_id, event_id, SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (
          |  PARTITION BY user_id ORDER BY ts, event_id
          |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_cents
          |FROM events WHERE event_type = 'purchase'""".stripMargin,
      "w_lag_daily" ->
        """SELECT event_type, day, n, n - LAG(n) OVER (PARTITION BY event_type ORDER BY day) AS dn
          |FROM (SELECT event_type, CAST(CAST(ts AS DATE) AS STRING) AS day, COUNT(*) AS n
          |      FROM events GROUP BY 1, 2) t""".stripMargin,
      "p_quantity" ->
        """SELECT l_returnflag,
          |  ROUND(PERCENTILE(l_quantity, 0.5), 4) AS qty_p50,
          |  ROUND(PERCENTILE(l_quantity, 0.9), 4) AS qty_p90,
          |  ROUND(PERCENTILE(l_extendedprice, 0.5), 4) AS price_p50
          |FROM lineitem GROUP BY l_returnflag""".stripMargin,
      "p_event_value" ->
        """SELECT event_type, ROUND(PERCENTILE(value, 0.99), 4) AS p99,
          |  NTILE(4) OVER (ORDER BY event_type) AS quartile
          |FROM events GROUP BY event_type""".stripMargin)
  }

  def readsEvents(sql: String): Boolean = "(?i)\\bevents\\b".r.findFirstIn(sql).isDefined

  /** Order-independent digest of a result: rows sorted as text. */
  def hash(rows: Array[Row]): String =
    Gen.digestLines(rows.map(_.mkString("\u0001")).sorted.iterator)
}
