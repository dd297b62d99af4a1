package perfbench

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.endpoint.RestCatalog
import graft.lake.SnapshotTable
import graft.sources.{Catalog, PersistentCatalog}

/** `catalog_wire`: Iceberg REST traffic to `RestCatalog.serve` in an
  * open loop at [[CatalogWire.Rate]] requests per second from
  * [[CatalogWire.Senders]] sender threads. Latency counts from each
  * request's due time. The mix: config, list tables, `HEAD` exists,
  * repeated loadTable, and `add-snapshot` commits of staged files, each
  * followed at once by a loadTable that must return the new snapshot.
  */
final class CatalogWire extends Workload {
  import CatalogWire._

  private var port = 0
  private var registry = ""
  private var staged = IndexedSeq.empty[String]
  private var nextStaged = 0
  private var expectedVersion = 0
  private var tableRoot = ""
  private val commitLock = new Object

  private val tablePath = s"/v1/namespaces/${Catalog.DB}/tables/$Table"

  def setup(ctx: Ctx, dir: String): Unit = {
    val s = ctx.spark
    CatalogWire.current.foreach(RestCatalog.stop)
    s.sql(s"DROP DATABASE IF EXISTS ${Catalog.DB} CASCADE")
    s.sql(s"CREATE DATABASE ${Catalog.DB}")
    tableRoot = s"$dir/$Table"
    registry = s"$dir/registry"
    SnapshotTable.commit(s, tableRoot, rowsFrame(ctx, 0L, 2000))
    // one staged parquet file per commit, written in one job
    val stageDir = s"$dir/staged"
    val n = History + runCommits(ctx)
    rowsFrame(ctx, 1L, n * 200).withColumn("file_no", (col("event_id") / 200).cast("int"))
      .repartition(col("file_no")).write.partitionBy("file_no").parquet(stageDir)
    val p = new org.apache.hadoop.fs.Path(stageDir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    staged = (0 until n).map { i =>
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$stageDir/file_no=$i"))
        .map(_.getPath.toString).filter(_.endsWith(".parquet")).head
    }
    PersistentCatalog.save(s, registry)
    port = RestCatalog.serve(s, registry)
    CatalogWire.current = Some(registry)
    val (rc, rb) = RestCatalog.post(port, "/v1/tables",
      s"""{"name":"$Table","format":"graft-snapshot","location":${Json.str(tableRoot)}}""")
    require(rc == 201, s"register $Table -> $rc: $rb")
    expectedVersion = SnapshotTable.currentVersion(s, tableRoot)
    // history: commits of staged files through the lake layer, each
    // loaded once over the wire, as a live catalog sees them
    (0 until History).foreach { _ =>
      SnapshotTable.commitFiles(s, tableRoot, Seq(staged(nextStaged)))
      nextStaged += 1
      expectedVersion += 1
      val (code, body) = RestCatalog.get(port, tablePath)
      require(code == 200 && snapshotId(body).isDefined, s"history load -> $code")
    }
  }

  private def rowsFrame(ctx: Ctx, salt: Long, n: Int) = {
    val seed = ctx.seed
    ctx.spark.range(n).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 1000000L).as("ts"),
      pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(1500L)).as("user_id"),
      element_at(array(Seq("signup", "click", "view", "purchase").map(lit): _*),
        (pmod(xxhash64(col("id"), lit(seed + 1), lit(salt)), lit(4L)) + 1).cast("int"))
        .as("event_type"),
      (pmod(xxhash64(col("id"), lit(seed + 2), lit(salt)), lit(56000L)) / 100.0).as("value"))
  }

  def warmup(ctx: Ctx): Unit = (0 until 3).foreach { _ =>
    Seq("config", "list", "exists", "load").foreach(k => request(ctx, k, Clock.now()))
  }

  def run(ctx: Ctx): Unit = {
    val start = Clock.now()
    val slot = new AtomicInteger(0)
    val kinds = schedule(ctx.seed, slots(ctx))
    val sequential = ctx.maxOps > 0
    // a sequential single sender when counting ops: repeatable counters
    val senders = if (sequential) 1 else Senders
    val threads = (0 until senders).map { _ =>
      new Thread(() => {
        var go = true
        while (go) {
          val i = slot.getAndIncrement()
          val due = if (sequential) Clock.now() else start + i * (1000000000L / Rate)
          if (i >= kinds.size) go = false
          else {
            val wait = due - Clock.now()
            if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
            if (kinds(i) == "commit") commitAndLoad(ctx, due) else request(ctx, kinds(i), due)
          }
        }
      }, "perfbench-sender")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  /** Each block of slots holds [[Block]]'s requests in a seeded
    * order, so every run sends the same mix and the same commits.
    */
  private def schedule(seed: Long, n: Int): IndexedSeq[String] = {
    val r = new scala.util.Random(seed)
    Iterator.continually(r.shuffle(Block)).flatten.take(n).toIndexedSeq
  }

  private def slots(ctx: Ctx): Int =
    if (ctx.maxOps > 0) ctx.maxOps else math.ceil(ctx.seconds * Rate).toInt

  private def runCommits(ctx: Ctx): Int = slots(ctx) * Block.count(_ == "commit") / Block.size + 2

  /** One read request; an unexpected status fails the op. */
  private def request(ctx: Ctx, kind: String, due: Long): Unit = {
    val rec = ctx.rec
    val (id, res) = rec.op(s"request.$kind", due, LatencyLimitMs) {
      rec.span(s"endpoint.$kind") {
        kind match {
          case "config" => RestCatalog.get(port, "/v1/config")
          case "list" => RestCatalog.get(port, s"/v1/namespaces/${Catalog.DB}/tables")
          case "exists" => (RestCatalog.head(port, tablePath), "")
          case "load" => RestCatalog.get(port, tablePath)
        }
      }
    }
    res.foreach { case (code, body) =>
      rec.annotate(id, "bytes" -> body.length.toDouble)
      val want = if (kind == "exists") 204 else 200
      if (code != want) rec.fail(id, s"$kind -> $code")
    }
  }

  /** An `add-snapshot` commit of the next staged file, then a load that
    * must return the snapshot the commit created. Commits are
    * serialised: a commit due while another runs waits, and the wait
    * counts in its latency.
    */
  private def commitAndLoad(ctx: Ctx, due: Long): Unit = commitLock.synchronized {
    val rec = ctx.rec
    val file = staged(nextStaged)
    nextStaged += 1
    val body =
      s"""{"requirements":[],"updates":[{"action":"add-snapshot","snapshot":{"summary":
         |{"operation":"append"},"added-data-files":[${Json.str(file)}]}}]}""".stripMargin
    val (cid, cres) = rec.op("request.commit", due, LatencyLimitMs) {
      rec.span("endpoint.commit")(RestCatalog.post(port, tablePath, body))
    }
    expectedVersion += 1
    val committed = cres.flatMap { case (code, resp) =>
      if (code != 200) { rec.fail(cid, s"commit -> $code"); None }
      else snapshotId(resp)
    }
    val (lid, lres) = rec.op("request.load_cold", limitMs = LatencyLimitMs) {
      rec.span("endpoint.load_cold")(RestCatalog.get(port, tablePath))
    }
    lres.foreach { case (code, resp) =>
      rec.annotate(lid, "bytes" -> resp.length.toDouble, "version" -> expectedVersion.toDouble)
      if (code != 200) rec.fail(lid, s"load after commit -> $code")
      else if (committed.isEmpty || snapshotId(resp) != committed)
        rec.fail(lid, s"load after commit returned ${snapshotId(resp)}, committed $committed")
    }
  }

  private def snapshotId(json: String): Option[Long] =
    "\"current-snapshot-id\"\\s*:\\s*(-?\\d+)".r.findFirstMatchIn(json).map(_.group(1).toLong)

  def finish(ctx: Ctx): Map[String, Any] = {
    val v = SnapshotTable.currentVersion(ctx.spark, tableRoot)
    ctx.check(v == expectedVersion, s"table at version $v, expected $expectedVersion")
    Lake.gauges(ctx.spark, Seq(tableRoot)) ++ Map("rate_per_s" -> Rate,
      "latency_limit_ms" -> LatencyLimitMs, "senders" -> Senders)
  }

  def digests(ctx: Ctx): Map[String, String] = Map(
    "seed_rows" -> Gen.digest(rowsFrame(ctx, 0L, 2000), "event_id"),
    "staged_rows" -> Gen.digest(rowsFrame(ctx, 1L, (History + runCommits(ctx)) * 200), "event_id"),
    "schedule" -> Gen.digestLines(schedule(ctx.seed, slots(ctx)).iterator))
}

object CatalogWire {
  val Table = "events_wire"
  /** Offered load, requests per second, and the sender threads. */
  val Rate = 10
  val Senders = 4
  /** A request slower than this, from its due time, counts as failed. */
  val LatencyLimitMs = 2000.0
  /** Commits made at set-up, each loaded once: the timed phase starts
    * at version 34, past the 32 versions after which commits get
    * slower, and a 10 s run takes the table to version 39.
    */
  val History = 33
  /** The request mix of every twenty slots; a commit brings its own
    * follow-up load. At a history past 33 versions a commit takes about
    * 0.45 s and loads that arrive meanwhile wait for it, so one commit
    * in twenty keeps the table free most of the time.
    */
  val Block: Seq[String] = Seq.fill(2)("config") ++ Seq.fill(4)("list") ++
    Seq.fill(4)("exists") ++ Seq.fill(9)("load") :+ "commit"

  @volatile private var current: Option[String] = None
}
