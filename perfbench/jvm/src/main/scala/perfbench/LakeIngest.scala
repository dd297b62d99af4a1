package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.lake.{Maintenance, SnapshotTable}

/** `lake_ingest`: one writer in a closed loop, shaped like the
  * reference ingestion DAG. Each trading day's OHLCV bars are
  * committed with `commitPartitionedByDay(..., "ts")`; every fifth day
  * an `upsertEq` batch restates bars of two days earlier; every eighth
  * commit is preceded by `Maintenance.run`, which the commit waits
  * behind. After each commit the committed day is read back through
  * `readWhere` and checked against the generator's own aggregate.
  */
final class LakeIngest extends Workload {
  import LakeIngest._

  private var root = ""
  private var dir = ""
  private var day = 0
  private var commits = 0
  /** The table's expected content: (ticker, ts) -> bar. */
  private val state = mutable.Map.empty[(String, Long), Gen.Bar]
  /** Batches committed in the current timed phase. */
  private val batches = mutable.ArrayBuffer.empty[Seq[Gen.Bar]]

  def setup(ctx: Ctx, d: String): Unit = {
    dir = d
    root = s"$d/prices"
    // a short history, so the timed phase starts from a live table
    (0 until 3).foreach(_ => nextDay(ctx, timed = false))
  }

  def warmup(ctx: Ctx): Unit = (0 until 3).foreach(_ => nextDay(ctx, timed = false))

  def run(ctx: Ctx): Unit = {
    batches.clear()
    if (ctx.maxOps > 0) while (ctx.rec.ops.size < ctx.maxOps) nextDay(ctx, timed = true)
    else (0 until ctx.units(DaySeconds)).foreach(_ => nextDay(ctx, timed = true))
  }

  private def nextDay(ctx: Ctx, timed: Boolean): Unit = {
    val s = ctx.spark
    val d = day
    day += 1
    val bars = Gen.dayBars(ctx.seed, d)
    commit(ctx, bars, upsert = false, timed)
    readBack(ctx, d)
    if (d % 5 == 4) {
      val fix = Gen.corrections(ctx.seed, d - 2, Gen.dayBars(ctx.seed, d - 2))
      commit(ctx, fix, upsert = true, timed)
      readBack(ctx, d - 2)
    }
  }

  private def commit(ctx: Ctx, bars: Seq[Gen.Bar], upsert: Boolean, timed: Boolean): Unit = {
    val s = ctx.spark
    val rec = ctx.rec
    val maintain = commits > 0 && commits % MaintainEvery == 0
    commits += 1
    val df = Gen.barsFrame(s, bars)
    val v0 = SnapshotTable.currentVersion(s, root)
    var maintMs = 0.0
    var maintBytes = 0.0
    val (id, res) = rec.op("commit") {
      if (maintain) {
        val b0 = FsCounters.bytesWritten
        val t0 = System.nanoTime()
        rec.span("lake.Maintenance.run")(Maintenance.run(s, root, policy))
        maintMs = (System.nanoTime() - t0) / 1e6
        maintBytes = (FsCounters.bytesWritten - b0).toDouble
      }
      if (upsert) rec.span("lake.upsertEq")(SnapshotTable.upsertEq(s, root, Seq("ticker", "ts"), df))
      else rec.span("lake.commitPartitionedByDay")(
        SnapshotTable.commitPartitionedByDay(s, root, df, "ts"))
    }
    if (res.isDefined) bars.foreach(b => state((b.ticker, b.tsMicros)) = b)
    rec.annotate(id, "rows" -> bars.size.toDouble, "upsert" -> (if (upsert) 1.0 else 0.0))
    if (maintain) rec.annotate(id, "maint_ms" -> maintMs, "maint_bytes" -> maintBytes)
    if (ctx.trace && rec.measuring && res.isDefined)
      rec.annotate(id, "commit_files" -> (Lake.liveFiles(s, root, res.get) --
        Lake.liveFiles(s, root, v0)).size.toDouble)
    if (timed && rec.measuring) batches += bars
  }

  private def readBack(ctx: Ctx, d: Int): Unit = {
    val s = ctx.spark
    val rec = ctx.rec
    val start = Gen.dayStart(d)
    var planned: org.apache.spark.sql.DataFrame = null
    var planMs = 0.0
    val (id, res) = rec.op("readback") {
      val t0 = System.nanoTime()
      planned = rec.span("lake.readWhere")(SnapshotTable.readWhere(s, root,
        col("ts") >= timestamp_micros(lit(start)) &&
          col("ts") < timestamp_micros(lit(start + DayMicros))))
      planMs = (System.nanoTime() - t0) / 1e6
      planned.groupBy("ticker").agg(count(lit(1)), sum("volume"), min("low"), max("high"),
        sum(round(col("close") * 100).cast("long"))).collect()
    }
    rec.annotate(id, "scan_plan_ms" -> planMs)
    res.foreach { rows =>
      val got = rows.map(_.mkString("|")).sorted.toSeq
      if (got != expected(start)) rec.fail(id, s"day $d read-back differs from the batch aggregate")
    }
    if (ctx.trace && rec.measuring && planned != null) {
      val live = SnapshotTable.dataFiles(s, root, SnapshotTable.currentVersion(s, root)).size
      rec.annotate(id, "files_scanned_ratio" -> planned.inputFiles.length.toDouble / math.max(1, live))
    }
  }

  /** The generator's own aggregate of one day, corrections applied. */
  private def expected(start: Long): Seq[String] =
    state.valuesIterator.filter(b => b.tsMicros >= start && b.tsMicros < start + DayMicros)
      .toSeq.groupBy(_.ticker).toSeq.map { case (t, bs) =>
        Seq(t, bs.size, bs.map(_.volume).sum, bs.map(_.low).min, bs.map(_.high).max,
          bs.map(b => math.round(b.close * 100)).sum).mkString("|")
      }.sorted

  def finish(ctx: Ctx): Map[String, Any] = {
    val s = ctx.spark
    val n = SnapshotTable.read(s, root).count()
    ctx.check(n == state.size, s"final row count $n, expected ${state.size}")
    // the base of the amplification ratios: the phase's batches written
    // once each as plain parquet
    val plain = s"$dir/plain_${System.nanoTime()}"
    val b0 = FsCounters.bytesWritten
    batches.zipWithIndex.foreach { case (bars, i) =>
      Gen.barsFrame(s, bars).coalesce(1).write.parquet(s"$plain/b$i")
    }
    val base = FsCounters.bytesWritten - b0
    SnapshotTable.drop(s, plain)
    Lake.gauges(s, Seq(root)) ++ Map("base_bytes" -> base, "final_rows" -> n,
      "head_bytes" -> Lake.headBytes(s, root))
  }

  def digests(ctx: Ctx): Map[String, String] = Map(
    "bars" -> Gen.digestLines((0 until 40).iterator.flatMap { d =>
      Gen.dayBars(ctx.seed, d).iterator ++
        (if (d % 5 == 4) Gen.corrections(ctx.seed, d - 2, Gen.dayBars(ctx.seed, d - 2)).iterator
         else Iterator.empty)
    }.map(_.toString)))
}

object LakeIngest {
  val DayMicros: Long = 86400L * 1000000L
  val MaintainEvery = 8
  /** About how long one day's commits and read-backs take. */
  val DaySeconds = 0.6
  /** Small-table maintenance: pack files under 256 KiB, keep 8
    * versions, reclaim orphans at once (a single writer has no
    * in-flight files), so the run's work does not depend on wall time.
    */
  val policy: Maintenance.Policy = Maintenance.Policy(
    smallBytes = 256L << 10, targetBytes = 2L << 20, keepVersions = 8, orphanGraceMs = 0L)
}

/** Lake-layer gauges read from outside through `SnapshotTable`. */
object Lake {
  def liveFiles(s: SparkSession, root: String, v: Int): Set[String] =
    if (v <= 0) Set.empty
    else (SnapshotTable.dataFiles(s, root, v) ++ SnapshotTable.deleteFiles(s, root, v) ++
      SnapshotTable.eqDeleteEntries(s, root, v).map(e => eqPath(e.toString))).toSet

  // the entry type is package-private; its rendering starts with the path
  private def eqPath(entry: String): String =
    entry.stripPrefix("EqDelete(").takeWhile(_ != ',')

  private def files(s: SparkSession, root: String): Seq[(String, Long)] = {
    val p = new Path(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else {
      val it = fs.listFiles(p, true)
      val b = mutable.ArrayBuffer.empty[(String, Long)]
      while (it.hasNext) { val f = it.next(); b += (f.getPath.toUri.getPath -> f.getLen) }
      b.toSeq
    }
  }

  /** Bytes of the table's metadata: every file under the root that is
    * neither parquet nor a checksum.
    */
  def metadataBytes(s: SparkSession, root: String): Long =
    files(s, root).collect { case (f, n) if !f.endsWith(".parquet") && !f.endsWith(".crc") => n }.sum

  /** Bytes the head snapshot references: its data and delete files
    * plus the table's metadata.
    */
  def headBytes(s: SparkSession, root: String): Long = {
    val live = liveFiles(s, root, SnapshotTable.currentVersion(s, root))
      .map(f => new Path(f).toUri.getPath)
    files(s, root).collect { case (f, n) if live(f) || live(f.stripPrefix("file:")) => n }.sum +
      metadataBytes(s, root)
  }

  def gauges(s: SparkSession, roots: Seq[String]): Map[String, Any] = Map(
    "lake.versions" -> roots.map(SnapshotTable.currentVersion(s, _)).sum,
    "lake.live_files" -> roots.map(r => liveFiles(s, r, SnapshotTable.currentVersion(s, r)).size).sum,
    "lake.metadata_bytes" -> roots.map(metadataBytes(s, _)).sum)
}
