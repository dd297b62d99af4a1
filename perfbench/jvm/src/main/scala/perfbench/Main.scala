package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** What a workload sees: the session, the recorder of the current
  * phase, and the run's settings.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
    val trace: Boolean, val seconds: Double, val maxOps: Int) {
  /** How many units of work of about `unitSeconds` each fill a run of
    * `seconds`: a run's work is fixed by `--seconds`, not by how fast
    * it goes, so both sides of a comparison time the same operations.
    */
  def units(unitSeconds: Double): Int = math.max(1, math.round(seconds / unitSeconds).toInt)
  var rec: Recorder = new Recorder(false)
  /** Output-check failures not tied to one operation. */
  val checkFailures: ArrayBuffer[String] = ArrayBuffer.empty
  def check(ok: Boolean, why: => String): Unit = if (!ok) checkFailures += why
}

/** One workload: built afresh for every set-up, so each set-up starts
  * from the same generated state.
  */
trait Workload {
  /** Generate inputs and build the state the timed phase starts from. */
  def setup(ctx: Ctx, dir: String): Unit
  /** Untimed passes that let caches fill and code compile. */
  def warmup(ctx: Ctx): Unit
  /** The timed phase: the work `ctx.seconds` sizes, or `ctx.maxOps`
    * operations when positive.
    */
  def run(ctx: Ctx): Unit
  /** End-of-run checks and layer gauges (traced runs add more). */
  def finish(ctx: Ctx): Map[String, Any]
  /** Digests of the generated inputs, for the determinism check. */
  def digests(ctx: Ctx): Map[String, String]
  /** Whether the timed phase changes the state the next phase starts
    * from (then a traced phase needs a fresh set-up).
    */
  def stateful: Boolean = true
}

/** Runs one workload and writes its raw measurements as JSON; the
  * Python front end (perfbench/run.py) turns them into metrics.
  *
  * {{{
  * Main --workload bi_sql --seed 1 --seconds 10 --trace 0 --work DIR --out FILE
  *      [--ops N] [--digest 1] [--plant-failure 1]
  * }}}
  */
object Main {
  val workloads: Map[String, () => Workload] = Map(
    "bi_sql" -> (() => new BiSql),
    "lake_ingest" -> (() => new LakeIngest),
    "catalog_wire" -> (() => new CatalogWire),
    "llm_dedup" -> (() => new LlmDedup))

  def session(work: String, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.glake", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.glake.warehouse", s"$work/glake")
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val name = a("workload")
    val make = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val seed = a("seed").toLong
    val seconds = a.getOrElse("seconds", "10").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val work = a("work")
    val maxOps = a.getOrElse("ops", "0").toInt
    Files.createDirectories(Paths.get(work))

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work, trace)
    val ctx = new Ctx(spark, seed, work, trace, seconds, maxOps)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    Log(s"session ready after $sessionS s")
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "trace" -> trace, "seconds" -> seconds,
      "session_s" -> sessionS)

    if (a.getOrElse("digest", "0") == "1") {
      out("digests") = make().digests(ctx)
      write(a("out"), out.toMap)
      spark.stop()
      return
    }

    def timedSetup(i: Int): (Workload, Double) = {
      val w = make()
      val t0 = System.nanoTime()
      w.setup(ctx, s"$work/setup$i")
      (w, (System.nanoTime() - t0) / 1e9)
    }
    def phase(w: Workload, traced: Boolean): Map[String, Any] = {
      val rec = new Recorder(traced)
      rec.plantFailure = a.getOrElse("plant-failure", "0") == "1"
      ctx.rec = rec
      val sp = new SparkProbe
      val pp = new PlanProbe
      if (traced) {
        spark.sparkContext.addSparkListener(sp)
        spark.listenerManager.register(pp)
      }
      val heapBefore = Heap.afterFullGcMb()
      val fs0 = FsCounters.snapshot()
      val written0 = FsCounters.bytesWritten
      val heapWatch = new Heap.PeakWatch().start()
      rec.measuring = true
      val start = Clock.now()
      w.run(ctx)
      val end = Clock.now()
      rec.measuring = false
      val heapDuring = heapWatch.stop()
      val fs = FsCounters.delta(fs0)
      val written = FsCounters.bytesWritten - written0
      val m = scala.collection.mutable.LinkedHashMap[String, Any](
        "traced" -> traced, "start" -> start, "end" -> end,
        "heap_peak_mb" -> Seq(heapBefore, heapDuring, Heap.afterFullGcMb()).max,
        "bytes_written" -> written,
        "ops" -> rec.ops.map(o => Map("id" -> o.id, "kind" -> o.kind, "due" -> o.due,
          "start" -> o.start, "end" -> o.end, "ok" -> o.ok, "error" -> o.error,
          "extra" -> o.extra)))
      if (traced) {
        drain(sp, pp)
        spark.sparkContext.removeSparkListener(sp)
        spark.listenerManager.unregister(pp)
        m("fs") = fs
        m("spans") = rec.spans.map(s => List(s.id, s.parent, s.op, s.name, s.start, s.end))
        m("spark") = sp.dump()
        m("plans") = pp.dump()
      }
      m.toMap
    }

    val (first, setupS) = timedSetup(1)
    out("setup_s") = setupS
    var w = first
    val t0 = System.nanoTime()
    w.warmup(ctx)
    out("warmup_s") = (System.nanoTime() - t0) / 1e9
    var setupsDone = 1
    def again(): Unit = if (w.stateful) {
      setupsDone += 1
      w = timedSetup(setupsDone)._1
      w.warmup(ctx)
    }
    // a traced run first runs one untraced phase it discards, so the JVM
    // is about as warm for its first kept phase as for the later ones
    if (trace) { phase(w, traced = false); again() }
    val phases = ArrayBuffer(phase(w, traced = false))
    out("finish") = w.finish(ctx)
    if (trace) {
      // untraced, traced, untraced, each from the same state: comparing
      // the traced phase with both neighbours cancels the warming left
      again()
      phases += phase(w, traced = true)
      out("finish_traced") = w.finish(ctx)
      again()
      phases += phase(w, traced = false)
    }
    out("phases") = phases.toList
    out("check_failures") = ctx.checkFailures.toList
    write(a("out"), out.toMap)
    spark.stop()
  }

  /** Wait until both listener queues have delivered every event of the
    * phase: the bus is asynchronous and has no public drain call.
    */
  private def drain(sp: SparkProbe, pp: PlanProbe): Unit = {
    var last = ""
    var stableSince = System.nanoTime()
    val giveUp = System.nanoTime() + 10L * 1000000000L
    while (System.nanoTime() - stableSince < 300L * 1000000L && System.nanoTime() < giveUp) {
      Thread.sleep(20)
      val d = sp.dump()
      val open = d("jobs").asInstanceOf[List[Map[String, Any]]].count(_("end_ms") == -1L)
      val now = s"${d("jobs").asInstanceOf[List[_]].size}/${d("tasks").asInstanceOf[List[_]].size}/" +
        s"${pp.dump().size}/$open"
      if (now != last || open > 0) { last = now; stableSince = System.nanoTime() }
    }
  }

  private def write(path: String, m: Map[String, Any]): Unit =
    Files.write(Paths.get(path), Json.value(m).getBytes(StandardCharsets.UTF_8))
}
