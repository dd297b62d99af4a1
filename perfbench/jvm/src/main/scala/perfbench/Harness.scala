package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

/** One clock for every timestamp the benchmark records: epoch
  * nanoseconds with `nanoTime` resolution, so spans and op timers
  * line up with Spark listener events (epoch milliseconds).
  */
object Clock {
  private val epochBase = System.currentTimeMillis() * 1000000L
  private val nanoBase = System.nanoTime()
  def now(): Long = epochBase + (System.nanoTime() - nanoBase)
}

/** Progress lines for the run log (stderr). */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - t0) / 1e9}%.2fs $msg")
}

/** Minimal JSON emitter for the raw result file (flat data only). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** One timed operation. Times are [[Clock]] epoch nanoseconds; `due`
  * is the scheduled send time of an open-loop request (equal to
  * `start` in a closed loop). `extra` carries per-op measurements
  * such as filesystem counter deltas or response sizes.
  */
final case class OpRec(id: Int, kind: String, due: Long, start: Long, end: Long,
    ok: Boolean, error: String, extra: Map[String, Double])

final case class SpanRec(id: Int, parent: Int, op: Int, name: String,
    start: Long, end: Long)

/** Records operations, failures and (when tracing) spans. Thread-safe:
  * open-loop senders record from several threads.
  */
final class Recorder(val tracing: Boolean) {
  private val opIds = new AtomicInteger(0)
  private val spanIds = new AtomicInteger(0)
  private val opsBuf = ArrayBuffer.empty[OpRec]
  private val spansBuf = ArrayBuffer.empty[SpanRec]
  private val stack = new ThreadLocal[List[(Int, Int)]] { // (span id, op id)
    override def initialValue(): List[(Int, Int)] = Nil
  }
  /** Whether op timers are running (false during warm-up and set-up). */
  @volatile var measuring: Boolean = false
  /** Plants one failing operation (self-test of failure accounting). */
  @volatile var plantFailure: Boolean = false

  def ops: Seq[OpRec] = opsBuf.synchronized(opsBuf.toList)
  def spans: Seq[SpanRec] = spansBuf.synchronized(spansBuf.toList)

  /** Time `body` as one operation of `kind`. Exceptions are caught and
    * recorded as failures, so one bad operation never loses the run's
    * metrics. Returns the op id and the body's value, if it succeeded.
    */
  def op[T](kind: String, due: Long = -1L, limitMs: Double = 0.0)(body: => T): (Int, Option[T]) = {
    val id = opIds.incrementAndGet()
    val start = Clock.now()
    val outer = stack.get()
    if (tracing) stack.set(List(id -> id))
    var extra = Map.empty[String, Double]
    val fsBefore = if (tracing) FsCounters.snapshot() else null
    val res =
      try {
        if (plantFailure && measuring) {
          plantFailure = false
          throw new IllegalStateException("planted failure")
        }
        Right(body)
      } catch { case e: Throwable => Left(e) }
      finally stack.set(outer)
    val end = Clock.now()
    if (fsBefore != null) extra = FsCounters.delta(fsBefore)
    val from = if (due < 0) start else due
    val late = limitMs > 0 && res.isRight && (end - from) / 1e6 > limitMs
    val rec = OpRec(id, kind, from, start, end, res.isRight && !late,
      if (late) s"over the $limitMs ms latency limit"
      else res.left.toOption.map(describe).getOrElse(""), extra)
    if (measuring) opsBuf.synchronized(opsBuf += rec)
    if (tracing && measuring)
      spansBuf.synchronized(spansBuf += SpanRec(id, 0, id, s"op.$kind", start, end))
    (id, res.toOption)
  }

  /** Mark a recorded op as failed by an output check. */
  def fail(id: Int, why: String): Unit = opsBuf.synchronized {
    val i = opsBuf.lastIndexWhere(_.id == id)
    if (i >= 0) opsBuf(i) = opsBuf(i).copy(ok = false, error = why)
  }

  /** Add measurements to a recorded op. */
  def annotate(id: Int, kv: (String, Double)*): Unit = opsBuf.synchronized {
    val i = opsBuf.lastIndexWhere(_.id == id)
    if (i >= 0) opsBuf(i) = opsBuf(i).copy(extra = opsBuf(i).extra ++ kv)
  }

  /** A span around one call into a layer. A no-op unless tracing. */
  def span[T](name: String)(body: => T): T =
    if (!tracing || !measuring) body
    else {
      val outer = stack.get()
      val (parent, op) = outer.headOption.getOrElse(0 -> 0)
      val id = 1000000 + spanIds.incrementAndGet() // clear of op ids, which are spans too
      stack.set((id, op) :: outer)
      val start = Clock.now()
      try body
      finally {
        val end = Clock.now()
        stack.set(outer)
        spansBuf.synchronized(spansBuf += SpanRec(id, parent, op, name, start, end))
      }
    }

  private def describe(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))
      .replaceAll("\\s+", " ").take(300)
}

/** The old generation's occupancy after garbage collection: sampled
  * after forced full collections around a phase, and after every
  * collection during it through GC notifications.
  */
object Heap {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  import scala.jdk.CollectionConverters._

  private val Mb = 1024.0 * 1024.0

  private def isOld(pool: String): Boolean = Seq("Old", "Tenured").exists(pool.contains)

  private def oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
      p.isCollectionUsageThresholdSupported && isOld(p.getName))

  /** Megabytes of old generation in use after a full collection. */
  def afterFullGcMb(): Double = {
    // the second collection reclaims what Spark's cleaner released
    // once the first one cleared its weak references
    System.gc()
    Thread.sleep(200)
    System.gc()
    oldPools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum / Mb
  }

  /** Tracks the largest old-generation occupancy after any collection
    * from `start` until `stop`, which returns it in megabytes.
    */
  final class PeakWatch extends NotificationListener {
    private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
      case e: NotificationEmitter => e
    }

    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if isOld(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
      }

    def start(): PeakWatch = { emitters.foreach(_.addNotificationListener(this, null, null)); this }

    def stop(): Double = {
      emitters.foreach(_.removeNotificationListener(this))
      peak.get / Mb
    }
  }
}
