package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The local filesystem with per-call counters, installed as
  * `fs.file.impl` in traced runs only. Hadoop's own statistics for
  * `file` count bytes but not listings or renames.
  */
class CountingLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  import FsCounters._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opens.incrementAndGet(); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    creates.incrementAndGet()
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    renames.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    deletes.incrementAndGet(); super.delete(f, recursive)
  }
  override def getFileStatus(f: Path): FileStatus = {
    stats.incrementAndGet(); super.getFileStatus(f)
  }
}

object FsCounters {
  val opens = new AtomicLong
  val creates = new AtomicLong
  val lists = new AtomicLong
  val renames = new AtomicLong
  val deletes = new AtomicLong
  val stats = new AtomicLong

  private def hadoop(key: String): Long =
    Option(FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong(key))).map(_.longValue).getOrElse(0L)

  /** read_ops counts opens and status probes; write_ops creates and
    * deletes; list and rename calls are counted on their own.
    */
  def snapshot(): Map[String, Long] = Map(
    "fs.read_ops" -> (opens.get + stats.get),
    "fs.write_ops" -> (creates.get + deletes.get),
    "fs.list_ops" -> lists.get,
    "fs.rename_ops" -> renames.get,
    "fs.bytes_read" -> hadoop("bytesRead"),
    "fs.bytes_written" -> hadoop("bytesWritten"))

  def delta(before: Map[String, Long]): Map[String, Double] = {
    val now = snapshot()
    now.map { case (k, v) => k -> (v - before(k)).toDouble }
  }

  /** Bytes written, from Hadoop's own statistics (any run mode). */
  def bytesWritten: Long = hadoop("bytesWritten")
}

/** Job, stage and task accounting from a [[SparkListener]]. Job times
  * are epoch milliseconds (the scheduler's clock).
  */
final class SparkProbe extends SparkListener {
  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int])
  final case class Task(stage: Int, durationMs: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long)

  private val jobs = ArrayBuffer.empty[Job]
  private val tasks = ArrayBuffer.empty[Task]
  private val stageTasks = scala.collection.mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageTasks(e.stageInfo.stageId) = e.stageInfo.numTasks
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      tasks += Task(e.stageId, e.taskInfo.duration, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** Raw job and task records for the result file. */
  def dump(): Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.map(j => Map("id" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end,
        "stages" -> j.stages.toList)).toList,
      "tasks" -> tasks.map(t => List(t.stage, t.durationMs, t.runMs, t.cpuNs / 1000000.0,
        t.gcMs, t.shuffleWrite, t.shuffleRead, t.spill)).toList,
      "stage_tasks" -> stageTasks.map { case (k, v) => k.toString -> v }.toMap)
  }
}

/** Catalyst phase times of every executed DataFrame, from
  * `QueryExecution.tracker` (epoch-millisecond phase bounds).
  */
final class PlanProbe extends QueryExecutionListener {
  private val phases = ArrayBuffer.empty[Map[String, Any]]

  private def record(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    if (p.nonEmpty) synchronized {
      phases += p.map { case (k, v) => k -> List(v.startTimeMs, v.endTimeMs) }
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  def dump(): List[Map[String, Any]] = synchronized(phases.toList)
}
