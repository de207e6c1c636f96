package graftbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** In-memory spans around the benchmark's calls into graft; written out
  * once, when the run ends. Disabled (no-op) in untraced runs.
  */
final class Trace(val runId: String, var enabled: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** One JSON object per span: name, start, end (ns), parent, run id. */
  def write(path: java.nio.file.Path): Unit = if (enabled) {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Job, stage and task counters from the scheduler's listener bus. Read
  * only after [[Bus.drain]], so every event of the measured region has
  * been delivered.
  */
final class Recorder extends SparkListener {
  final class StageRec(val info: StageInfo, val taskMs: Seq[Long]) {
    private def m = info.taskMetrics
    def runS: Double =
      (info.completionTime.getOrElse(0L) - info.submissionTime.getOrElse(0L)) / 1e3
    def cpuS: Double = m.executorCpuTime / 1e9
    def gcS: Double = m.jvmGCTime / 1e3
    def shuffleWriteBytes: Long = m.shuffleWriteMetrics.bytesWritten
    def shuffleWriteRecords: Long = m.shuffleWriteMetrics.recordsWritten
    def shuffleReadBytes: Long =
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
    def spillBytes: Long = m.diskBytesSpilled
  }

  private val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private var jobCount = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobCount += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += new StageRec(e.stageInfo,
      taskMs.remove(e.stageInfo.stageId).map(_.toSeq).getOrElse(Nil))
  }

  def reset(): Unit = synchronized { taskMs.clear(); stages.clear(); jobCount = 0 }
  def jobs: Int = synchronized(jobCount)
  def completed: Seq[StageRec] = synchronized(stages.toSeq)
}
