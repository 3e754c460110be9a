package surqlbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Work Spark did on behalf of one span or statement. */
final class Work {
  var jobs, stages, tasks = 0L
  var taskRunMs, schedWaitMs, taskCpuNs = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes, rowsRead = 0L
  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; schedWaitMs += o.schedWaitMs; taskCpuNs += o.taskCpuNs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; rowsRead += o.rowsRead
  }
}

/** Job, stage, task, shuffle, spill, row and task-CPU counts, billed to the
  * id held by the job-local property `key` on the thread that launched the
  * job (Spark hands local properties on to the threads that run broadcasts
  * and subqueries). Events arrive on the listener-bus thread; read `byId`
  * only after `BusDrain`. */
final class SparkCounts(key: String) extends SparkListener {
  val byId = mutable.HashMap.empty[Int, Work]
  private val stageId = mutable.HashMap.empty[Int, Int]
  private val stageSubmitted = mutable.HashMap.empty[(Int, Int), Long]

  private def idOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(key))).map(_.toInt)

  private def work(id: Int): Work = byId.getOrElseUpdate(id, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    idOf(e.properties).foreach { id =>
      work(id).jobs += 1
      e.stageInfos.foreach(si => stageId(si.stageId) = id)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    idOf(e.properties).orElse(stageId.get(si.stageId)).foreach { id =>
      stageId(si.stageId) = id
      work(id).stages += 1
      stageSubmitted((si.stageId, si.attemptNumber())) =
        si.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageId.get(e.stageId).foreach { id =>
      val w = work(id)
      w.tasks += 1
      stageSubmitted.get((e.stageId, e.stageAttemptId)).foreach { sub =>
        w.schedWaitMs += math.max(0L, e.taskInfo.launchTime - sub)
      }
      Option(e.taskMetrics).foreach { m =>
        w.taskRunMs += m.executorRunTime
        w.taskCpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.rowsRead += m.inputMetrics.recordsRead
      }
    }
  }
}

object SparkCounts {
  /** Innermost open span of a traced statement. */
  val SpanProperty = "surqlbench.span"
  /** Statement (or set-up repetition) a timed execution belongs to. */
  val StmtProperty = "surqlbench.stmt"
}
