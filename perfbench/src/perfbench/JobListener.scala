package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Spark work done for one traced request, from the scheduler's events. */
final case class ReqWork(
    jobs: Int,
    stages: Int,
    tasks: Int,
    taskMs: Long, // summed task wall durations
    shuffleWriteBytes: Long,
    shuffleReadBytes: Long,
    spillBytes: Long,
    schedWaitMs: Long, // per job: submit -> first task launch, summed
    stageTaskMs: Seq[Seq[Long]] // task durations of each stage that ran
)

/** Collects per-request Spark work. Jobs are attributed through the
  * `perfbench.req` local property that [[Tracer]] sets around a root span;
  * untagged jobs are ignored. Events arrive asynchronously, so read
  * [[work]] only after the SparkContext has stopped (which drains the bus).
  */
final class JobListener extends SparkListener {
  import JobListener._

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageReq = new ConcurrentHashMap[Int, Long]()
  private val stagesRun = new ConcurrentHashMap[Int, Long]() // stageId -> req
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()

  private def reqOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(JobListener.ReqProperty))).map(_.toLong)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    reqOf(e.properties).foreach { r =>
      jobs.put(e.jobId, JobRec(r, e.time, e.stageIds))
      e.stageIds.foreach(s => stageReq.putIfAbsent(s, r))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    reqOf(e.properties).foreach(r => stagesRun.put(e.stageInfo.stageId, r))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (info != null && stageReq.containsKey(e.stageId))
      tasks.add(TaskRec(e.stageId, info.launchTime, info.duration,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Work per request id. */
  def work: Map[Long, ReqWork] = {
    val ts = tasks.asScala.toSeq
    val byStage = ts.groupBy(_.stageId)
    val firstLaunch = byStage.map { case (s, rs) => s -> rs.map(_.launchMs).min }
    val jobsByReq = jobs.asScala.values.groupBy(_.req)
    val stagesByReq = stagesRun.asScala.toSeq.groupBy(_._2).map { case (r, ss) => r -> ss.map(_._1) }
    (jobsByReq.keySet ++ stagesByReq.keySet).map { r =>
      val js = jobsByReq.getOrElse(r, Nil).toSeq
      val ss = stagesByReq.getOrElse(r, Nil)
      val rts = ss.flatMap(s => byStage.getOrElse(s, Nil))
      val wait = js.map { j =>
        val launches = j.stageIds.flatMap(firstLaunch.get)
        if (launches.isEmpty) 0L else math.max(0L, launches.min - j.submitMs)
      }.sum
      r -> ReqWork(js.size, ss.size, rts.size, rts.map(_.durMs).sum,
        rts.map(_.shuffleWrite).sum, rts.map(_.shuffleRead).sum, rts.map(_.spill).sum,
        wait, ss.sorted.map(s => byStage.getOrElse(s, Nil).map(_.durMs)))
    }.toMap
  }
}

object JobListener {
  val ReqProperty = "perfbench.req"

  private final case class JobRec(req: Long, submitMs: Long, stageIds: Seq[Int])
  private final case class TaskRec(stageId: Int, launchMs: Long, durMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long)
}

/** Helpers over one request's work. */
object Work {
  val Empty = ReqWork(0, 0, 0, 0L, 0L, 0L, 0L, 0L, Nil)

  /** max / median task duration of the stage with the most task time. */
  def skew(w: ReqWork): Double = {
    val heavy = w.stageTaskMs.filter(_.nonEmpty).sortBy(-_.sum).headOption
    heavy match {
      case Some(ds) =>
        val med = Stats.median(ds.map(_.toDouble))
        if (med <= 0) 1.0 else ds.max / med
      case None => 1.0
    }
  }
}
