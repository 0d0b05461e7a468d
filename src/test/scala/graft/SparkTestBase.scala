package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkTestBase.session

  def tmpDir(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-$name").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  /** Run `body` and report the Spark jobs it ran on this thread: their
    * number, and each SQL execution's description with its job count (an
    * execution may run none). Jobs are told apart by a job tag, so work of
    * other threads is not counted.
    */
  def countJobs[A](body: => A): (A, SparkTestBase.JobLog) = {
    import scala.collection.concurrent.TrieMap
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val tag = s"graft-jobs-${java.util.UUID.randomUUID()}"
    val descs = TrieMap[Long, String]()
    val jobsPerExec = TrieMap[Long, Int]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobTags.contains(tag) =>
          descs.put(s.executionId, s.description): Unit
        case _ => ()
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = Option(j.properties)
        if (p.flatMap(x => Option(x.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag))) {
          jobs.incrementAndGet()
          val eid = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
            .map(_.toLong).getOrElse(-1L)
          jobsPerExec.put(eid, jobsPerExec.getOrElse(eid, 0) + 1): Unit
        }
      }
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val r = body
      org.apache.spark.ListenerBusDrain(sc)
      (r, SparkTestBase.JobLog(jobs.get(),
        descs.toSeq.sortBy(_._1).map { case (id, d) => d -> jobsPerExec.getOrElse(id, 0) }))
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }
}

object SparkTestBase {

  /** Spark work of one [[SparkTestBase.countJobs]] block. */
  final case class JobLog(jobs: Int, executions: Seq[(String, Int)])

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
