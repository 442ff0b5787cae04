package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The Spark jobs a block of driver code starts. A listener records each
  * job start with the job's "fence" local property. After the block, one
  * job tagged with the fence runs; the listener bus delivers job starts
  * in order, so once the fence job is seen, every job the block started
  * has been seen too. */
object JobFence {

  private final class JobLog extends SparkListener {
    /** (fence tag or null, call site) per job start. */
    val starts = new ConcurrentLinkedQueue[(String, String)]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      starts.add((Option(e.properties).map(_.getProperty("fence")).orNull,
        e.stageInfos.map(_.name).mkString(" / ")))
    def fenced: Boolean = starts.asScala.exists(_._1 == "done")
  }

  /** The block's result, and the call site of each job it started. */
  def jobsOf[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val log = new JobLog
    sc.addSparkListener(log)
    try {
      val out = body
      sc.setLocalProperty("fence", "done")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("fence", null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!log.fenced && System.nanoTime() < deadline) Thread.sleep(10)
      assert(log.fenced, "the fence job never reached the listener")
      (out, log.starts.asScala.toSeq.takeWhile(_._1 != "done").map(_._2))
    } finally sc.removeSparkListener(log)
  }
}
