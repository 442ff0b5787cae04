package graft

import org.apache.spark.sql.SparkSession

/** Scratch probe: dump the EXECUTED plan (post-AQE, with
  * WholeStageCodegen and ReusedExchange/QueryStage resolution) of
  * SparkEntry queries — the pre-execution explain under AQE shows
  * neither. Usage: runMain graft.ExecutedPlanProbe <sfDir> <query...>
  * Writes /tmp/exec_<query>.txt per query. */
object ExecutedPlanProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    @volatile var lastPlan: String = null
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = { lastPlan = qe.executedPlan.toString }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    names.foreach { name =>
      lastPlan = null
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      var spin = 0
      while (lastPlan == null && spin < 200) { Thread.sleep(20); spin += 1 }
      // the listener may not have fired yet: fall back to the DataFrame's
      // own physical plan
      val plan = if (lastPlan != null) lastPlan
        else df.queryExecution.executedPlan.toString
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"/tmp/exec_$name.txt"), plan)
      println(s"[execplan] $name -> /tmp/exec_$name.txt")
    }
    spark.stop()
  }
}
