package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev probe: per-JOB wall breakdown of one query's execution — which
  * driver-side actions (eager checkpoints, counts, collects, the final
  * sink) the construction seconds actually go to, and how much of the
  * wall is BETWEEN jobs (driver/scheduling gaps). ProfilePhases says
  * construction-vs-sink; this says which job inside construction.
  *
  * usage: runMain graft.tools.ProfileJobs <sfDir> <query> [runs]
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfileJobs <sfDir> <query> [runs]")
    val dir = args(0)
    val name = args(1)
    val runs = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "8")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fn = graft.SparkEntry.queries(name)
    final case class J(id: Int, start: Long, var end: Long, head: String)
    val jobs = new scala.collection.mutable.ArrayBuffer[J]
    val stages = new scala.collection.mutable.ArrayBuffer[String]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.synchronized {
        val head = js.stageInfos.lastOption.map(_.name).getOrElse("?")
        jobs += J(js.jobId, js.time, -1L, head.takeWhile(_ != '\n').take(70))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.find(_.id == je.jobId).foreach(_.end = je.time)
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.synchronized {
          val si = sc.stageInfo
          val wall = (for {s <- si.submissionTime; e <- si.completionTime}
            yield (e - s) / 1e3).getOrElse(-1.0)
          val exec = si.taskMetrics.executorRunTime / 1e3
          val cpu = si.taskMetrics.executorCpuTime / 1e9
          val deser = si.taskMetrics.executorDeserializeTime / 1e3
          if (wall >= 0.05)
            stages += f"[stage] #${si.stageId}%4d wall=$wall%6.3f exec=$exec%6.3f cpu=$cpu%6.3f deser=$deser%6.3f tasks=${si.numTasks}%3d ${si.name.takeWhile(_ != '\n').take(60)}"
        }
    }
    // untimed warmup run (codegen/JIT), then `runs` profiled runs; the
    // LAST run's job table is printed (steady state)
    (0 until runs).foreach { i =>
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
      val profiled = i == runs - 1
      if (profiled) { jobs.clear(); stages.clear()
        spark.sparkContext.addSparkListener(listener) }
      val t0 = System.nanoTime()
      // listener job times are epoch ms, not nanoTime
      val t0EpochMs = System.currentTimeMillis()
      val df = fn(spark, dir)
      val t1 = System.nanoTime()
      TimingSink.rows(df)
      val t2 = System.nanoTime()
      if (profiled) {
        Thread.sleep(300) // let the async listener bus drain
        spark.sparkContext.removeSparkListener(listener)
        println(f"[jobs] $name construct=${(t1 - t0) / 1e9}%.2f s sink=${(t2 - t1) / 1e9}%.2f s jobs=${jobs.size}")
        val sorted = jobs.sortBy(_.start)
        var prevEnd = t0EpochMs
        sorted.foreach { j =>
          val dur = if (j.end > 0) (j.end - j.start) / 1e3 else -1.0
          val gap = (j.start - prevEnd) / 1e3
          prevEnd = math.max(prevEnd, if (j.end > 0) j.end else j.start)
          println(f"[jobs]  #${j.id}%3d dur=$dur%7.3f s gap_before=$gap%7.3f s  ${j.head}")
        }
        val busy = sorted.filter(_.end > 0).map(j => j.end - j.start).sum / 1e3
        println(f"[jobs]  total_in_jobs=$busy%.2f s (wall ${(t2 - t0) / 1e9}%.2f s)")
        stages.foreach(println)
      }
    }
    spark.stop()
  }
}
