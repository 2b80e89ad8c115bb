package graft.core

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built (SURVEY §7.1 core/). Every entry
  * point — `RunPipeline`, `Bench`, `Verify`, `ParityDump`, `PlanAudit` and
  * the test harness — calls [[local]], so they all run under one policy;
  * `SessionsSpec` fails on any other builder under `src/`. */
object Sessions {

  /** Cores for a command-line run: `SPARK_GRAFT_CPUS`, else every
    * available processor. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cores]` session with one shuffle partition per core.
    *
    *  - UTC session time zone is load-bearing: the oracle compares
    *    date/hour extractions against DuckDB's naive timestamps.
    *  - Even with the UI off, the status listeners retain completed SQL
    *    executions (plan graphs included), jobs, stages and tasks in
    *    driver memory (default 1000 executions). Over 100+ queries ×
    *    several actions × adaptive reruns that store is pure heap aging
    *    the later queries pay for in GC time, so keep only a handful. */
  def local(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
