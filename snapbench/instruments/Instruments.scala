package snapbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, LocalFileSystem, Path}
import org.apache.spark.{SparkConf, TaskContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Bytes read per file, and the Spark tasks that read `export.xml`.
  * Filled by [[CountingLocalFileSystem]], read by [[BenchListener]]. */
object ReadCounts {
  val bytes = new ConcurrentHashMap[String, LongAdder]()
  val xmlTasks: java.util.Set[java.lang.Long] = ConcurrentHashMap.newKeySet()
}

/** The default `file://` filesystem with every opened stream counted.
  * Installed with `spark.hadoop.fs.file.impl`. */
class CountingLocalFileSystem extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val key = f.toUri.getPath
    val counter = ReadCounts.bytes.computeIfAbsent(key, _ => new LongAdder)
    if (key.endsWith("/export.xml"))
      Option(TaskContext.get()).foreach(t => ReadCounts.xmlTasks.add(t.taskAttemptId()))
    new FSDataInputStream(new CountingStream(super.open(f, bufferSize), counter))
  }
}

private class CountingStream(in: FSDataInputStream, n: LongAdder) extends FSInputStream {
  override def read(): Int = { val b = in.read(); if (b >= 0) n.increment(); b }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    val r = in.read(b, off, len); if (r > 0) n.add(r); r
  }
  override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int = {
    val r = in.read(pos, b, off, len); if (r > 0) n.add(r); r
  }
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(target: Long): Boolean = in.seekToNewSource(target)
  override def available(): Int = in.available()
  override def close(): Unit = in.close()
}

/** Attached to every benchmarked JVM with `spark.extraListeners`.
  *
  * Always: records the moment the SparkContext is ready (the
  * application-start event) with the process CPU and GC time at that
  * moment, and writes them to `spark.snapbench.out` when the context stops.
  * A set-up probe (`spark.snapbench.probe=true`) writes them at once and
  * halts the JVM: it measures launch-to-ready and nothing else.
  *
  * With `spark.snapbench.trace=true` it also attributes every job, its
  * tasks' CPU, shuffle and spill to the graft layer whose code is innermost
  * on the driver stack at job start, and samples the driver's main thread to
  * split each layer's driver time into busy and waiting-for-a-job. */
class BenchListener(conf: SparkConf) extends SparkListener {
  private val outPath = conf.get("spark.snapbench.out")
  private val traced = conf.getBoolean("spark.snapbench.trace", defaultValue = false)
  private val clkTck = conf.getInt("spark.snapbench.clk_tck", 100)
  private val probe = conf.getBoolean("spark.snapbench.probe", defaultValue = false)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private var readyMs = 0L
  private var cpuReadyNs = 0L
  private var gcReadyMs = 0L

  // listener-bus thread only
  private val executionLayer = mutable.Map[String, String]()
  private val stageLayer = mutable.Map[Int, String]()
  private val jobs = mutable.Map[String, Long]().withDefaultValue(0L)
  private val taskCpuNs = mutable.Map[String, Long]().withDefaultValue(0L)
  private var tasks, xmlTaskCpuNs, shuffleBytes, spillBytes = 0L

  private val sampler = new DriverSampler(clkTck)

  override def onApplicationStart(e: SparkListenerApplicationStart): Unit = {
    readyMs = System.currentTimeMillis()
    cpuReadyNs = os.getProcessCpuTime
    gcReadyMs = gcMs
    if (probe) {
      write(Map("ready_ms" -> readyMs, "cpu_ready_s" -> cpuReadyNs / 1e9))
      Runtime.getRuntime.halt(0)
    }
    if (traced) sampler.start()
  }

  // A SQL query's call site is taken on the thread that runs the action;
  // adaptive execution then submits its shuffle stages from a pool thread,
  // whose own call site holds no graft frame.
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if traced =>
      executionLayer(s.executionId.toString) = Layers.of(s.details.split("\n").toSeq)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) {
    val resultStage = e.stageInfos.maxBy(_.stageId)
    val layer = Layers.of(resultStage.details.split("\n").toSeq) match {
      case "spark" => Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(executionLayer.get).getOrElse("spark")
      case l => l
    }
    jobs(layer) += 1
    e.stageIds.foreach(stageLayer(_) = layer)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (traced && e.taskMetrics != null) {
    val m = e.taskMetrics
    val cpu = m.executorCpuTime + m.executorDeserializeCpuTime
    tasks += 1
    taskCpuNs(stageLayer.getOrElse(e.stageId, "spark")) += cpu
    if (ReadCounts.xmlTasks.contains(e.taskInfo.taskId)) xmlTaskCpuNs += cpu
    shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    spillBytes += m.diskBytesSpilled
  }

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
    sampler.stopAndJoin()
    val f = mutable.LinkedHashMap[String, Any](
      "ready_ms" -> readyMs, "cpu_ready_s" -> cpuReadyNs / 1e9,
      "gc_s" -> (gcMs - gcReadyMs) / 1e3)
    if (traced) {
      f ++= Seq("tasks" -> tasks, "task_cpu_s" -> taskCpuNs.values.sum / 1e9,
        "xml_task_cpu_s" -> xmlTaskCpuNs / 1e9,
        "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
        "jit_cpu_s" -> sampler.jitCpuS, "unzip_s" -> sampler.unzipS)
      f("jobs") = jobs.toMap
      f("layer_task_cpu_s") = taskCpuNs.map { case (k, v) => k -> v / 1e9 }.toMap
      f("driver_busy_s") = sampler.busyS.toMap
      f("driver_wait_s") = sampler.waitS.toMap
      f("read_bytes") = ReadCounts.bytes.asScala.map { case (k, v) => k -> v.sum }.toMap
    }
    write(f)
  }

  private def write(record: scala.collection.Map[String, Any]): Unit = {
    val w = new PrintWriter(new File(outPath), "UTF-8")
    try w.write(Json.of(record)) finally w.close()
  }
}

/** The graft layer a driver stack belongs to: the package of its innermost
  * `graft.*` frame; `spark` when no graft frame is on the stack. */
object Layers {
  private val byPackage = Map("ingest" -> "ingest", "pipeline" -> "pipeline",
    "operators" -> "operators", "functions" -> "operators", "ml" -> "ml",
    "core" -> "core")

  def of(frames: Seq[String]): String =
    frames.map(_.trim).find(_.startsWith("graft.")) match {
      case Some(f) => byPackage.getOrElse(f.split('.')(1), "other")
      case None => "spark"
    }
}

/** Samples the driver's `main` thread every 10 ms. Each interval is charged
  * to the layer of the innermost graft frame, as waiting when the thread is
  * parked or blocked (on this path: waiting for a Spark job) and as busy
  * when it is runnable. Every 250 ms it also reads the CPU time of the JIT
  * compiler threads from /proc. */
class DriverSampler(clkTck: Int) extends Thread("snapbench-sampler") {
  setDaemon(true)
  val busyS = mutable.Map[String, Double]().withDefaultValue(0.0)
  val waitS = mutable.Map[String, Double]().withDefaultValue(0.0)
  var unzipS = 0.0
  private val jitTicks = mutable.Map[String, Long]()
  @volatile private var running = true

  override def run(): Unit = {
    val main = Thread.getAllStackTraces.keySet.asScala.find(_.getName == "main")
    var last = System.nanoTime()
    var tick = 0
    while (running && main.exists(_.isAlive)) {
      Thread.sleep(10)
      val st = main.get.getStackTrace
      val waiting = main.get.getState != Thread.State.RUNNABLE
      val now = System.nanoTime()
      val dt = (now - last) / 1e9
      last = now
      val graft = st.map(_.getClassName).filter(_.startsWith("graft."))
      val layer = Layers.of(graft.toSeq)
      if (waiting) waitS(layer) += dt else busyS(layer) += dt
      if (graft.headOption.exists(_.startsWith("graft.ingest.ZipExtract"))) unzipS += dt
      tick += 1
      if (tick % 25 == 0) readJit()
    }
  }

  /** Compiler threads come and go, so keep the last reading of each. */
  private def readJit(): Unit = {
    val tasks = new File("/proc/self/task").listFiles()
    if (tasks != null) tasks.foreach { t =>
      try {
        val stat = new String(Files.readAllBytes(Paths.get(t.getPath, "stat")), "UTF-8")
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (comm.startsWith("C1 Compiler") || comm.startsWith("C2 Compiler")) {
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          jitTicks(t.getName) = f(11).toLong + f(12).toLong // utime + stime
        }
      } catch { case _: java.io.IOException => () } // thread exited meanwhile
    }
  }

  def jitCpuS: Double = jitTicks.values.sum.toDouble / clkTck

  def stopAndJoin(): Unit = if (isAlive) {
    running = false
    join()
    readJit()
  }
}

/** Minimal JSON writer for the listener's flat record. */
object Json {
  def of(v: Any): String = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}: ${of(x)}" }.mkString("{", ", ", "}")
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case x => x.toString
  }
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
