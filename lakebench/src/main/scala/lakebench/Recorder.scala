package lakebench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** What the benchmark records around its calls into graft.
  *
  * The untraced run uses [[Recorder.Off]]: no listener, no spans, no GC
  * between ops. The traced run uses [[Tracing]]. */
trait Recorder {
  /** Wrap one benchmark call into a graft public function. */
  def call[T](name: String, layer: String)(body: => T): T
  def opStart(op: Int, kind: String): Unit
  /** After an op, outside its timing: per-op counters, then flush spans. */
  def opEnd(op: Int, kind: String, ok: Boolean, attrs: Map[String, Double]): Unit
  def finish(): Unit
}

object Recorder {
  object Off extends Recorder {
    def call[T](name: String, layer: String)(body: => T): T = body
    def opStart(op: Int, kind: String): Unit = ()
    def opEnd(op: Int, kind: String, ok: Boolean, attrs: Map[String, Double]): Unit = ()
    def finish(): Unit = ()
  }
}

/** One span: the workload, an op, a benchmark call into graft, or a Spark
  * job (child of the call that started it, tagged with its call-site
  * module). Times are nanoseconds on the recorder's clock. */
final case class Span(id: Long, parent: Long, op: Int, name: String, layer: String,
                      start: Long, end: Long, attrs: Map[String, Double]) {
  def json: String = {
    val a = attrs.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Json.num(v)}""" }
      .mkString("{", ",", "}")
    s"""{"id":$id,"parent":$parent,"op":$op,"name":${Json.str(name)},""" +
      s""""layer":${Json.str(layer)},"start":$start,"end":$end,"attrs":$a}"""
  }
}

/** The traced run's recorder: a SparkListener for jobs, stages, task
  * metrics and SQL-execution plan sizes; call-site-to-module attribution;
  * Hadoop FileSystem statistics for the `file` scheme; the calling
  * thread's CPU. Spans stay in memory and are appended to `spanFile`
  * after each op, outside its timing, so a process that dies loses at most
  * the op it was in. */
final class Tracing(spark: SparkSession, spanFile: java.io.File, lakeDirs: () => Seq[java.io.File])
    extends Recorder {
  private val sc = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis()
  private def msToNs(ms: Long): Long = nano0 + (ms - ms0) * 1000000L
  private val ids = new AtomicLong(1)
  private val rootId = ids.getAndIncrement()
  private val buffered = mutable.ArrayBuffer.empty[Span]
  private var current: (Int, Long) = (-1, rootId) // (op, span id) of the open op
  private var opStartNs = 0L
  private var opFs: Map[String, Long] = Map.empty
  private var opGcMs = 0L
  private val threads = ManagementFactory.getThreadMXBean

  private final class Job(val id: Int, val op: Int, val parent: Long, val module: String,
                          val layer: String, val site: String, val start: Long) {
    @volatile var end = 0L
    @volatile var ok = true
    val c = new ConcurrentHashMap[String, java.lang.Double]()
    def add(k: String, v: Double): Unit = c.merge(k, v, (a, b) => a + b): Unit
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  // (event time ms, plan description chars) of every SQL execution start
  private val sqlStarts = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  // (module, layer) of each SQL execution, from the call site that started it
  private val execModule = new ConcurrentHashMap[Long, (String, String)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val op = p.flatMap(x => Option(x.getProperty("lakebench.op"))).map(_.toInt).getOrElse(-1)
      val parent = p.flatMap(x => Option(x.getProperty("lakebench.span"))).map(_.toLong)
        .getOrElse(rootId)
      val last = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
      // jobs that AQE, broadcasts and subqueries start on pool threads carry
      // no graft frame: they take the module of their SQL execution
      val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execModule.get(id.toLong)))
      val (module, layer) = last.map(s => Tracing.attribute(s.details))
        .filter(_ != Tracing.NoGraftFrame).orElse(exec).getOrElse(Tracing.NoGraftFrame)
      val j = new Job(e.jobId, op, parent, module, layer, last.map(_.name).getOrElse(""),
        msToNs(e.time))
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j =>
        j.end = msToNs(e.time)
        j.ok = e.jobResult == JobSucceeded
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach { j =>
        j.add("stages", 1)
        if (e.stageInfo.attemptNumber() > 0) j.add("stage_retried", 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        j.add("tasks", 1)
        if (e.reason.isInstanceOf[org.apache.spark.TaskFailedReason] &&
            !e.reason.isInstanceOf[org.apache.spark.TaskKilled]) j.add("task_failed", 1)
        val m = e.taskMetrics
        if (m != null) {
          j.add("exec_cpu_s", m.executorCpuTime / 1e9)
          j.add("gc_s", m.jvmGCTime / 1e3)
          j.add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
          j.add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
          j.add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
          j.add("input_mb", m.inputMetrics.bytesRead / 1e6)
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlStarts.add((msToNs(s.time), Option(s.physicalPlanDescription).map(_.length.toLong).getOrElse(0L)))
        val own = Tracing.attribute(s.details)
        execModule.put(s.executionId,
          if (own != Tracing.NoGraftFrame) own
          else s.rootExecutionId.filter(_ != s.executionId).flatMap(r => Option(execModule.get(r)))
            .getOrElse(own))
      case _ =>
    }
  }
  sc.addSparkListener(listener)

  /** Operation counts from [[CountingFs]]; bytes from Hadoop's statistics
    * for the `file` scheme. */
  private def fsStats(): Map[String, Long] = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Map(
      "fs.read_ops" -> CountingFs.reads.get, "fs.list_ops" -> CountingFs.lists.get,
      "fs.write_ops" -> CountingFs.writes.get,
      "fs.read_bytes" -> st.map(_.getBytesRead).sum,
      "fs.write_bytes" -> st.map(_.getBytesWritten).sum)
  }
  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def call[T](name: String, layer: String)(body: => T): T = {
    val id = ids.getAndIncrement()
    sc.setLocalProperty("lakebench.span", id.toString)
    val cpu0 = threads.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val cpu = (threads.getCurrentThreadCpuTime - cpu0) / 1e9
      sc.setLocalProperty("lakebench.span", current._2.toString)
      buffered += Span(id, current._2, current._1, name, layer, t0, t1, Map("driver_cpu_s" -> cpu))
    }
  }

  def opStart(op: Int, kind: String): Unit = {
    val id = ids.getAndIncrement()
    current = (op, id)
    sc.setLocalProperty("lakebench.op", op.toString)
    sc.setLocalProperty("lakebench.span", id.toString)
    opFs = fsStats()
    opGcMs = gcMs()
    opStartNs = System.nanoTime()
  }

  def opEnd(op: Int, kind: String, ok: Boolean, attrs: Map[String, Double]): Unit = {
    val end = System.nanoTime()
    val gc = (gcMs() - opGcMs) / 1e3
    val fs = fsStats()
    org.apache.spark.lakebench.Bus.drain(sc)
    val heap = Main.liveHeapMb(settle = false)
    val (manifests, liveFiles) = lakeState()
    val plan = sqlStarts.asScala.filter { case (t, _) => t >= opStartNs && t <= end }
    val fsDelta = fs.map { case (k, v) => k -> (v - opFs.getOrElse(k, 0L)).toDouble }
    val opAttrs = attrs ++ Map(
      "ok" -> (if (ok) 1.0 else 0.0),
      "jvm.gc_pause_s" -> gc, "jvm.heap_live_mb" -> heap,
      "sources.manifests" -> manifests, "sources.live_files" -> liveFiles,
      "spark.sql_execs" -> plan.size.toDouble,
      "spark.plan_desc_mb" -> plan.map(_._2).sum / 1e6,
      "fs.read_ops" -> fsDelta("fs.read_ops"), "fs.write_ops" -> fsDelta("fs.write_ops"),
      "fs.list_ops" -> fsDelta("fs.list_ops"),
      "fs.read_mb" -> fsDelta("fs.read_bytes") / 1e6,
      "fs.write_mb" -> fsDelta("fs.write_bytes") / 1e6)
    buffered += Span(current._2, rootId, op, kind, "op", opStartNs, end, opAttrs)
    flushJobs(_.op == op, end)
    flush()
    current = (-1, rootId)
    sc.setLocalProperty("lakebench.op", null)
    sc.setLocalProperty("lakebench.span", null)
  }

  private def flushJobs(which: Job => Boolean, end: Long): Unit =
    jobs.values().asScala.filter(which).toSeq.sortBy(_.id).foreach { j =>
      val a = j.c.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
      buffered += Span(ids.getAndIncrement(), j.parent, j.op, s"job ${j.id} ${j.site}", j.layer,
        j.start, if (j.end > 0) j.end else end,
        a ++ Map("ok" -> (if (j.ok) 1.0 else 0.0)) + (("module:" + j.module) -> 1.0))
      jobs.remove(j.id)
    }

  /** Manifest files per snapshot table, and files in the latest snapshot of
    * every snapshot table, summed over the workload's lakes. */
  private def lakeState(): (Double, Double) = {
    val tables = mutable.ArrayBuffer.empty[java.io.File]
    def walk(d: java.io.File): Unit =
      if (new java.io.File(d, "_manifests").isDirectory) tables += d
      else Option(d.listFiles()).getOrElse(Array.empty).filter(_.isDirectory).foreach(walk)
    lakeDirs().foreach(walk)
    val versions = tables.map(t => Option(new java.io.File(t, "_manifests").list()).getOrElse(Array.empty)
      .flatMap(n => """v(\d+)\.json""".r.findFirstMatchIn(n).map(_.group(1).toLong)).toSeq)
    val live = tables.zip(versions).filter(_._2.nonEmpty).map { case (t, vs) =>
      try graft.sources.LakeWriter.snapshotFiles(spark, t.getPath, vs.max).size.toDouble
      catch { case _: Exception => 0.0 }
    }.sum
    val manifests = if (tables.isEmpty) 0.0 else versions.map(_.size).sum.toDouble / tables.size
    (manifests, live)
  }

  private def flush(): Unit = {
    val w = new java.io.FileWriter(spanFile, true)
    try buffered.foreach(s => w.write(s.json + "\n")) finally w.close()
    buffered.clear()
  }

  def finish(): Unit = {
    org.apache.spark.lakebench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    flushJobs(_ => true, System.nanoTime()) // the set-up's jobs (op -1)
    buffered += Span(rootId, 0L, -1, "workload", "workload", nano0, System.nanoTime(), Map.empty)
    flush()
  }
}

object Tracing {
  private val Frame = """^\s*(?:at\s+)?graft\.(\w+)\.(\w+)""".r.unanchored

  /** (module, layer) of a job from its final stage's long call site: the
    * innermost graft frame, skipping `plans` and `functions`, whose kernels
    * run inside the calling operator's job. A job with no graft frame was
    * started by the benchmark itself (the serve queries). */
  def attribute(longCallSite: String): (String, String) =
    Option(longCallSite).getOrElse("").split("\n").iterator
      .collect { case Frame(pkg, cls) => (pkg, cls.takeWhile(_ != '$')) }
      .find { case (pkg, _) => pkg != "plans" && pkg != "functions" }
      .map { case (pkg, cls) => (cls, pkg) }
      .getOrElse(NoGraftFrame)

  val NoGraftFrame: (String, String) = ("query", "serve")
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
