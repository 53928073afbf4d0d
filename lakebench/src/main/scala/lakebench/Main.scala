package lakebench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *   lakebench.Main --workload W --seed N --seconds S --trace 0|1 --dir D --cpus C [--setup-only 1]
  *
  * Set-up (session, inputs, the serve star, warm-up),
  * then a closed loop with one caller that runs the workload's seeded op
  * list, then the correctness checks. The list depends only on the seed and
  * on `S`, never on the clock, so a faster graft runs the same ops.
  * `--setup-only 1` stops after set-up (the build uses it to dump the
  * class-data-sharing archive).
  * Everything is reported as JSON lines appended to `D/progress.jsonl` as
  * it happens, so a process that dies mid-run still leaves a report;
  * `run.py` turns that file into the metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val dir = new File(a("dir"))
    val cpus = a.getOrElse("cpus", "4")
    val setupOnly = a.getOrElse("setup-only", "0") == "1"
    dir.mkdirs()
    val progress = new Progress(new File(dir, "progress.jsonl"))

    val builder = SparkSession.builder()
    if (traced) builder.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = builder
      .master(s"local[$cpus]")
      .appName(s"lakebench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(dir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    val work = new File(dir, "work")
    var lakes: () => Seq[File] = () => Nil
    val rec: Recorder =
      if (traced) new Tracing(spark, new File(dir, "spans.jsonl"), () => lakes()) else Recorder.Off
    val wl: Workload = workload match {
      case "lake_daily" => new LakeDaily(spark, rec, seed, work)
      case "curation_daily" => new CurationDaily(spark, rec, seed, work)
      case "serve_mixed" => new ServeMixed(spark, rec, seed, work)
      case other => sys.error(s"unknown workload $other")
    }
    lakes = () => wl.lakes

    // ---- set-up: inputs, the serve star, then the warm-up
    val sfDir = new File(work, "sf0.1").getPath
    var inputs = Map.empty[String, (Long, Long)]
    val genS = timed { inputs = wl.inputs(sfDir, 0.1) }
    val prepareS = timed(wl.prepare(sfDir))
    val warmS = timed(wl.warmUp())
    val heapMax = Runtime.getRuntime.maxMemory / 1e6
    progress.write(Json.obj(
      "ev" -> Json.str("setup"),
      "session_s" -> Json.num(sessionS), "warmup_s" -> Json.num(warmS),
      "inputs_s" -> Json.num(genS), "prepare_s" -> Json.num(prepareS),
      "setup_s" -> Json.num(sessionS + warmS + genS + prepareS),
      "inputs" -> Json.obj(inputs.toSeq.sortBy(_._1).map { case (t, (rows, bytes)) =>
        t -> Json.obj("rows" -> Json.num(rows.toDouble), "bytes" -> Json.num(bytes.toDouble))
      }: _*),
      "sf_dir" -> Json.str("sf0.1 (generated, seed " + seed + ")"),
      "master" -> Json.str(s"local[$cpus]"), "heap_max_mb" -> Json.num(heapMax),
      "traced" -> Json.num(if (traced) 1 else 0)))
    if (setupOnly) { spark.stop(); return }

    // ---- measured phase: closed loop, one caller, no think time
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val host0 = Host.sample()
    val cpu0 = os.getProcessCpuTime
    val ops = wl.plan(sfDir, seconds)
    val t0 = System.nanoTime()
    progress.write(Json.obj("ev" -> Json.str("phase"), "epoch_s" -> Json.num(System.currentTimeMillis() / 1e3),
      "planned" -> ops.map(op => Json.obj("kind" -> Json.str(op.kind), "main" -> bool(op.main),
        "write" -> bool(op.write))).mkString("[", ",", "]")))
    for ((op, i) <- ops.zipWithIndex) {
      progress.write(Json.obj("ev" -> Json.str("start"), "op" -> Json.num(i), "kind" -> Json.str(op.kind),
        "main" -> bool(op.main), "write" -> bool(op.write)))
      rec.opStart(i, op.kind)
      val s = System.nanoTime()
      val (out, err) =
        try (op.run(), None)
        catch { case t: Throwable => (OpOut(0), Some(t)) }
      val lat = (System.nanoTime() - s) / 1e9
      err.foreach(t => System.err.println(s"[lakebench] op $i ${op.kind} failed: $t"))
      if (err.isEmpty) op.after()
      rec.opEnd(i, op.kind, err.isEmpty, out.attrs)
      progress.write(Json.obj(
        "ev" -> Json.str("end"), "op" -> Json.num(i), "kind" -> Json.str(op.kind),
        "main" -> bool(op.main), "write" -> bool(op.write), "ok" -> bool(err.isEmpty),
        "lat_s" -> Json.num(lat), "rows" -> Json.num(out.rows.toDouble),
        "cpu_s" -> Json.num((os.getProcessCpuTime - cpu0) / 1e9),
        "t_s" -> Json.num((System.nanoTime() - t0) / 1e9),
        "attrs" -> Json.obj(out.attrs.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
        "err" -> err.map(t => Json.str(s"${t.getClass.getName}: ${t.getMessage}".take(400))).getOrElse("null")))
    }
    val phaseS = (System.nanoTime() - t0) / 1e9
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    val host1 = Host.sample()
    rec.finish()
    val heapLive = Main.liveHeapMb(settle = true)
    progress.write(Json.obj(
      "ev" -> Json.str("done"), "phase_s" -> Json.num(phaseS), "cpu_s" -> Json.num(cpuS),
      "heap_live_mb" -> Json.num(heapLive),
      "load1_start" -> Json.num(host0.load1), "load1_end" -> Json.num(host1.load1),
      "steal_pct" -> Json.num(Host.stealPct(host0, host1)),
      "provenance" -> Json.obj(wl.provenance.map { case (k, v) => k -> Json.str(v) }: _*)))

    val checks = wl.checks()
    progress.write(Json.obj("ev" -> Json.str("checks"), "checks" -> checks.map(c =>
      Json.obj("name" -> Json.str(c.name), "ok" -> bool(c.ok), "detail" -> Json.str(c.detail)))
      .mkString("[", ",", "]")))
    spark.stop()
    progress.write(Json.obj("ev" -> Json.str("exit")))
  }

  private def bool(b: Boolean) = if (b) "true" else "false"

  /** Live heap, outside any timing: a GC and, with `settle`, a pause for
    * Spark's context cleaner to drop what the GC released, then a second GC. */
  def liveHeapMb(settle: Boolean): Double = {
    System.gc()
    if (settle) { Thread.sleep(200); System.gc() }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  private def timed(body: => Unit): Double = {
    val s = System.nanoTime()
    body
    (System.nanoTime() - s) / 1e9
  }
}

final class Progress(f: File) {
  def write(line: String): Unit = {
    val w = new java.io.FileWriter(f, true)
    try w.write(line + "\n") finally w.close()
  }
}

/** Host load over the measured phase, as graft.Bench gathers it: the 1-min
  * load average and the steal share of /proc/stat. */
final case class Host(load1: Double, total: Long, steal: Long)
object Host {
  def sample(): Host = {
    def first(p: String) = scala.util.Using(scala.io.Source.fromFile(p))(_.getLines().next()).toOption
    val load = first("/proc/loadavg").map(_.split(" ")(0).toDouble).getOrElse(-1.0)
    val cpu = first("/proc/stat").map(_.trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty[Long])
    Host(load, cpu.sum, if (cpu.length > 7) cpu(7) else 0L)
  }
  def stealPct(a: Host, b: Host): Double =
    if (b.total > a.total) 100.0 * (b.steal - a.steal) / (b.total - a.total) else 0.0
}
