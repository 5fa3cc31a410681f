package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <curate|lake|ann> --seed N --seconds S
  * --trace 0|1`. Prints a report, then as its last stdout line one JSON
  * object {correct, attempted, failed, metrics}. Untraced runs report the
  * end-to-end metrics; traced runs report the per-layer metrics. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      scale: Double, work: String, out: String, plant: Boolean, commit: String)

  /** Untraced and traced cycles of a traced run (they alternate). */
  val TraceCycles = 2
  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String, d: String) = m.getOrElse(k, d)
    Args(m("workload"), get("seed", "1").toLong, get("seconds", "10").toDouble,
      get("trace", "0") == "1", get("scale", "1").toDouble, get("work", ".bench_work/run"),
      get("out", ".bench_work/traces"), get("plant", "0") == "1", get("commit", "unknown"))
  }

  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    catch { case _: Throwable => 0.0 }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0.0" else java.lang.Double.toString(x)

  def main(argv: Array[String]): Unit = {
    val t00 = System.nanoTime()
    val a = parse(argv)
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors))
    val master = s"local[$cores]"
    val spark = SparkSession.builder().master(master)
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", Paths.get(a.work, "spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", Paths.get(a.work, "warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.TopK.ensurePlanning(spark)
    val loadBefore = graft.Bench.loadAvg()
    val dir = Paths.get(a.work).toAbsolutePath
    Files.createDirectories(dir)
    val tracer = new Tracer(spark)
    if (a.trace) tracer.install()
    val ctx = Ctx(spark, a.seed, a.scale, dir, tracer, a.plant)
    val w: Workload = a.workload match {
      case "curate" => new CurateWorkload(ctx)
      case "lake" => new LakeWorkload(ctx)
      case "ann" => new AnnWorkload(ctx)
      case other => sys.error(s"unknown workload '$other' (curate, lake, ann)")
    }

    // inputs and an untimed warm-up round, then the set-ups, each timed
    // apart from the benchmark's bookkeeping after it
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var mark = t00
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = phases.getOrElse(name, 0.0) + (now - mark) / 1e9
      mark = now
    }
    phase("session")
    w.generate()
    phase("generate")
    w.warmup()
    phase("warmup")
    val setupS = (0 until SetupReps).map { rep =>
      tracer.enabled = a.trace && w.setupSpans && rep == SetupReps - 1
      val t0 = System.nanoTime()
      w.setup(rep)
      val s = (System.nanoTime() - t0) / 1e9
      tracer.enabled = false
      w.afterSetup(rep)
      phase("setup")
      s
    }

    // the closed loop
    w.timed = true
    val cycles = mutable.ArrayBuffer.empty[(Seq[Op], Boolean)]
    var gcTraced = 0L
    // amplification is taken after the first cycle
    var amps = (0.0, 0.0)
    if (!a.trace) {
      for (_ <- 0 until math.max(1, (a.seconds / w.cycleSeconds).toInt)) {
        val ops = w.cycle()
        if (cycles.isEmpty) amps = (w.writeAmp, w.spaceAmp)
        cycles += ((ops, false))
      }
    } else {
      // fixed schedule so counts repeat: untraced and traced rounds alternate
      for (i <- 0 until 2 * TraceCycles) {
        val traced = i % 2 == 1
        tracer.enabled = traced
        val gc0 = gcMs()
        cycles += ((w.cycle(), traced))
        if (traced) gcTraced += gcMs() - gc0
        tracer.enabled = false
      }
    }
    w.timed = false
    phase("loop")
    val finishFailed = w.finish()
    phase("finish")

    val ops = cycles.flatMap(_._1)
    val attempted = ops.size
    val failed = ops.count(!_.ok) + finishFailed
    val correct = failed == 0 && w.failureNotes.isEmpty
    val untraced = cycles.filterNot(_._2).map(_._1)
    val cycleS = untraced.map(_.map(_.ms).sum / 1000)
    val busyS = untraced.flatten.map(_.ms).sum / 1000
    val loadAfter = graft.Bench.loadAvg()

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!a.trace) {
      metrics("setup_s") = (Stats.median(setupS), "s")
      metrics("pass_s") = (Stats.median(cycleS), "s")
      metrics("ops_per_s") = (untraced.flatten.size / busyS, "1/s")
      metrics("write_amp") = (amps._1, "ratio")
      metrics("space_amp") = (amps._2, "ratio")
    } else {
      tracer.flush()
      val spans = tracer.spans
      for (name <- Workload.SpanNames ++ w.extraSpans) {
        val ss = spans.filter(_.name == name)
        def total(f: Span => Double) = ss.map(f).sum
        metrics(s"$name.busy_s") = (total(s => (s.endNs - s.startNs) / 1e9), "s")
        metrics(s"$name.plan_s") = (total(_.planNs / 1e9), "s")
        metrics(s"$name.jobs") = (total(_.jobs.get.toDouble), "count")
        metrics(s"$name.tasks") = (total(_.tasks.get.toDouble), "count")
        metrics(s"$name.shuffle_mb") = (total(_.shuffleBytes.get / 1e6), "MB")
        metrics(s"$name.spill_mb") = (total(_.spillBytes.get / 1e6), "MB")
      }
      val layer = w.layerMetrics()
      for ((name, unit) <- Workload.LayerCounters ++ w.extraCounters)
        metrics(name) = (layer.getOrElse(name, 0.0), unit)
      val skews = tracer.stageSkews
      metrics("gc_s") = (gcTraced / 1000.0, "s")
      metrics("task_skew") = (if (skews.isEmpty) 1.0 else Stats.median(skews), "ratio")
      val tracedS = cycles.filter(_._2).map(_._1.map(_.ms).sum)
      metrics("trace.overhead_ratio") =
        (Stats.median(tracedS) / Stats.median(cycleS.map(_ * 1000)), "ratio")
      val file = Paths.get(a.out).toAbsolutePath.resolve(s"trace-${a.workload}-seed${a.seed}.json")
      tracer.writeJson(file)
      println(s"# spans written to $file")
    }

    // report: run record, every metric with its unit, latency tails with
    // their sample counts, and the failures
    println(s"""# run {"workload":"${a.workload}","seed":${a.seed},"trace":${a.trace},""" +
      s""""scale":${a.scale},"nproc":${Runtime.getRuntime.availableProcessors},""" +
      s""""master":"$master","commit":"${a.commit}","load_before":[${loadBefore._1},${loadBefore._2}],""" +
      s""""load_after":[${loadAfter._1},${loadAfter._2}],"cycles":${cycles.size},""" +
      s""""cycle_ms":[${cycles.map(c => "%.0f".format(c._1.map(_.ms).sum)).mkString(",")}],""" +
      phases.map { case (k, v) => f""""${k}_s":$v%.2f""" }.mkString(",") + "}")
    def line(k: String, v: Double, u: String, note: String = ""): Unit =
      println(("# metric %-44s %s %s" + note).format(k, num(v), u))
    for ((k, (v, u)) <- metrics) line(k, v, u)
    for (kind <- Seq("read", "write", "stage")) {
      val xs = untraced.flatten.filter(_.kind == kind).map(_.ms)
      if (xs.nonEmpty) {
        val shown = Stats.percentiles(xs)
        if (shown.isEmpty)
          println(s"# metric ${kind}_p50_ms n/a (n=${xs.size}; a median needs 20 samples)")
        shown.foreach { case (l, v) => line(s"${kind}_${l}_ms", v, "ms", s" (n=${xs.size})") }
      }
    }
    for ((name, xs) <- untraced.flatten.groupBy(_.name).toSeq.sortBy(_._1))
      println("#   op %-30s mean %10.2f ms  max %10.2f ms  (n=%d)".format(
        name, xs.map(_.ms).sum / xs.size, xs.map(_.ms).max, xs.size))
    for ((k, v, u) <- w.report) line(k, v, u)
    line("peak_rss_mb", peakRssMb(), "MB")
    line("error_rate", failed.toDouble / math.max(1, attempted), "ratio", s" (n=$attempted)")
    w.failureNotes.foreach(n => println(s"# failure: $n"))

    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    spark.stop()
  }
}
