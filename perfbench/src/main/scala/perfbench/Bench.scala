package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Benchmark entry point. One JVM, one `local[Cores]` session, one workload:
  *
  *   --phase gen  writes the workload's inputs for a seed (cached on disk)
  *   --phase run  set-up, timed passes, output checks
  *
  * The last stdout line of a run is the result object; see README.md.
  */
object Bench {
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors)

  /** Traced/untraced pairs below this count are not a median worth
    * reporting, whatever `--seconds` says.
    */
  val MinTracedPairs = 2

  /** The engine modules whose queries engine_queries times. */
  val Modules = Seq("operators", "text", "dedup", "similarity", "sources", "streaming")

  /** Every per-layer metric, in output order. A metric a workload does not
    * exercise reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.scan_tasks" -> "count", "sources.checkpoint_s" -> "s",
    "sources.csv_write_s" -> "s", "sources.read_amplification" -> "ratio", "sources.self_s" -> "s",
    "multimodal.decode_ms" -> "ms", "multimodal.decode_mb_per_s" -> "MB/s",
    "multimodal.decode_failures" -> "count",
    "images.dominant_color_ms" -> "ms", "images.letterbox_ms" -> "ms", "images.avg_color_ms" -> "ms",
    "images.detect_ms" -> "ms", "images.nms_ms" -> "ms", "images.dhash_ms" -> "ms",
    "images.detect_stage_s" -> "s", "images.colors_stage_s" -> "s", "images.rollup_s" -> "s",
    "images.stats_s" -> "s", "images.stat_queries" -> "count", "images.plots_s" -> "s",
    "images.neardup_s" -> "s", "images.neardup_recall" -> "ratio", "images.self_s" -> "s") ++
    Modules.map(m => s"$m.query_s" -> "s") ++ Seq(
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_busy_s" -> "s",
    "spark.core_util" -> "ratio", "spark.max_task_over_median" -> "ratio",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.gc_s" -> "s",
    "bench.self_s" -> "s", "bench.trace_overhead" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      phase: String, work: Path, inputs: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = Paths.get(m.getOrElse("work", ".bench_build")).toAbsolutePath
    Args(m("workload"), m("seed").toLong, m.getOrElse("seconds", "10").toInt,
      m.getOrElse("trace", "0") == "1", m.getOrElse("phase", "run"), work,
      Paths.get(m("inputs")).toAbsolutePath)
  }

  def drainListenerBus(spark: SparkSession): Unit =
    org.apache.spark.perfbenchglue.ListenerBus.drain(spark.sparkContext)

  def session(): SparkSession = graft.Graft.session(s"local[$Cores]")

  def secondsOf(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  private val MiB = 1024.0 * 1024.0

  /** Heap still reachable after a full collection, MiB. Spark frees the
    * blocks of broadcasts and shuffles that a collection finds unreachable
    * on its cleaner thread, so a second collection follows the first.
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MiB
  }

  /** Peak resident memory outside the heap, MiB: the process's VmHWM less
    * the committed heap, which run.py fixes and pre-touches, so that it is
    * resident in full from the start.
    */
  def offHeapPeakMb(): Double = {
    val hwm = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    hwm - java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / MiB
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Operation ledger: every stage call, query and output check is one
    * operation; an exception or a failed check is one failure.
    */
  final class Ops {
    private val attempts = new java.util.concurrent.atomic.AtomicLong
    private val failures = new java.util.concurrent.atomic.AtomicLong
    def attempted: Long = attempts.get
    def failed: Long = failures.get
    def run[T](what: String)(f: => T): Option[T] = {
      attempts.incrementAndGet()
      try Some(f)
      catch { case e: Throwable =>
        failures.incrementAndGet()
        System.err.println(s"perfbench: FAILED $what: $e")
        e.printStackTrace()
        None
      }
    }
    def check(what: String)(ok: => Boolean): Unit =
      if (!run(what)(ok).getOrElse(true)) {
        failures.incrementAndGet()
        System.err.println(s"perfbench: CHECK FAILED $what")
      }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workloads.byName.getOrElse(a.workload, {
      System.err.println(s"perfbench: unknown workload ${a.workload}; known: ${Workloads.byName.keys.mkString(", ")}")
      sys.exit(2)
    })
    a.phase match {
      case "gen" =>
        if (!Files.exists(a.inputs.resolve("DONE"))) {
          val tmp = Paths.get(a.inputs.toString + ".tmp")
          deleteTree(tmp)
          Files.createDirectories(tmp)
          wl.generate(tmp, a.seed)
          Files.writeString(tmp.resolve("DONE"), "")
          deleteTree(a.inputs)
          Files.move(tmp, a.inputs)
        }
        sys.exit(0)
      case "run" =>
        require(Files.exists(a.inputs.resolve("DONE")), s"inputs missing: ${a.inputs}")
        val ok = run(wl, a)
        sys.exit(if (ok) 0 else 1)
    }
  }

  /** One benchmark run; returns false only when no result could be made. */
  def run(wl: Workload, a: Args): Boolean = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val out = a.work.resolve(s"out/${wl.name}")
    deleteTree(out)
    Files.createDirectories(out)
    val ops = new Ops

    // ---- set-up: process start -> session ready -> first (cold) pass done
    val spark = session()
    val stats = new SparkStats
    spark.sparkContext.addSparkListener(stats)
    val live = wl.open(spark, a.inputs, a.seed, out)
    if (ops.run("cold pass")(live.pass(Tracer.off)).isEmpty) return false
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    val phases = ArrayBuffer("setup" -> setupS)
    phases += "prepare" -> secondsOf(live.prepare())

    // ---- timed passes: untraced only, or untraced/traced pairs --------
    // Untraced passes start from a collected heap; the heap still live
    // after each is the retained part of the memory metric.
    val untraced = ArrayBuffer.empty[SparkStats.Window]
    val traced = ArrayBuffer.empty[(Tracer, Double)]
    val queryS = ArrayBuffer.empty[Double]
    val liveHeap = ArrayBuffer(liveHeapMb())
    val t0 = System.nanoTime()
    val deadline = t0 + a.seconds * 1000000000L
    def more = System.nanoTime() < deadline ||
      untraced.size < (if (a.trace) MinTracedPairs else wl.warmPasses)
    def tracedPass(): Unit = {
      val t = new Tracer(true, s"${wl.name}-s${a.seed}-p${traced.size}")
      val (s, w) = stats.window(spark)(secondsOf(ops.run("traced pass")(t.span(live.rootSpan)(live.pass(t)))))
      t.attach(live.rootSpan, live.sqlSpans(w))
      traced += t -> s
    }
    while (more) {
      // pairs alternate which side runs first, so warm-up drift cancels
      val tracedFirst = a.trace && untraced.size % 2 == 1
      if (tracedFirst) tracedPass()
      stats.window(spark)(ops.run("pass")(live.pass(Tracer.off))) match {
        case (Some(_), w) =>
          untraced += w
          queryS ++= live.queryLatencies(w)
        case (None, _) => return false
      }
      if (!a.trace) liveHeap += liveHeapMb()
      if (a.trace && !tracedFirst) tracedPass()
    }
    val passS = median(untraced.map(_.wallS).toSeq)
    phases += "passes" -> (System.nanoTime() - t0) / 1e9
    phases += "check" -> secondsOf(live.check(ops))

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("pass_s", passS, "s"),
        ("items_per_s", live.items / passS, "1/s"),
        ("query_p50_s", median(queryS.toSeq), "s"),
        ("query_p90_s", percentile(queryS.toSeq, 0.90), "s"),
        ("peak_mem_mb", liveHeap.max + offHeapPeakMb(), "MiB"))
      else {
        val tracedS = median(traced.map(_._2).toSeq)
        val spans = traced.map(_._1).toSeq
        Tracer.writeAll(spans, a.work.resolve(s"traces/${wl.name}-s${a.seed}.jsonl"))
        def perPass(f: Tracer => Double) = median(spans.map(f))
        def spanS(name: String) = perPass(_.totals.getOrElse(name, 0.0))
        def selfS(layer: String) = perPass(_.selfSeconds.getOrElse(layer, 0.0))
        def win(f: SparkStats.Window => Double) = median(untraced.map(f).toSeq)
        val measured = Seq(
          "sources.csv_write_s" -> spanS("sources.csv_write"),
          "sources.read_amplification" -> win(_.inputBytes.toDouble) / live.corpusBytes,
          "images.detect_stage_s" -> spanS("images.detect_stage"),
          "images.colors_stage_s" -> spanS("images.colors_stage"),
          "images.rollup_s" -> spanS("images.rollup"),
          "images.stats_s" -> spanS("images.stats"),
          "images.stat_queries" -> perPass(_.count("images.stats").toDouble),
          "images.self_s" -> selfS("images"),
          "sources.self_s" -> selfS("sources"),
          "bench.self_s" -> selfS("bench"),
          "spark.jobs" -> win(_.jobs.toDouble),
          "spark.tasks" -> win(_.tasks.size.toDouble),
          "spark.task_busy_s" -> win(_.busyS),
          "spark.core_util" -> win(_.coreUtil(Cores)),
          "spark.max_task_over_median" -> win(_.maxTaskOverMedian),
          "spark.shuffle_write_mb" -> win(_.shuffleWriteMb),
          "spark.spill_mb" -> win(_.spillMb),
          "spark.gc_s" -> win(_.gcS),
          "bench.trace_overhead" -> tracedS / passS) ++
          Modules.map(m => s"$m.query_s" -> spanS(s"$m.query")) ++
          live.probes(ops, stats).map(p => p._1 -> p._2)
        val byName = measured.toMap
        PerLayer.map { case (n, u) => (n, byName.getOrElse(n, 0.0), u) }
      }

    spark.stop()
    println(s"perfbench: workload=${wl.name} seed=${a.seed} trace=${if (a.trace) 1 else 0} " +
      s"cores=$Cores untraced_passes=${untraced.size} traced_passes=${traced.size} " +
      s"queries=${queryS.size} items=${live.items} " +
      phases.map { case (k, v) => f"$k=$v%.1fs" }.mkString(" ") +
      untraced.map(w => f"${w.wallS}%.2f").mkString(" pass_times=", ",", "") +
      liveHeap.map(m => f"$m%.0f").mkString(" live_heap_mb=", ",", ""))
    println(Json.obj(Seq(
      "correct" -> (ops.failed == 0).toString,
      "attempted" -> ops.attempted.toString,
      "failed" -> ops.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    true
  }
}
