package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

/** Order statistics the benchmark reports. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank position (1-based) of percentile `p` among `n` samples. */
  def rank(p: Int, n: Int): Int = math.max(1, math.ceil(p * n / 100.0).toInt)

  /** The highest whole percentile (50..99) that still has at least ten
    * samples beyond it, and its value (nearest rank). With fewer than 20
    * samples no percentile qualifies and the median is reported as the 50th.
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    val n = s.size
    (99 to 50 by -1).find(p => n - rank(p, n) >= 10) match {
      case Some(p) => (p, s(rank(p, n) - 1))
      case None => (50, median(s))
    }
  }
}

/** Runs one workload: seeded inputs, one timed set-up, then a closed loop
  * of passes (one client: the next pass starts when the previous one has
  * committed) for the given number of seconds. Every pass is checked
  * against the generator's manifest. Prints a report and, as the last line
  * of stdout, one JSON object with the metrics.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path) {
    val cores: Int = Runtime.getRuntime.availableProcessors
  }

  /** Measured passes per run at least, so the medians hold several samples
    * even when passes are slow.
    */
  val MinPasses = 4

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      Paths.get(get("work")).toAbsolutePath)
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      }
    System.exit(code)
  }

  def session(o: Opts): SparkSession = {
    val local = o.work.resolve("spark-local")
    Files.createDirectories(local)
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // room for one pass's generated classes, so warm passes measure
      // execution and the warm-up pass carries the compilation (Spark's
      // default of 100 entries recompiles every class on every pass)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // bounded status stores, so the live heap does not grow with passes
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  private def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Old-generation bytes right after a full collection: the live set. */
  private def liveHeapMb(): Double = {
    // the second collection frees what the context cleaner released after
    // the first (broadcasts and shuffles of finished queries)
    System.gc()
    Thread.sleep(200)
    System.gc()
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getType == java.lang.management.MemoryType.HEAP && p.getName.contains("Old"))
    old.fold(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)(_.getUsage.getUsed) / 1048576.0
  }

  /** Data files of the output tables with their size and modification time. */
  private def snapshot(root: Path): Map[String, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
      }.map(f => f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)).toMap
      finally s.close()
    }

  /** Bytes of the files a pass created or rewrote. */
  private def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Long =
    after.collect { case (f, v) if !before.get(f).contains(v) => v._1 }.sum

  /** One pass's measurements. */
  final case class Sample(k: Int, traced: Boolean, wallS: Double, cpuS: Double, writeAmp: Double,
      compiles: Long)

  /** Classes Spark's code generator has compiled in this JVM (cache misses). */
  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def run(o: Opts): Int = {
    val t00 = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"perfbench: $what at ${(System.nanoTime() - t00) / 1e9}%.1f s")
    Workload.deleteTree(o.work)
    Files.createDirectories(o.work)
    val wl = Workload(o.workload, o.work, o.seed)
    phase("inputs generated")
    var attempted, failed = 0
    val failures = mutable.ArrayBuffer.empty[String]
    /** Runs pass `k`, then checks it; returns its wall and CPU seconds when
      * it ran and passed the check. The check is not timed.
      */
    def attempt(spark: SparkSession, k: Int)(body: => Unit): Option[(Double, Double)] = {
      attempted += 1
      var timing = (0.0, 0.0)
      val errs =
        try {
          val c0 = cpuNanos()
          val t0 = System.nanoTime()
          body
          timing = ((System.nanoTime() - t0) / 1e9, (cpuNanos() - c0) / 1e9)
          wl.check(spark, k)
        } catch { case e: Exception => Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      errs.foreach { e =>
        failures += s"pass $k: $e"
        System.err.println(s"perfbench: pass $k failed: $e")
      }
      if (errs.nonEmpty) failed += 1
      if (errs.isEmpty) Some(timing) else None
    }

    // set-up, in the run's fresh JVM: session build (which starts the Spark
    // context), function registration and one warm-up pass
    val t0 = System.nanoTime()
    val spark = session(o)
    val sessionS = (System.nanoTime() - t0) / 1e9
    wl.beforePass()
    phase("session built")
    val setupS = attempt(spark, 0)(wl.pass(spark, Spans.off, 0)).map { case (wall, _) => sessionS + wall }
    val sc = spark.sparkContext
    /** Frees what a pass left cached; returns how many RDDs it left. */
    def sweep(): Int = {
      val left = sc.getPersistentRDDs.size
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      left
    }
    sweep()
    phase("set-up done")
    val samples = mutable.ArrayBuffer.empty[Sample]
    val leaked = mutable.ArrayBuffer.empty[Int]
    val tracer = new Tracer(sc)
    val listener = new SpanListener
    val bloom = new BloomProbe
    var traced = Map.empty[String, Double]
    val start = System.nanoTime()
    var k = 1
    // the traced run alternates untraced and traced passes and ends on an
    // untraced one, so every traced pass has an untraced pass on each side
    while ((System.nanoTime() - start) / 1e9 < o.seconds || k <= MinPasses || (o.trace && k % 2 == 1)) {
      val traceThis = o.trace && k % 2 == 0
      wl.beforePass()
      val before = snapshot(wl.outputRoot)
      val compiled = compiles()
      if (traceThis) {
        sc.addSparkListener(listener)
        spark.listenerManager.register(bloom)
      }
      val timing = attempt(spark, k) {
        try {
          if (traceThis) tracer.pass(k)(wl.pass(spark, tracer, k)) else wl.pass(spark, Spans.off, k)
        } finally if (traceThis) {
          BenchBus.drain(sc)
          sc.removeSparkListener(listener)
          spark.listenerManager.unregister(bloom)
        }
      }
      timing.foreach { case (wall, cpu) =>
        val amp = written(before, snapshot(wl.outputRoot)).toDouble / wl.inputBytes
        samples += Sample(k, traceThis, wall, cpu, amp, compiles() - compiled)
      }
      if (timing.isDefined && traceThis && traced.isEmpty) traced = wl.tracedCounters(spark)
      leaked += sweep()
      phase(s"pass $k checked")
      k += 1
    }
    // the live set after the last pass: a leak grows it pass by pass
    val heapMb = liveHeapMb()
    phase("passes done")
    spark.stop()
    phase("session stopped")

    val untraced = samples.filterNot(_.traced)
    val failedRatio = failed.toDouble / attempted
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    val report = new StringBuilder
    report.append(s"perfbench workload=${o.workload} seed=${o.seed} cores=${o.cores} " +
      s"passes=${samples.size} trace=${if (o.trace) 1 else 0}\n")
    report.append(s"  manifest ${wl.manifest.map { case (k2, v) => s"$k2=$v" }.mkString(" ")}\n")
    failures.take(20).foreach(f => report.append(s"  FAILED $f\n"))
    report.append("  passes (k wall_s cpu_s compiled) " + samples.map(x =>
      f"${x.k}${if (x.traced) "t" else ""} ${x.wallS}%.2f ${x.cpuS}%.2f ${x.compiles}").mkString(", ") + "\n")
    if (untraced.nonEmpty && setupS.nonEmpty) {
      val (tailP, tailV) = Stats.tail(untraced.map(_.wallS).toSeq)
      val e2e = Seq(
        "setup_s" -> (setupS.get, "s"),
        "pass_s_p50" -> (Stats.median(untraced.map(_.wallS).toSeq), "s"),
        "pass_s_tail" -> (tailV, "s"),
        "cpu_s_per_pass" -> (Stats.median(untraced.map(_.cpuS).toSeq), "s"),
        "write_amp" -> (Stats.median(untraced.map(_.writeAmp).toSeq), "ratio"),
        "live_heap_mb" -> (heapMb, "MB"))
      e2e.foreach { case (n, (v, u)) => report.append(f"  $n%-16s $v%.4f $u\n") }
      report.append(s"  pass_s_tail is p$tailP of ${untraced.size} passes\n")
      report.append(f"  failed_ratio     $failedRatio%.4f ratio ($failed of $attempted passes)\n")
      if (!o.trace) e2e.foreach(out += _)
    }
    var traceOk = true
    if (o.trace) {
      val ratios = if (bloom.passed == 0) Map.empty[String, Double] else Map(
        "operators.textdedup_contamination_bloom.match_per_bloom_pass" -> bloom.joined.toDouble / bloom.passed)
      val layer = Layers.metrics(tracer.spans.toSeq, listener.counters.toMap, samples.toSeq,
        leaked.toSeq, traced ++ ratios, failedRatio)
      layer.foreach { case (n, (v, u)) => report.append(f"  $n%-62s $v%.6f $u\n") }
      val overhead = layer("trace.overhead_s")._1
      val selfSum = layer("trace.layer_self_s")._1
      val around = Layers.untracedAround(samples.toSeq).map(_._2)
      val untracedRef = if (around.isEmpty) 0.0 else Stats.median(around)
      report.append(f"  layer self-time sum $selfSum%.4f s <= untraced pass $untracedRef%.4f s (around the " +
        f"traced ones) + overhead $overhead%.4f s: ${selfSum <= untracedRef + overhead + 1e-3}\n")
      // the trace must account for its passes: every job inside a span, and
      // in every traced pass the layers' self time within the pass
      val self = Tracer.selfSeconds(tracer.spans.toSeq)
      val overrun = tracer.spans.groupBy(_.pass).values.count { ps =>
        ps.filter(_.parent >= 0).map(x => self(x.id)).sum > ps.filter(_.parent < 0).map(_.seconds).sum + 1e-3
      }
      report.append(s"  jobs of traced passes outside any span: ${listener.unattributedJobs}; " +
        s"traced passes whose layers' self time exceeds the pass: $overrun\n")
      traceOk = overrun == 0 && listener.unattributedJobs == 0
      if (!traceOk) System.err.println("perfbench: the trace does not account for the traced passes")
      out ++= layer
      writeSpans(o, tracer.spans.toSeq)
    }
    print(report)
    val metrics = out.map { case (n, (v, u)) => s""""$n": {"value": ${Gen.jsonValue(v)}, "unit": "$u"}""" }
    val correct = failed == 0 && traceOk
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${metrics.mkString(", ")}}}""")
    System.out.flush()
    if (correct) 0 else 1
  }

  /** The traced run's spans, one JSON object a line, written when it ends. */
  private def writeSpans(o: Opts, spans: Seq[Span]): Unit = {
    val dir = o.work.getParent.resolve("traces")
    Files.createDirectories(dir)
    val self = Tracer.selfSeconds(spans)
    val lines = spans.map(s =>
      s"""{"id": ${s.id}, "name": "${s.name}", "pass": ${s.pass}, "parent": ${s.parent}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "self_s": ${self(s.id)}}""")
    Files.write(dir.resolve(s"${o.workload}-${o.seed}.jsonl"), lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
