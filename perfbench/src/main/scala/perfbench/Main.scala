package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark harness: one workload, one seed, one JVM.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --cpus <n>
  *
  * Sets the workload up `SetupReps` times, each time with a fresh session
  * and directory, then warms it up: the reference run, then untimed checked
  * runs, the workload's `warmRuns` in all. `setup_s` is the median set-up
  * plus the warm-up. Then it runs the workload in a closed loop, one client
  * thread, until the runs' wall seconds reach `--seconds` and there are
  * `MinRuns` runs. Each run is timed from its inputs to its output, then
  * checked, then the block store is read for leftovers before the sweep
  * that clears it. Every time is taken with the host's steal share over it
  * and reported with that share taken out (`Stats.Timed`); `run_s` is the
  * median of the runs the host disturbed least (`Stats.quiet`).
  * With `--trace 1` the first half of the time runs untraced and the
  * second half traced, which gives the per-layer metrics and the tracing
  * overhead. Prints a detail line, then the result line, on stdout. */
object Main {
  val SetupReps = 3
  val MinRuns = 3
  /** After the first run of a loop, no run starts later than this after
    * the JVM started (the caller stops the JVM at 170 s). */
  val LastStartSeconds = 110.0
  private val jvmStart = System.nanoTime()
  val Layers = Seq("converter", "queries", "sources")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, cpus: Int)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), m.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  def session(dir: java.nio.file.Path, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toUri.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Heap in use after a forced full GC, in MB. The pause also lets
    * Spark's context cleaner release what the collection freed. */
  def gcAndSettle(): Double = {
    System.gc()
    Thread.sleep(150)
    System.gc()
    Thread.sleep(150)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1000.0

  /** Bytes each live thread has allocated so far, by thread id. */
  def allocatedByThread(): Map[Long, Long] = ManagementFactory.getThreadMXBean match {
    case t: com.sun.management.ThreadMXBean =>
      val ids = t.getAllThreadIds
      ids.zip(t.getThreadAllocatedBytes(ids)).filter(_._2 >= 0).toMap
    case _ => Map.empty
  }

  /** Bytes allocated between two snapshots by the threads alive at both. */
  def allocatedBetween(a: Map[Long, Long], b: Map[Long, Long]): Long =
    b.iterator.collect { case (id, v) if a.contains(id) => v - a(id) }.sum

  /** The machine's CPU time so far, summed over its CPUs, as (stolen,
    * busy) clock ticks: stolen is time a CPU had work but the host ran
    * something else. (0, 0) where /proc/stat cannot be read. */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        // cpu  user nice system idle iowait irq softirq steal
        val t = src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
        if (t.length < 8) (0L, 0L) else (t(7), t(0) + t(1) + t(2) + t(5) + t(6))
      } finally src.close()
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  /** Share of the CPU time the machine had work for, between two
    * readings, that the host took away. */
  def stealFrac(a: (Long, Long), b: (Long, Long)): Double = {
    val stolen = b._1 - a._1
    val busy = b._2 - a._2
    if (stolen + busy > 0) stolen.toDouble / (stolen + busy) else 0.0
  }

  /** Runs `body` and times it, with the host's steal share over it. */
  def timed[T](body: => T): (T, Stats.Timed) = {
    val c0 = cpuTicks()
    val t0 = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - t0) / 1e9
    (r, Stats.Timed(wall, stealFrac(c0, cpuTicks())))
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")

  def run(o: Opts): (String, String) = {
    val wl = Workload(o.workload)
    val root = Files.path(o.work)
    var spark: SparkSession = null
    var ctx: Ctx = null
    val setupProblems = mutable.ArrayBuffer.empty[String]
    val setupTimes = (0 until SetupReps).map { rep =>
      if (spark != null) { spark.stop(); Files.delete(root.resolve(s"setup-${rep - 1}")) }
      val dir = root.resolve(s"setup-$rep")
      timed {
        spark = session(dir, o.cpus)
        ctx = new Ctx(spark, o.seed, dir)
        wl.setup(ctx)
      }._2
    }
    val sc = spark.sparkContext
    def sweep(): Unit = {
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    }
    // warm-up: the reference run, then untimed checked runs
    val warm = mutable.ArrayBuffer.empty[Double]
    val warmT = timed {
      warm += timed { setupProblems ++= wl.reference(ctx); sweep() }._2.wall
      while (warm.size < wl.warmRuns) {
        val wled = new Ledger
        val (out, t) = timed(wl.run(ctx, wled, ctx.untraced))
        warm += t.wall
        wl.check(ctx, out).foreach { case (i, why) => wled.failCheck(i, why) }
        setupProblems ++= wled.errors
        sweep()
      }
    }._2
    val led = new Ledger
    setupProblems.foreach(p => led.op("setup")(throw new IllegalStateException(p)))

    final case class RunRec(t: Stats.Timed, traced: Boolean, registered: Int, retainedMb: Double,
        retainedRdds: Int, heapMb: Double, layer: Map[String, Double])
    val runs = mutable.ArrayBuffer.empty[RunRec]
    val listener = new LayerListener

    def oneRun(tr: Tracer): Unit = {
      val gc0 = gcSeconds()
      val alloc0 = allocatedByThread()
      val spans0 = tr.spans.size
      val (out, t) = timed(wl.run(ctx, led, tr))
      val gc = gcSeconds() - gc0
      val alloc = allocatedBetween(alloc0, allocatedByThread())
      wl.check(ctx, out).foreach { case (i, why) => led.failCheck(i, why) }
      // leftovers, measured before the sweep: what the program still holds
      // registered once its references are gone and the cleaner has run
      val registered = sc.getPersistentRDDs.size
      val heap = gcAndSettle()
      val retainedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)
      val retainedRdds = sc.getPersistentRDDs.size
      val layer =
        if (!tr.enabled) Map.empty[String, Double]
        else {
          listener.settle(sc)
          val spans = tr.spans.drop(spans0).toSeq
          listener.layerMetrics(spans, Layers, o.cpus) ++ Map(
            "cache.rdds_persisted" -> listener.rddsPersisted(spans).toDouble,
            "jvm.gc_s" -> gc, "jvm.alloc_mb" -> alloc / (1024.0 * 1024.0))
        }
      sweep()
      runs += RunRec(t, tr.enabled, registered, retainedMb, retainedRdds, heap, layer)
    }

    def loop(tr: Tracer, seconds: Double): Unit = {
      def wall = runs.filter(_.traced == tr.enabled).map(_.t.wall).sum
      def count = runs.count(_.traced == tr.enabled)
      while (count == 0 || ((wall < seconds || count < MinRuns) &&
        (System.nanoTime() - jvmStart) / 1e9 < LastStartSeconds)) oneRun(tr)
    }

    val plain = new Tracer(sc, enabled = false)
    val traced = new Tracer(sc, enabled = true)
    if (!o.trace) loop(plain, o.seconds)
    else {
      loop(plain, o.seconds / 2.0)
      sc.addSparkListener(listener)
      loop(traced, o.seconds / 2.0)
    }

    val untraced = runs.filterNot(_.traced).toSeq
    // a run the host slowed shows it as steal: run_s is the median of the
    // quieter runs, the tail keeps every run
    def quietMedian(rs: Seq[RunRec]) = Stats.median(Stats.quiet(rs.map(r => (r.t.seconds, r.t.steal))))
    val runS = quietMedian(untraced)
    val runTail = Stats.tail(untraced.map(_.t.seconds))
    val e2e = Seq(
      ("setup_s", Stats.median(setupTimes.map(_.seconds)) + warmT.seconds, "s"),
      ("run_s", runS, "s"),
      ("items_per_s", wl.items / runS, "1/s"),
      ("live_heap_mb", Stats.median(runs.map(_.heapMb).toSeq), "MB"))
    val extra = Seq(
      ("failed_ops_frac", led.failedFrac, "frac"),
      ("retained_cache_mb", runs.map(_.retainedMb).max, "MB"),
      ("cache.retained_rdds", runs.map(_.retainedRdds).max.toDouble, "count"),
      ("cache.registered_before_gc", runs.map(_.registered).max.toDouble, "count")) ++
      wl.writtenPerInput.map(v => ("written_bytes_per_input_byte", v, "frac"))

    val metrics =
      if (!o.trace) e2e
      else {
        val tr = runs.filter(_.traced).toSeq
        def med(k: String) = Stats.median(tr.map(_.layer.getOrElse(k, 0.0)))
        val layerKeys = tr.head.layer.keys.toSeq.sorted
        val extras = wl.layerExtras
        val workloadOwn = Seq(("converter.records_out", "count"), ("converter.valid_frac", "frac")) ++
          Seq("validate_us", "dialect_us", "extract_us", "normalize_us").map(k => (s"core.text.$k", "us"))
        def unitOf(k: String) =
          if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB"
          else if (k.endsWith("slot_util")) "frac" else "count"
        layerKeys.map(k => (k, med(k), unitOf(k))) ++
          workloadOwn.map { case (k, u) => (k, extras.getOrElse(k, 0.0), u) } ++ Seq(
          ("cache.retained_rdds", runs.filter(_.traced).map(_.retainedRdds).max.toDouble, "count"),
          ("trace_overhead_frac", quietMedian(tr) / runS - 1, "frac"))
      }

    val detail = Seq(
      s""""workload": "${o.workload}"""", s""""seed": ${o.seed}""", s""""cpus": ${o.cpus}""",
      s""""trace": ${if (o.trace) 1 else 0}""",
      s""""runs": ${untraced.size}""", s""""traced_runs": ${runs.count(_.traced)}""",
      s""""setup_wall_s": ${setupTimes.map(t => num(t.wall)).mkString("[", ", ", "]")}""",
      s""""setup_steal_frac": ${setupTimes.map(t => num(t.steal)).mkString("[", ", ", "]")}""",
      s""""warmup_wall_s": ${num(warmT.wall)}""", s""""warmup_steal_frac": ${num(warmT.steal)}""",
      s""""warmup_runs_s": ${warm.map(num).mkString("[", ", ", "]")}""",
      s""""run_wall_s": ${untraced.map(r => num(r.t.wall)).mkString("[", ", ", "]")}""",
      s""""run_steal_frac": ${untraced.map(r => num(r.t.steal)).mkString("[", ", ", "]")}""",
      s""""run_s_tail": ${runTail.map(t => s"""{"percentile": ${num(t.percentile)}, "value": ${num(t.value)}, "beyond": ${t.beyond}, "samples": ${t.n}}""")
        .getOrElse(s"""{"percentile": null, "samples": ${untraced.size}, "needed": 20}""")}""",
      s""""metrics": ${metricsJson(e2e ++ extra)}""",
      s""""inputs": ${wl.facts.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${num(v)}""" }.mkString("{", ", ", "}")}""",
      s""""errors": ${led.errors.take(8).map(Gen.jsonStr).mkString("[", ", ", "]")}""")
      .mkString("{\"detail\": {", ", ", "}}")
    val result = s"""{"correct": ${led.failed == 0}, "attempted": ${led.attempted}, "failed": ${led.failed}, """ +
      s""""metrics": ${metricsJson(metrics)}}"""
    spark.stop()
    (detail, result)
  }

  def main(args: Array[String]): Unit = {
    val code =
      try {
        val (detail, result) = run(parse(args))
        println(detail)
        println(result)
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"perfbench: ${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace()
          1
      }
    System.out.flush()
    System.exit(code)
  }
}
