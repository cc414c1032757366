package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark. The harness calls `setup` once, then a
  * closed loop of units: `prepare` (untimed input generation), `apply` (timed),
  * the `reads` issued after it (each timed), and `check` (untimed).
  */
trait Workload {
  def setup(): Unit
  def prepare(i: Int): Unit
  /** Applies unit `i`; returns the input rows it applied. */
  def apply(i: Int, tr: Tracer): Long
  /** Named reads issued after unit `i`; each returns a failed check or None. */
  def reads(i: Int, tr: Tracer): Seq[(String, () => Option[String])]
  /** Compares the program's output after unit `i` with the reference model. */
  def check(i: Int): Option[String] = None
  def finalCheck(): Option[String] = None
  /** The directory holding everything the workload's program writes. */
  def outDir: Path
  def liveRows(): Long
  /** Properties of the inputs this run generated. */
  def inputProps: Map[String, Double]
  /** Warm units an untraced run measures at least after the cold first
    * one, however long they take. */
  def minWarmUnits: Int = 0
  /** Warm units a traced run runs at least, and which of them it traces. */
  def tracedRunWarmUnits: Int = math.max(1, minWarmUnits)
  def traces(i: Int): Boolean = true
  def close(): Unit
}

object Main {

  val workloads: Map[String, (SparkSession, Long, Path) => Workload] = Map(
    "daily_increment" -> ((s, seed, dir) => new DailyIncrement(s, seed, dir)),
    "corpus_curate" -> ((s, seed, dir) => new CorpusCurate(s, seed, dir)),
    "lakehouse_cdc" -> ((s, seed, dir) => new LakehouseCdc(s, seed, dir)),
    "stream_upsert" -> ((s, seed, dir) => new StreamUpsert(s, seed, dir)))

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Heap still in use after full collections, taken between units
    * (outside every timed interval), so it reads the live set rather than
    * wherever the collector happened to be. A collection lets Spark's
    * ContextCleaner drop the blocks of RDDs nothing references any more,
    * which frees more on the next one, so it collects until the heap
    * stops shrinking (at most 8 times).
    */
  private def liveHeapBytes(): Long = {
    def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var last = used(); var k = 1; var settled = false
    while (!settled && k < 8) {
      Thread.sleep(200)
      val now = used(); k += 1
      settled = now > last - (1L << 20)
      last = math.min(last, now)
    }
    last
  }

  /** CPU time of the JIT compiler threads, from /proc/self/task. The run
    * fixes their number (-XX:-UseDynamicNumberOfCompilerThreads), so no
    * compiler thread exits and takes its time with it.
    */
  private def jitCpuS(): Double = {
    val s = Files.list(Paths.get("/proc/self/task"))
    try s.iterator().asScala.map { t =>
      try {
        if (!Files.readString(t.resolve("comm")).contains("CompilerThre")) 0L
        else {
          val stat = Files.readString(t.resolve("stat"))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          f(11).toLong + f(12).toLong // utime + stime, in 1/100 s
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum / 100.0
    finally s.close()
  }

  private val threadBean = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Heap bytes allocated by every thread since the JVM started, exited
    * threads included. */
  private def allocatedMb(): Double = threadBean.getTotalThreadAllocatedBytes / 1048576.0

  private def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  /** The run's Spark session: local[nproc], everything under `work`. */
  def session(name: String, work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.register(spark)
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val make = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath

    val t0 = System.nanoTime()
    val spark = session(name, work)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val wl = make(spark, seed, work.resolve("run"))
    val setupS = sessionS + timed(wl.setup())._2

    val tracer = new Tracer(spark)
    val sc = spark.sparkContext
    def drain(): Unit = org.apache.spark.graft.ListenerBridge.drain(sc)

    val unitS = mutable.ArrayBuffer[Double]()
    val traced = mutable.ArrayBuffer[Boolean]()
    val readS = mutable.ArrayBuffer[Double]()
    val rows = mutable.ArrayBuffer[Long]()
    val cpuS = mutable.ArrayBuffer[Double]()
    val jitS = mutable.ArrayBuffer[Double]()
    val gcTimeS = mutable.ArrayBuffer[Double]()
    val allocMb = mutable.ArrayBuffer[Double]()
    val failures = mutable.ArrayBuffer[String]()
    var peakHeap = 0L
    var attempted = 0
    val loop0 = System.nanoTime()
    def elapsed = (System.nanoTime() - loop0) / 1e9
    val minUnits = 1 + (if (trace) wl.tracedRunWarmUnits else wl.minWarmUnits)
    var i = 0
    while (failures.isEmpty && (i < minUnits || elapsed < seconds) && elapsed < 4 * seconds + 60) {
      wl.prepare(i)
      val on = trace && i > 0 && wl.traces(i)
      if (on) { drain(); tracer.candidateRows.clear(); tracer.active = true }
      tracer.beginUnit(i)
      attempted += 1
      val cpu0 = osBean.getProcessCpuTime; val jit0 = jitCpuS(); val gc0 = gcS()
      val alloc0 = allocatedMb()
      val outcome = try {
        tracer.span("unit") { _ =>
          val (n, s) = timed(wl.apply(i, tracer))
          val readFails = wl.reads(i, tracer).flatMap { case (rn, f) =>
            val (res, rs) = timed(tracer.span(rn)(_ => f()))
            if (!on) readS += rs
            res.map(m => s"$rn: $m")
          }
          (n, s, readFails)
        }
      } catch { case e: Exception => e.printStackTrace(); (0L, 0.0, Seq(s"unit $i threw: $e")) }
      val cpu1 = osBean.getProcessCpuTime; val jit1 = jitCpuS(); val gc1 = gcS()
      val alloc1 = allocatedMb()
      if (on) { drain(); tracer.active = false; fillDedupYield(tracer, i) }
      val (n, s, readFails) = outcome
      val fail = readFails.headOption.orElse(
        try wl.check(i) catch { case e: Exception => Some(s"check threw: $e") })
      fail.foreach(f => failures += s"unit $i: $f")
      unitS += s; traced += on; rows += n; cpuS += (cpu1 - cpu0) / 1e9
      jitS += jit1 - jit0; gcTimeS += gc1 - gc0; allocMb += alloc1 - alloc0
      peakHeap = math.max(peakHeap, liveHeapBytes())
      i += 1
    }
    if (failures.isEmpty)
      (try wl.finalCheck() catch { case e: Exception => Some(s"final check threw: $e") })
        .foreach(failures += _)
    val storeBytes = Tracer.bytesUnder(wl.outDir).toDouble
    val live = wl.liveRows()
    wl.close()

    // the units an untraced run measures: all of them, the cold first one too
    val measured = unitS.indices.filterNot(traced)
    def perUnit(xs: Seq[Double]) = measured.map(xs).sum / math.max(1, measured.size)
    val cpuPerUnit = perUnit(cpuS.toSeq)
    val jitPerUnit = perUnit(jitS.toSeq)
    val warm = measured.filter(_ > 0)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("first_unit_s", unitS.headOption.getOrElse(0.0), "s"),
        ("unit_mean_s", perUnit(unitS.toSeq), "s"),
        ("read_p50_s", median(readS.toSeq), "s"),
        ("rows_per_s", measured.map(rows).sum / math.max(1e-9, measured.map(unitS).sum), "rows/s"),
        ("cpu_s_per_unit", cpuPerUnit, "s"),
        ("work_cpu_s_per_unit", cpuPerUnit - jitPerUnit, "s"),
        ("alloc_mb_per_unit", perUnit(allocMb.toSeq), "MB"),
        ("store_bytes_per_row", storeBytes / math.max(1L, live), "B"),
        ("peak_live_heap_mb", peakHeap / 1048576.0, "MB")) ++
        (if (warm.isEmpty) Nil else Seq(("warm_unit_p50_s", median(warm.map(unitS)), "s")))
      else {
        drain()
        tracer.write(work.resolve("spans.jsonl"))
        // traced units' wall over the same wall less the tracer's own time
        val tracedS = tracer.spans.filter(_.name == "unit").map(_.nanos).sum / 1e9
        val overhead = tracedS / math.max(1e-9, tracedS - tracer.selfNanos.get / 1e9)
        perLayer(tracer) ++ Seq(
          ("tracing_overhead", overhead, "ratio"),
          ("failed_tasks", tracer.failedTasks.get.toDouble, "count"),
          ("failed_frac", failures.size.toDouble / math.max(1, attempted), "ratio"))
      }

    val info = Map(
      "workload" -> s""""$name"""", "seed" -> seed.toString, "units" -> unitS.size.toString,
      "measured_units" -> measured.size.toString, "traced_units" -> traced.count(identity).toString,
      "reads" -> readS.size.toString, "live_rows" -> live.toString,
      "session_s" -> f"$sessionS%.4f",
      "jit_cpu_s_per_unit" -> f"$jitPerUnit%.4f",
      "gc_s_per_unit" -> f"${perUnit(gcTimeS.toSeq)}%.4f",
      "jit_share_of_cpu" -> f"${jitPerUnit / math.max(1e-9, cpuPerUnit)}%.4f",
      "unit_s" -> unitS.map(x => f"$x%.4f").mkString("[", ",", "]"),
      "input" -> wl.inputProps.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"),
      "failures" -> failures.map(f => "\"" + f.replace("\\", "\\\\").replace("\"", "'")
        .replace("\n", " ") + "\"").mkString("[", ",", "]"))
    val result =
      s"""{"correct":${failures.isEmpty},"attempted":$attempted,"failed":${failures.size},""" +
        s""""metrics":${metrics.map { case (k, v, u) => s""""$k":{"value":$v,"unit":"$u"}""" }
          .mkString("{", ",", "}")}}"""
    Files.writeString(work.resolve("info.json"),
      info.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
    Files.writeString(work.resolve("result.json"), result)
    spark.stop()
  }

  /** Dedup spans' verify yield: result pairs over candidate-join rows. */
  private def fillDedupYield(tr: Tracer, unit: Int): Unit =
    tr.spans.filter(s => s.unit == unit && s.name.startsWith("ext.dedup.")).foreach { s =>
      val kind = s.name.stripPrefix("ext.dedup.")
      val cand = Option(tr.candidateRows.get(kind)).map(_.get).getOrElse(0L)
      s.extra("candidate_rows") = cand.toDouble
      s.extra("verify_yield") = s.extra.getOrElse("result_pairs", 0.0) / math.max(1L, cand)
    }

  /** Spans whose shuffle bytes are reported. */
  val shuffleSpans = Set("ext.dedup.minhash", "ext.dedup.simhash", "jobs.curate", "sql.merge_cdc")
  val extraNames =
    Set("checkpoints", "candidate_rows", "verify_yield", "files_written", "bytes_written_per_changed_row")

  /** Per-layer metrics: for each span name, the median over traced units
    * of its per-unit totals (a span absent from a run reports 0).
    */
  def perLayer(tr: Tracer): Seq[(String, Double, String)] = {
    val jobsBySpan = tr.attribute()
    def sumStage(m: java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong],
                 js: Seq[JobRec]): Double =
      js.flatMap(_.stages).flatMap(s => Option(m.get(s))).map(_.get).sum.toDouble
    // unit -> span name -> metric -> value
    val perUnit = mutable.Map[Int, mutable.Map[String, mutable.Map[String, Double]]]()
    tr.spans.foreach { s =>
      val js = jobsBySpan.getOrElse(s.id, Nil)
      val wall = s.nanos / 1e9
      val jobWall = Tracer.covered(js.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)),
        s.startMs, s.endMs) / 1000.0
      val m = perUnit.getOrElseUpdate(s.unit, mutable.Map())
        .getOrElseUpdate(s.name, mutable.Map().withDefaultValue(0.0))
      m("wall_s") += wall
      m("spark_jobs") += js.size
      m("driver_gap_s") += math.max(0.0, (s.endMs - s.startMs) / 1000.0 - jobWall)
      m("executor_cpu_s") += sumStage(tr.stageCpu, js) / 1e9
      if (s.name == "unit") m("spill_bytes") += sumStage(tr.stageSpill, js)
      if (shuffleSpans(s.name)) m("shuffle_bytes") += sumStage(tr.stageShuffle, js)
      s.extra.foreach { case (k, v) => if (extraNames(k)) m(k) += v }
      if (s.name == "unit") {
        val kids = tr.spans.filter(_.parent == s.id).map(k => (k.startMs, k.endMs))
        m("self_s") += math.max(0.0,
          (s.endMs - s.startMs - Tracer.covered(kids.toSeq, s.startMs, s.endMs)) / 1000.0)
        js.groupBy(_.module).foreach { case (mod, g) =>
          m(s"spark_jobs_by_module.$mod") += g.size }
      }
    }
    val units = perUnit.keys.toSeq
    def med(span: String, metric: String): Double = {
      val xs = units.flatMap(u => perUnit(u).get(span).map(_(metric)))
      median(xs)
    }
    val unitSelfFrac = median(units.flatMap(u => perUnit(u).get("unit")
      .map(m => m("self_s") / math.max(1e-9, m("wall_s")))))
    Layers.registry.map { case (name, span, metric, unit) =>
      (name, if (span == "unit" && metric == "self_frac") unitSelfFrac else med(span, metric), unit)
    }
  }
}
