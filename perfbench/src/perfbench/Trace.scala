package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: wall-clock bounds in ms (the clock Spark's listener
  * events carry, so jobs can be placed inside spans) and exact nanos for
  * durations. `extra` holds span-specific counts (files written, candidate
  * pairs, ...).
  */
final case class Span(id: Int, name: String, parent: Int, unit: Int,
                      startMs: Long, endMs: Long, nanos: Long,
                      extra: mutable.Map[String, Double])

/** A Spark job as the listener saw it. */
final case class JobRec(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int],
                        module: String, callSite: String)

/** In-memory span recorder plus the Spark listeners that attribute jobs,
  * executor CPU, shuffle and spill to spans. Spans are only recorded while
  * `active`; an inactive tracer runs the body and nothing else, so the
  * untraced units of a traced run measure the same code path.
  *
  * Attribution is by time: every span runs on the one client thread, so a
  * job belongs to the innermost span whose interval holds its start.
  * Streaming micro-batches submit jobs from the stream thread, which a
  * thread-local tag would miss; the interval rule covers them too.
  */
final class Tracer(spark: SparkSession) {
  @volatile var active = false
  private var nextId = 0
  private val stack = mutable.Stack[Int]()
  val spans = mutable.ArrayBuffer[Span]()
  private var unitId = -1
  /** The tracer's own time: directory listings on the client thread plus
    * the listener callbacks that record something. */
  val selfNanos = new AtomicLong()
  private def timedSelf[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally selfNanos.addAndGet(System.nanoTime() - t0)
  }

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val tracedStages = ConcurrentHashMap.newKeySet[Int]()
  // per stage: executor cpu ns, shuffle write bytes, spill bytes
  val stageCpu = new ConcurrentHashMap[Int, AtomicLong]()
  val stageShuffle = new ConcurrentHashMap[Int, AtomicLong]()
  val stageSpill = new ConcurrentHashMap[Int, AtomicLong]()
  val failedTasks = new AtomicLong()
  // candidate-join output rows of executed dedup plans, by kind
  // ("minhash" joins on an LSH band, "simhash" on a 16-bit chunk)
  val candidateRows = new ConcurrentHashMap[String, AtomicLong]()

  private def add[K](m: ConcurrentHashMap[K, AtomicLong], k: K, v: Long): Unit =
    m.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)

  // SQL execution id -> (short, long) call site of the action that started it
  private val execSite = new ConcurrentHashMap[Long, (String, String)]()

  /** The call site of a job: its SQL execution's (query-stage jobs run on
    * pool threads, so only the execution remembers the action that caused
    * them), else its result stage's.
    */
  private def callSite(e: SparkListenerJobStart): (String, String) = {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execSite.get(id.toLong)))
    val stage = e.stageInfos.sortBy(-_.stageId).headOption.map(s => (s.name, s.details))
    exec.orElse(stage).getOrElse(("", ""))
  }

  /** The graft module a job came from: the package of the first `graft.`
    * frame of its call site (`graft.io.Store.readCsv` -> `io`,
    * `graft.Monitoring` -> `Monitoring`).
    */
  private def moduleOf(long: String): String =
    long.split("\n").iterator.map(_.trim).find(_.startsWith("graft.")).map { f =>
      val parts = f.takeWhile(_ != '(').split('.')
      if (parts.length >= 4) parts(1) else parts(1).takeWhile(_ != '$')
    }.getOrElse("other")

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) timedSelf {
      val (short, long) = callSite(e)
      jobs.put(e.jobId, JobRec(e.jobId, e.time, -1L, e.stageIds, moduleOf(long), short))
      e.stageIds.foreach(tracedStages.add)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart if active =>
        timedSelf(execSite.put(x.executionId, (x.description, x.details)))
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId); if (j != null) j.endMs = e.time
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (tracedStages.contains(e.stageId)) timedSelf {
        val m = e.taskMetrics
        if (m != null) {
          add(stageCpu, e.stageId, m.executorCpuTime)
          add(stageShuffle, e.stageId, m.shuffleWriteMetrics.bytesWritten)
          add(stageSpill, e.stageId, m.memoryBytesSpilled + m.diskBytesSpilled)
        }
        if (e.taskInfo != null && e.taskInfo.failed) failedTasks.incrementAndGet()
      }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (active) timedSelf {
        candidateJoinRows(qe.executedPlan).foreach { case (k, n) => add(candidateRows, k, n) }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  /** Output rows of the dedup candidate joins (the equi-joins on an LSH
    * band or a SimHash chunk), read from the executed plan's SQL metrics.
    */
  private def candidateJoinRows(plan: SparkPlan): Seq[(String, Long)] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    nodes(plan).collect { case j: BaseJoinExec => j }.flatMap { j =>
      val keys = (j.leftKeys ++ j.rightKeys).mkString(",")
      val kind =
        if (keys.contains("band_hash")) Some("minhash")
        else if (keys.contains("chunk_val")) Some("simhash") else None
      kind.flatMap(k => j.metrics.get("numOutputRows").map(m => k -> m.value))
    }
  }

  def beginUnit(u: Int): Unit = unitId = u

  /** Runs `body` inside span `name`; `extra` may be filled by the body. */
  def span[T](name: String)(body: mutable.Map[String, Double] => T): T = {
    if (!active) return body(mutable.Map.empty)
    val id = nextId; nextId += 1
    val extra = mutable.Map.empty[String, Double]
    val parent = if (stack.isEmpty) -1 else stack.top
    val t0 = System.nanoTime(); val ms0 = System.currentTimeMillis()
    stack.push(id)
    try body(extra)
    finally {
      stack.pop()
      spans += Span(id, name, parent, unitId, ms0, System.currentTimeMillis(),
        System.nanoTime() - t0, extra)
    }
  }

  /** A write span: the files the body adds or rewrites under `dir`,
    * taken from directory listings before and after (outside the span's
    * own interval), over the rows the generator changed.
    */
  def writeSpan[T](name: String, dir: Path, changedRows: => Long)(
      body: mutable.Map[String, Double] => T): T =
    if (!active) body(mutable.Map.empty)
    else {
      val before = timedSelf(Tracer.listing(dir))
      var extra: mutable.Map[String, Double] = null
      val r = span(name) { ex => extra = ex; body(ex) }
      val written = timedSelf(Tracer.listing(dir).filter { case (p, v) => !before.get(p).contains(v) })
      extra("files_written") = written.size.toDouble
      extra("bytes_written_per_changed_row") =
        written.values.map(_._1).sum.toDouble / math.max(1L, changedRows)
      r
    }

  /** Jobs attributed to each span (innermost span whose interval holds the
    * job's start), after the listener bus has drained.
    */
  def attribute(): Map[Int, Seq[JobRec]] = {
    val done = jobs.values.asScala.toSeq
    val byId = spans.map(s => s.id -> s).toMap
    def depth(s: Span): Int = if (s.parent < 0) 0 else 1 + depth(byId(s.parent))
    val owner = done.flatMap { j =>
      spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        .sortBy(s => (-depth(s), -s.startMs)).headOption.map(_.id -> j)
    }
    val direct = owner.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    // a span owns its descendants' jobs too
    val children = spans.groupBy(_.parent)
    def all(id: Int): Seq[JobRec] =
      direct.getOrElse(id, Nil) ++ children.getOrElse(id, Nil).flatMap(c => all(c.id))
    spans.map(s => s.id -> all(s.id)).toMap
  }

  def write(path: Path): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      val ex = s.extra.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"unit":${s.unit},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.nanos / 1e9},"extra":{$ex}}"""
    }
    val jobLines = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      s"""{"job":${j.id},"start_ms":${j.startMs},"end_ms":${j.endMs},"module":"${j.module}",""" +
        s""""call_site":"${j.callSite.replace("\"", "'")}"}"""
    }
    Files.write(path, (lines ++ jobLines).asJava)
  }
}

object Tracer {
  /** Relative path -> (size, mtime) of every regular file under `dir`. */
  def listing(dir: Path): Map[String, (Long, Long)] =
    if (!Files.exists(dir)) Map.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        dir.relativize(p).toString ->
          (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap
      finally s.close()
    }

  def bytesUnder(dir: Path): Long = listing(dir).values.map(_._1).sum

  /** Union length of [s, e] intervals clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var cursor = lo
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        val s2 = math.max(s, cursor)
        if (e > s2) { total += e - s2; cursor = e }
      }
    total
  }
}
