package perfbench

import java.nio.file.Path
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.EventStreams

/** One micro-batch per unit: an hour of seeded sensor readings through a
  * `MemoryStream` into the partition-scoped keep-newest upsert sink, with
  * a share of late rows that land in older `dt=` partitions and exact
  * re-deliveries of keys within the batch; then a snapshot read of the
  * sink table.
  */
final class StreamUpsert(spark: SparkSession, seed: Long, dir: Path) extends Workload {
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  val sensors = 100
  val historyDays = 7
  val lateFraction = 0.2
  val redeliveredFraction = 0.05
  val t0: Long = 1704067200L + historyDays * 86400L // first live hour

  val tableDir: Path = dir.resolve("table")
  private val input = MemoryStream[(Long, Timestamp, Double)]
  private var query: StreamingQuery = _
  // reference model: keep-newest over every fed row, by (sensor, ts)
  private val model = mutable.HashMap[(Long, Long), Double]()
  private var batch: Seq[(Long, Timestamp, Double)] = Nil
  private var lateRows, dupRows, fedRows = 0L
  private val touchedDays = mutable.ArrayBuffer[Int]()

  def outDir: Path = tableDir

  private def reading(r: scala.util.Random) = r.nextInt(100000) / 4.0

  def setup(): Unit = {
    // history: hourly readings for every sensor over the previous days
    val r = Gen.rng(seed, "stream-history")
    val rows = for (h <- 0 until historyDays * 24; s <- 0 until sensors) yield {
      val t = t0 - (historyDays * 24 - h) * 3600L
      val v = reading(r)
      model((s.toLong, t)) = v
      (s.toLong, new Timestamp(t * 1000), v)
    }
    EventStreams.upsertPartitions(rows.toDF("sensor_id", "ts", "value"),
      tableDir.toString, Seq("sensor_id", "ts"), "ts")
    query = EventStreams.upsertSinkPartitioned(input.toDF().toDF("sensor_id", "ts", "value"),
      tableDir.toString, Seq("sensor_id", "ts"), "ts", dir.resolve("checkpoint").toString)
  }

  def prepare(i: Int): Unit = {
    val r = Gen.rng(seed, "stream", i)
    val hour = t0 + i * 3600L
    val onTime = (0 until sensors).map(s => (s.toLong, hour, reading(r)))
    val late = (0 until (sensors * lateFraction).toInt).map { _ =>
      (r.nextInt(sensors).toLong, hour - 3600L * (1 + r.nextInt(historyDays * 24)), reading(r))
    }.groupBy(x => (x._1, x._2)).values.map(_.head).toSeq
    val rows = onTime ++ late
    val redelivered = Seq.fill((rows.size * redeliveredFraction).toInt)(rows(r.nextInt(rows.size)))
    batch = (rows ++ redelivered).map { case (s, t, v) => (s, new Timestamp(t * 1000), v) }
    lateRows += late.size; dupRows += redelivered.size; fedRows += batch.size
    touchedDays += rows.map(x => Math.floorDiv(x._2, 86400L)).distinct.size
  }

  def apply(i: Int, tr: Tracer): Long = {
    tr.writeSpan("streaming.micro_batch", tableDir, batch.size) { _ =>
      input.addData(batch: _*)
      query.processAllAvailable()
    }
    batch.foreach { case (s, t, v) => model((s, t.getTime / 1000)) = v }
    batch.size
  }

  private def modelAgg = (model.size.toLong, model.values.sum)

  def reads(i: Int, tr: Tracer): Seq[(String, () => Option[String])] = Seq(
    "io.read_partitioned" -> { () =>
      val r = spark.read.parquet(tableDir.toString).agg(count(lit(1)), sum("value")).head()
      val got = (r.getLong(0), r.getDouble(1))
      if (got == modelAgg) None else Some(s"sink (count, sum) $got != model $modelAgg")
    })

  override def check(i: Int): Option[String] = Option(query.exception.orNull).map(e => s"stream failed: $e")

  override def finalCheck(): Option[String] = {
    val got = spark.read.parquet(tableDir.toString).select("sensor_id", "ts", "value")
      .as[(Long, Timestamp, Double)].collect()
      .map { case (s, t, v) => (s, t.getTime / 1000) -> v }
    val gotMap = got.toMap
    if (got.length != gotMap.size) Some(s"sink holds ${got.length - gotMap.size} duplicate keys")
    else if (gotMap != model) Some(s"sink differs from keep-newest over fed rows " +
      s"(${(gotMap.toSet diff model.toSet).size} rows)")
    else None
  }

  def liveRows(): Long = model.size.toLong

  def inputProps: Map[String, Double] = Map(
    "sensors" -> sensors.toDouble, "history_rows" -> (historyDays * 24 * sensors).toDouble,
    "fed_rows" -> fedRows.toDouble, "late_fraction" -> lateRows.toDouble / math.max(1L, fedRows),
    "duplicate_fraction" -> dupRows.toDouble / math.max(1L, fedRows),
    "partitions_touched_per_batch" -> Main.median(touchedDays.map(_.toDouble).toSeq))

  override def minWarmUnits: Int = 2

  def close(): Unit = if (query != null) { query.stop(); query.awaitTermination() }
}
