package perfbench

import java.nio.file.Path
import java.sql.Timestamp
import java.time.{LocalDate, ZoneOffset}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Monitoring
import graft.io.Store
import graft.jobs.{CollectJob, FeatureEngineeringJob}
import graft.pipeline.Schemas
import graft.sources.FixtureApiClient

/** The paper's daily job: EP1 collect/merge/upsert, EP2 incremental
  * features and the monitoring epilogue, once per day over consecutive
  * days, on top of a year of seeded history. Every third unit re-collects
  * an earlier day with corrected values, so keep-newest overwrites stored
  * keys (and EP2's anti-join finds no delta).
  */
final class DailyIncrement(spark: SparkSession, seed: Long, dir: Path) extends Workload {
  val historyDays = 364
  val firstDay: LocalDate = LocalDate.of(2023, 1, 1).plusDays(seed.abs % 365 + historyDays)
  val storeDir: Path = dir.resolve("store")
  lazy val store = new Store(spark, storeDir.toString)

  // reference model: per stored day, the sum of its temperature_C
  private val daySum = mutable.Map[LocalDate, Double]()
  private var newDays = 0
  private var corrections = 0
  private var day: LocalDate = _
  private var version = 0
  private var client: FixtureApiClient = _

  def outDir: Path = dir

  /** A year of raw rows, one per hour, typed like `Schemas.raw`. */
  private def history(): Seq[Row] = {
    val r = Gen.rng(seed, "history")
    (0 until historyDays).flatMap { k =>
      val d = firstDay.minusDays(historyDays - k)
      val temps = Gen.temperatures(seed, d, 0)
      daySum(d) = temps.sum
      (0 until 24).map { h =>
        val ts = Timestamp.from(d.atTime(h, 0).toInstant(ZoneOffset.UTC))
        val vals = Schemas.raw.fields.tail.map { f =>
          if (f.name == "temperature_C") temps(h)
          else if (f.dataType == StringType) "moderate"
          else if (r.nextInt(50) == 0) null
          else math.round(r.nextDouble() * 1000) / 10.0
        }
        Row.fromSeq(ts +: vals.toSeq)
      }
    }
  }

  def setup(): Unit = {
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(history(), 4), Schemas.raw)
      .localCheckpoint(true)
    store.writeCsv(raw, CollectJob.rawFile)
    store.writeCsv(FeatureEngineeringJob.engineer(raw), FeatureEngineeringJob.engineeredFile)
  }

  private def correction(i: Int) = i % 3 == 2

  def prepare(i: Int): Unit = {
    if (correction(i)) { day = firstDay.plusDays(newDays - 2); version = 1 + i }
    else { day = firstDay.plusDays(newDays); version = 0 }
    client = new FixtureApiClient(Gen.payloads(seed, day, version))
  }

  def apply(i: Int, tr: Tracer): Long = {
    tr.writeSpan("jobs.collect", storeDir, 24) { _ =>
      CollectJob.run(spark, client, day, store)
    }
    tr.writeSpan("jobs.features", storeDir, if (version == 0) 24 else 0) { _ =>
      FeatureEngineeringJob.run(spark, store)
    }
    tr.span("monitoring.probe") { _ =>
      val m = Monitoring.probe(client, s"${day}T23:00:00Z")
      Monitoring.writeMetrics(storeDir.resolve("monitoring/metrics.json").toString, m)
    }
    if (version == 0) newDays += 1 else corrections += 1
    daySum(day) = Gen.temperatures(seed, day, version).sum
    24
  }

  /** A downstream consumer: the last week's daily means off the engineered table. */
  def reads(i: Int, tr: Tracer): Seq[(String, () => Option[String])] = Seq(
    "io.read_engineered" -> { () =>
      def at(d: LocalDate) = Timestamp.from(d.atStartOfDay().toInstant(ZoneOffset.UTC))
      val n = store.readCsv(FeatureEngineeringJob.engineeredFile, Schemas.engineered)
        .where(col("datetime") >= at(day.minusDays(6)) && col("datetime") < at(day.plusDays(1)))
        .groupBy(to_date(col("datetime"))).agg(avg("renewable_pct"), max("scaled_temperature_C"))
        .collect().length
      if (n == 7) None else Some(s"expected 7 days in the last week, read $n")
    })

  override def check(i: Int): Option[String] = {
    val raw = store.readCsv(CollectJob.rawFile, Schemas.raw)
    val r = raw.agg(count(lit(1)), countDistinct("datetime"), sum("temperature_C")).head()
    val eng = store.readCsv(FeatureEngineeringJob.engineeredFile, Schemas.engineered)
    val nEng = eng.count()
    val days = daySum.size
    if (r.getLong(0) != 24L * days) Some(s"raw rows ${r.getLong(0)} != 24 x $days days")
    else if (r.getLong(1) != r.getLong(0)) Some(s"datetime not unique: ${r.getLong(1)} keys")
    else if (nEng != r.getLong(0)) Some(s"engineered rows $nEng != raw rows ${r.getLong(0)}")
    else if (eng.columns.length != 55) Some(s"engineered has ${eng.columns.length} columns")
    else if (r.getDouble(2) != daySum.values.sum)
      Some(s"raw temperature sum ${r.getDouble(2)} != model ${daySum.values.sum} (keep-newest)")
    else None
  }

  def liveRows(): Long = 24L * daySum.size

  def inputProps: Map[String, Double] = Map(
    "history_rows" -> 24.0 * historyDays, "new_days" -> newDays, "corrected_days" -> corrections,
    "rows_per_day" -> 24, "duplicate_fraction" -> corrections.toDouble / math.max(1, newDays + corrections),
    "files_touched_per_day" -> 2)

  /** An untraced run measures one new day; a traced run adds a traced new
    * day and an untraced correction day, so every traced run exercises
    * and checks keep-newest. */
  override def tracedRunWarmUnits: Int = 2
  override def traces(i: Int): Boolean = !correction(i)

  def close(): Unit = ()
}
