package perfbench

import java.nio.file.Path
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.io.Store
import graft.sql.GraftCatalog

/** One nightly cycle per unit on a z-ordered (user_id, ts) events table:
  * a CDC `MERGE INTO` through the SQL face, one `updateWhere` and one
  * `deleteWhere`, with `scopedRecluster` + `vacuum` every `maintainEvery` cycles; then
  * a snapshot aggregate, a user_id range read, an older epoch by API and
  * by SQL `VERSION AS OF`, and the change feed since the last cycle.
  * CDC keys are skewed toward recent `ts`, so few files are touched.
  */
final class LakehouseCdc(spark: SparkSession, seed: Long, dir: Path) extends Workload {
  import spark.implicits._

  val events = 10000
  val days = 60
  val cdcRows = 100
  val maintainEvery = 1
  val keepEpochs = 12
  val t0: Long = 1704067200L // 2024-01-01T00:00:00Z
  val recentFrom: Long = t0 + (days - 5) * 86400L

  val storeDir: Path = dir.resolve("store")
  lazy val store = new Store(spark, storeDir.toString)
  private val rel = "events"

  // reference model: the live table, by event_id
  private val model = mutable.HashMap[Long, Gen.Event]()
  private var nextId = 0L
  private val epochAgg = mutable.Map[Long, (Long, Double)]()
  private val cycleEnd = mutable.ArrayBuffer[Long]()
  private var cdc: Seq[(Long, Timestamp, Long, String, Double, String, String)] = Nil
  private var expectChanges = Map.empty[String, Long]
  private var updUser, delUser = 0L
  private var delKind = ""
  private var rangeLo = 0L
  private var changedSinceMaintain = 0L

  def outDir: Path = dir

  private def agg(it: Iterable[Gen.Event]): (Long, Double) = (it.size.toLong, it.map(_.value).sum)
  private def epoch(): Long = store.listVersions(rel).max
  private def ts(s: Long) = new Timestamp(s * 1000L)

  def setup(): Unit = {
    val r = Gen.rng(seed, "events")
    // the table's shape (users, kinds, times) is the same for every seed;
    // the seed draws the values
    (0 until events).foreach { k =>
      val e = Gen.Event(k.toLong, t0 + k.toLong * days * 86400 / events, k % Gen.users,
        Gen.eventKinds(k / Gen.users % Gen.eventKinds.size), Gen.value(r))
      model(e.id) = e
    }
    nextId = events
    val df = model.values.toSeq.map(e => (e.id, ts(e.ts), e.user, e.kind, e.value, s"""{"k":${e.id % 97}}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    store.writeZordered(df, rel, Seq("user_id", "ts"), files = 8)
    store.registerCatalog("lh_events", rel)
    spark.conf.set("spark.sql.catalog.graft_lh", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_lh.base", storeDir.toString)
    val e = epoch()
    epochAgg(e) = agg(model.values)
    cycleEnd += e
  }

  def prepare(i: Int): Unit = {
    // the seed draws the values; which rows a cycle touches comes from a
    // stream every seed shares, so each seed's cycles do the same work
    val r = Gen.rng(seed, "cdc", i)
    val shape = Gen.rng(0L, "cdc-shape", i)
    val recent = model.values.filter(_.ts >= recentFrom).map(_.id).toIndexedSeq.sorted
    val picked = shape.shuffle(recent).take(cdcRows * 4 / 5)
    val (dels, upds) = picked.splitAt(cdcRows / 10)
    val inserts = (0 until cdcRows - picked.size).map { k =>
      Gen.Event(nextId + k, recentFrom + shape.nextInt(5 * 86400), shape.nextInt(Gen.users).toLong,
        Gen.eventKinds(shape.nextInt(Gen.eventKinds.size)), Gen.value(r))
    }
    nextId += inserts.size
    cdc = dels.map { id => val e = model(id); (id, ts(e.ts), e.user, e.kind, e.value, "", "D") } ++
      upds.map { id =>
        val e = model(id)
        (id, ts(e.ts), e.user, Gen.eventKinds(shape.nextInt(5)), e.value + 0.25 * (1 + r.nextInt(100)), "", "U")
      } ++ inserts.map(e => (e.id, ts(e.ts), e.user, e.kind, e.value, s"""{"k":${e.id % 97}}""", "I"))
    updUser = model(upds(shape.nextInt(upds.size))).user
    val victim = model(upds(shape.nextInt(upds.size)))
    delUser = victim.user; delKind = victim.kind
    rangeLo = shape.nextInt(Gen.users - 10).toLong
  }

  def apply(i: Int, tr: Tracer): Long = {
    cdc.toDF("event_id", "ts", "user_id", "event_type", "value", "props", "op")
      .createOrReplaceTempView("lh_cdc")
    val tableDir = storeDir.resolve(rel)
    tr.writeSpan("sql.merge_cdc", tableDir, cdc.size) { _ =>
      spark.sql(
        """MERGE INTO lh_events t USING lh_cdc s ON t.event_id = s.event_id
          |WHEN MATCHED AND s.op = 'D' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET value = s.value, event_type = s.event_type
          |WHEN NOT MATCHED THEN INSERT (event_id, ts, user_id, event_type, value, props)
          |  VALUES (s.event_id, s.ts, s.user_id, s.event_type, s.value, s.props)""".stripMargin)
    }
    cdc.foreach { case (id, t, u, k, v, _, op) =>
      if (op == "D") model.remove(id) else model(id) = Gen.Event(id, t.getTime / 1000, u, k, v)
    }
    val upd = model.values.filter(e => e.user == updUser && e.ts >= recentFrom).toSeq
    tr.writeSpan("io.update_where", tableDir, upd.size) { _ =>
      store.updateWhere(rel, col("user_id") === updUser && col("ts") >= ts(recentFrom),
        Map("value" -> (col("value") + 1.0)))
    }
    upd.foreach(e => model(e.id) = e.copy(value = e.value + 1.0))
    val del = model.values.filter(e => e.user == delUser && e.kind == delKind).toSeq
    tr.writeSpan("io.delete_where", tableDir, del.size) { _ =>
      store.deleteWhere(rel, col("user_id") === delUser && col("event_type") === delKind)
    }
    del.foreach(e => model.remove(e.id))
    val n = cdc.count(_._7 == "D")
    expectChanges = Map(
      "insert" -> cdc.count(_._7 == "I").toLong,
      "delete" -> (n + del.size).toLong,
      "update_postimage" -> (cdc.count(_._7 == "U") + upd.size).toLong)
    expectChanges += "update_preimage" -> expectChanges("update_postimage")
    val changed = cdc.size + upd.size + del.size
    changedSinceMaintain += changed
    if (i % maintainEvery == maintainEvery - 1) {
      tr.writeSpan("io.maintain", tableDir, changedSinceMaintain) { _ =>
        store.scopedRecluster(rel)
        store.vacuum(rel, keepLast = keepEpochs)
      }
      changedSinceMaintain = 0
    }
    val e = epoch()
    epochAgg(e) = agg(model.values)
    cycleEnd += e
    changed
  }

  private def aggOf(df: org.apache.spark.sql.DataFrame): (Long, Double) = {
    val r = df.agg(count(lit(1)), sum("value")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
  }

  private def expect(what: String, got: (Long, Double), want: (Long, Double)): Option[String] =
    if (got == want) None else Some(s"$what: (count, sum) $got != model $want")

  def reads(i: Int, tr: Tracer): Seq[(String, () => Option[String])] = {
    val older = cycleEnd(math.max(0, cycleEnd.size - 3))
    val previous = cycleEnd(cycleEnd.size - 2)
    Seq(
      "io.read_snapshot" -> (() => expect("snapshot", aggOf(store.readSnapshot(rel)), agg(model.values))),
      "io.read_range" -> { () =>
        val hi = rangeLo + 9
        expect(s"user_id in [$rangeLo, $hi]",
          aggOf(store.readSnapshot(rel).where(col("user_id").between(rangeLo, hi))),
          agg(model.values.filter(e => e.user >= rangeLo && e.user <= hi)))
      },
      "io.read_version" -> (() => expect(s"epoch $older", aggOf(store.readVersion(rel, older)), epochAgg(older))),
      "io.change_feed" -> { () =>
        val got = store.changeFeed(rel, Seq("event_id"), previous)
          .groupBy("_change_type").count().as[(String, Long)].collect().toMap
        val want = expectChanges.filter(_._2 > 0)
        if (got == want) None else Some(s"change feed $got != cycle's changes $want")
      },
      "sql.version_as_of" -> { () =>
        val r = spark.sql(
          s"SELECT COUNT(*), SUM(value) FROM graft_lh.$rel VERSION AS OF $previous").head()
        expect(s"VERSION AS OF $previous", (r.getLong(0), r.getDouble(1)), epochAgg(previous))
      })
  }

  override def finalCheck(): Option[String] =
    expect("final table", aggOf(spark.table("lh_events")), agg(model.values))

  def liveRows(): Long = model.size.toLong

  def inputProps: Map[String, Double] = Map(
    "table_rows" -> events.toDouble, "cdc_rows" -> cdcRows.toDouble,
    "cdc_update_fraction" -> 0.7, "cdc_delete_fraction" -> 0.1, "cdc_insert_fraction" -> 0.2,
    "recent_days_targeted" -> 5.0, "table_days" -> days.toDouble,
    "maintain_every_cycles" -> maintainEvery.toDouble)

  def close(): Unit = ()
}
