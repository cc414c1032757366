package perfbench

import java.time.LocalDate

import scala.util.Random

/** Seeded input generators for the four workloads. Every draw comes from
  * a `Random` keyed on (run seed, stream, index), so the same seed gives
  * the same inputs in every process and in any unit order.
  */
object Gen {

  def rng(seed: Long, stream: String, idx: Long = 0L): Random = {
    var h = seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong * 0xBF58476D1CE4E5B9L ^ idx
    h = (h ^ (h >>> 31)) * 0x94D049BB133111EBL
    new Random(h ^ (h >>> 29))
  }

  // ---- daily_increment: API payloads in the live responses' shapes -------

  /** Temperatures are multiples of 0.5, so sums over the store are exact
    * and the reference model can compare them with `==`.
    */
  def temperatures(seed: Long, d: LocalDate, version: Int): Seq[Double] = {
    val r = rng(seed, s"temp$version", d.toEpochDay)
    val base = 8.0 + 10.0 * math.sin(2 * math.Pi * d.getDayOfYear / 365.0)
    (0 until 24).map(h => math.round((base + 4.0 * math.sin(h / 24.0 * 2 * math.Pi) +
      r.nextGaussian()) * 2) / 2.0)
  }

  private def hours(d: LocalDate): String =
    (0 until 24).map(h => f"\"${d}T$h%02d:00\"").mkString(",")

  /** One day's fixture map for a `FixtureApiClient` (URL substring ->
    * payload). `version` > 0 is a correction of an already-collected day:
    * every value differs, so keep-newest must overwrite the stored keys.
    * Planted: null solar readings, half-hourly carbon records with a null
    * actual and one without `from`, non-whitelisted and two-word fuels, a
    * non-AGILE product and an AGILE product without links, and 2-4
    * missing half-hourly price slots.
    */
  def payloads(seed: Long, d: LocalDate, version: Int): Map[String, String] = {
    val r = rng(seed, s"api$version", d.toEpochDay)
    def series(base: Double, spread: Double) =
      (0 until 24).map(_ => f"${base + spread * r.nextDouble()}%.2f").mkString(",")
    val temp = temperatures(seed, d, version).mkString(",")
    val nullSolar = Set(r.nextInt(24), r.nextInt(24))
    val solar = (0 until 24).map(h =>
      if (nullSolar(h)) "null" else f"${math.max(0.0, 400 * math.sin((h - 6) / 12.0 * math.Pi))}%.1f")
      .mkString(",")
    val weather =
      s"""{"hourly":{"time":[${hours(d)}],"temperature_2m":[$temp],
         |"relative_humidity_2m":[${series(50, 40)}],"wind_speed_10m":[${series(1, 12)}],
         |"cloudcover":[${series(0, 100)}],"shortwave_radiation":[$solar]}}""".stripMargin
    val air =
      s"""{"hourly":{"time":[${hours(d)}],"pm10":[${series(5, 30)}],"pm2_5":[${series(2, 20)}],
         |"carbon_monoxide":[${series(150, 150)}],"nitrogen_dioxide":[${series(10, 40)}],
         |"sulphur_dioxide":[${series(1, 6)}],"ozone":[${series(20, 60)}],
         |"us_aqi":[${series(10, 60)}]}}""".stripMargin
    val nullCarbon = r.nextInt(48)
    val carbonRecs = (0 until 48).map { i =>
      val (h, m) = (i / 2, if (i % 2 == 0) "00" else "30")
      val actual = if (i == nullCarbon) "null" else (80 + r.nextInt(200)).toString
      f"""{"from":"${d}T$h%02d:${m}Z","to":"x","intensity":{"actual":$actual,"forecast":${80 + r.nextInt(200)},"index":"moderate"}}"""
    } :+ """{"from":null,"to":"x","intensity":{"actual":1,"forecast":1,"index":"low"}}"""
    val next = d.plusDays(1)
    val carbonNext =
      s"""{"data":[{"from":"${next}T00:00Z","to":"x","intensity":{"actual":999,"forecast":999,"index":"high"}}]}"""
    val fuels = Seq("biomass", "coal", "imports", "gas", "nuclear", "hydro", "solar", "wind", "Open Cycle")
    val mix = fuels.map(f => f"""{"fuel":"$f","perc":${r.nextDouble() * 30}%.1f}""").mkString(",")
    val genMix = s"""{"data":{"from":"${d}T10:30Z","generationmix":[$mix]}}"""
    val products =
      """{"results":[
        |{"code":"FIX-12M-24","links":[{"href":"https://api.octopus.energy/v1/products/FIX-12M-24/","method":"GET","rel":"self"}]},
        |{"code":"AGILE-24-10-01","links":[
        |  {"href":"https://api.octopus.energy/v1/products/AGILE-24-10-01/electricity-tariffs/E-1R-AGILE-24-10-01-C/standard-unit-rates/","method":"GET","rel":"standard_unit_rates"}]},
        |{"code":"AGILE-OLD","links":[]}
        |]}""".stripMargin
    val missing = Seq.fill(2 + r.nextInt(3))(r.nextInt(48)).toSet
    val rates = (0 until 48).filterNot(missing).map { i =>
      val (h, m) = (i / 2, if (i % 2 == 0) "00" else "30")
      f"""{"valid_from":"${d}T$h%02d:$m:00Z","valid_to":"x","value_exc_vat":1.0,"value_inc_vat":${5 + r.nextDouble() * 30}%.2f}"""
    }.mkString(",")
    Map(
      "archive-api.open-meteo.com" -> weather,
      "air-quality-api.open-meteo.com" -> air,
      s"intensity/date/$d" -> s"""{"data":[${carbonRecs.mkString(",")}]}""",
      s"intensity/date/$next" -> carbonNext,
      "carbonintensity.org.uk/generation" -> genMix,
      "octopus.energy/v1/products/AGILE" -> s"""{"results":[$rates]}""",
      "octopus.energy/v1/products/" -> products)
  }

  // ---- corpus_curate: Zipf-vocabulary documents ---------------------------

  final case class Doc(id: Long, source: String, text: String)

  /** Seeded vocabulary and its Zipf(0.8) cumulative weights. */
  final class Vocab(seed: Long, size: Int = 4000) {
    private val r = rng(seed, "vocab")
    val words: Array[String] = Array.fill(size) {
      (0 until 3 + r.nextInt(6)).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    private val cum = {
      val w = (1 to size).map(k => math.pow(k, -0.8)).scanLeft(0.0)(_ + _).tail.toArray
      w.map(_ / w.last)
    }
    def draw(r: Random): String = {
      val i = java.util.Arrays.binarySearch(cum, r.nextDouble())
      words(math.min(size - 1, if (i >= 0) i else -i - 1))
    }
    def text(r: Random, n: Int): String = Seq.fill(n)(draw(r)).mkString(" ")
  }

  /** Mutates ~`frac` of a text's words: a near-duplicate. */
  def perturb(r: Random, v: Vocab, text: String, frac: Double): String =
    text.split(" ").map(w => if (r.nextDouble() < frac) v.draw(r) else w).mkString(" ")

  def freshDoc(r: Random, v: Vocab, id: Long): Doc =
    Doc(id, s"src${r.nextInt(4)}", v.text(r, 40 + r.nextInt(80)))

  /** Shares of each batch by planted kind. */
  val batchMix: Seq[(String, Double)] = Seq(
    "exact_dup" -> 0.10, "near_dup" -> 0.10, "batch_copy" -> 0.05,
    "contaminated" -> 0.05, "low_quality" -> 0.10)

  /** One ingestion batch of `n` docs with ids from `firstId`: planted
    * exact and near duplicates of train-corpus docs, within-batch copies,
    * near copies of eval docs, low-quality docs (too short, or one phrase
    * repeated), and fresh docs for the rest.
    */
  def docBatch(seed: Long, round: Int, v: Vocab, n: Int, firstId: Long,
               train: IndexedSeq[Doc], eval: IndexedSeq[Doc]): (Seq[Doc], Map[String, Int]) = {
    val r = rng(seed, "batch", round)
    val counts = batchMix.map { case (k, f) => k -> math.round(n * f).toInt }.toMap
    val out = scala.collection.mutable.ArrayBuffer[Doc]()
    def id() = firstId + out.size
    def pick(s: IndexedSeq[Doc]) = s(r.nextInt(s.size))
    val nFresh = n - counts.values.sum
    (0 until nFresh).foreach(_ => out += freshDoc(r, v, id()))
    val fresh = out.toIndexedSeq
    (0 until counts("exact_dup")).foreach { _ => val d = pick(train); out += Doc(id(), d.source, d.text) }
    (0 until counts("near_dup")).foreach { _ =>
      val d = pick(train); out += Doc(id(), d.source, perturb(r, v, d.text, 0.04)) }
    (0 until counts("batch_copy")).foreach { _ => val d = pick(fresh); out += Doc(id(), d.source, d.text) }
    (0 until counts("contaminated")).foreach { _ =>
      val d = pick(eval); out += Doc(id(), d.source, perturb(r, v, d.text, 0.03)) }
    (0 until counts("low_quality")).foreach { i =>
      val text =
        if (i % 2 == 0) v.text(r, 3 + r.nextInt(5))
        else Seq.fill(20)(v.text(r, 4)).mkString(" ")
      out += Doc(id(), s"src${r.nextInt(4)}", text)
    }
    (out.toSeq, counts + ("fresh" -> nFresh))
  }

  // ---- lakehouse_cdc: events table and CDC batches ------------------------

  final case class Event(id: Long, ts: Long, user: Long, kind: String, value: Double)

  val eventKinds: IndexedSeq[String] = IndexedSeq("click", "view", "purchase", "error", "signup")
  val users = 1000

  /** Values are multiples of 0.25, so sums compare exactly. */
  def value(r: Random): Double = r.nextInt(4000) / 4.0
}
