package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ext.{Bpe, Dedup, Sampling}
import graft.jobs.{CurateJob, CurateParams}

/** One ingestion round per unit: curate a seeded batch against the
  * growing corpus (decisions and manifests persisted), pair-dedup the
  * round's keepers against a window of the corpus with MinHash and
  * SimHash, train a small BPE vocabulary on the keepers and count their
  * tokens, then append the keepers to the corpus.
  */
final class CorpusCurate(spark: SparkSession, seed: Long, dir: Path) extends Workload {
  import spark.implicits._

  val corpusDocs = 600
  val batchDocs = 60
  val window = 200
  val bpeMerges = 4
  val params: CurateParams = CurateParams(budgetTokens = 4000)

  val corpusDir: Path = dir.resolve("corpus")
  private val vocab = new Gen.Vocab(seed)
  private var train: IndexedSeq[Gen.Doc] = _
  private var eval: IndexedSeq[Gen.Doc] = _
  private var nextId = 0L
  private var corpusRows = 0L
  private var batch: Seq[Gen.Doc] = Nil
  private var plantedExact: Set[Long] = Set.empty
  private var kept = 0L
  private var keptTotal = 0L
  private var batchTotal = 0L

  def outDir: Path = dir
  private def roundDir(i: Int) = dir.resolve(s"rounds/r$i")

  def setup(): Unit = {
    val r = Gen.rng(seed, "corpus")
    val docs = (0 until corpusDocs).map(k => Gen.freshDoc(r, vocab, k.toLong))
    val df = docs.toDF("doc_id", "source", "text")
    df.write.parquet(corpusDir.toString)
    // the eval split is CurateJob's own hash split of the corpus ids
    val evalIds = Sampling.withSplit(df.select("doc_id"), "doc_id",
        params.trainFrac, params.valFrac, params.splitSalt)
      .where(col("split") === "test").as[(Long, String)].collect().map(_._1).toSet
    train = docs.filterNot(d => evalIds(d.id))
    eval = docs.filter(d => evalIds(d.id))
    nextId = corpusDocs
    corpusRows = corpusDocs
  }

  def prepare(i: Int): Unit = {
    val (docs, counts) = Gen.docBatch(seed, i, vocab, batchDocs, nextId, train, eval)
    batch = docs
    batchTotal += docs.size
    val firstPlanted = nextId + counts("fresh")
    plantedExact = (firstPlanted until firstPlanted + counts("exact_dup")).toSet
    nextId += docs.size
  }

  def apply(i: Int, tr: Tracer): Long = {
    val batchDf = batch.toDF("doc_id", "source", "text")
    val corpus = spark.read.parquet(corpusDir.toString)
    val (keepers, nKept) = tr.writeSpan("jobs.curate", roundDir(i), batch.size) { extra =>
      val p0 = spark.sparkContext.getPersistentRDDs.size
      val (decisions, manifests) = CurateJob.curateWithManifests(batchDf, corpus, params)
      decisions.localCheckpoint(true).write.parquet(roundDir(i).resolve("decisions").toString)
      manifests.write.parquet(roundDir(i).resolve("manifests").toString)
      extra("checkpoints") = spark.sparkContext.getPersistentRDDs.size - p0
      // the round's keepers, as the persisted decisions name them
      val k = spark.read.parquet(roundDir(i).resolve("decisions").toString)
        .where(col("action") === "keep").select("doc_id")
        .join(batchDf, "doc_id").localCheckpoint(true)
      (k, k.count())
    }
    kept = nKept
    keptTotal += kept
    val pool = keepers.unionByName(corpus.where(col("doc_id") >= batch.head.id - window))
    tr.span("ext.dedup.minhash") { extra =>
      extra("result_pairs") = Dedup.minhashPairs(pool).count().toDouble
    }
    tr.span("ext.dedup.simhash") { extra =>
      extra("result_pairs") = Dedup.simhashPairs(pool).count().toDouble
    }
    val seg = tr.span("ext.bpe.train") { extra =>
      val p0 = spark.sparkContext.getPersistentRDDs.size
      val (merges, seg) = Bpe.train(Bpe.wordFrequencies(keepers), bpeMerges)
      extra("checkpoints") = spark.sparkContext.getPersistentRDDs.size - p0
      require(merges.nonEmpty, "BPE learned no merges")
      seg
    }
    tr.span("ext.bpe.token_counts") { _ =>
      val n = Bpe.tokenCounts(keepers, seg).agg(count(lit(1)), sum("n_bpe_tokens")).head()
      require(n.getLong(0) == kept, s"token counts for ${n.getLong(0)} of $kept keepers")
    }
    tr.writeSpan("io.append_corpus", corpusDir, kept) { _ =>
      keepers.write.mode("append").parquet(corpusDir.toString)
    }
    corpusRows += kept
    batch.size
  }

  /** The trainer-facing read: the round's persisted manifests against its decisions. */
  def reads(i: Int, tr: Tracer): Seq[(String, () => Option[String])] = Seq(
    "io.read_manifests" -> { () =>
      val m = spark.read.parquet(roundDir(i).resolve("manifests").toString)
        .agg(sum("n_docs")).head()
      val inManifests = if (m.isNullAt(0)) 0L else m.getLong(0)
      if (inManifests == kept) None
      else Some(s"manifests hold $inManifests docs, decisions keep $kept")
    })

  override def check(i: Int): Option[String] = {
    val d = spark.read.parquet(roundDir(i).resolve("decisions").toString)
    val r = d.agg(count(lit(1)), countDistinct("doc_id"), min("doc_id"), max("doc_id")).head()
    val ids = batch.map(_.id)
    val keptExact = d.where(col("action") === "keep" && col("doc_id").isin(plantedExact.toSeq: _*)).count()
    val nCorpus = spark.read.parquet(corpusDir.toString).count()
    if (r.getLong(0) != batch.size || r.getLong(1) != batch.size)
      Some(s"${r.getLong(0)} decisions (${r.getLong(1)} distinct) for ${batch.size} batch docs")
    else if (r.getLong(2) != ids.min || r.getLong(3) != ids.max)
      Some(s"decision ids [${r.getLong(2)}, ${r.getLong(3)}] != batch ids [${ids.min}, ${ids.max}]")
    else if (keptExact > 0) Some(s"$keptExact planted exact duplicates kept")
    else if (nCorpus != corpusRows) Some(s"corpus holds $nCorpus docs, model $corpusRows")
    else None
  }

  def liveRows(): Long = corpusRows

  def inputProps: Map[String, Double] =
    Map("corpus_docs" -> corpusDocs.toDouble, "batch_docs" -> batchDocs.toDouble,
      "dedup_window" -> window.toDouble, "bpe_merges" -> bpeMerges.toDouble,
      "kept_fraction" -> keptTotal.toDouble / math.max(1L, batchTotal)) ++
      Gen.batchMix.toMap.map { case (k, v) => s"${k}_fraction" -> v }

  def close(): Unit = ()
}
