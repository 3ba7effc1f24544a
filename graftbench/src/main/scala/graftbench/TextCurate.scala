package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.TextOps
import graft.util.Barriers

/** The curation half of petro_text_batch: `TextOps.curateCorpus` with its
  * default settings over a seeded corpus with planted exact copies,
  * near-dup groups and low-quality documents, scored against the
  * generator's ground truth. */
final class TextCurate(sizes: Sizes) {
  val opSpan = "text.curate"

  private var dir: Path = _
  private var truth: TextTruth = _
  private var docs: DataFrame = _
  private var firstChecksum: Option[Long] = None
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private val falseDrops = mutable.ArrayBuffer.empty[Double]
  private val stageCounts = mutable.HashMap.empty[String, Double]

  def generate(d: Path, seed: Long): Unit = {
    dir = d
    truth = TextInputs.generate(d, seed, sizes.docs)
  }

  def load(spark: SparkSession): Unit =
    docs = spark.read.parquet(dir.resolve("docs").toString)

  /** Scores the kept ids against the ground truth: the share of planted
    * duplicates removed, and the share of unique good documents (each
    * duplicate group counting as one, kept if any member survives) that
    * were dropped. */
  private def score(kept: Array[Long]): (Double, Double, Seq[String]) = {
    val keep = new Array[Boolean](truth.n)
    kept.foreach(i => keep(i.toInt) = true)
    val groupSize = mutable.HashMap.empty[Int, Int]
    val groupKept = mutable.HashMap.empty[Int, Int]
    var unique = 0
    var uniqueDropped = 0
    var lowKept = 0
    (0 until truth.n).foreach { i =>
      val g = truth.group(i)
      if (g >= 0) {
        groupSize(g) = groupSize.getOrElse(g, 0) + 1
        if (keep(i)) groupKept(g) = groupKept.getOrElse(g, 0) + 1
      } else if (truth.kind(i) == TextInputs.LowQuality) {
        if (keep(i)) lowKept += 1
      } else {
        unique += 1
        if (!keep(i)) uniqueDropped += 1
      }
    }
    var planted = 0
    var removed = 0
    var groupsLost = 0
    groupSize.foreach { case (g, size) =>
      val k = groupKept.getOrElse(g, 0)
      planted += size - 1
      removed += math.min(size - k, size - 1)
      if (k == 0) groupsLost += 1
    }
    val recall = removed.toDouble / planted
    val falseDrop = (uniqueDropped + groupsLost).toDouble / (unique + groupSize.size)
    val problems = if (lowKept > 0) Seq(s"$lowKept low-quality documents kept") else Nil
    (recall, falseDrop, problems)
  }

  /** One curateCorpus call over the whole corpus, consumed in full. */
  def curate(tr: Tracer, tally: Tally): Unit =
    tally.op("curateCorpus") {
      // the kept rows are collected whole, so no output column can be pruned
      val kept = tr.span(opSpan) {
        val df = tr.span("text.curate.build")(TextOps.curateCorpus(docs, "doc_id", "text"))
        val rows = tr.span("text.curate.exec")(df.collect())
        Barriers.releaseAll()
        rows
      }
      val checksum = kept.foldLeft(0L)((h, r) => h ^ r.hashCode.toLong)
      val (recall, falseDrop, problems) = score(kept.map(_.getLong(0)))
      recalls += recall
      falseDrops += falseDrop
      val out = mutable.ArrayBuffer.empty[String]
      out ++= problems
      if (recall < TextCurate.MinRecall) out += f"dedup recall $recall%.4f below ${TextCurate.MinRecall}"
      if (falseDrop > TextCurate.MaxFalseDrop)
        out += f"false drop rate $falseDrop%.4f above ${TextCurate.MaxFalseDrop}"
      firstChecksum match {
        case Some(c) if c != checksum => out += "kept set differs from first call"
        case None => firstChecksum = Some(checksum)
        case _ =>
      }
      out.toSeq
    }

  /** The curation stages called one by one through their public entry
    * points, each consumed in full: traced runs only. */
  def stages(tr: Tracer, tally: Tally): Unit = tally.op("curation stages") {
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { val c = df.cache(); cached += c; c }
    def digest(stage: String, df: DataFrame): Digest =
      Digest.run(df, p => p, e => tr.span(s"$stage.exec")(e))
    tr.span("text.stages") {
      val exact = tr.span("text.exact") {
        val e = keep(TextOps.dropExactDuplicates(docs, "doc_id", "text"))
        digest("text.exact", e)
        e
      }
      val sigs = tr.span("text.minhash") {
        val s = keep(TextOps.minhashSignature(exact, "doc_id", "text"))
        digest("text.minhash", s)
        s
      }
      val cand = tr.span("text.lsh") {
        val bux = keep(TextOps.lshBuckets(sigs, "doc_id", k = 8, rows = 2))
        val c = TextOps.lshCandidatePairs(bux, "doc_id")
        stageCounts("text.candidate_pairs") = digest("text.lsh", c).rows.toDouble
        c
      }
      val verified = tr.span("text.jaccard") {
        val v = keep(TextOps.jaccardPairs(exact, "doc_id", "text", cand)
          .filter(col("jaccard") >= 0.5).select("a_id", "b_id"))
        stageCounts("text.verified_pairs") = digest("text.jaccard", v).rows.toDouble
        v
      }
      val survivors = tr.span("text.cc") {
        val cc = TextOps.nearDupClusters(verified)
        digest("text.cc", cc)
        val losers = cc.filter(col("id") =!= col("cluster")).select(col("id").as("doc_id"))
        keep(exact.join(losers, Seq("doc_id"), "left_anti"))
      }
      tr.span("text.gate") {
        digest("text.gate", TextOps.langId(survivors, "doc_id", "text"))
        digest("text.gate", TextOps.repetitionStats(survivors, "doc_id", "text"))
      }
    }
    cached.foreach(_.unpersist(blocking = true))
    Barriers.releaseAll()
    Nil
  }

  /** Per-layer metrics from the traced calls and stage runs in `tr`. */
  def layerMetrics(tr: Tracer, l: EngineListener): Map[String, Double] = {
    val ops = math.max(1, tr.count(opSpan))
    val nStages = math.max(1, tr.count("text.stages"))
    def perStage(name: String) = tr.total(name) / nStages
    val cand = stageCounts.getOrElse("text.candidate_pairs", 0.0)
    val ver = stageCounts.getOrElse("text.verified_pairs", 0.0)
    Map(
      "text.curate_s" -> tr.total(opSpan) / ops,
      "text.exact_s" -> perStage("text.exact"),
      "text.minhash_s" -> perStage("text.minhash"),
      "text.lsh_s" -> perStage("text.lsh"),
      "text.jaccard_s" -> perStage("text.jaccard"),
      "text.cc_s" -> perStage("text.cc"),
      "text.gate_s" -> perStage("text.gate"),
      "text.candidate_pairs" -> cand,
      "text.verified_pairs" -> ver,
      "text.lsh_useful_ratio" -> (if (cand > 0) ver / cand else 0.0),
      "text.spark_jobs" -> tr.jobsPerSpan(opSpan, l),
      "text.dedup_recall" -> (if (recalls.isEmpty) 0.0 else Stats.median(recalls.toSeq)),
      "text.false_drop_rate" -> (if (falseDrops.isEmpty) 0.0 else Stats.median(falseDrops.toSeq)))
  }

  def lastRecall: Double = recalls.lastOption.getOrElse(0.0)
  def lastFalseDrop: Double = falseDrops.lastOption.getOrElse(0.0)
}

object TextCurate {
  /** Floors on curation quality. Near-dup variants differ by one or two
    * word edits (Jaccard well above the 0.5 threshold) and good documents
    * clear every gate, so a correct pipeline sits far inside both. */
  val MinRecall = 0.95
  val MaxFalseDrop = 0.01
}
