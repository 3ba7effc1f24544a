package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sim.Similarity

/** vector_serve: set-up builds an IVF index (k-means cells, then the
  * cached cell assignment); each operation is one single-query top-k
  * request, sent after the previous reply, as one client waiting on each
  * reply would. Answers are checked against an exact top-k computed in
  * plain Scala. Latency is mostly fixed per-job overhead: request-shaped
  * traffic that petro_text_batch does not have. */
final class VectorServe(sizes: Sizes) extends Workload {
  val name = "vector_serve"
  val opSpan = "sim.query"

  val K = 10
  val NProbe = 4
  val Iterations = 3

  /** A query is a handful of short Spark jobs whose planning path is
    * still being compiled by the JIT after the set-ups; latency keeps
    * falling for tens of queries, so ten more go untimed first. */
  override val settleOps = 10

  private var dir: Path = _
  private var seed: Long = 0L
  private var data: VectorData = _
  private var exact: Array[Array[Int]] = _
  private var spark: SparkSession = _
  private var indexed: DataFrame = _
  private var centroids: DataFrame = _
  private var centroidArr: Array[Array[Double]] = _
  private var cellSize: Map[Long, Long] = Map.empty
  private var next = 0
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private val candidates = mutable.ArrayBuffer.empty[Long]
  val buildSeconds = mutable.ArrayBuffer.empty[Double]

  def generate(d: Path, s: Long): Unit = {
    dir = d
    seed = s
    data = VectorInputs.generate(d, s, sizes.vectors, sizes.queries)
    exact = data.queries.map(q => ExactTopK(data.corpus, q, K))
  }

  def setup(s: SparkSession, tr: Tracer, tally: Tally): Unit = {
    spark = s
    indexed = null // cached in a session that may have been stopped
    build(tr, tally)
    op(tr, tally)
  }

  /** k-means cells seeded from the workload seed, then the cached cell
    * assignment of every corpus vector, consumed in full. */
  def build(tr: Tracer, tally: Tally): Unit = tally.op("index build") {
    if (indexed != null) indexed.unpersist(blocking = true)
    val t0 = System.nanoTime()
    val problems = tr.span("sim.build") {
      val corpus = spark.read.parquet(dir.resolve("corpus").toString)
      val rng = new Rng(seed * 31L + 7)
      val init = mutable.LinkedHashSet.empty[Long]
      while (init.size < VectorInputs.Clusters) init += rng.int(sizes.vectors).toLong
      val cells = tr.span("sim.kmeans") {
        Similarity.kmeansCentroids(corpus, "id", "embedding", init.toSeq, Iterations)
      }
      centroids = cells.select(col("cell").as("id"), col("centroid").as("embedding"))
      val assigned = tr.span("sim.assign") {
        val ix = Similarity.ivfAssign(corpus, centroids, "id", "embedding").cache()
        (ix, Digest.run(ix, p => p, e => e).rows)
      }
      indexed = assigned._1
      centroidArr = new Array[Array[Double]](VectorInputs.Clusters)
      centroids.collect().foreach { r =>
        centroidArr(r.getLong(0).toInt) = r.getSeq[Double](1).toArray
      }
      cellSize = indexed.groupBy("cell").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      Seq(assigned._2, cellSize.values.sum).distinct.filter(_ != sizes.vectors)
        .map(n => s"index holds $n vectors, expected ${sizes.vectors}")
    }
    buildSeconds += (System.nanoTime() - t0) / 1e9
    problems
  }

  private val querySchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))

  /** The cells a query probes: the library ranks cells by cosine to the
    * query, ties broken by cell id. */
  private def probed(q: Array[Float]): Seq[Int] =
    centroidArr.indices.map(c => (ExactTopK.cosine(q, centroidArr(c)), c))
      .sortBy { case (s, c) => (-s, c) }.take(NProbe).map(_._2)

  /** One query request, the next held-out query in turn. */
  def op(tr: Tracer, tally: Tally): Long = {
    val qi = next % data.queries.length
    next += 1
    val q = data.queries(qi)
    val qid = VectorInputs.QueryIdBase + qi
    tally.op(s"query $qid") {
      // the reply is collected whole, so no output column can be pruned
      val rows = tr.span(opSpan) {
        val req = spark.createDataFrame(
          java.util.Collections.singletonList(Row(qid, q.toSeq)), querySchema)
        val res = tr.span("sim.search.build") {
          Similarity.ivfSearch(indexed, centroids, req, "id", "embedding", k = K, nProbe = NProbe)
        }
        tr.span("sim.search.plan")(res.queryExecution.executedPlan)
        tr.span("sim.search.exec")(res.collect())
      }
      candidates += probed(q).map(c => cellSize.getOrElse(c.toLong, 0L)).sum
      val problems = mutable.ArrayBuffer.empty[String]
      if (rows.length != K) problems += s"${rows.length} results, expected $K"
      val got = rows.map(r => (r.getLong(1), r.getDouble(2)))
      got.foreach { case (id, score) =>
        if (id < 0 || id >= data.corpus.length) problems += s"unknown id $id"
        else {
          val c = ExactTopK.cosine(q, data.corpus(id.toInt).map(_.toDouble))
          if (math.abs(c - score) > 1e-4) problems += f"id $id scored $score%.4f, exact $c%.6f"
        }
      }
      if (got.map(_._2).toSeq != got.map(_._2).sorted(Ordering[Double].reverse).toSeq)
        problems += "results not in descending score order"
      if (!rows.forall(_.getLong(0) == qid)) problems += "result for another query"
      val truth = exact(qi).toSet
      val recall = got.count { case (id, _) => truth(id.toInt) }.toDouble / K
      recalls += recall
      // clusters are far apart, so the 4 probed cells hold the true
      // neighbours; a query that misses most of them is answered wrongly
      if (recall < 0.8) problems += f"recall@$K $recall%.1f"
      problems.toSeq
    }
    1L
  }

  def tracedExtras(tr: Tracer, tally: Tally): Unit = build(tr, tally)

  /** Per-layer metrics from the traced builds and queries in `tr`. */
  def layerMetrics(tr: Tracer, l: EngineListener): Map[String, Double] = {
    val builds = math.max(1, tr.count("sim.build"))
    val queries = tr.spans.filter(_.name == opSpan).map(_.seconds).toSeq
    val ops = math.max(1, queries.size)
    val cand = if (candidates.isEmpty) 0.0 else candidates.sum.toDouble / candidates.size
    Map(
      "sim.kmeans_s" -> tr.total("sim.kmeans") / builds,
      "sim.assign_s" -> tr.total("sim.assign") / builds,
      "sim.index_build_s" -> tr.total("sim.build") / builds,
      "sim.query_p50_s" -> (if (queries.isEmpty) 0.0 else Stats.median(queries)),
      "sim.jobs_per_query" -> tr.jobsPerSpan(opSpan, l),
      "sim.search_plan_s" -> tr.total("sim.search.plan") / ops,
      "sim.search_exec_s" -> tr.total("sim.search.exec") / ops,
      "sim.candidates_per_query" -> cand,
      "sim.useful_ratio" -> (if (cand > 0) K / cand else 0.0),
      "sim.recall_at_10" -> recallAt10)
  }

  def recallAt10: Double = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size
}

/** Exact cosine top-k in plain Scala: the reference the IVF answers are
  * scored against. */
object ExactTopK {
  def cosine(a: Array[Float], b: Array[Double]): Double = {
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble
      dot += x * b(i)
      na += x * x
      nb += b(i) * b(i)
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def apply(corpus: Array[Array[Float]], q: Array[Float], k: Int): Array[Int] = {
    val qd = q.map(_.toDouble)
    val scored = corpus.indices.map { i =>
      var dot = 0.0
      var nc = 0.0
      var j = 0
      val c = corpus(i)
      while (j < c.length) {
        dot += c(j) * qd(j)
        nc += c(j).toDouble * c(j)
        j += 1
      }
      (i, dot / math.sqrt(nc))
    }
    scored.sortBy { case (i, s) => (-s, i) }.take(k).map(_._1).toArray
  }
}
