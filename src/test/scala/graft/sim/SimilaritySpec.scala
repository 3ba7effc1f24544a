package graft.sim

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"
  lazy val emb = spark.read.parquet(s"$dir/embeddings.parquet")

  test("brute-force cosine top-k returns k ordered neighbors per query") {
    val queries = emb.filter(col("vec_id") < 3)
    val top = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 5)
    val counts = top.groupBy("query_id").count().collect()
    assert(counts.length == 3 && counts.forall(_.getLong(1) == 5))
  }

  test("knn classify votes the dominant cluster label; ties go to the smaller label") {
    import spark.implicits._
    // two tight clusters on orthogonal axes; labels follow the cluster
    val corpus = Seq(
      (10L, Array(1.0f, 0.00f), 7), (11L, Array(1.0f, 0.01f), 7),
      (12L, Array(1.0f, 0.02f), 7), (13L, Array(1.0f, 0.03f), 2),
      (20L, Array(0.00f, 1.0f), 3), (21L, Array(0.01f, 1.0f), 3),
      (22L, Array(0.02f, 1.0f), 3), (23L, Array(0.03f, 1.0f), 3))
      .toDF("vec_id", "embedding", "label")
    val queries = Seq(
      (1L, Array(1.0f, 0.015f), -1), (2L, Array(0.015f, 1.0f), -1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity
      .knnClassify(corpus, queries, "vec_id", "embedding", "label", k = 3)
      .orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 7, 3L), (2L, 3, 3L)))
    // a diagonal query's 2 nearest neighbors are one per cluster (labels
    // 2 and 3, one vote each) — the tie must resolve to the smaller label
    val tied = Seq((3L, Array(1.0f, 1.0f), -1)).toDF("vec_id", "embedding", "label")
    val t = Similarity
      .knnClassify(corpus, tied, "vec_id", "embedding", "label", k = 2)
      .collect().head
    assert(t.getInt(1) == 2 && t.getLong(2) == 1L)
  }

  test("SRP signatures bucket similar vectors; candidates form") {
    val planes = Similarity.randomPlanes(8, 64)
    val sigs = Similarity.srpSignature(emb, "vec_id", "embedding", planes)
    assert(sigs.count() == emb.count())
    assert(sigs.select("srp_sig").distinct().count() > 1)
    val cands = Similarity.srpCandidates(emb, "vec_id", "embedding", planes)
    // with 500 vectors in 2^8 buckets, collisions must exist
    assert(cands.count() > 0)
  }

  test("IVF assign covers the corpus; probed search approximates exact") {
    val centroids = emb.filter(col("vec_id") < 4)
    val indexed = Similarity.ivfAssign(emb, centroids, "vec_id", "embedding")
    assert(indexed.count() == emb.count())
    assert(indexed.select("cell").distinct().count() <= 4)
    val queries = emb.filter(col("vec_id") === 10)
    val exact = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 5)
      .select("cand_id").collect().map(_.getLong(0)).toSet
    val approx = Similarity.ivfSearch(indexed, centroids, queries,
      "vec_id", "embedding", k = 5, nProbe = 4) // all cells -> exact recall
      .select("cand_id").collect().map(_.getLong(0)).toSet
    assert(approx == exact, s"full-probe IVF must equal brute force: $approx vs $exact")
    val approx1 = Similarity.ivfSearch(indexed, centroids, queries,
      "vec_id", "embedding", k = 5, nProbe = 1)
    assert(approx1.count() <= 5) // subset search still returns ranked hits
  }

  test("ivfSearch shuffle-join fallback returns the same hits as the broadcast path") {
    val centroids = emb.filter(col("vec_id") < 4)
    val indexed = Similarity.ivfAssign(emb, centroids, "vec_id", "embedding")
    val queries = emb.filter(col("vec_id") >= 4 && col("vec_id") < 14)
    def hits(maxProbedRows: Int) =
      Similarity.ivfSearch(indexed, centroids, queries,
          "vec_id", "embedding", k = 5, nProbe = 2, maxProbedRows = maxProbedRows)
        .select("query_id", "cand_id", "score").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // maxProbedRows=1 forces every batch over the broadcast contract
    assert(hits(1) == hits(100000))
  }

  test("IVF nProbe=2 recall vs brute force is >= 0.5 over a query batch") {
    val centroids = emb.filter(col("vec_id") < 4)
    val indexed = Similarity.ivfAssign(emb, centroids, "vec_id", "embedding")
    val queries = emb.filter(col("vec_id") >= 4 && col("vec_id") < 14)
    val exact = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "cand_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val approx = Similarity.ivfSearch(indexed, centroids, queries,
      "vec_id", "embedding", k = 5, nProbe = 2)
      .select("query_id", "cand_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val recalls = exact.map { case (q, truth) =>
      approx.getOrElse(q, Set.empty).intersect(truth).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"mean recall@5 with nProbe=2/4 cells = $mean")
  }

  test("semDedup keeps the first representative of each in-cluster near-dup group") {
    import spark.implicits._
    // two orthogonal clusters; 2 duplicates 1, 4 duplicates 3, 5 sits
    // between the clusters (cos ~0.71 to both) and survives at thr=0.95
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.999f, 0.01f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.01f, 0.999f)),
      (5L, Array(0.7f, 0.714f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.semDedup(corpus, "vec_id", "embedding",
        initIds = Seq(1L, 3L), iterations = 0, simThreshold = 0.95)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // survivors are the smallest id per near-dup group plus the loner;
    // 5 lands in the y-axis cell (cos to (0,1) beats cos to (1,0)).
    // cell ids are strings: the default-on maxCellSize guard casts them
    // (no cell here exceeds the cap, so no path suffixes appear)
    assert(got.toSeq == Seq((1L, "0"), (3L, "1"), (5L, "1")))
    // a corpus-clearing threshold keeps exactly the per-cell minima
    val aggressive = Similarity.semDedup(corpus, "vec_id", "embedding",
        initIds = Seq(1L, 3L), iterations = 0, simThreshold = 0.01)
      .orderBy("vec_id").collect().map(_.getLong(0))
    assert(aggressive.toSeq == Seq(1L, 3L))
  }

  test("semDedup maxCellSize splits every oversized cell under the cap") {
    // single k-means seed -> ONE cell holds all 500 vectors (the skew
    // worst case); the cap must split it into path-id sub-cells none
    // of which exceeds ~2x the cap after the refinement rounds
    val deduped = Similarity.semDedup(emb, "vec_id", "embedding",
      initIds = Seq(0L), iterations = 0, simThreshold = 0.999,
      maxCellSize = 50, refineRounds = 3)
    val cells = deduped.groupBy("cell").count().collect()
    assert(cells.length > 1, "the hot cell must have been split")
    assert(cells.forall(_.getString(0).contains("/")),
      "every refined cell id is a path string")
    // near-random embeddings spread ~evenly over sub-seeds; allow slack
    // since assignment-to-seed does not rebalance like Lloyd would
    assert(cells.forall(_.getLong(1) <= 150),
      s"max refined cell ${cells.map(_.getLong(1)).max} far exceeds the cap")
  }

  test("sqEncode: exact bounds hit codes 0/255, constant dim encodes to 0, err bounded") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(0.0f, 5.0f, 1.0f)),
      (2L, Array(1.0f, 5.0f, 0.5f)),
      (3L, Array(0.5f, 5.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val r = Similarity.sqEncode(corpus, "vec_id", "embedding", dim = 3)
      .orderBy("vec_id").collect()
    def codes(i: Int) = r(i).getSeq[Int](1)
    // dim 0 spans [0,1]: the min encodes 0, the max 255, mid ~128
    assert(codes(0)(0) == 0 && codes(1)(0) == 255 && codes(2)(0) == 128)
    // constant dim 1 -> code 0, exact reconstruction
    assert(codes(0)(1) == 0 && codes(1)(1) == 0 && codes(2)(1) == 0)
    assert(codes(0)(2) == 255 && codes(2)(2) == 0)
    // reconstruction error bounded by dims * (range/255/2)^2
    val bound = 3 * math.pow(1.0 / 255 / 2, 2) + 1e-6
    assert(r.forall(_.getDouble(2) <= bound),
      s"err exceeds the half-step bound: ${r.map(_.getDouble(2)).toSeq}")
  }

  test("truncateEmbeddings: prefix norm, unit-length micro components, zero guard") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(3.0f, 4.0f, 99.0f)),  // prefix (3,4): norm 5
      (2L, Array(0.0f, 0.0f, 7.0f)))   // zero prefix
      .toDF("vec_id", "embedding")
    val r = Similarity.truncateEmbeddings(corpus, "vec_id", "embedding", dims = 2)
      .orderBy("vec_id").collect()
    assert(r(0).getDouble(2) == 5.0)
    assert(r(0).getSeq[Long](1) == Seq(600000L, 800000L),
      "components are micro-units of the renormalized prefix")
    assert(r(1).getDouble(2) == 0.0 && r(1).getSeq[Long](1) == Seq(0L, 0L),
      "zero prefix passes through as zeros, not NaN")
  }

  test("cellBalancedSample keeps exactly perCell members of every full cell") {
    val sampled = Similarity.cellBalancedSample(emb, "vec_id", "embedding",
      initIds = Seq(0L, 1L, 2L, 3L), iterations = 1, perCell = 10)
    val perCell = sampled.groupBy("cell").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 500 near-random vectors over 4 cells -> every cell has >= 10
    assert(perCell.size == 4 && perCell.values.forall(_ == 10L),
      s"expected 10 per cell, got $perCell")
    // ranks are dense 1..10 within each cell
    val ranks = sampled.collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).sorted.toSeq)
    assert(ranks.values.forall(_ == (1L to 10L)), "ranks must be dense 1..k")
    // deterministic
    val again = Similarity.cellBalancedSample(emb, "vec_id", "embedding",
      initIds = Seq(0L, 1L, 2L, 3L), iterations = 1, perCell = 10)
      .orderBy("cell", "rank").collect().map(_.toSeq).toSeq
    assert(again == sampled.orderBy("cell", "rank").collect().map(_.toSeq).toSeq)
  }

  test("sqSearch ranks the quantized corpus by true proximity to the query") {
    import spark.implicits._
    // 1-D line of points: quantization preserves order, so the SQ scan
    // must return the true nearest neighbors in order
    val corpus = (0L until 20L).map(i => (i, Array(i.toFloat, 0.0f)))
      .toDF("vec_id", "embedding")
    val stats = Similarity.sqStats(corpus, "embedding", 2)
    val codes = Similarity.sqEncode(corpus, "vec_id", "embedding", 2)
    val q = Seq((7L, Array(7.0f, 0.0f))).toDF("vec_id", "embedding")
    val r = Similarity.sqSearch(codes, stats, q, "vec_id", "embedding", k = 4)
      .orderBy("adist", "cand_id").collect()
    // query == corpus point 7 (excluded as self): nearest are 6/8 then 5/9
    assert(r.map(_.getLong(1)).toSet == Set(6L, 8L, 5L, 9L),
      s"got ${r.map(_.getLong(1)).toSeq}")
    assert(r.take(2).map(_.getLong(1)).toSet == Set(6L, 8L))
  }

  test("semDedup cap splits even an all-IDENTICAL-vector cell (hash tie-break)") {
    import spark.implicits._
    // worst case for affinity splitting: every vector is the same
    // point, so every sub-seed ties at rounded cosine 1.0. A seed-id
    // tie-break would re-collapse all 200 members onto seed 1 and the
    // |cell|^2 bound would fail exactly on the degenerate input; the
    // member-x-seed hash tie-break must spread them ~uniformly.
    val corpus = (0L until 200L).map(i => (i, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val deduped = Similarity.semDedup(corpus, "vec_id", "embedding",
      initIds = Seq(0L), iterations = 0, simThreshold = 0.999,
      maxCellSize = 20, refineRounds = 3)
    val cells = deduped.select("cell").distinct().collect().map(_.getString(0))
    // with 200 members over ceil(200/20)=10 hash-spread sub-seeds a
    // uniform spread materializes ~10 sub-cells; >= 5 allows hash
    // variance while proving the cell did NOT re-collapse onto seed 1
    assert(cells.length >= 5,
      s"identical-vector cell must hash-spread over sub-seeds, got ${cells.length}")
    // survivors: exactly one per sub-cell (every pair is above threshold)
    assert(deduped.count() == cells.length)
  }

  test("semDedup capped run is deterministic and near-dup groups still collapse") {
    import spark.implicits._
    // 60 vectors in one tight cluster (worst pair cos ~0.9983, so every
    // pair clears thr=0.98 even after refinement); distinct angles keep
    // the rounded-cosine assignment from degenerating into one tie
    val rows = (0L until 60L).map { i =>
      (i, Array(1.0f, i.toFloat * 1e-3f))
    }
    val corpus = rows.toDF("vec_id", "embedding")
    def run() = Similarity.semDedup(corpus, "vec_id", "embedding",
        initIds = Seq(0L), iterations = 0, simThreshold = 0.98,
        maxCellSize = 10, refineRounds = 3)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val a = run()
    assert(a == run(), "capped semDedup must be deterministic")
    // each sub-cell keeps exactly one representative (all pairs within
    // a sub-cell are above threshold), so survivors == #sub-cells
    val nCells = a.map(_._2).distinct.length
    assert(a.length == nCells && a.length < 60,
      s"expected one survivor per sub-cell, got ${a.length} of $nCells cells")
  }

  test("embeddingOutliers flags the far tail of a cell, not its bulk") {
    import spark.implicits._
    // one tight cluster around e1 + a single corrupt far vector that
    // still lands in the same cell (nearest of the two centroids)
    val corpus = (Seq(
      (0L, Array(1.0, 0.0, 0.0, 0.0)), (1L, Array(0.0, 1.0, 0.0, 0.0))) ++
      (2L to 20L).map(i => (i, Array(1.0, 0.001 * i, 0.0, 0.0))) :+
      ((21L, Array(0.3, 0.3, 0.1, 0.9)))).toDF("vec_id", "embedding")
    val cents = corpus.filter(col("vec_id") < 2)
    val out = Similarity.embeddingOutliers(corpus, cents, "vec_id",
        "embedding", z = 2.0)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out(21L), "the corrupt vector must be flagged")
    assert((2L to 20L).forall(i => !out(i)), "cluster bulk must pass")
    assert(!out(0L) && !out(1L), "centroid members must pass")
  }

  test("ivfResiduals subtracts the assigned centroid exactly") {
    import spark.implicits._
    val corpus = Seq(
      (0L, Array(1.0, 0.0, 0.0, 0.0)), (1L, Array(0.0, 1.0, 0.0, 0.0)),
      (2L, Array(0.9, 0.1, 0.0, 0.0)), (3L, Array(0.1, 0.9, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val cents = corpus.filter(col("vec_id") < 2)
    val indexed = Similarity.ivfAssign(corpus, cents, "vec_id", "embedding")
    val res = Similarity.ivfResiduals(indexed, cents, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](2)).toMap
    // vec 2 lands in cell 0 (centroid [1,0,0,0]); residual is exact
    assert(res(2L) == Seq(0.9 - 1.0, 0.1, 0.0, 0.0))
    assert(res(3L) == Seq(0.1, 0.9 - 1.0, 0.0, 0.0))
    // centroid members' residuals are zero
    assert(res(0L).forall(_ == 0.0) && res(1L).forall(_ == 0.0))
  }

  test("ivfPqEncode keeps the cell and encodes codebook members to err 0") {
    val cents = emb.filter(col("vec_id") < 4)
    val indexed = Similarity.ivfAssign(emb, cents, "vec_id", "embedding")
    val res = Similarity.ivfResiduals(indexed, cents, "vec_id", "embedding")
    val cb = Similarity.pqCodebook(
      res.filter(col("vec_id") < 16).select(col("vec_id"), col("res")),
      "vec_id", "res", m = 4, subDim = 16)
    val enc = Similarity.ivfPqEncode(res, cb, "vec_id", m = 4, subDim = 16)
    assert(enc.count() == emb.count())
    // cells survive the encode unchanged
    val cellsIn = indexed.select("vec_id", "cell")
    assert(enc.select("vec_id", "cell").exceptAll(cellsIn).count() == 0)
    // a codebook-source vector's own residual is a codeword: err == 0
    // (codes need not be the own id — the four centroid members all
    // have the zero residual, so their d2 ties break to the smallest
    // of the tied codes)
    val own = enc.filter(col("vec_id") < 16).collect()
    assert(own.forall(_.getDouble(3) == 0.0),
      "codebook members must encode losslessly")
    assert(own.forall(r => r.getSeq[Long](2).forall(c => c >= 0L && c < 16L)))
  }

  test("ivfPqSearch scores only candidates in probed cells; full probe ranks sanely") {
    val cents = emb.filter(col("vec_id") < 4)
    val queries = emb.filter(col("vec_id") === 10)
    val indexed = Similarity.ivfAssign(emb, cents, "vec_id", "embedding")
    val res = Similarity.ivfResiduals(indexed, cents, "vec_id", "embedding")
    val cb = Similarity.pqCodebook(
      res.filter(col("vec_id") < 16).select(col("vec_id"), col("res")),
      "vec_id", "res", m = 4, subDim = 16)
    val enc = Similarity.ivfPqEncode(res, cb, "vec_id", m = 4, subDim = 16)
    val one = Similarity.ivfPqSearch(enc, cents, cb, queries, "vec_id",
      "embedding", m = 4, subDim = 16, k = 1000, nProbe = 1)
    // nProbe=1: every candidate inhabits the query's single probed cell
    val probedCells = one.join(enc.select(col("vec_id").as("cand_id"),
      col("cell")), "cand_id").select("cell").distinct().count()
    assert(probedCells == 1L)
    // full probing: the ADC top-10 overlaps the exact cosine top-10
    // (unit-norm corpus, so L2 and cosine rank compatibly)
    val full = Similarity.ivfPqSearch(enc, cents, cb, queries, "vec_id",
      "embedding", m = 4, subDim = 16, k = 10, nProbe = 4)
    val exact = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 10)
    val hits = full.select("query_id", "cand_id")
      .join(exact.select("query_id", "cand_id"), Seq("query_id", "cand_id"))
      .count()
    assert(hits >= 3, s"ivfpq full-probe top-10 shares only $hits with exact")
  }

  test("rerankExact on a full-corpus shortlist equals brute-force cosineTopK") {
    val queries = emb.filter(col("vec_id") < 3)
    val all = queries.select(col("vec_id").as("query_id"))
      .crossJoin(emb.select(col("vec_id").as("cand_id")))
      .filter(col("query_id") =!= col("cand_id"))
    val rr = Similarity.rerankExact(all, emb, queries, "vec_id", "embedding", 5)
    val exact = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 5)
    assert(rr.exceptAll(exact).count() == 0 && exact.exceptAll(rr).count() == 0,
      "reranking the complete candidate set must reproduce the exact baseline")
  }

  test("rerankExact returns k rows per query drawn from the shortlist") {
    val queries = emb.filter(col("vec_id") < 3)
    // a deterministic 10-candidate shortlist per query that ignores
    // true proximity entirely: rerank must still exact-rank WITHIN it
    val shortlist = queries.select(col("vec_id").as("query_id"))
      .crossJoin(emb.select(col("vec_id").as("cand_id")))
      .filter(col("cand_id") =!= col("query_id") && col("cand_id") % 7 === 2)
      .filter(col("cand_id") < 80)
    val rr = Similarity.rerankExact(shortlist, emb, queries,
      "vec_id", "embedding", k = 4).cache()
    val counts = rr.groupBy("query_id").count().collect()
    assert(counts.length == 3 && counts.forall(_.getLong(1) == 4))
    assert(rr.join(shortlist, Seq("query_id", "cand_id"), "left_anti")
      .count() == 0, "reranked hits must come from the shortlist")
    // within each query the kept scores dominate the discarded ones
    val kept = rr.select(col("query_id"), col("cand_id"))
    val discarded = shortlist.join(kept, Seq("query_id", "cand_id"), "left_anti")
    val worstKept = rr.groupBy("query_id").agg(min("score").as("wk"))
    val bestDiscarded = Similarity.rerankExact(discarded, emb, queries,
      "vec_id", "embedding", k = 1).groupBy("query_id")
      .agg(max("score").as("bd"))
    assert(worstKept.join(bestDiscarded, "query_id")
      .filter(col("bd") > col("wk")).count() == 0)
  }

  test("MomentPairs kernel micro-rounds exactly like the Column cascade") {
    import spark.implicits._
    // adversarial components: positive/negative halfway cases (HALF_UP
    // differs from Math.round at -x.5), float widening artifacts, and
    // magnitudes spanning the embedding range
    val vals = Seq(1.5e-6f, -1.5e-6f, 2.5e-6f, -2.5e-6f, 0.1f, -0.1f,
      0.9999995f, -0.9999995f, 3.14159f, -2.71828f, 0f, 8.5e-7f)
    val df = Seq((0L, vals)).toDF("vec_id", "embedding")
    val viaKernel = Similarity.embMoments(df, "vec_id", "embedding")
      .filter(col("i") === col("j"))
      .select(col("i"), col("sum_i")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val viaColumns = df.select(posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("i"),
        round(col("x").cast("double") * 1e6, 0).cast("long").as("xm"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(viaKernel == viaColumns,
      s"kernel vs Column rounding drift: $viaKernel vs $viaColumns")
    // array<double> input takes the non-widening path
    val dd = Seq((0L, vals.map(_.toDouble))).toDF("vec_id", "embedding")
    assert(Similarity.embMoments(dd, "vec_id", "embedding")
      .filter(col("i") === col("j")).count() == vals.length)
  }

  test("embMoments i-blocking at wide dims matches the single pass") {
    import spark.implicits._
    // d = 200 > the 2*64 blocking threshold -> three i-blocks; the
    // blocked union must produce the identical 200*201/2 moment table
    // a single kernel pass over the same rows yields
    val d = 200
    val rows = (0 until 40).map { r =>
      (r.toLong, (0 until d).map(i =>
        ((r * 31 + i * 7) % 19 - 9).toFloat / 10f))
    }.toDF("vec_id", "embedding")
    val blocked = Similarity.embMoments(rows, "vec_id", "embedding")
    assert(blocked.count() == d.toLong * (d + 1) / 2)
    val single = rows
      .select(explode(org.apache.spark.sql.graftbridge.Bridge.column(
        MomentPairs(org.apache.spark.sql.graftbridge.Bridge.expression(
          col("embedding"))))).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"),
        col("p.xi").as("xi"), col("p.xj").as("xj"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("n"),
        sum(col("xi").cast("decimal(38,0)")).cast("long").as("sum_i"))
    val b = blocked.select("i", "j", "n", "sum_i")
    assert(b.exceptAll(single).count() == 0 && single.exceptAll(b).count() == 0)
  }

  test("allButTop removes the planted dominant direction and centers") {
    import spark.implicits._
    // vectors = s * u + small orthogonal noise, u = e0: the top PC is
    // e0 by construction, so after abtt(k=1) component 0 collapses
    val rows = (0 until 200).map { i =>
      val s = (i % 21).toFloat - 10f // spread along e0, mean 0
      val noise = (0 until 8).map(j =>
        if (j == 0) s + 100f // +offset: centering must remove it
        else ((i * 7 + j * 13) % 5).toFloat * 0.01f)
      (i.toLong, noise)
    }.toDF("vec_id", "embedding")
    val out = Similarity.allButTop(rows, "vec_id", "embedding", k = 1)
      .cache()
    assert(out.count() == 200)
    // component 0 (the planted PC) is ~0 for every row (micro-units)
    val worst0 = out.select(max(abs(element_at(col("emb_abtt"), 1))))
      .collect()(0).getLong(0)
    assert(worst0 < 50000L, s"top-PC residual $worst0 micro") // < 0.05
    // per-dim means ~0 after centering (mean of micro components)
    val meanBad = out
      .select(posexplode(col("emb_abtt")).as(Seq("i", "x")))
      .groupBy("i").agg(avg(col("x")).as("m"))
      .filter(abs(col("m")) > 1000.0).count() // < 1e-3 raw
    assert(meanBad == 0)
    // determinism under repartitioning
    val b = Similarity.allButTop(rows.repartition(7), "vec_id",
      "embedding", k = 1)
    assert(out.withColumnRenamed("emb_abtt", "a").join(b, "vec_id")
      .filter(col("a") =!= col("emb_abtt")).count() == 0)
    // k=2 removes a second direction without disturbing row count
    assert(Similarity.allButTop(rows, "vec_id", "embedding", k = 2)
      .count() == 200)
  }

  test("semanticDecontaminate flags the paraphrase-close row, nearest bench wins") {
    import spark.implicits._
    // bench: two orthogonal eval items; corpus: a near-copy of bench 1,
    // a vector mid-way between both (closer to bench 2), an orthogonal
    // clean row
    val bench = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Array(0.99f, 0.01f, 0.0f)),  // ~bench 1
      (11L, Array(0.4f, 0.6f, 0.0f)),    // closer to bench 2
      (12L, Array(0.0f, 0.0f, 1.0f)))    // clean
      .toDF("vec_id", "embedding")
    val rep = Similarity.semanticDecontaminateReport(
        corpus, bench, "vec_id", "embedding", minCosine = 0.5)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rep.toSeq == Seq((10L, 1L), (11L, 2L)),
      s"nearest bench item must win: ${rep.toSeq}")
    val kept = Similarity.semanticDecontaminate(
        corpus, bench, "vec_id", "embedding", minCosine = 0.5)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(12L), s"only the clean row survives: $kept")
    // bench-side size contract fires up front
    val err = intercept[IllegalArgumentException] {
      Similarity.semanticDecontaminateReport(
        corpus, bench, "vec_id", "embedding", 0.5, maxBench = 1)
    }
    assert(err.getMessage.contains("maxBench"))
  }

  test("semanticDecontaminate tie at rounded cosine goes to the smaller bench id") {
    import spark.implicits._
    val bench = Seq(
      (5L, Array(1.0f, 0.0f)), (3L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq((10L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val r = Similarity.semanticDecontaminateReport(
      corpus, bench, "vec_id", "embedding", 0.9).collect().head
    assert(r.getLong(1) == 3L)
  }

  test("hardNegatives keeps the band, excludes duplicates, self and easy pairs") {
    import spark.implicits._
    def v(deg: Double) = Array(math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat)
    // anchor at 0 deg; corpus: an exact duplicate (cos 1 — above the
    // band), two in-band rows at 45/60 deg, one far row at 90 deg
    // (cos 0 — below the band)
    val corpus = Seq(
      (1L, v(0)),            // self (excluded by id)
      (20L, v(0)),           // duplicate: cos 1.0 >= maxCosine
      (21L, v(45)),          // cos .7071 — in band, nearest
      (22L, v(60)),          // cos .5 — in band
      (23L, v(90)))          // cos 0 — too easy
      .toDF("vec_id", "embedding")
    val anchors = Seq((1L, v(0))).toDF("vec_id", "embedding")
    val negs = Similarity.hardNegatives(corpus, anchors, "vec_id",
        "embedding", k = 5, minCosine = 0.2, maxCosine = 0.99)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getInt(2)))
    assert(negs.toSeq == Seq((21L, 1), (22L, 2)),
      s"band [0.2, 0.99) keeps 45/60 deg ranked by similarity: ${negs.toSeq}")
    // k caps the per-anchor output
    val one = Similarity.hardNegatives(corpus, anchors, "vec_id",
      "embedding", k = 1, minCosine = 0.2, maxCosine = 0.99)
    assert(one.count() == 1 && one.collect().head.getLong(1) == 21L)
    // external anchor frame whose id merely coincides with corpus id 1:
    // excludeSelf=false keeps the coinciding corpus row as a candidate
    // (cosineTopK's identity contract)
    val external = Seq((1L, v(44))).toDF("vec_id", "embedding")
    val withSelf = Similarity.hardNegatives(corpus, external, "vec_id",
        "embedding", k = 5, minCosine = 0.2, maxCosine = 0.99,
        excludeSelf = false)
      .collect().map(_.getLong(1)).toSet
    assert(withSelf.contains(1L),
      s"corpus row 1 (cos ~0.72) must be eligible: $withSelf")
  }

  test("prototypePrune drops exactly the floor(n*frac) most prototypical per cell") {
    // real corpus: 4 trained cells over sf0.001 embeddings; dropFrac=0
    // yields the full ranking, dropFrac=0.3 must keep exactly the rows
    // ranked past floor(n * 0.3) of each cell
    val all = Similarity.prototypePrune(emb, "vec_id", "embedding",
      initIds = Seq(0L, 1L, 2L, 3L), iterations = 2, dropFrac = 0.0)
    val cellN = all.groupBy("cell").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cellN.values.sum == emb.count(), "dropFrac=0 keeps everything")
    val pruned = Similarity.prototypePrune(emb, "vec_id", "embedding",
      initIds = Seq(0L, 1L, 2L, 3L), iterations = 2, dropFrac = 0.3)
    val prunedN = pruned.groupBy("cell").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    cellN.foreach { case (cell, n) =>
      val want = n - math.floor(n * 0.3).toLong
      assert(prunedN.getOrElse(cell, 0L) == want,
        s"cell $cell: want $want of $n, got ${prunedN.getOrElse(cell, 0L)}")
    }
    // survivors are the TAIL of the prototypicality ranking: every
    // surviving rank exceeds the cell's drop count
    val bad = pruned.join(
        all.groupBy("cell").agg(count(lit(1)).as("n")), "cell")
      .filter(col("rank") <= floor(col("n") * 0.3)).count()
    assert(bad == 0, "no survivor may carry a dropped-range rank")
    // the dropped rows are the most centroid-similar: min surviving
    // proto never exceeds the cell's dropped max (ties share values)
    val dropped = all.select(col("cell"), col("vec_id"))
      .except(pruned.select(col("cell"), col("vec_id")))
      .join(all, Seq("cell", "vec_id"))
    val worstKept = pruned.groupBy("cell").agg(max("proto").as("mk"))
    val worstDrop = dropped.groupBy("cell").agg(min("proto").as("md"))
    assert(worstKept.join(worstDrop, "cell")
      .filter(col("mk") > col("md")).count() == 0,
      "every dropped row is at least as prototypical as every kept row")
  }

  // ---- ivfSearch: local query frames ranked on the driver -------------------

  /** Four axis-aligned cells in 4-d; corpus member i sits in cell i % 4,
    * tilted towards the next axis by i / 4 tenths. Ids 24..26 repeat
    * member 4's vector, so their scores tie with it exactly. */
  private lazy val ivfFixture = {
    import spark.implicits._
    val axis = (c: Int) => Array.tabulate(4)(d => if (d == c) 1.0f else 0.0f)
    val member = (i: Int) => {
      val v = axis(i % 4)
      v((i % 4 + 1) % 4) = 0.1f * (i / 4)
      v
    }
    val corpus = ((0 until 24).map(i => (i.toLong, member(i))) ++
      (24 until 27).map(i => (i.toLong, member(4)))).toDF("vec_id", "embedding")
    val centroids = (0 until 4).map(c => (c.toLong, axis(c)))
      .toDF("vec_id", "embedding")
    (Similarity.ivfAssign(corpus, centroids, "vec_id", "embedding").cache(),
      centroids, corpus)
  }

  private val querySchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  /** A local query frame (its optimized plan is a LocalRelation). */
  private def localQueries(qs: (Long, Array[Float])*): DataFrame =
    spark.createDataFrame(qs.map { case (id, v) => Row(id, v.toSeq) }.asJava,
      querySchema)

  /** (query_id, cand_id, score bits) of an ivfSearch answer. */
  private def ivfHits(queries: DataFrame, k: Int,
      nProbe: Int): (StructType, Set[(Long, Long, Option[Long])]) = {
    val (indexed, centroids, _) = ivfFixture
    val res = Similarity.ivfSearch(indexed, centroids, queries, "vec_id",
      "embedding", k = k, nProbe = nProbe)
    (res.schema, res.collect().map(r => (r.getLong(0), r.getLong(1),
      Option(r.get(2)).map(d => java.lang.Double.doubleToRawLongBits(
        d.asInstanceOf[Double])))).toSet)
  }

  /** The local frame and the same rows behind a repartition (not
    * local) must give identical schemas and answers. */
  private def assertSameOnBothPaths(local: DataFrame, k: Int,
      nProbe: Int): Set[(Long, Long, Option[Long])] = {
    val onDriver = ivfHits(local, k, nProbe)
    val inFrames = ivfHits(local.repartition(2), k, nProbe)
    assert(onDriver == inFrames, s"k=$k nProbe=$nProbe")
    onDriver._2
  }

  private val oneQuery = Seq(100L -> Array(0.9f, 0.3f, 0.1f, 0.0f))
  private val fiveQueries = oneQuery ++ Seq(
    101L -> Array(0.1f, 1.0f, 0.2f, 0.0f),
    102L -> Array(0.0f, 0.2f, 0.3f, 1.0f),
    // equidistant from cells 0 and 1: the cell tie breaks on cell id
    103L -> Array(1.0f, 1.0f, 0.0f, 0.0f),
    // collides with corpus id 3
    3L -> Array(0.0f, 0.0f, 0.0f, 1.0f))

  test("ivfSearch: local and non-local query frames give identical answers") {
    for (qs <- Seq(oneQuery, fiveQueries); nProbe <- Seq(1, 4, 6); k <- Seq(3, 100)) {
      val hits = assertSameOnBothPaths(localQueries(qs: _*), k, nProbe)
      assert(hits.map(_._1) == qs.map(_._1).toSet)
      // k above the candidate count returns every probed candidate
      if (k == 100 && nProbe >= 4) assert(hits.count(_._1 == 100L) == 27)
    }
  }

  test("ivfSearch: tied scores break on cand_id on both paths") {
    // member 4 and its copies 24..26 tie; k = 2 cuts through the tie
    val q = localQueries(200L -> Array(1.0f, 0.1f, 0.0f, 0.0f))
    val hits = assertSameOnBothPaths(q, k = 2, nProbe = 1)
    assert(hits.map(_._2) == Set(4L, 24L))
  }

  test("ivfSearch: zero-norm and NaN query vectors behave alike on both paths") {
    // a zero norm leaves the cell ranking to Spark's division (null, or
    // the ANSI error); NaN cosines sort above every number
    for (v <- Seq(Array(0.0f, 0.0f, 0.0f, 0.0f), Array(Float.NaN, 1.0f, 0.0f, 0.0f))) {
      val local = localQueries(300L -> v)
      val a = Try(ivfHits(local, 5, 2))
      val b = Try(ivfHits(local.repartition(2), 5, 2))
      assert(a.isSuccess == b.isSuccess, s"$a vs $b")
      if (a.isSuccess) assert(a.get == b.get)
      else assert(a.failed.get.getClass == b.failed.get.getClass)
    }
  }

  test("ivfSearch: an empty local query frame gives an empty answer, same schema") {
    val empty = localQueries()
    val (schema, hits) = ivfHits(empty, 5, 2)
    assert(hits.isEmpty)
    assert(schema == ivfHits(empty.repartition(2), 5, 2)._1)
  }

  test("ivfSearch drops the corpus row whose id equals the query's on both paths") {
    // corpus row 3 sits in cell 3, the one cell this query probes
    val q = localQueries(3L -> Array(0.0f, 0.0f, 0.0f, 1.0f))
    val hits = assertSameOnBothPaths(q, k = 10, nProbe = 1)
    assert(hits.nonEmpty && !hits.exists(_._2 == 3L))
  }

  /** Runs `body` and counts the Spark jobs it starts. Listener events
    * arrive asynchronously but in order, so once a sentinel job started
    * after `body` is seen, every job of `body` has been counted. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val sentinel = "ivf-job-count-sentinel"
    val started = new AtomicInteger(0)
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == sentinel))
          sentinelSeen.countDown()
        else started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(sentinelSeen.await(60, TimeUnit.SECONDS), "sentinel job never seen")
      (out, started.get)
    } finally sc.removeSparkListener(listener)
  }

  test("a local query frame starts no job at call time; one ivfSearch query runs <= 2 jobs") {
    val (indexed, centroids, corpus) = ivfFixture
    indexed.count() // the cached index is built outside the measured calls
    val q = localQueries(oneQuery: _*)
    val (res, atCall) = jobsOf(Similarity.ivfSearch(indexed, centroids, q,
      "vec_id", "embedding", k = 3, nProbe = 2))
    assert(atCall == 0, s"ivfSearch started $atCall jobs before execution")
    val (_, topAtCall) = jobsOf(Similarity.cosineTopK(corpus, q, "vec_id", "embedding", 3))
    assert(topAtCall == 0, s"cosineTopK started $topAtCall jobs before execution")
    val (rows, atCollect) = jobsOf(res.collect())
    assert(rows.length == 3)
    assert(atCollect <= 2, s"one query ran $atCollect jobs")
  }

  test("the size guards count a local frame exactly and keep their errors") {
    val qs = localQueries(fiveQueries: _*)
    val (_, _, corpus) = ivfFixture
    val local = intercept[IllegalArgumentException](
      Similarity.cosineTopK(corpus, qs, "vec_id", "embedding", 3, maxQueries = 4))
    val counted = intercept[IllegalArgumentException](Similarity.cosineTopK(
      corpus, qs.repartition(2), "vec_id", "embedding", 3, maxQueries = 4))
    assert(local.getMessage == counted.getMessage)
    assert(local.getMessage.contains("maxQueries=4"))
    assert(Similarity.cosineTopK(corpus, qs, "vec_id", "embedding", 3,
      maxQueries = 5).count() == 15)
  }
}
