package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Operations attempted and failed. An operation fails when it throws
  * or when any of its correctness checks does not hold. */
final class Tally {
  var attempted = 0L
  var failed = 0L
  val notes = mutable.ArrayBuffer.empty[String]

  /** Counts one operation; `checks` names each failed check. */
  def op(name: String)(checks: => Seq[String]): Unit = {
    attempted += 1
    val bad = try checks catch {
      case scala.util.control.NonFatal(e) => Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    if (bad.nonEmpty) {
      failed += 1
      if (notes.size < 20) notes += s"$name: ${bad.mkString("; ")}".take(400)
    }
  }
}

/** One benchmark workload, driven as a closed loop by one client. */
trait Workload {
  def name: String

  /** Writes the seeded inputs under `dir` and keeps any ground truth. */
  def generate(dir: Path, seed: Long): Unit

  /** Loads the inputs into `spark` and runs one warm-up operation. */
  def setup(spark: SparkSession, tr: Tracer, tally: Tally): Unit

  /** One operation; returns the items it processed. */
  def op(tr: Tracer, tally: Tally): Long

  /** Untimed operations between the set-ups and the timed window. */
  def settleOps: Int = 0

  /** Traced-run-only work beyond the operations themselves. */
  def tracedExtras(tr: Tracer, tally: Tally): Unit

  /** Per-layer metrics from the traced operations recorded in `tr`. */
  def layerMetrics(tr: Tracer, l: EngineListener): Map[String, Double]

  /** Name of the root span of one traced operation. */
  def opSpan: String
}

object Workload {
  val all: Seq[String] = Seq("petro_text_batch", "vector_serve")

  def apply(name: String, sizes: Sizes): Workload = name match {
    case "petro_text_batch" => new PetroTextBatch(sizes)
    case "vector_serve" => new VectorServe(sizes)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; known: ${all.mkString(", ")}")
  }
}

/** Input sizes. Fixed per benchmark definition; changing them changes
  * what every recorded figure means. */
final case class Sizes(perFamily: Int, bulkRows: Int, docs: Int,
    vectors: Int, queries: Int)
