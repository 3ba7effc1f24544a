package graftbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** petro_text_batch: table-shaped batch work. Each operation runs every
  * petro call over every mineral family and the bulk rocks, then one
  * `TextOps.curateCorpus` call over the seeded corpus. The petro half is
  * wide projections with no shuffle; the text half is shuffles, cache
  * barriers, LSH fan-out and connected-component iteration. Neither
  * touches graft.sim, which vector_serve measures alone. */
final class PetroTextBatch(sizes: Sizes) extends Workload {
  val name = "petro_text_batch"
  val opSpan = "batch.op"

  val petro = new PetroBatch(sizes)
  val text = new TextCurate(sizes)

  def generate(dir: Path, seed: Long): Unit = {
    petro.generate(dir.resolve("petro"), seed)
    text.generate(dir.resolve("text"), seed)
  }

  def setup(spark: SparkSession, tr: Tracer, tally: Tally): Unit = {
    petro.load(spark)
    text.load(spark)
    op(tr, tally)
  }

  /** Returns the analyses plus documents processed. */
  def op(tr: Tracer, tally: Tally): Long = tr.span(opSpan) {
    val analyses = petro.iteration(tr, tally)
    text.curate(tr, tally)
    analyses + sizes.docs
  }

  def tracedExtras(tr: Tracer, tally: Tally): Unit = text.stages(tr, tally)

  def layerMetrics(tr: Tracer, l: EngineListener): Map[String, Double] =
    petro.layerMetrics(tr) ++ text.layerMetrics(tr, l)
}
