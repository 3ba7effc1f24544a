package graftbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.petro.{Cipw, MineralSpec, Minerals, PPConfig, Stoich, Thermo}
import graft.petro.hpxeos.{Metabasite, Metapelite, Phase}

/** The petrology half of petro_text_batch: per family, mineral end
  * members, the stoichiometry score frame and the matching a-x end
  * members; then the CIPW norm and THERMOCALC bulk lines of the
  * bulk-rock table. No shuffle: wide Column projections plus the norm's
  * row function, so driver-side plan building and codegen'd arithmetic
  * dominate. */
final class PetroBatch(sizes: Sizes) {
  val opSpan = "petro.iter"

  private val families: Seq[(String, MineralSpec, Phase)] = Seq(
    ("garnet", Minerals.Grt, Metapelite.TcGarnet),
    ("feldspar", Minerals.Fsp, Metapelite.TcPl4tr),
    ("clinopyroxene", Minerals.Cpx, Metabasite.TcAugite),
    ("amphibole", Minerals.Amp, Metabasite.TcAmphibole),
    ("biotite", Minerals.Bt, Metapelite.TcBiotite),
    ("spinel", Minerals.Spl, Metapelite.TcSpinel))

  private var dir: Path = _
  private var inputs: Map[String, DataFrame] = Map.empty
  // per frame: checksum of the first iteration and optimized plan size
  private val firstChecksum = mutable.HashMap.empty[String, Long]
  private val optimizedNodes = mutable.HashMap.empty[String, Int]

  def generate(d: Path, seed: Long): Unit = {
    dir = d
    PetroInputs.generate(d, seed, sizes.perFamily, sizes.bulkRows)
  }

  def load(spark: SparkSession): Unit =
    inputs = (families.map(_._1) :+ "bulk").map { f =>
      f -> spark.read.parquet(dir.resolve(f).toString)
    }.toMap

  /** Times one library call and the full materialization of its frame,
    * applies the frame's row check, and records the result. */
  private def layer(tr: Tracer, tally: Tally, layerName: String, key: String, rows: Long,
      lazyCall: Boolean, what: String)(call: => DataFrame)
      (flag: StructType => InternalRow => Boolean): Unit = tally.op(key) {
    val df = tr.span(s"$layerName.${if (lazyCall) "build" else "call"}")(call)
    val d = Digest.run(df, p => tr.span(s"$layerName.plan")(p),
      e => tr.span(s"$layerName.exec")(e), flag)
    optimizedNodes(key) = d.optimizedNodes
    val problems = mutable.ArrayBuffer.empty[String]
    if (d.rows != rows) problems += s"${d.rows} rows, expected $rows"
    if (d.flagged > 0) problems += s"${d.flagged} rows $what"
    firstChecksum.get(key) match {
      case Some(c) if c != d.checksum => problems += "checksum differs from first iteration"
      case None => firstChecksum(key) = d.checksum
      case _ =>
    }
    problems.toSeq
  }

  /** One pass of every petro call over every table; returns the number
    * of analyses processed. */
  def iteration(tr: Tracer, tally: Tally): Long = {
    tr.span(opSpan) {
      families.foreach { case (f, spec, phase) =>
        val in = inputs(f)
        val n = sizes.perFamily.toLong
        layer(tr, tally, "petro.minerals", s"$f.minerals", n, lazyCall = true,
          "with end members not summing to 1")(
          Minerals.endMembers(spec, in, Seq("id")))(PetroChecks.percentSum)
        layer(tr, tally, "petro.stoich", s"$f.stoich", n, lazyCall = true,
          "with a score outside [0, 1]")(
          Stoich.checkStoichiometry(spec, in, Seq("id")))(PetroChecks.unitScores)
        layer(tr, tally, "petro.hpxeos", s"$f.hpxeos", n, lazyCall = true,
          "with a-x proportions not summing to 1")(
          phase.endMembers(in, Seq("id")))(PetroChecks.percentSum)
      }
      val bulk = inputs("bulk")
      val nb = sizes.bulkRows.toLong
      // cipwNorm decides its output columns from the data, so the call
      // itself runs the norm (a checkpoint job) before returning
      layer(tr, tally, "petro.cipw", "bulk.cipw", nb, lazyCall = false,
        "with a CIPW total off 100 by more than 1e-6")(
        Cipw.cipwNorm(bulk, Seq("id"), normsum = true))(PetroChecks.cipwTotal)
      layer(tr, tally, "petro.thermo", "bulk.thermo", nb, lazyCall = true,
        "with a bulk not summing to 100 or without a script line")(
        Thermo.tcBulk(bulk, col("sample"), carry = Seq("id", "sample"))._2)(
        PetroChecks.thermoBulk(Thermo.tcSystems(PPConfig.defaultSystem)))
    }
    families.size.toLong * sizes.perFamily + sizes.bulkRows
  }

  /** Per-layer metrics from the traced iterations in `tr`. */
  def layerMetrics(tr: Tracer): Map[String, Double] = {
    val ops = math.max(1, tr.count(opSpan))
    def per(name: String) = tr.total(name) / ops
    val lazyLayers = Seq("petro.minerals", "petro.stoich", "petro.hpxeos", "petro.thermo")
    val all = lazyLayers :+ "petro.cipw"
    Map(
      "petro.build_s" -> lazyLayers.map(l => per(s"$l.build")).sum,
      "petro.plan_s" -> all.map(l => per(s"$l.plan")).sum,
      "petro.plan_nodes" -> optimizedNodes.values.sum.toDouble,
      "petro.minerals.exec_s" -> per("petro.minerals.exec"),
      "petro.stoich.exec_s" -> per("petro.stoich.exec"),
      "petro.hpxeos.exec_s" -> per("petro.hpxeos.exec"),
      "petro.cipw.exec_s" -> (per("petro.cipw.call") + per("petro.cipw.exec")),
      "petro.thermo.exec_s" -> per("petro.thermo.exec"))
  }
}

/** Row checks of the petro frames. Each takes the frame's schema and
  * returns a predicate that is true for a row failing the check; they
  * live outside [[PetroBatch]] so the predicates serialize on their own. */
object PetroChecks {
  private def valueIdx(schema: StructType): Array[Int] =
    schema.fieldNames.zipWithIndex.collect { case (n, i) if n != "id" => i }

  private def sum(r: InternalRow, idx: Array[Int]): Double = {
    var s = 0.0
    var k = 0
    while (k < idx.length) { s += r.getDouble(idx(k)); k += 1 }
    s
  }

  /** Percentages that are defined (finite, non-zero total) must sum to
    * 100 within a relative 1e-9. */
  val percentSum: StructType => InternalRow => Boolean = { schema =>
    val idx = valueIdx(schema)
    r => {
      val s = sum(r, idx)
      !s.isNaN && s != 0.0 && math.abs(s / 100.0 - 1.0) > 1e-9
    }
  }

  /** Every stoichiometry criterion is a score in [0, 1]. */
  val unitScores: StructType => InternalRow => Boolean = { schema =>
    val idx = valueIdx(schema)
    r => idx.exists { i => val v = r.getDouble(i); v < 0.0 || v > 1.0 }
  }

  /** normsum scales every norm to a total of 100. */
  val cipwTotal: StructType => InternalRow => Boolean = { schema =>
    val t = schema.fieldIndex("Total")
    r => !(math.abs(r.getDouble(t) - 100.0) <= 1e-6)
  }

  /** The system components sum to 100 and every row has a script line. */
  def thermoBulk(components: Seq[String]): StructType => InternalRow => Boolean = { schema =>
    val idx = components.map(schema.fieldIndex).toArray
    val line = schema.fieldIndex("line")
    r => r.isNullAt(line) || !(math.abs(sum(r, idx) - 100.0) <= 1e-9)
  }
}
