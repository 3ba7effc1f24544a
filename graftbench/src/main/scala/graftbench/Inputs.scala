package graftbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Seeded input generators. Every table is written with the plain
  * parquet writer (no Spark session, no random file names), split into
  * [[Parquet.PartFiles]] part files, so the same seed always yields the same
  * bytes and the generation cost stays outside the timed set-up. */
object Parquet {
  /** Part files per table: enough for every core of a small machine to
    * get a split, fixed so the bytes do not depend on the machine. */
  val PartFiles = 8

  def write(dir: Path, schema: String, n: Int)(fill: (Group, Int) => Unit): Unit = {
    val msg: MessageType = MessageTypeParser.parseMessageType(schema)
    val factory = new SimpleGroupFactory(msg)
    Files.createDirectories(dir)
    val per = (n + PartFiles - 1) / PartFiles
    (0 until PartFiles).foreach { part =>
      val out = dir.resolve(f"part-$part%05d.parquet")
      val w = ExampleParquetWriter.builder(new LocalOutputFile(out))
        .withType(msg)
        .withConf(new Configuration(false))
        .withCompressionCodec(CompressionCodecName.UNCOMPRESSED)
        .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
        .build()
      try {
        var i = part * per
        val end = math.min(n, i + per)
        while (i < end) {
          val g = factory.newGroup()
          fill(g, i)
          w.write(g)
          i += 1
        }
      } finally w.close()
    }
  }
}

/** Gaussian and helper draws on a [[SplittableRandom]]. */
final class Rng(seed: Long) {
  private val r = new SplittableRandom(seed)
  def uniform(): Double = r.nextDouble()
  def int(n: Int): Int = r.nextInt(n)
  def gauss(): Double = {
    // Box-Muller; one value per call keeps the stream simple to replay
    val u1 = 1.0 - r.nextDouble()
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }
  /** Random mixing weights that sum to 1, skewed by `alpha`. */
  def weights(alpha: Array[Double]): Array[Double] = {
    val w = alpha.map(a => a * (0.2 + uniform()))
    val s = w.sum
    w.map(_ / s)
  }
}

// ---- petro_batch ----------------------------------------------------------

/** One mineral family: its oxide end-member compositions (wt%) and how
  * strongly each is weighted when an analysis is drawn. */
final case class Family(name: String, members: Seq[Map[String, Double]],
    alpha: Array[Double])

object PetroInputs {
  val Oxides: Seq[String] = Seq("SiO2", "TiO2", "Al2O3", "Cr2O3", "FeO",
    "MnO", "MgO", "CaO", "Na2O", "K2O")

  val BulkOxides: Seq[String] = Seq("SiO2", "TiO2", "Al2O3", "Fe2O3", "FeO",
    "MnO", "MgO", "CaO", "Na2O", "K2O", "P2O5", "H2O")

  // Near-end-member analyses (wt%); an analysis is a weighted mix of a
  // family's members, so it stays close to the family's stoichiometry.
  val families: Seq[Family] = Seq(
    Family("garnet", Seq(
      Map("SiO2" -> 36.2, "Al2O3" -> 20.5, "FeO" -> 43.3),
      Map("SiO2" -> 44.7, "Al2O3" -> 25.3, "MgO" -> 30.0),
      Map("SiO2" -> 40.0, "Al2O3" -> 22.7, "CaO" -> 37.3),
      Map("SiO2" -> 36.4, "Al2O3" -> 20.6, "MnO" -> 43.0)),
      Array(5.0, 2.0, 1.5, 0.5)),
    Family("feldspar", Seq(
      Map("SiO2" -> 68.7, "Al2O3" -> 19.4, "Na2O" -> 11.8),
      Map("SiO2" -> 43.2, "Al2O3" -> 36.6, "CaO" -> 20.2),
      Map("SiO2" -> 64.8, "Al2O3" -> 18.3, "K2O" -> 16.9)),
      Array(3.0, 2.0, 0.3)),
    Family("clinopyroxene", Seq(
      Map("SiO2" -> 55.5, "MgO" -> 18.6, "CaO" -> 25.9),
      Map("SiO2" -> 48.4, "FeO" -> 29.0, "CaO" -> 22.6),
      Map("SiO2" -> 59.4, "Al2O3" -> 25.2, "Na2O" -> 15.3)),
      Array(4.0, 2.0, 0.6)),
    Family("amphibole", Seq(
      Map("SiO2" -> 59.2, "MgO" -> 24.8, "CaO" -> 13.8),
      Map("SiO2" -> 50.5, "FeO" -> 35.3, "CaO" -> 11.8),
      Map("SiO2" -> 42.5, "Al2O3" -> 18.0, "MgO" -> 19.0, "CaO" -> 13.2,
        "Na2O" -> 3.7)),
      Array(3.0, 1.5, 2.0)),
    Family("biotite", Seq(
      Map("SiO2" -> 43.2, "Al2O3" -> 12.2, "MgO" -> 28.9, "K2O" -> 11.3),
      Map("SiO2" -> 34.0, "Al2O3" -> 9.6, "FeO" -> 40.7, "K2O" -> 8.9),
      Map("SiO2" -> 31.3, "Al2O3" -> 26.5, "MgO" -> 21.0, "K2O" -> 11.2),
      Map("SiO2" -> 35.0, "TiO2" -> 3.5, "Al2O3" -> 18.0, "FeO" -> 25.0,
        "MgO" -> 5.0, "K2O" -> 9.5)),
      Array(2.0, 2.0, 0.5, 1.5)),
    Family("spinel", Seq(
      Map("MgO" -> 28.3, "Al2O3" -> 71.7),
      Map("FeO" -> 41.3, "Al2O3" -> 58.7),
      Map("FeO" -> 32.1, "Cr2O3" -> 67.9),
      Map("FeO" -> 93.1)),
      Array(2.0, 2.0, 1.0, 0.3)))

  // basalt, andesite, granite
  val rocks: Seq[Map[String, Double]] = Seq(
    Map("SiO2" -> 49.2, "TiO2" -> 1.8, "Al2O3" -> 15.7, "Fe2O3" -> 3.8,
      "FeO" -> 7.1, "MnO" -> 0.2, "MgO" -> 6.7, "CaO" -> 9.5, "Na2O" -> 2.9,
      "K2O" -> 1.1, "P2O5" -> 0.35, "H2O" -> 0.9),
    Map("SiO2" -> 57.9, "TiO2" -> 0.9, "Al2O3" -> 17.0, "Fe2O3" -> 3.3,
      "FeO" -> 4.0, "MnO" -> 0.15, "MgO" -> 3.3, "CaO" -> 6.8, "Na2O" -> 3.5,
      "K2O" -> 1.6, "P2O5" -> 0.2, "H2O" -> 1.0),
    Map("SiO2" -> 71.3, "TiO2" -> 0.3, "Al2O3" -> 14.3, "Fe2O3" -> 1.2,
      "FeO" -> 1.6, "MnO" -> 0.05, "MgO" -> 0.7, "CaO" -> 1.8, "Na2O" -> 3.7,
      "K2O" -> 4.1, "P2O5" -> 0.12, "H2O" -> 0.7))

  /** Weighted mix of `members`, then EMPA-like noise: 1% relative plus
    * 0.02 wt% absolute, clipped at 0. Trace oxides get a small floor so
    * every column is present in every analysis. */
  private def analysis(rng: Rng, members: Array[Array[Double]],
      alpha: Array[Double]): Array[Double] = {
    val w = rng.weights(alpha)
    Array.tabulate(members.head.length) { j =>
      var mix = 0.0
      var i = 0
      while (i < members.length) { mix += w(i) * members(i)(j); i += 1 }
      val v = mix * (1.0 + 0.01 * rng.gauss()) + 0.02 * rng.gauss() +
        0.03 * rng.uniform()
      math.max(0.0, v)
    }
  }

  private def table(members: Seq[Map[String, Double]], oxides: Seq[String]) =
    members.map(m => oxides.map(m.getOrElse(_, 0.0)).toArray).toArray

  private val mineralSchema =
    "message analysis { required int64 id; " +
      Oxides.map(o => s"required double $o;").mkString(" ") + " }"

  private val bulkSchema =
    "message rock { required int64 id; required binary sample (UTF8); " +
      BulkOxides.map(o => s"required double $o;").mkString(" ") + " }"

  /** Writes `<dir>/<family>` for every family (`perFamily` analyses each)
    * and `<dir>/bulk` (`bulkRows` rocks). */
  def generate(dir: Path, seed: Long, perFamily: Int, bulkRows: Int): Unit = {
    families.zipWithIndex.foreach { case (f, fi) =>
      val rng = new Rng(seed * 1000003L + fi)
      val members = table(f.members, Oxides)
      Parquet.write(dir.resolve(f.name), mineralSchema, perFamily) { (g, i) =>
        g.add(0, i.toLong)
        val a = analysis(rng, members, f.alpha)
        a.indices.foreach(j => g.add(1 + j, a(j)))
      }
    }
    val rng = new Rng(seed * 1000003L + 99)
    val members = table(rocks, BulkOxides)
    Parquet.write(dir.resolve("bulk"), bulkSchema, bulkRows) { (g, i) =>
      g.add(0, i.toLong)
      g.add(1, "R" + i)
      val a = analysis(rng, members, Array(2.0, 1.5, 1.5))
      a.indices.foreach(j => g.add(2 + j, a(j)))
    }
  }
}

// ---- text_curate ----------------------------------------------------------

/** Ground truth of one generated corpus, indexed by doc id.
  * kind: 0 unique good, 1 planted exact copy, 2 near-dup group member,
  * 3 low quality. group: the id of the group's original, or -1. */
final case class TextTruth(kind: Array[Byte], group: Array[Int]) {
  def n: Int = kind.length
}

object TextInputs {
  val Unique: Byte = 0
  val ExactCopy: Byte = 1
  val NearDup: Byte = 2
  val LowQuality: Byte = 3

  private val english = Seq("the", "a", "of", "and", "to", "in", "is", "it",
    "you", "that", "for", "on", "with", "as", "are", "this", "was", "be")
  private val german = Seq("der", "die", "das", "und", "ist", "nicht", "mit",
    "ein", "eine", "zu", "den", "von", "auf", "im", "sich", "des", "auch")
  private val reserved = (english ++ german ++ Seq("le", "la", "les", "et",
    "est", "une", "un", "du", "dans", "que", "qui", "pour", "pas", "sur", "au",
    "ce", "ne", "el", "los", "las", "y", "es", "en", "de", "por", "con",
    "para", "no", "se", "su", "al")).toSet

  private def vocabulary(rng: Rng, n: Int): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val len = 4 + rng.int(6)
      val w = new String(Array.fill(len)(('a' + rng.int(26)).toChar))
      if (!reserved(w)) seen += w
    }
    seen.toArray
  }

  /** A document that passes the default quality gate: 30-60 tokens,
    * every fifth an English function word (ratio 0.2, far above the
    * 0.05 floor), none repeated often enough to trip the 0.12 top-word
    * fraction. */
  private def goodDoc(rng: Rng, vocab: Array[String]): Array[String] = {
    val len = 30 + rng.int(31)
    val maxRepeat = len / 10
    val seen = mutable.HashMap.empty[String, Int]
    Array.tabulate(len) { i =>
      if (i % 5 == 0) {
        var f = english(rng.int(english.length))
        while (seen.getOrElse(f, 0) >= maxRepeat) f = english(rng.int(english.length))
        seen(f) = seen.getOrElse(f, 0) + 1
        f
      } else vocab(rng.int(vocab.length))
    }
  }

  /** 1-2 word edits (replace, insert or delete) at random positions. */
  private def edit(rng: Rng, doc: Array[String], vocab: Array[String]): Array[String] = {
    val b = doc.toBuffer
    (0 until 1 + rng.int(2)).foreach { _ =>
      val p = rng.int(b.length)
      rng.int(3) match {
        case 0 => b(p) = vocab(rng.int(vocab.length))
        case 1 => b.insert(p, vocab(rng.int(vocab.length)))
        case _ => if (b.length > 30) b.remove(p) else b(p) = vocab(rng.int(vocab.length))
      }
    }
    b.toArray
  }

  private def lowQualityDoc(rng: Rng, vocab: Array[String]): Array[String] =
    rng.int(3) match {
      case 0 => // too short
        Array.fill(5 + rng.int(10))(vocab(rng.int(vocab.length)))
      case 1 => // repetitive: every third word is the same one
        val w = vocab(rng.int(vocab.length))
        Array.tabulate(30 + rng.int(30)) { i =>
          if (i % 3 == 0) w
          else if (i % 5 == 1) english(rng.int(english.length))
          else vocab(rng.int(vocab.length))
        }
      case _ => // not English: every fourth word a German function word
        Array.tabulate(30 + rng.int(30)) { i =>
          if (i % 4 == 0) german(rng.int(german.length))
          else vocab(rng.int(vocab.length))
        }
    }

  /** Writes `<dir>/docs` (doc_id, text) and `<dir>/truth`; returns the
    * truth. Shares: about 5% planted exact copies, 15% near-dup group
    * members (original included), 10% low quality, the rest unique. */
  def generate(dir: Path, seed: Long, n: Int): TextTruth = {
    val rng = new Rng(seed * 7919L + 3)
    val vocab = vocabulary(rng, 20000)
    val texts = new Array[String](n)
    val kind = new Array[Byte](n)
    val group = Array.fill(n)(-1)
    var i = 0
    while (i < n) {
      val u = rng.uniform()
      if (u < 0.05 && i > 0) {
        // exact copy of an earlier good document
        var src = rng.int(i)
        while (kind(src) == LowQuality) src = rng.int(i)
        val orig = if (group(src) >= 0) group(src) else src
        texts(i) = texts(src)
        kind(i) = ExactCopy
        group(i) = orig
        if (group(src) < 0) group(src) = src
        i += 1
      } else if (u < 0.10 && i < n - 1) {
        val q = rng.uniform()
        if (q < 0.6) {
          // a near-dup group: an original and 1-3 edited variants
          val base = goodDoc(rng, vocab)
          val size = math.min(n - i, 2 + rng.int(3))
          (0 until size).foreach { j =>
            texts(i + j) = (if (j == 0) base else edit(rng, base, vocab)).mkString(" ")
            kind(i + j) = NearDup
            group(i + j) = i
          }
          i += size
        } else {
          texts(i) = lowQualityDoc(rng, vocab).mkString(" ")
          kind(i) = LowQuality
          i += 1
        }
      } else if (u < 0.16) {
        texts(i) = lowQualityDoc(rng, vocab).mkString(" ")
        kind(i) = LowQuality
        i += 1
      } else {
        texts(i) = goodDoc(rng, vocab).mkString(" ")
        kind(i) = Unique
        i += 1
      }
    }
    Parquet.write(dir.resolve("docs"),
      "message doc { required int64 doc_id; required binary text (UTF8); }", n) { (g, j) =>
      g.add("doc_id", j.toLong)
      g.add("text", texts(j))
    }
    Parquet.write(dir.resolve("truth"),
      "message truth { required int64 doc_id; required int32 kind; required int32 grp; }", n) {
      (g, j) =>
        g.add("doc_id", j.toLong)
        g.add("kind", kind(j).toInt)
        g.add("grp", group(j))
    }
    TextTruth(kind, group)
  }
}

// ---- vector_serve ---------------------------------------------------------

/** Corpus and held-out query vectors, kept in memory for the exact
  * top-k the benchmark computes itself. Query ids start at
  * [[VectorInputs.QueryIdBase]] so they never collide with corpus ids. */
final case class VectorData(corpus: Array[Array[Float]], queries: Array[Array[Float]])

object VectorInputs {
  val Dim = 64
  val Clusters = 64
  val QueryIdBase = 1000000000L

  private def draw(rng: Rng, centers: Array[Array[Double]]): Array[Float] = {
    val c = centers(rng.int(centers.length))
    Array.tabulate(Dim)(d => (c(d) + 0.35 * rng.gauss()).toFloat)
  }

  private val schema =
    "message vec { required int64 id; required group embedding (LIST) " +
      "{ repeated group list { required float element; } } }"

  private def writeVectors(dir: Path, vs: Array[Array[Float]], idBase: Long): Unit =
    Parquet.write(dir, schema, vs.length) { (g, i) =>
      g.add(0, idBase + i)
      val e = g.addGroup(1)
      vs(i).foreach(x => e.addGroup(0).add(0, x))
    }

  /** Writes `<dir>/corpus` and `<dir>/queries`; returns both in memory. */
  def generate(dir: Path, seed: Long, n: Int, nQueries: Int): VectorData = {
    val rng = new Rng(seed * 104729L + 11)
    val centers = Array.fill(Clusters, Dim)(rng.gauss())
    val corpus = Array.fill(n)(draw(rng, centers))
    val queries = Array.fill(nQueries)(draw(rng, centers))
    writeVectors(dir.resolve("corpus"), corpus, 0L)
    writeVectors(dir.resolve("queries"), queries, QueryIdBase)
    VectorData(corpus, queries)
  }
}
