package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  private val sizes = Sizes(perFamily = 500, bulkRows = 300, docs = 400,
    vectors = 300, queries = 8)

  /** Every file under `dir` with its bytes, in path order. */
  private def contents(dir: Path): Seq[(String, Seq[Byte])] =
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq)
      .sortBy(_._1)

  private def withDir[T](f: Path => T): T = {
    val dir = Files.createTempDirectory("graftbench-inputs")
    try f(dir)
    finally Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  private def generated(workload: String, seed: Long): Seq[(String, Seq[Byte])] =
    withDir { dir =>
      Workload(workload, sizes).generate(dir, seed)
      contents(dir)
    }

  Workload.all.foreach { w =>
    test(s"$w: the same seed writes byte-identical inputs") {
      val a = generated(w, 7)
      assert(a.nonEmpty)
      assert(a == generated(w, 7))
    }

    test(s"$w: another seed writes other inputs") {
      assert(generated(w, 7).map(_._2) != generated(w, 8).map(_._2))
    }
  }

  test("planted duplicates, near-dup groups and low-quality documents all occur") {
    val truth = withDir(TextInputs.generate(_, 3, 2000))
    val kinds = truth.kind.groupBy(identity).map { case (k, v) => k -> v.length }
    Seq(TextInputs.Unique, TextInputs.ExactCopy, TextInputs.NearDup, TextInputs.LowQuality)
      .foreach(k => assert(kinds.getOrElse(k, 0) > 0, s"no documents of kind $k"))
  }
}
