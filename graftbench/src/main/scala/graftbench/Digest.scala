package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.types._

/** The result of consuming one frame: row count, an order-independent
  * checksum over every output column, the number of rows a check
  * flagged, and the size of the frame's optimized plan. */
final case class Digest(rows: Long, checksum: Long, flagged: Long, optimizedNodes: Int)

/** Consumes frames so that no output column can be pruned away.
  *
  * A bare `count()` lets the optimizer drop every computed column: the
  * optimized plan of `Minerals.endMembers(Grt, ...).count()` is
  * `Aggregate count(1) <- Project <- Relation`, with no garnet arithmetic
  * at all. Here a frame is consumed like a `noop`-format write: its
  * executed plan produces every output row in full, and one pass over
  * those rows hashes every column and applies the frame's check. The
  * executed plan is checked to output every column of the frame before
  * it runs. */
object Digest {

  /** Operator and expression nodes of a logical plan. */
  def treeNodes(p: LogicalPlan): Int =
    p.collect { case n => 1 + exprNodes(n.expressions) }.sum

  private def exprNodes(es: Seq[Expression]): Int =
    es.map(e => e.collect { case x => x }.size).sum

  private def fmix(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33
    h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33
    h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  private def arrayHash(a: org.apache.spark.sql.catalyst.util.ArrayData, t: DataType): Long = {
    var h = a.numElements().toLong
    var j = 0
    while (j < a.numElements()) {
      val v =
        if (a.isNullAt(j)) 0x5bd1e995L
        else t match {
          case DoubleType => java.lang.Double.doubleToLongBits(a.getDouble(j))
          case FloatType => java.lang.Float.floatToIntBits(a.getFloat(j)).toLong
          case LongType => a.getLong(j)
          case IntegerType => a.getInt(j).toLong
          case _ => a.get(j, t).hashCode.toLong
        }
      h = h * 31 + v
      j += 1
    }
    h
  }

  /** Hash of one row over every field; arrays hash every element. */
  def rowHash(row: InternalRow, schema: StructType): Long = {
    var h = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < schema.length) {
      val v =
        if (row.isNullAt(i)) 0x5bd1e995L
        else schema(i).dataType match {
          case DoubleType => java.lang.Double.doubleToLongBits(row.getDouble(i))
          case FloatType => java.lang.Float.floatToIntBits(row.getFloat(i)).toLong
          case LongType => row.getLong(i)
          case IntegerType => row.getInt(i).toLong
          case StringType => row.getUTF8String(i).hashCode.toLong
          case ArrayType(et, _) => arrayHash(row.getArray(i), et)
          case t => row.get(i, t).hashCode.toLong
        }
      h = fmix(h ^ v) + i
      i += 1
    }
    fmix(h)
  }

  /** Plans (inside `plan`) and executes (inside `exec`) the full
    * materialization of `df`. `flag` sees every output row and returns
    * true for rows that fail the frame's check. */
  def run(df: DataFrame, plan: (=> SparkPlan) => SparkPlan,
      exec: (=> Array[(Long, Long, Long)]) => Array[(Long, Long, Long)],
      flag: StructType => InternalRow => Boolean = _ => _ => false): Digest = {
    val qe = df.queryExecution
    val executed = plan(qe.executedPlan)
    val out = executed.output.map(_.name)
    require(out == df.columns.toSeq,
      s"executed plan outputs ${out.mkString(",")}, frame has ${df.columns.mkString(",")}")
    val schema = df.schema
    val check = flag(schema)
    val parts = exec(SQLExecution.withNewExecutionId(qe, Some("graftbench digest")) {
      qe.toRdd.mapPartitions { it =>
        var n = 0L
        var h = 0L
        var bad = 0L
        it.foreach { r =>
          n += 1
          h ^= rowHash(r, schema)
          if (check(r)) bad += 1
        }
        Iterator((n, h, bad))
      }.collect()
    })
    Digest(parts.map(_._1).sum, parts.foldLeft(0L)(_ ^ _._2), parts.map(_._3).sum,
      treeNodes(qe.optimizedPlan))
  }
}
