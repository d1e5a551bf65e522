package graft.functions

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types.{ArrayType, FloatType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Request-scale kernels on the driver with Spark's own semantics: a
  * column expression over float-vector inputs, analyzed once and
  * evaluated without a job, and Spark's sort order and `max` on
  * collected values. A driver-side score or rank built from these
  * equals what the plan form computes, nulls and ties included. */
object DriverEval {

  /** `e` over the `array<float>` input columns `inputs`, analyzed once
    * by `spark` (so `vec_cosine`, `round`, casts and their null rules
    * are Spark's own expressions) and evaluated in-process:
    * `apply(v1, v2, …)` returns the value Spark computes for that row,
    * boxed, with null as null. A null array is a null input. */
  final class VectorExpr(spark: SparkSession, inputs: Seq[String], e: Column) {
    private val bound: Expression = {
      val schema = StructType(inputs.map(StructField(_, ArrayType(FloatType))))
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
        .select(e.as("__v")).queryExecution.analyzed match {
        case Project(Seq(out), child) =>
          BindReferences.bindReference(out: Expression, child.output)
      }
    }

    def apply(vs: Array[Float]*): Any = bound.eval(InternalRow.fromSeq(
      vs.map(v => if (v == null) null else UnsafeArrayData.fromPrimitiveArray(v))))
  }

  /** Whether (score a, id a) sorts before (score b, id b) under Spark's
    * `desc(score), asc(id)`: score descending with nulls last, then id
    * ascending with nulls first. */
  def before(scoreA: Any, idA: Any, scoreB: Any, idB: Any): Boolean = {
    val c = sqlCompare(scoreB, scoreA)
    if (c != 0) c < 0 else sqlCompare(idA, idB) < 0
  }

  /** Spark's ascending sort order on one collected value, nulls first:
    * strings by their UTF-8 bytes, doubles with -0.0 = 0.0 and NaN
    * largest, other ids by their natural order — so a driver-side rank
    * equals a window's row_number. */
  def sqlCompare(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: String, y: String) =>
      UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
    case (x: Double, y: Double) => SQLOrderingUtil.compareDoubles(x, y)
    case (x: Comparable[_], y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
  }

  /** Spark's `max` aggregate over two values: nulls are skipped. */
  def max(a: Any, b: Any): Any =
    if (a == null) b else if (b == null || sqlCompare(a, b) >= 0) a else b
}
