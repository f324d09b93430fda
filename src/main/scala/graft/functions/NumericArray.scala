package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Reads a numeric array's elements as doubles, for [[FloatDot]] and the
  * two hyperplane kernels ([[HyperplaneBuckets64]], [[HyperplaneBands]]).
  *
  * Every numeric element type is widened with its own accessor, in the
  * eval path and in generated code alike (r16 ADVICE: a
  * float-else-getDouble shortcut misread 4-byte int slots and
  * ClassCastException'd on decimals). The widening is the composed
  * form's and DuckDB's, so a fold over these doubles is bit-identical
  * to theirs.
  */
object NumericArray {
  /** The element type of an array of numbers, or None. */
  def elemOf(dt: DataType): Option[DataType] = dt match {
    case ArrayType(t: NumericType, _) => Some(t)
    case _ => None
  }

  def get(t: DataType, arr: ArrayData, i: Int): Double = t match {
    case FloatType => arr.getFloat(i).toDouble
    case DoubleType => arr.getDouble(i)
    case IntegerType => arr.getInt(i).toDouble
    case LongType => arr.getLong(i).toDouble
    case ShortType => arr.getShort(i).toDouble
    case ByteType => arr.getByte(i).toDouble
    case d: DecimalType => arr.getDecimal(i, d.precision, d.scale).toDouble
    case other => sys.error(s"unsupported element type $other")
  }

  /** Java source reading element `i` of `arr` as a double. */
  def accessor(t: DataType, arr: String, i: String): String = t match {
    case FloatType => s"(double)$arr.getFloat($i)"
    case DoubleType => s"$arr.getDouble($i)"
    case IntegerType => s"(double)$arr.getInt($i)"
    case LongType => s"(double)$arr.getLong($i)"
    case ShortType => s"(double)$arr.getShort($i)"
    case ByteType => s"(double)$arr.getByte($i)"
    case d: DecimalType =>
      s"$arr.getDecimal($i, ${d.precision}, ${d.scale}).toDouble()"
    case other => sys.error(s"unsupported element type $other")
  }

  /** The hyperplane kernels' input: the first ≤ 64 elements, widened. */
  def first64(t: DataType, arr: ArrayData): Array[Double] = {
    val v = new Array[Double](math.min(arr.numElements(), 64))
    var i = 0
    while (i < v.length) { v(i) = get(t, arr, i); i += 1 }
    v
  }

  /** Generated-code twin of [[first64]]: (code declaring a `double[]`,
    * its variable name). */
  def first64Code(ctx: CodegenContext, t: DataType, arr: String): (String, String) = {
    val i = ctx.freshName("i")
    val v = ctx.freshName("v")
    (s"""
        |double[] $v = new double[java.lang.Math.min($arr.numElements(), 64)];
        |for (int $i = 0; $i < $v.length; $i++) {
        |  $v[$i] = ${accessor(t, arr, i)};
        |}
      """.stripMargin, v)
  }
}
