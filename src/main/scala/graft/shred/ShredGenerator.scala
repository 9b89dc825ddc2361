package graft.shred

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Generator form of the shredder: emits triple rows directly from the
  * input row — no intermediate `array<struct>` materialization before
  * the explode (the cost of Shred.shred's expression form on wide
  * rows). Schema recursion happens once at construction; eval is a
  * straight walk appending to a reused buffer.
  *
  * child must be a struct of (entityId: string, row: struct<...>).
  *
  * `idFunctional`: evaluation-inert tag set by [[Shred.shredAttrsVerifiedAll]]
  * after PROVING (one exact count-distinct action at shred time) that
  * the explicit id column is duplicate-free, i.e. functionally
  * determines the document row. [[Shred.unshredSource]] surfaces it so
  * the regroup tier may license the fused row-local plan for key-id
  * shreds instead of the duplicate-id-safe per-entity product plan.
  */
case class ShredGenerator(child: Expression,
    idFunctional: Boolean = false)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("e", StringType), StructField("a", StringType),
    StructField("v", StringType), StructField("vt", StringType),
    StructField("vn", DoubleType)))

  @transient private lazy val rowSchema: StructType =
    child.dataType.asInstanceOf[StructType](1)
      .dataType.asInstanceOf[StructType]

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Nil
    val top = v.asInstanceOf[InternalRow]
    val e = top.getUTF8String(0)
    if (e == null) return Nil
    val row = top.getStruct(1, rowSchema.length)
    if (row == null) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    walk(e, row, rowSchema, out)
    out
  }

  // Cast's renderings for the types whose INTERNAL values don't print
  // as their SQL form: without these the generator emitted the raw
  // days-int / micros-long for dates/timestamps (diverging from the
  // expression form and Shred.canon, which use Cast) and the JVM
  // identity string for binary — NONDETERMINISTIC across evaluations,
  // so a stage retry could emit different triples for the same row.
  @transient private lazy val dateFormatter =
    org.apache.spark.sql.catalyst.util.DateFormatter()
  @transient private lazy val tsFormatter =
    org.apache.spark.sql.catalyst.util.TimestampFormatter
      .getFractionFormatter(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
          org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))

  private def canon(value: Any, dt: DataType): UTF8String = dt match {
    case DateType =>
      UTF8String.fromString(dateFormatter.format(value.asInstanceOf[Int]))
    case TimestampType =>
      UTF8String.fromString(tsFormatter.format(value.asInstanceOf[Long]))
    case BinaryType =>
      UTF8String.fromBytes(value.asInstanceOf[Array[Byte]])
    case DoubleType =>
      val d = value.asInstanceOf[Double]
      if (d == d.longValue.toDouble) UTF8String.fromString(d.longValue.toString)
      else UTF8String.fromString(d.toString)
    case FloatType =>
      val f = value.asInstanceOf[Float]
      if (f == f.longValue.toFloat) UTF8String.fromString(f.longValue.toString)
      else UTF8String.fromString(f.toString)
    case _: DecimalType =>
      // match the expression form: whole → integer string, otherwise
      // the scale-preserving decimal rendering ("12.50", not "12.5")
      val d = value.asInstanceOf[Decimal].toJavaBigDecimal
      if (d.remainder(java.math.BigDecimal.ONE)
          .compareTo(java.math.BigDecimal.ZERO) == 0)
        UTF8String.fromString(d.toBigInteger.toString)
      else UTF8String.fromString(d.toPlainString)
    case StringType => value.asInstanceOf[UTF8String].clone()
    case _ => UTF8String.fromString(value.toString)
  }

  private def typeName(dt: DataType): UTF8String = dt match {
    case _: NumericType => ShredGenerator.NUM
    case BooleanType => ShredGenerator.BOOL
    case _ => ShredGenerator.STR
  }

  private def numeric(value: Any, dt: DataType): Any = dt match {
    case _: NumericType => dt match {
      case DoubleType => value
      case FloatType => value.asInstanceOf[Float].toDouble
      case _: DecimalType => value.asInstanceOf[Decimal].toDouble
      case LongType => value.asInstanceOf[Long].toDouble
      case IntegerType => value.asInstanceOf[Int].toDouble
      case ShortType => value.asInstanceOf[Short].toDouble
      case ByteType => value.asInstanceOf[Byte].toDouble
      case _ => null
    }
    case _ => null
  }

  private def scalarTriple(e: UTF8String, name: UTF8String, value: Any,
      dt: DataType, out: scala.collection.mutable.ArrayBuffer[InternalRow])
      : Unit =
    out += InternalRow(e.copy(), name, canon(value, dt), typeName(dt),
      numeric(value, dt))

  private def refTriple(e: UTF8String, name: UTF8String,
      sub: UTF8String,
      out: scala.collection.mutable.ArrayBuffer[InternalRow]): Unit =
    out += InternalRow(e.copy(), name, sub.copy(), ShredGenerator.REF, null)

  private def walk(e: UTF8String, row: InternalRow, st: StructType,
      out: scala.collection.mutable.ArrayBuffer[InternalRow]): Unit = {
    var i = 0
    while (i < st.length) {
      val f = st(i)
      if (!row.isNullAt(i)) {
        val name = UTF8String.fromString(f.name)
        f.dataType match {
          case sub: StructType =>
            val subId = UTF8String.concat(e, ShredGenerator.SLASH, name)
            refTriple(e, name, subId, out)
            walk(subId, row.getStruct(i, sub.length), sub, out)
          case ArrayType(sub: StructType, _) =>
            val arr = row.getArray(i)
            var j = 0
            while (j < arr.numElements()) {
              if (!arr.isNullAt(j)) {
                val subId = UTF8String.concat(e, ShredGenerator.SLASH,
                  name, ShredGenerator.SLASH,
                  UTF8String.fromString(j.toString))
                refTriple(e, name, subId, out)
                walk(subId, arr.getStruct(j, sub.length), sub, out)
              }
              j += 1
            }
          case ArrayType(et, _) =>
            val arr = row.getArray(i)
            var j = 0
            while (j < arr.numElements()) {
              if (!arr.isNullAt(j))
                scalarTriple(e, name, arr.get(j, et), et, out)
              j += 1
            }
          case dt =>
            scalarTriple(e, name, row.get(i, dt), dt, out)
        }
      }
      i += 1
    }
  }

  override protected def withNewChildInternal(c: Expression)
      : ShredGenerator = copy(child = c)
}

object ShredGenerator {
  private val NUM = UTF8String.fromString("num")
  private val BOOL = UTF8String.fromString("bool")
  private val STR = UTF8String.fromString("str")
  private val REF = UTF8String.fromString("ref")
  private val SLASH = UTF8String.fromString("/")
}
