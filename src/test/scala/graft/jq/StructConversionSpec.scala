package graft.jq

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.json._

/** The STRUCT converter sorts a struct's field order once and builds its
  * object directly; it must give what the last-wins `JObj.fromProps`
  * fold over the declared order gives, on nested structs with repeated
  * names, null fields and arrays of structs. The names include a
  * supplementary character and one above the surrogates, whose UTF-16
  * order and code-point order differ. */
class StructConversionSpec extends AnyFunSuite {

  private def forAllN[A](gen: Gen[A], n: Int = 300)(f: A => Unit): Unit = {
    val seed0 = org.scalacheck.rng.Seed(0x57bc7L)
    Iterator.iterate(seed0)(_.next).take(n).foreach { seed =>
      gen.apply(Gen.Parameters.default, seed).foreach(f)
    }
  }

  private val names = Vector("a", "b", "B", "", "aa", "é", "😀", "～")

  private def genType(depth: Int): Gen[DataType] =
    if (depth <= 0) Gen.oneOf(LongType, StringType, DoubleType, BooleanType)
    else Gen.frequency(
      4 -> genType(0),
      1 -> genStruct(depth - 1),
      1 -> genStruct(depth - 1).map(ArrayType(_, containsNull = true)),
      1 -> genType(depth - 1).map(ArrayType(_, containsNull = true)))

  private def genStruct(depth: Int): Gen[StructType] = for {
    n <- Gen.choose(0, 6)
    fields <- Gen.listOfN(n, Gen.zip(Gen.oneOf(names), genType(depth)))
  } yield StructType(fields.map { case (name, dt) => StructField(name, dt, nullable = true) })

  private def genValue(dt: DataType): Gen[Any] = dt match {
    case LongType    => Gen.choose(Long.MinValue, Long.MaxValue)
    case DoubleType  => Gen.choose(-1e6, 1e6)
    case BooleanType => Gen.oneOf(true, false)
    case StringType  => Gen.oneOf(names).map(UTF8String.fromString)
    case st: StructType =>
      Gen.sequence[List[Any], Any](st.fields.toList.map(f => orNull(f.dataType)))
        .map(vs => new GenericInternalRow(vs.toArray): Any)
    case ArrayType(et, _) =>
      Gen.choose(0, 3).flatMap(n => Gen.listOfN(n, orNull(et)))
        .map(vs => new GenericArrayData(vs.toArray): Any)
    case other => throw new IllegalArgumentException(other.toString)
  }

  private def orNull(dt: DataType): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 4 -> genValue(dt))

  /** The converter as it was: fields in declared order through the
    * last-wins `fromProps` fold. */
  private def viaFromProps(dt: DataType, v: Any): JDoc = dt match {
    case LongType    => JLong(v.asInstanceOf[Long])
    case DoubleType  => JDouble(v.asInstanceOf[Double])
    case BooleanType => JBool(v.asInstanceOf[Boolean])
    case StringType  => JStr(v.toString)
    case st: StructType =>
      val row = v.asInstanceOf[InternalRow]
      JObj.fromProps(st.fields.indices.filterNot(row.isNullAt).map { i =>
        st.fields(i).name -> viaFromProps(st.fields(i).dataType, row.get(i, st.fields(i).dataType))
      })
    case ArrayType(et, _) =>
      val arr = v.asInstanceOf[ArrayData]
      JArr((0 until arr.numElements()).map(i =>
        if (arr.isNullAt(i)) JNull else viaFromProps(et, arr.get(i, et))).toVector)
    case other => throw new IllegalArgumentException(other.toString)
  }

  test("property: presorted STRUCT conversion equals the fromProps fold") {
    var repeated = 0
    forAllN(genStruct(3).flatMap(st => genValue(st).map(st -> _))) { case (st, row) =>
      val got = JqInput.converter(st)(row)
      val want = viaFromProps(st, row)
      assert(got == want, s"$st\n got  $got\n want $want")
      if (st.fieldNames.distinct.length < st.fieldNames.length) repeated += 1
    }
    assert(repeated > 0, "the generator made no struct with a repeated name")
  }

  test("the order is JObj's code-point order, not UTF-16 order") {
    val st = StructType(Seq("～", "😀", "a").map(StructField(_, LongType)))
    val got = JqInput.converter(st)(new GenericInternalRow(Array[Any](1L, 2L, 3L)))
    assert(got == JObj(Vector("a" -> JLong(3L), "～" -> JLong(1L), "😀" -> JLong(2L))))
  }

  test("arrays longer than one 32-element Vector leaf keep every element in order") {
    val at = ArrayType(LongType, containsNull = true)
    val values = Array.tabulate[Any](70)(i => if (i % 9 == 4) null else i.toLong)
    val got = JqInput.converter(at)(new GenericArrayData(values))
    assert(got == viaFromProps(at, new GenericArrayData(values)))
  }
}
