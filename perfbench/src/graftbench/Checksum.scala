package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.CRC32

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Order-independent result checksum: (row count, sum of mixed row
  * hashes). `perfbench/oracle.py` computes the same function over DuckDB
  * results, and the tick generator over its own rows, so a Spark result
  * can be checked against either without moving rows to the driver.
  *
  * A value hashes by kind, not by SQL type, so an INT and a BIGINT
  * column with equal values agree: integers as themselves, doubles
  * rounded to 1e-6, strings by CRC32 and length, timestamps as epoch
  * microseconds, dates as the epoch microseconds of their midnight (UTC),
  * so a date and the midnight timestamp of the same day hash alike: one
  * engine may truncate a timestamp to a day as a DATE, the other as a
  * TIMESTAMP. Columns enter a row in name order.
  */
object Checksum {
  final case class Sum(rows: Long, hash: Long) {
    def +(o: Sum): Sum = Sum(rows + o.rows, hash + o.hash)
  }
  val Empty: Sum = Sum(0L, 0L)

  private val NullH = 0x6a09e667f3bcc909L

  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def hBool(v: Boolean): Long = if (v) 1L else 2L
  def hDouble(v: Double): Long =
    if (v.isNaN) 0x7ff8000000000001L
    else if (v.isInfinite) (if (v > 0) 0x7ff0000000000001L else 0xfff0000000000001L)
    else if (math.abs(v) < 1e12) math.floor(v * 1e6 + 0.5).toLong
    else math.floor(v + 0.5).toLong ^ 0x5555555555555555L
  def hBytes(b: Array[Byte]): Long = {
    val c = new CRC32(); c.update(b)
    c.getValue | (b.length.toLong << 32)
  }
  def hString(s: String): Long = hBytes(s.getBytes(UTF_8))
  def hSeq(hs: Iterator[Long]): Long = {
    var acc = 0x243f6a8885a308d3L
    var n = 0L
    hs.foreach { h => acc = mix(acc * 31 + h); n += 1 }
    mix(acc + n)
  }

  /** Row hash from per-column hashes already in column-name order. */
  def hRow(cols: Iterator[Long]): Long = {
    var acc = 0L
    var i = 0L
    cols.foreach { h => acc = mix(acc + h + i); i += 1 }
    mix(acc)
  }

  def hValue(v: Any, t: DataType): Long = if (v == null) NullH else t match {
    case BooleanType => hBool(v.asInstanceOf[Boolean])
    case ByteType => v.asInstanceOf[Byte].toLong
    case ShortType => v.asInstanceOf[Short].toLong
    case IntegerType => v.asInstanceOf[Int].toLong
    case DateType => v.asInstanceOf[Int] * 86400000000L
    case LongType | TimestampType | TimestampNTZType => v.asInstanceOf[Long]
    case FloatType => hDouble(v.asInstanceOf[Float].toDouble)
    case DoubleType => hDouble(v.asInstanceOf[Double])
    case _: DecimalType => hDouble(v.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble)
    case _: StringType => hBytes(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes)
    case BinaryType => hBytes(v.asInstanceOf[Array[Byte]])
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      hSeq(Iterator.range(0, a.numElements()).map(i =>
        if (a.isNullAt(i)) NullH else hValue(a.get(i, et), et)))
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      val (ks, vs) = (m.keyArray(), m.valueArray())
      Iterator.range(0, m.numElements()).map { i =>
        mix(hValue(ks.get(i, kt), kt) * 7 +
          (if (vs.isNullAt(i)) NullH else hValue(vs.get(i, vt), vt)))
      }.sum
    case st: StructType =>
      val r = v.asInstanceOf[InternalRow]
      hRow(st.fields.indices.sortBy(st.fields(_).name).iterator.map { i =>
        if (r.isNullAt(i)) NullH else hValue(r.get(i, st.fields(i).dataType), st.fields(i).dataType)
      })
    case other => throw new IllegalArgumentException(s"no checksum for type $other")
  }

  /** Plain-Scala values as produced by the tick generator and model. */
  def hPlain(v: Any): Long = v match {
    case null => NullH
    case l: Long => l
    case i: Int => i.toLong
    case d: Double => hDouble(d)
    case s: String => hString(s)
    case b: Boolean => hBool(b)
    case other => throw new IllegalArgumentException(s"no checksum for $other")
  }

  def ofPlainRows(rows: Iterator[Seq[Any]]): Sum = {
    var n = 0L
    var s = 0L
    rows.foreach { r => n += 1; s += mix(hRow(r.iterator.map(hPlain))) }
    Sum(n, s)
  }

  /** Executes `df` and checksums its output rows inside the tasks; this
    * is the action every timed read and query runs.
    */
  def of(df: DataFrame): Sum = {
    val fields = df.schema.fields
    val order = fields.indices.sortBy(fields(_).name).toArray
    val types = fields.map(_.dataType)
    df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var s = 0L
      it.foreach { r =>
        n += 1
        s += mix(hRow(order.iterator.map { i =>
          if (r.isNullAt(i)) NullH else hValue(r.get(i, types(i)), types(i))
        }))
      }
      Iterator.single(Sum(n, s))
    }.collect().foldLeft(Empty)(_ + _)
  }
}
