package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One tick of one series. `ts` is epoch microseconds. */
final case class Tick(ts: Long, tickId: Long, price: Double, size: Long, version: Long)

/** Seeded tick generator. Every (seed, series, day) has its own stream,
  * so any slice of the data can be regenerated on its own to compute the
  * expected result of a read without Spark.
  */
object Ticks {
  val Columns: Seq[String] = Seq("sym", "ts", "tick_id", "price", "size", "version")
  val Schema: StructType = StructType(Seq(
    StructField("sym", StringType), StructField("ts", TimestampType),
    StructField("tick_id", LongType), StructField("price", DoubleType),
    StructField("size", LongType), StructField("version", LongType)))
  /** 2024-01-01T00:00:00Z */
  val Day0Micros = 1704067200000000L
  val DayMicros = 86400000000L
  /** Logical bytes of one row: the symbol's characters plus five 8-byte values. */
  def logicalBytes(sym: String): Long = sym.length + 40L

  def sym(i: Int): String = f"S$i%03d"
  def symIndex(s: String): Int = s.drop(1).toInt

  def rng(seed: Long, parts: Long*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(Checksum.mix(seed))((a, p) => Checksum.mix(a ^ p)))

  /** `n` ticks of series `s` on day `day`, strictly increasing in ts. */
  def day(seed: Long, s: Int, day: Int, n: Int): IndexedSeq[Tick] = {
    val r = rng(seed, s.toLong, day.toLong)
    val step = DayMicros / n
    var px = 50.0 + r.nextInt(100)
    (0 until n).map { i =>
      px = math.max(1.0, px + (r.nextDouble() - 0.5) * 0.2)
      Tick(Day0Micros + day * DayMicros + i * step + r.nextLong(step),
        (day.toLong * 1000 + s) * 100000L + i, math.rint(px * 10000) / 10000,
        1L + r.nextInt(100), 1L)
    }
  }

  def timestamp(micros: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(micros, 1000L))
    t.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    t
  }

  /** A SQL timestamp literal of `micros` in UTC, the session time zone. */
  def sqlTs(micros: Long): String =
    java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
      (Math.floorMod(micros, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC).toString.replace('T', ' ')

  def frame(spark: SparkSession, rows: Seq[(String, Tick)]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (s, t) =>
      Row(s, timestamp(t.ts), t.tickId, t.price, t.size, t.version)
    }: _*), Schema)

  /** Plain values of `cols` for one tick, in column-name order (the order
    * [[Checksum]] hashes a row in).
    */
  def values(cols: Seq[String], s: String, t: Tick): Seq[Any] =
    cols.sorted.map {
      case "sym" => s
      case "ts" => t.ts
      case "tick_id" => t.tickId
      case "price" => t.price
      case "size" => t.size
      case "version" => t.version
    }

  val BarMicros: Long = 30L * 60 * 1000000

  /** OHLC bars of one series' ticks, as [[SeriesRead]] asks Spark for them. */
  def bars(ticks: Seq[Tick]): Seq[Seq[Any]] =
    ticks.groupBy(t => Math.floorDiv(t.ts, BarMicros) * BarMicros).toSeq.map { case (bar, ts) =>
      val byTime = ts.sortBy(t => (t.ts, t.tickId))
      // column-name order: bar_ts, close, high, low, n, open, volume
      Seq[Any](bar, byTime.last.price, ts.map(_.price).max, ts.map(_.price).min,
        ts.size.toLong, byTime.head.price, ts.map(_.size).sum)
    }
}

/** Plain-Scala model of the live rows of a mutated store. */
final class StoreModel {
  val series = scala.collection.mutable.TreeMap[String, scala.collection.mutable.LongMap[Tick]]()
  /** Next unwritten day per series; appends take whole new days. */
  val nextDay = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)

  def put(s: String, t: Tick): Unit =
    series.getOrElseUpdate(s, scala.collection.mutable.LongMap[Tick]()).update(t.tickId, t)
  def rows(s: String): Iterator[Tick] = series.get(s).iterator.flatMap(_.valuesIterator)
  def removeWhere(s: String)(p: Tick => Boolean): Unit =
    series.get(s).foreach(m => m.filterInPlace { case (_, t) => !p(t) })
  def liveBytes: Long = series.iterator.map { case (s, m) => m.size * Ticks.logicalBytes(s) }.sum
  def checksum(s: String): Checksum.Sum =
    Checksum.ofPlainRows(rows(s).map(Ticks.values(Ticks.Columns, s, _)))
  def checksumAll: Checksum.Sum =
    Checksum.ofPlainRows(series.keysIterator.flatMap(s => rows(s).map(Ticks.values(Ticks.Columns, s, _))))
}
