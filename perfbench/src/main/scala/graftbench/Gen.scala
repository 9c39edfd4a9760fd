package graftbench

import java.time.{LocalDateTime, ZoneOffset}
import java.util.SplittableRandom
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Rows of the `events` table for the river's micro-batches, in the
  * encoding perfbench/gen.py writes the seed tables in: `ts` is
  * TIMESTAMP_NTZ (INT64 micros, not UTC-adjusted). */
object Gen {

  private val eventTypes: Array[String] = Array("click", "view", "purchase", "signup", "error")

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def ntz(us: Long): LocalDateTime =
    LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000L).toInt, ZoneOffset.UTC)

  /** An events row: exponential `value` rounded to cents, as in the data. */
  def eventRow(r: SplittableRandom, id: Long, tsUs: Long, users: Long): Row =
    Row(id, ntz(tsUs), r.nextLong(users), eventTypes(r.nextInt(eventTypes.length)),
      math.max(0.01, Math.round(-50.0 * math.log(1.0 - r.nextDouble()) * 100.0) / 100.0),
      s"""{"k": ${r.nextInt(100)}}""")
}
