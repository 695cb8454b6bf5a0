package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** F12 + S6/S7 time machinery.
  *
  * Timezone policy (SURVEY §1.2): session TZ stays UTC; the reference's
  * US/Central ([[CentralTz]]) applies only at the edges, where
  * `Main.resolveTimestamp` reads an explicit collection date as Central
  * wall-clock — matching main.py:31-35.
  */
object TimeFns {
  val CentralTz = "America/Chicago"

  /** S6/S7: hourly time index between two timestamps inclusive —
    * the weather frame's datetime index (weather_client.py:132-150),
    * built with sequence+explode instead of a driver loop. */
  def hourlyIndex(spark: SparkSession, start: String, end: String): DataFrame =
    spark.range(1).select(
      explode(sequence(
        lit(start).cast("timestamp"),
        lit(end).cast("timestamp"),
        expr("interval 1 hour"))).as("hour_ts"))
}
