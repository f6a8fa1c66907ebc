package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Testdata / IO helpers shared by queries, Verify and Bench. */
object Tables {

  /** Read one driver-generated parquet table from an sf directory.
    *
    * `events.parquet` stores `ts` as nanosecond timestamps, which Spark's
    * parquet reader rejects; `nanosAsLong` surfaces them as long nanos and
    * we rebuild a microsecond timestamp (floor division — same truncation
    * pandas applies when normalizing to datetime64[us]).
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    df.schema.fields.find(f =>
        f.name == "ts" && f.dataType == org.apache.spark.sql.types.LongType)
      .fold(df)(_ => df.withColumn("ts",
        // cast to NTZ (identity under the required UTC session timezone) so
        // the column round-trips to parquet like the other testdata tables
        // integer `div`, not `/`: ns-since-epoch exceeds 2^53, double
        // division would round the microsecond
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz")))
  }

  /** Cheap non-dense row id that still respects partition-major order.
    * Preferred where ids only need to be *ordered*, not dense (join order
    * contracts, keep=first/last dedup). Stays inside codegen.
    */
  def withMonotonicId(df: DataFrame, idCol: String): DataFrame =
    df.withColumn(idCol, monotonically_increasing_id())
}
