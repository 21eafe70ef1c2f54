package graft

import graft.readers.Resolve
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

package object queries {
  /** A named query: builds a DataFrame from a testdata directory. */
  type QFn = (SparkSession, String) => DataFrame

  /** Load one testdata table (TESTDATA.md layout: `<dir>/<name>.parquet`).
    *
    * The `events.ts` column has varied across driver regenerations and
    * must always surface as plain TIMESTAMP (the proven-green
    * configuration for every query and oracle):
    *  - TIMESTAMP(NANOS) era: not a Spark SQL type — read as
    *    nanos-since-epoch Long (legacy conf) and convert with integral
    *    division (a double division would lose precision above 2^53 ns);
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) era: reads as
    *    TIMESTAMP_NTZ, which `unix_millis`/`unix_micros` REJECT — cast
    *    to TIMESTAMP. With the UTC session zone the naive value is the
    *    same instant DuckDB's `epoch_ms(ts)` sees, so oracles agree.
    *
    * Loads through [[graft.readers.Resolve.load]], whose schema memo keys
    * on the session conf, so the nanosAsLong setting is part of the key.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = Resolve.load(spark, "parquet", s"$dir/$name.parquet")
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType)         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                      => df
    }
  }
}
