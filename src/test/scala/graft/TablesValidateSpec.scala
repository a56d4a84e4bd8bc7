package graft

import org.apache.spark.sql.functions.col

/** The schema tripwire itself: [[Tables.validate]] must accept every real
  * testdata generation (the loaders adapt to legitimate timestamp drift)
  * and reject shape drift LOUDLY — round 5 lost 28 queries to a silent
  * testdata regeneration that only surfaced as downstream analysis errors.
  */
class TablesValidateSpec extends SparkSpec {

  test("validate passes on all three real scale factors") {
    Seq("sf0.001", "sf0.01", "sf0.1").foreach { s =>
      Tables.validate(spark, s"/root/testdata/$s") // must not throw
    }
  }

  test("events loader adapts to both long-nanos and timestamp dtypes") {
    // current generation (TIMESTAMP_NTZ or TIMESTAMP) loads as TimestampType
    val ts = Tables.events(spark, sf).schema("ts").dataType
    assert(ts === org.apache.spark.sql.types.TimestampType, s"got $ts")

    // synthesize the OLD generation (raw ns-epoch longs) and load through
    // the same entry point: identical TimestampType surface, truncated not
    // rounded (integral microseconds)
    withTempDir("graft-evts") { dir =>
      import spark.implicits._
      Seq((1L, 1700000000123456789L)).toDF("event_id", "ts")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val old = Tables.events(spark, dir)
      assert(old.schema("ts").dataType === org.apache.spark.sql.types.TimestampType)
      val micros = old.select(org.apache.spark.sql.functions.unix_micros(col("ts")))
        .head.getLong(0)
      assert(micros === 1700000000123456L, s"expected ns/1000 truncation, got $micros")
    }
  }

  test("validate survives a TIMESTAMP(NANOS) generation on a fresh session") {
    // Round-6 advice: validate used to raw-load events BEFORE any
    // nanosAsLong conf was set, so on a nanos generation (one of the three
    // the events() docstring enumerates) the schema read threw and the
    // whole verify run aborted. The fixture is a real TIMESTAMP(NANOS)
    // parquet (pyarrow-written, logical-type NANOS, no arrow schema).
    withTempDir("graft-nanos") { dir =>
      Tables.names.filterNot(_ == "events").foreach { t =>
        Tables.load(spark, sf, t).write.parquet(s"$dir/$t.parquet")
      }
      java.nio.file.Files.copy(
        java.nio.file.Paths.get("src/test/resources/nanos_events/events.parquet"),
        java.nio.file.Paths.get(s"$dir/events.parquet"))
      spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong") // fresh-session state
      Tables.validate(spark, dir) // must not throw
      // and the adapted loader surface is usable end-to-end
      val micros = Tables.events(spark, dir)
        .select(org.apache.spark.sql.functions.unix_micros(col("ts")))
        .orderBy(col("ts")).head.getLong(0)
      assert(micros === 1700000000123456L, s"expected ns/1000 truncation, got $micros")
    }
  }

  test("non-time dtype drift warns but does not abort the run") {
    // The round-5 failure class (events.value DOUBLE→FLOAT): queries still
    // run, per-query gates localize the damage — validate must report it
    // loudly but NOT zero the whole verify run by throwing.
    withTempDir("graft-drift") { dir =>
      Tables.names.filterNot(_ == "events").foreach { t =>
        Tables.load(spark, sf, t).write.parquet(s"$dir/$t.parquet")
      }
      Tables.events(spark, sf)
        .withColumn("value", col("value").cast("float"))
        .write.parquet(s"$dir/events.parquet")
      Tables.validate(spark, dir) // must not throw
    }
  }

  test("validate rejects a tampered table shape with a one-line diagnosis") {
    withTempDir("graft-tamper") { dir =>
      // copy the real layout, then break one table's column set
      import spark.implicits._
      Tables.names.foreach { t =>
        Tables.load(spark, sf, t).write.parquet(s"$dir/$t.parquet")
      }
      spark.read.parquet(s"$dir/region.parquet")
        .withColumnRenamed("r_name", "region_name")
        .write.mode("overwrite").parquet(s"$dir/region.parquet.tmp")
      // overwrite via rename (cannot overwrite a path being read)
      val fs = new java.io.File(s"$dir/region.parquet")
      def delete(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(delete)); f.delete(); ()
      }
      delete(fs)
      new java.io.File(s"$dir/region.parquet.tmp").renameTo(fs)

      val e = intercept[IllegalArgumentException](Tables.validate(spark, dir))
      assert(e.getMessage.contains("region"), e.getMessage)
      assert(e.getMessage.contains("schema drift"), e.getMessage)
    }
  }
}
