package graft

import org.apache.spark.sql.functions._
import graft.sources.ParquetSink

class ParquetSinkSpec extends SparkSpec {
  import spark.implicits._

  test("idempotent write: rerun converges, untouched partitions survive") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val modeBefore = spark.conf.getOption(ParquetSink.OverwriteModeKey)
    val v1 = Seq((1L, "en", "aa"), (2L, "en", "bb"), (3L, "de", "cc"))
      .toDF("id", "lang", "payload")
    ParquetSink.writeIdempotent(v1, dir, Seq("lang"))
    // rerun of the same job: no duplicate rows
    ParquetSink.writeIdempotent(v1, dir, Seq("lang"))
    assert(spark.read.parquet(dir).count() == 3)
    // partial backfill: only the 'en' partition is replaced
    val enFix = Seq((9L, "en", "zz")).toDF("id", "lang", "payload")
    ParquetSink.writeIdempotent(enFix, dir, Seq("lang"))
    val after = spark.read.parquet(dir)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("lang"))).toSet
    assert(after == Set((9L, "en"), (3L, "de")),
      "en rewritten, de untouched")
    // overwrite-mode conf is restored to its pre-call value
    assert(spark.conf.getOption(ParquetSink.OverwriteModeKey) == modeBefore)
  }

  test("bucketed tables join without an exchange") {
    val left = (1L to 200L).map(i => (i, s"l$i")).toDF("k", "lv")
    val right = (1L to 200L).map(i => (i, s"r$i")).toDF("k", "rv")
    // the bucketed + sorted table write q156 runs
    for ((df, table) <- Seq(left -> "bkt_left", right -> "bkt_right"))
      df.write.mode("overwrite").format("parquet")
        .bucketBy(4, "k").sortBy("k").saveAsTable(table)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
      assert(j.count() == 200)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS bkt_left")
      spark.sql("DROP TABLE IF EXISTS bkt_right")
    }
  }
}
