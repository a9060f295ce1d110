package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  test("cutOnce is a no-op on an already-cut frame, a cut otherwise") {
    val df = (1L to 100L).toDF("x").filter(col("x") % 2 === 0)
    val once = Checkpoints.cutOnce(df)
    // a live plan gets cut: the result's root is a checkpointed RDD
    assert(once.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    // cutting the cut frame again returns the SAME frame — no second
    // materialization of an identical relation (ADVICE r12, the
    // q244/fingerprintPairs double-cut)
    assert(Checkpoints.cutOnce(once) eq once)
    assert(once.count() == 50)
  }

  test("cutOnce still cuts a non-checkpoint LogicalRDD (RDD lineage replays)") {
    // a createDataFrame/zipWithIndex frame has a LogicalRDD root but
    // NO materialized blocks — skipping its cut would re-execute the
    // RDD lineage once per consumer
    val viaRdd = Ordinals.dense((1L to 10L).toDF("x"), Seq("x"), "rk")
    val cut = Checkpoints.cutOnce(viaRdd)
    assert(cut ne viaRdd)
    assert(cut.count() == 10)
  }

  private def stats(df: DataFrame) = df.queryExecution.analyzed.stats

  /** `body` with every cut taking the reliable `checkpoint` path. */
  private def reliably[T](body: => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(Checkpoints.ConfKey, dir)
    try body finally spark.conf.unset(Checkpoints.ConfKey)
  }

  test("a cut's measured rowCount equals count() on both cut paths, empty frames included") {
    val frames = Seq(
      (1L to 100L).toDF("x").filter(col("x") % 3 === 0),
      (1L to 100L).toDF("x").filter(col("x") < 0),
      spark.range(0).toDF("x"),
      (1L to 1000L).toDF("x").groupBy((col("x") % 7).as("k")).count())
    // each frame is cut twice: every cut reads its own observation
    for (path <- Seq("local", "reliable"); df <- frames; _ <- 1 to 2) {
      val c = if (path == "local") Checkpoints.cut(df) else reliably(Checkpoints.cut(df))
      assert(stats(c).rowCount.contains(BigInt(df.count())), s"$path: ${df.count()} rows")
      assert(Checkpoints.rowCount(c) == c.count())
      Checkpoints.release(c)
    }
  }

  test("cut(df, where) counts the matching rows in the cut's own job") {
    val df = (1L to 100L).toDF("x").withColumn("y", when(col("x") > 90, lit(null)).otherwise(col("x")))
    for (path <- Seq("local", "reliable")) {
      val (c, n) =
        if (path == "local") Checkpoints.cut(df, col("y") % 2 === 0)
        else reliably(Checkpoints.cut(df, col("y") % 2 === 0))
      // a null predicate counts as no match, as in filter
      assert(n == df.filter(col("y") % 2 === 0).count(), path)
      assert(Checkpoints.rowCount(c) == 100)
      Checkpoints.release(c)
    }
  }

  test("a cut's sizeInBytes is measured: string bytes observed, fixed widths counted") {
    val long = (1 to 50).map(i => (i.toLong, "é" * 5000 + i)).toDF("id", "s")
    val realBytes = long.agg(sum(octet_length(col("s")))).first().getLong(0)
    val c = Checkpoints.cut(long)
    assert(realBytes > 50L * 10000)
    assert(stats(c).sizeInBytes >= realBytes, s"${stats(c).sizeInBytes} < $realBytes")
    // the plan's own estimate (20 B per string) would be far below
    assert(stats(c).sizeInBytes < 2 * realBytes)
    val ints = Checkpoints.cut((1L to 10L).toDF("x").withColumn("b", lit(true)))
    assert(stats(ints).sizeInBytes == 10 * (8 + 8 + 1))
    // a nested column keeps the planner's size estimate, not the row count
    val nested = Checkpoints.cut((1L to 7L).toDF("x").withColumn("a", array(col("x"))))
    assert(stats(nested).rowCount.contains(BigInt(7)))
    Checkpoints.release(c, ints, nested)
  }

  test("cutOnce, release and loop liveness see the re-rooted cut as a cut root") {
    val c = Checkpoints.cut((1L to 10L).toDF("x"))
    val rdd = c.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd
      case other => fail(s"cut root is ${other.nodeName}")
    }
    assert(rdd.isCheckpointed)
    assert(Checkpoints.cutOnce(c) eq c)
    // the re-rooted frame and any frame derived from it read the same
    // RDD, which is what Superstep's liveness keys on
    val derived = c.select((col("x") + 1).as("x"))
    assert(derived.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id } ==
      Seq(rdd.id))
    assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    assert(derived.agg(sum("x")).first().getLong(0) == 65)
    Checkpoints.release(c)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
  }
}
