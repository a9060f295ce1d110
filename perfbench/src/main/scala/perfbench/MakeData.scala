package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.apache.spark.sql.types.TimestampType

import graft.tools.MakeScaleData

/** The benchmark's input tables: graft's own corpus generator
  * (`graft.tools.MakeScaleData`) at multiplier 1, which has the
  * character of the sf0.1 test tables, cut down by `Shrink`.
  *
  * Every row of `MakeScaleData` is drawn independently from its row id,
  * so keeping the first 1/`Shrink` of each table's ids keeps every
  * distribution: document lengths, words and the 1 % planted
  * near-duplicates (each sits right after its source document), basket
  * sizes, part names, dates, event types and values. Foreign keys drawn
  * uniformly over a cut table's full id range (`l_partkey`,
  * `l_suppkey`, `o_custkey`, `user_id`) are folded into the kept range
  * modulo its size, which keeps them uniform and keeps the rows per
  * part, per customer and per user as at multiplier 1. The fixed-size
  * `nation` and `region` tables are kept whole. Timestamps are written
  * as TIMESTAMP_NTZ, the physical type of the test tables.
  *
  * Each table is written as one parquet file, `<out>/<name>.parquet`.
  *
  * Usage: MakeData OUT_DIR CORES
  */
object MakeData {

  /** The tables are 1/Shrink of `MakeScaleData`'s multiplier 1. */
  val Shrink = 5

  /** Row-id range of each cut table at multiplier 1, and the foreign
    * keys it holds with the range they are drawn over. */
  private val Cuts: Seq[(String, String, Long, Seq[(String, Long)])] = Seq(
    ("documents", "doc_id", 5000L, Nil),
    ("part", "p_partkey", 20000L, Nil),
    ("supplier", "s_suppkey", 2000L, Nil),
    ("customer", "c_custkey", 15000L, Nil),
    ("orders", "o_orderkey", 150000L, Seq("o_custkey" -> 15000L)),
    ("lineitem", "l_orderkey", 150000L,
      Seq("l_partkey" -> 20000L, "l_suppkey" -> 2000L)),
    ("embeddings", "vec_id", 2000L, Nil),
    ("events", "event_id", 100000L, Seq("user_id" -> 1500L)))

  private val Whole = Seq("nation", "region")

  def main(args: Array[String]): Unit = {
    val Array(out, cores) = args
    val full = new File(out, "full").getPath
    MakeScaleData.main(Array(full, "1"))
    val spark = SparkSession.builder()
      .appName("perfbench-data").master(s"local[$cores]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def read(name: String) = spark.read.parquet(s"$full/$name.parquet")
    for ((name, key, n, folds) <- Cuts) {
      val kept = read(name).filter(col(key) < n / Shrink)
      write(folds.foldLeft(kept) { case (df, (c, m)) =>
        df.withColumn(c, pmod(col(c), lit(m / Shrink)))
      }, out, name)
    }
    for (name <- Whole) write(read(name), out, name)
    spark.stop()
    deleteTree(new File(full))
  }

  private def write(df: DataFrame, out: String, name: String): Unit = {
    val ntz = df.schema.fields.filter(_.dataType == TimestampType)
      .foldLeft(df)((d, f) => d.withColumn(f.name, col(f.name).cast("timestamp_ntz")))
    val dir = new File(out, s".$name.tmp")
    ntz.coalesce(1).write.mode("overwrite").parquet(dir.getPath)
    val Array(part) = dir.listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    val file = new File(out, s"$name.parquet")
    Files.move(part.toPath, file.toPath, StandardCopyOption.REPLACE_EXISTING)
    deleteTree(dir)
    println(s"wrote $name: ${df.sparkSession.read.parquet(file.getPath).count()} rows")
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
