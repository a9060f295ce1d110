package graft

import scala.collection.concurrent.TrieMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Every operator takes its inputs from here so the whole library is
  * parameterized by the scale-factor directory. All reads are plain
  * parquet scans — filters/projections applied downstream reach the
  * scan via Catalyst pushdown (verified in specs via explain).
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = Tables.parquet(spark, s"$dir/$name.parquet")

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")
  /** Events with a derived `ts_us` epoch-microsecond column. The
    * driver has shipped `ts` under two physical parquet types across
    * rounds — TIMESTAMP(NANOS) (readable only as raw BIGINT nanos via
    * the legacy conf) and timestamp[us] (read as TIMESTAMP_NTZ) — so
    * dispatch on the type Spark actually resolved rather than
    * hard-wiring either. Both branches match DuckDB's `epoch_us(ts)`:
    * ns→µs is integer truncation, and the NTZ branch relies on the
    * UTC session timezone set by [[Tables.configure]]. */
  def events: DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val df = t("events")
    val tsUs = df.schema("ts").dataType match {
      case LongType => expr("ts div 1000")
      case TimestampNTZType | TimestampType =>
        // NTZ → epoch-µs consults the session timezone; anything but
        // UTC silently shifts every ts_us, so fail loudly here rather
        // than hash-mismatch downstream (entry points set UTC via
        // [[Tables.configure]]).
        require(
          spark.conf.get("spark.sql.session.timeZone") == "UTC",
          "events.ts is timestamp-typed: the epoch-µs conversion requires " +
            "spark.sql.session.timeZone=UTC (call Tables.configure on the builder)")
        expr("unix_micros(cast(ts as timestamp))")
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported type $other (expected BIGINT nanos or timestamp)")
    }
    df.withColumn("ts_us", tsUs)
  }
  def documents: DataFrame  = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  /** Session prerequisite for [[Tables.events]] when the parquet is
    * TIMESTAMP(NANOS): map it to BIGINT nanos instead of failing the
    * µs conversion. Harmless when the data is already µs. */
  val NanosConf = "spark.sql.legacy.parquet.nanosAsLong"

  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, TrieMap[(String, Long, String), StructType]]())

  /** The parquet table at `path`, read with its [[parquetSchema]], so
    * no schema-inference job runs per read. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(parquetSchema(spark, path)).parquet(path)

  /** The schema Spark infers for the parquet table at `path`, inferred
    * once per session. The memo is keyed on the qualified path, its
    * modification time (for a directory, the latest over it and its
    * files) and [[NanosConf]], so a table rewritten in place, or read
    * under the other nanos mapping, is inferred again. */
  def parquetSchema(spark: SparkSession, path: String): StructType = {
    def infer = spark.read.parquet(path).schema
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) infer // raises Spark's own missing-path error
    else {
      val st = fs.getFileStatus(p)
      val mtime = (if (st.isDirectory) st +: fs.listStatus(p).toSeq else Seq(st))
        .map(_.getModificationTime).max
      val key = (fs.makeQualified(p).toString, mtime, spark.conf.get(NanosConf, ""))
      schemas.computeIfAbsent(spark, _ => TrieMap.empty).getOrElseUpdate(key, infer)
    }
  }

  /** Resolve a committed fixture to an absolute path that is the SAME
    * for the Spark read and the interpolated DuckDB oracle: an
    * explicit `-Dgraft.fixtures.dir` wins; otherwise relative to the
    * process cwd (sbt runs from the repo root), so checkouts at any
    * location work. */
  def fixture(name: String): String = {
    val dir = sys.props.getOrElse("graft.fixtures.dir", "src/test/resources")
    new java.io.File(dir, name).getAbsolutePath
  }

  /** Apply session-level settings every entry point (Verify, Bench,
    * test sessions) must set before reading the event table. UTC
    * session timezone makes the TIMESTAMP_NTZ → epoch-µs conversion
    * in [[Tables.events]] match DuckDB's `epoch_us`. */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config(NanosConf, "true")
      .config("spark.sql.session.timeZone", "UTC")

  /** The session of the command-line entry points (Verify, Bench,
    * tools/ScalingSweep): `local[cpus]` with `cpus` from
    * `SPARK_GRAFT_CPUS`, else `defaultCpus`; one shuffle partition per
    * core; no UI; [[configure]]'s settings; WARN logging. */
  def localSession(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
