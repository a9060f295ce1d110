package graft

import java.nio.file.Files
import java.sql.Timestamp

/** Guards Tables.events against physical-schema drift in the driver's
  * testdata: `ts` has shipped both as TIMESTAMP(NANOS) (read as raw
  * BIGINT nanos under the legacy conf) and as timestamp[us] (read as
  * TIMESTAMP_NTZ). The loader must yield the identical `ts_us` epoch
  * microseconds for either physical layout, so a future regeneration
  * fails THIS named test instead of silently erroring 23 queries.
  */
class TablesSchemaDriftSpec extends SparkSpec {
  // epoch micros covering pre/post-1970 and sub-second precision
  private val micros = Seq(0L, 1700000000123456L, -86400000001L, 999999L)

  private def fixture(writeAs: String): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-events-drift").toString
    val df = writeAs match {
      case "bigint-nanos" =>
        micros.zipWithIndex
          .map { case (us, i) => (i.toLong, us * 1000L, s"e$i") }
          .toDF("user_id", "ts", "event_type")
      case "timestamp-us" =>
        micros.zipWithIndex
          .map { case (us, i) =>
            (i.toLong, new Timestamp(Math.floorDiv(us, 1000000L) * 1000L), us, s"e$i")
          }
          .toDF("user_id", "ts0", "us", "event_type")
          .selectExpr("user_id",
            "timestamp_micros(us) as ts", // TimestampType (LTZ), µs precision
            "event_type")
    }
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("events ts_us identical for BIGINT-nanos and timestamp-µs physical schemas") {
    val a = Tables(spark, fixture("bigint-nanos")).events
      .selectExpr("user_id", "ts_us").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Tables(spark, fixture("timestamp-us")).events
      .selectExpr("user_id", "ts_us").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == micros.zipWithIndex.map { case (us, i) => i.toLong -> us }.toMap)
    assert(b == a)
  }

  test("a table rewritten in place with a new schema is read with the new schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tables-rewrite").toString
    val path = s"$dir/region.parquet"
    Seq((1L, "a")).toDF("r_regionkey", "r_name").write.parquet(path)
    assert(Tables(spark, dir).region.columns.toSeq == Seq("r_regionkey", "r_name"))
    // inferred once: the second read answers from the session's memo
    assert(Tables.parquetSchema(spark, path) eq Tables.parquetSchema(spark, path))
    Seq((2L, "b", "c")).toDF("r_regionkey", "r_name", "r_comment")
      .write.mode("overwrite").parquet(path)
    val region = Tables(spark, dir).region
    assert(region.columns.toSeq == Seq("r_regionkey", "r_name", "r_comment"))
    assert(region.as[(Long, String, String)].collect().toSeq == Seq((2L, "b", "c")))
  }

  test("testdata schema contract: every column the operators consume exists") {
    // the columns the query surface reads, per table — if a driver
    // regeneration renames/drops one, THIS test names the break
    // instead of scattering analysis errors across dozens of queries
    val contract = Map(
      "region" -> Seq("r_regionkey", "r_name"),
      "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
      "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment"),
      "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice"),
      "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey",
        "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
      "events" -> Seq("event_id", "ts", "user_id", "event_type", "value",
        "props"),
      "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
      "embeddings" -> Seq("vec_id", "embedding", "label"))
    val t = Tables(spark, sfDir())
    val tables = Map(
      "region" -> t.region, "nation" -> t.nation, "customer" -> t.customer,
      "supplier" -> t.supplier, "part" -> t.part, "orders" -> t.orders,
      "lineitem" -> t.lineitem, "events" -> t.events,
      "documents" -> t.documents, "embeddings" -> t.embeddings)
    for ((name, cols) <- contract; missing = cols.filterNot(tables(name).columns.contains))
      assert(missing.isEmpty, s"$name lost columns: ${missing.mkString(", ")}")
    // temporal columns must stay timestamp-comparable: the date-literal
    // predicates (cast to timestamp) coerce from either DATE or
    // TIMESTAMP*, but a move to raw epoch INTEGERS would not analyze
    val temporal = Seq("orders" -> "o_orderdate", "lineitem" -> "l_shipdate")
    for ((tab, c) <- temporal) {
      val dt = tables(tab).schema(c).dataType.typeName
      assert(dt.startsWith("timestamp") || dt == "date",
        s"$tab.$c is $dt — date-literal predicates will stop analyzing")
    }
  }

  test("documents/embeddings physical types stay operator-compatible") {
    // the text/similarity operator families depend on TYPE SEMANTICS,
    // not just column presence: a regeneration that ships doc_id as
    // string, embedding as list<double>, or label widened would change
    // hash behavior (md5 of a cast) or float math silently — pin the
    // type classes here so drift fails one named test (the events-ts
    // lesson applied to the other driver-regenerated tables)
    import org.apache.spark.sql.types._
    val t = Tables(spark, sfDir())
    val doc = t.documents.schema
    def integral(dt: DataType): Boolean = dt match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    assert(integral(doc("doc_id").dataType),
      s"doc_id is ${doc("doc_id").dataType} — md5/xxhash keys change on a cast")
    assert(doc("text").dataType == StringType)
    assert(integral(doc("n_chars").dataType))
    val emb = t.embeddings.schema
    assert(integral(emb("vec_id").dataType))
    emb("embedding").dataType match {
      case ArrayType(FloatType, _) => () // the contract every operator assumes
      case other => fail(s"embedding is $other — dot-product float math " +
        "and the int8-quantization scale assume array<float>")
    }
    assert(integral(emb("label").dataType))
  }

  test("events ts_us works on the driver's current sf0.001 fixture") {
    val e = Tables(spark, sfDir()).events
    // analysis must succeed and yield plausible epoch-µs magnitudes
    val row = e.selectExpr("min(ts_us) as lo", "max(ts_us) as hi", "count(*) as n").collect()(0)
    assert(row.getLong(2) > 0)
    assert(row.getLong(0) > 1000000000000000L, "ts_us should be epoch microseconds")
  }
}
