package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Manifest ingest: npm `package.json`-shaped documents → property
  * graph entity/edge DataFrames.
  *
  * Re-expresses the reference's ETL surface Spark-first (reference:
  * src/GitHubMinerHelper.ts fetch/persist of package.json +
  * src/InsertDataHelper.ts / src/Neo4jClient.ts graph upserts):
  *  - explicit schema (no sampling-based inference pass — one scan at
  *    100 TB, not two);
  *  - dependency maps exploded into typed edge rows
  *    (DEPENDS_ON / DEV_DEPENDS_ON / PEER_DEPENDS_ON);
  *  - idempotent "upsert" semantics via dropDuplicates on natural
  *    keys (replaces the reference's Redis seen-set + Neo4j MERGE).
  */
object PackageJsonSource {

  val manifestSchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("version", StringType),
    StructField("owner", StringType),
    StructField("repo_url", StringType),
    StructField("stargazers_count", LongType),
    StructField("forks_count", LongType),
    StructField("dependencies", MapType(StringType, StringType)),
    StructField("devDependencies", MapType(StringType, StringType)),
    StructField("peerDependencies", MapType(StringType, StringType)),
  ))

  /** Read a directory/file of JSON-lines manifests with the explicit
    * schema (works unchanged on a 100 TB manifest dump). */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(manifestSchema).json(path)

  /** Lenient read: malformed JSON lines (the reference's miner hits
    * these constantly on real package.json dumps —
    * GitHubMinerHelper.ts catch blocks) are captured in a
    * `_corrupt_record` column instead of poisoning the scan.
    * Returns the good rows with the manifest schema and the corrupt
    * raw lines, so the pipeline can quarantine rejects to a side
    * output. The scan is cached: callers that run repeatedly in one
    * session (q159 under Bench) must call [[LenientRead.release]]
    * once done, or each invocation leaks a cache entry for the
    * session lifetime. */
  final case class LenientRead(good: DataFrame, bad: DataFrame,
      private val raw: DataFrame) {
    def release(): Unit = raw.unpersist()
  }

  def readLenientManaged(spark: SparkSession, path: String): LenientRead = {
    val schema = manifestSchema.add("_corrupt_record", StringType)
    val raw = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .cache() // corrupt-record column must not be filtered in isolation
    val good = raw.filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record")
    val bad = raw.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw"))
    LenientRead(good, bad, raw)
  }

  case class GraphEntities(users: DataFrame, repos: DataFrame,
    modules: DataFrame, edges: DataFrame)

  /** Explode one dependency map into typed edge rows. */
  private def depEdges(m: DataFrame, column: String, edgeType: String): DataFrame =
    m.select(col("name").as("src_module"),
        explode_outer(col(column)).as(Seq("dst_module", "version_range")))
      .filter(col("dst_module").isNotNull)
      .withColumn("edge_type", lit(edgeType))

  /** Manifests → (users, repos, modules, typed edges), all exactly
    * deduplicated on natural keys. */
  def entities(manifests: DataFrame): GraphEntities = {
    val users = manifests.select(col("owner").as("login"))
      .filter(col("login").isNotNull).dropDuplicates("login")
    val repos = manifests
      .select(col("name"), col("owner"), col("repo_url"),
        col("stargazers_count"), col("forks_count"))
      .dropDuplicates("name")
    val declared = manifests.select(col("name"), col("version"))
    val edges = Seq(
        depEdges(manifests, "dependencies", "DEPENDS_ON"),
        depEdges(manifests, "devDependencies", "DEV_DEPENDS_ON"),
        depEdges(manifests, "peerDependencies", "PEER_DEPENDS_ON"))
      .reduce(_.union(_))
      .dropDuplicates("src_module", "dst_module", "edge_type")
    // module universe = declared manifests ∪ referenced dep targets
    val modules = declared
      .unionByName(edges.select(col("dst_module").as("name"))
        .withColumn("version", lit(null).cast("string")), allowMissingColumns = false)
      .groupBy("name").agg(max("version").as("version"))
    GraphEntities(users, repos, modules, edges)
  }

  /** Module dependency graph view of [[entities]] with stable long
    * node ids (xxhash64 of the module name — id assignment needs no
    * global ordering pass, so it works on a 100 TB manifest dump), in
    * the (nodes, edges) shape the graph.Algorithms operators consume —
    * the reference's end-to-end flow (miner ETL → Neo4j graph →
    * Cypher analytics) as ingest → DataFrames → iterative algorithms. */
  def moduleGraph(e: GraphEntities): (DataFrame, DataFrame) = {
    // a manifest line with a missing name would otherwise become a
    // null-name node whose xxhash64 id is NON-null — Spark would count
    // it as a key while a SQL count(DISTINCT name) oracle silently
    // drops it. Exclude null names from the graph universe so both
    // engines audit the same relation.
    val nodes = e.modules.filter(col("name").isNotNull)
      .select(xxhash64(col("name")).as("node"), col("name"))
    val edges = e.edges
      .filter(col("src_module").isNotNull && col("dst_module").isNotNull)
      .select(
        xxhash64(col("src_module")).as("src"),
        xxhash64(col("dst_module")).as("dst"))
      .dropDuplicates("src", "dst")
    (nodes, edges)
  }

  /** Repo-committed JSON-lines manifest fixture mirroring the
    * reference's examples/example-package.json shape — the ingest
    * query's input is the FORMAT, not a scale factor, so the query
    * (like its DuckDB oracle) reads this fixed path and ignores the
    * sf dir the driver passes. */
  val FixturePath: String = graft.Tables.fixture("manifests.jsonl")

  /** q154: the reference's defining capability end-to-end — manifest
    * JSON → typed dependency edges → per-module typed in-degree
    * (reference: InsertDataHelper.ts:1-116 ingest + the queries.md
    * "most depended-on" Cypher family). Duplicate manifest lines
    * collapse via the natural-key dedup in [[entities]], which is the
    * idempotent-upsert contract under test. */
  def q154ManifestIngest(spark: SparkSession, dir: String): DataFrame = {
    val e = entities(read(spark, FixturePath))
    e.edges
      .groupBy(col("dst_module").as("module"), col("edge_type"))
      .agg(count(lit(1)).as("n_in"))
      .orderBy("module", "edge_type")
  }

  /** q157: the teardown sequence oracle-checked — drop the
    * DEV_DEPENDS_ON edge type via [[cascadeDelete]] and report every
    * surviving module with its surviving in/out degree. `testlib`
    * (referenced ONLY by dropped dev edges, declared by no manifest)
    * must vanish; the declared modules survive with the dev edges
    * gone from their degrees. (reference: documentation/queries.md
    * 245-251 "delete relationships, then nodes") */
  def q157CascadeDelete(spark: SparkSession, dir: String): DataFrame = {
    val kept = cascadeDelete(entities(read(spark, FixturePath)),
      Set("DEV_DEPENDS_ON"))
    kept.modules
      .join(kept.edges.groupBy(col("src_module").as("name"))
        .agg(count(lit(1)).as("n_out")), Seq("name"), "left")
      .join(kept.edges.groupBy(col("dst_module").as("name"))
        .agg(count(lit(1)).as("n_in")), Seq("name"), "left")
      .select(col("name"), col("version"),
        coalesce(col("n_out"), lit(0L)).as("n_out"),
        coalesce(col("n_in"), lit(0L)).as("n_in"))
      .orderBy("name")
  }

  /** Fixture with deliberately malformed lines (2 of 5) for the
    * quarantine path. Valid lines always carry `name`, so "good" is
    * detectable on both engines (Spark: `_corrupt_record IS NULL`;
    * DuckDB: `ignore_errors=true` nulls every column of a malformed
    * line, so `name IS NOT NULL`). */
  val CorruptFixturePath: String = graft.Tables.fixture("corrupt_manifests.jsonl")

  /** q159: malformed-manifest quarantine oracle-checked — the
    * PERMISSIVE read splits the corrupt fixture into good/quarantined
    * and reports (n_good, stars_good, n_bad). stars_good pins that
    * good rows' FIELDS parsed correctly, not merely that the split
    * counted right; n_bad is total − good on the oracle side (DuckDB
    * has no corrupt-record column). (reference: the miner's
    * catch-blocks, GitHubMinerHelper.ts) */
  def q159Quarantine(spark: SparkSession, dir: String): DataFrame = {
    val r = readLenientManaged(spark, CorruptFixturePath)
    // Materialize the (1-row) summary eagerly so the cached scan can
    // be released per invocation instead of leaking for the session.
    val row = r.good.agg(count(lit(1)).as("n_good"),
        sum(col("stargazers_count")).as("stars_good"))
      .crossJoin(r.bad.agg(count(lit(1)).as("n_bad")))
      .collect().toSeq
    r.release()
    spark.createDataFrame(
      spark.sparkContext.parallelize(row, 1),
      StructType(Seq(
        StructField("n_good", LongType, nullable = false),
        StructField("stars_good", LongType),
        StructField("n_bad", LongType, nullable = false))))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q154_manifest_ingest" -> (q154ManifestIngest _),
    "q157_cascade_delete" -> (q157CascadeDelete _),
    "q159_quarantine" -> (q159Quarantine _),
  )

  val oracleSql: Map[String, String] = Map(
    "q154_manifest_ingest" ->
      s"""WITH man AS (
         |  SELECT * FROM read_json('$FixturePath',
         |    format='newline_delimited',
         |    columns={name: 'VARCHAR', dependencies: 'MAP(VARCHAR,VARCHAR)',
         |             devDependencies: 'MAP(VARCHAR,VARCHAR)',
         |             peerDependencies: 'MAP(VARCHAR,VARCHAR)'})),
         |e AS (
         |  SELECT name AS src, unnest(map_keys(dependencies)) AS dst,
         |         'DEPENDS_ON' AS edge_type FROM man
         |  UNION ALL
         |  SELECT name, unnest(map_keys(devDependencies)),
         |         'DEV_DEPENDS_ON' FROM man
         |  UNION ALL
         |  SELECT name, unnest(map_keys(peerDependencies)),
         |         'PEER_DEPENDS_ON' FROM man),
         |d AS (SELECT DISTINCT src, dst, edge_type FROM e)
         |SELECT dst AS module, edge_type, CAST(count(*) AS BIGINT) AS n_in
         |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q157_cascade_delete" ->
      s"""WITH man AS (
         |  SELECT * FROM read_json('$FixturePath',
         |    format='newline_delimited',
         |    columns={name: 'VARCHAR', version: 'VARCHAR',
         |             dependencies: 'MAP(VARCHAR,VARCHAR)',
         |             devDependencies: 'MAP(VARCHAR,VARCHAR)',
         |             peerDependencies: 'MAP(VARCHAR,VARCHAR)'})),
         |e0 AS (
         |  SELECT name AS src, unnest(map_keys(dependencies)) AS dst,
         |         'DEPENDS_ON' AS edge_type FROM man
         |  UNION ALL
         |  SELECT name, unnest(map_keys(devDependencies)),
         |         'DEV_DEPENDS_ON' FROM man
         |  UNION ALL
         |  SELECT name, unnest(map_keys(peerDependencies)),
         |         'PEER_DEPENDS_ON' FROM man),
         |ed AS (SELECT DISTINCT src, dst, edge_type FROM e0),
         |mods AS (
         |  SELECT name, max(version) AS version FROM (
         |    SELECT name, version FROM man
         |    UNION ALL SELECT dst, CAST(NULL AS VARCHAR) FROM ed) t
         |  GROUP BY 1),
         |kept_e AS (SELECT * FROM ed WHERE edge_type <> 'DEV_DEPENDS_ON'),
         |kept_m AS (
         |  SELECT m.name, m.version FROM mods m
         |  WHERE m.version IS NOT NULL
         |     OR m.name IN (SELECT src FROM kept_e
         |                   UNION SELECT dst FROM kept_e)),
         |outd AS (SELECT src AS name, CAST(count(*) AS BIGINT) AS n_out
         |         FROM kept_e GROUP BY 1),
         |ind AS (SELECT dst AS name, CAST(count(*) AS BIGINT) AS n_in
         |        FROM kept_e GROUP BY 1)
         |SELECT k.name, k.version,
         |       CAST(coalesce(o.n_out, 0) AS BIGINT) AS n_out,
         |       CAST(coalesce(i.n_in, 0) AS BIGINT) AS n_in
         |FROM kept_m k
         |LEFT JOIN outd o ON o.name = k.name
         |LEFT JOIN ind i ON i.name = k.name
         |ORDER BY 1""".stripMargin,
    "q159_quarantine" ->
      s"""WITH g AS (
         |  SELECT * FROM read_json('$CorruptFixturePath',
         |    format='newline_delimited', ignore_errors=true,
         |    columns={name: 'VARCHAR', stargazers_count: 'BIGINT'})
         |  WHERE name IS NOT NULL),
         |t AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_lines
         |  FROM read_csv('$CorruptFixturePath',
         |    sep=chr(1), quote='', header=false,
         |    columns={'line': 'VARCHAR'}))
         |SELECT CAST(count(*) AS BIGINT) AS n_good,
         |       CAST(sum(stargazers_count) AS BIGINT) AS stars_good,
         |       CAST((SELECT n_lines FROM t) - count(*) AS BIGINT) AS n_bad
         |FROM g""".stripMargin,
  )

  /** The reference's teardown sequence — "delete relationships, then
    * nodes" (documentation/queries.md:245-251) — as pure functional
    * anti-joins: edges of the dropped types disappear first, then any
    * module that is neither declared by a manifest nor referenced by a
    * surviving edge. Nothing mutates in place; persist the survivors
    * with [[ParquetSink.writeIdempotent]] and the rewrite converges on
    * rerun, which is the lake form of Neo4j's transactional DELETE.
    * Both steps are semi/anti joins on natural keys — shuffle-safe at
    * manifest-dump scale, no driver-side entity lists. */
  def cascadeDelete(e: GraphEntities, dropTypes: Set[String]): GraphEntities = {
    val keptEdges = e.edges
      .filter(!col("edge_type").isin(dropTypes.toSeq: _*))
    val referenced = keptEdges.select(col("src_module").as("name"))
      .union(keptEdges.select(col("dst_module").as("name")))
    val declared = e.modules.filter(col("version").isNotNull).select("name")
    val keptModules = e.modules.join(
      referenced.union(declared).distinct(), Seq("name"), "left_semi")
    e.copy(modules = keptModules, edges = keptEdges)
  }
}
