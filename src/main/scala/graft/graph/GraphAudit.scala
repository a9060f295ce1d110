package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Md5Prefix

/** G1 — property-graph CONSTRUCTION, audited directly. Every other
  * graph query consumes [[TradeGraph]] / the manifest module graph
  * and so exercises construction indirectly; this operator makes the
  * constructed relations themselves the oracled output: one row per
  * graph relation with its cardinality, key distinctness, and an
  * ORDER-FREE content fingerprint, SQL-mirrored in DuckDB from the
  * same base tables / fixture. (Reference lineage: the miner's graph
  * build, src/InsertDataHelper.ts + src/Neo4jClient.ts — nodes and
  * typed relationships created from manifests; here the same
  * construction is DataFrames, and this is its acceptance test.)
  *
  * The fingerprint is Σ over rows of (md5-60bit of the row's
  * canonical string, mod 1e9+7) — commutative, so no engine-side
  * ordering is assumed, and any single changed/dropped/duplicated
  * row moves it. Hashed-id relations (the module graph's xxhash64
  * node ids — DuckDB cannot compute xxhash64) are audited
  * STRUCTURALLY: n_rows/n_keys count the hashed rows/ids on the
  * Spark side but NAMES on the oracle side, so an id collision or a
  * broken id↔name join shows up as a count/fingerprint mismatch —
  * which is exactly what an id-assignment audit should detect.
  *
  * Scale shape: each relation contributes ONE full-relation
  * aggregate (map-side partial, 1-row output) — no joins beyond the
  * module graph's id→name recovery (node-sized, AQE-broadcast at
  * dimension scale), nothing collected beyond the 6 summary rows. */
object GraphAudit {

  /** Fingerprint modulus: keeps Σ far from Long overflow (1e9 per
    * row → 9.2e9 rows before wrap — and wrap is harmless as long as
    * both engines wrapped identically, which BIGINT sums do not
    * guarantee, hence the modulus). */
  val FpMod = 1000000007L

  /** The 60-bit [[Md5Prefix]] integer of `s`, mod [[FpMod]] — the
    * per-row fingerprint term. */
  private def fpTerm(s: Column): Column =
    Md5Prefix(s, 1, 15).cast("long") % FpMod

  /** One audit row: (relation, n_rows, n_keys, fp). */
  private def auditRow(name: String, df: DataFrame, keys: Seq[Column],
      canon: Column): DataFrame =
    df.agg(count(lit(1)).cast("long").as("n_rows"),
        countDistinct(keys.head, keys.tail: _*).as("n_keys"),
        sum(fpTerm(canon)).cast("long").as("fp"))
      .select(lit(name).as("relation"),
        col("n_rows"), col("n_keys"), col("fp"))

  /** q230: the six constructed graph relations — trade nodes/edges/
    * typed/undirected ([[TradeGraph]]) and the manifest module
    * graph's nodes/edges ([[graft.sources.PackageJsonSource
    * .moduleGraph]] over the committed fixture) — each as one
    * (n_rows, n_keys, fp) audit row. */
  def q230GraphConstructionAudit(spark: SparkSession,
      dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val nodes = TradeGraph.nodes(t)
    val edges = TradeGraph.edges(t)
    val typed = TradeGraph.typedEdges(t)
    val undir = TradeGraph.undirectedEdges(t)
    val e = graft.sources.PackageJsonSource.entities(
      graft.sources.PackageJsonSource.read(spark,
        graft.sources.PackageJsonSource.FixturePath))
    val (mNodes, mEdges) = graft.sources.PackageJsonSource.moduleGraph(e)
    val mEdgeNames = mEdges
      .join(mNodes.select(col("node").as("src"), col("name").as("sn")),
        Seq("src"))
      .join(mNodes.select(col("node").as("dst"), col("name").as("dn")),
        Seq("dst"))
    def s(c: Column): Column = c.cast("string")
    Seq(
      auditRow("module_edges", mEdgeNames,
        Seq(col("src"), col("dst")),
        concat(col("sn"), lit(":"), col("dn"))),
      auditRow("module_nodes", mNodes, Seq(col("node")), col("name")),
      auditRow("trade_edges", edges,
        Seq(col("src"), col("dst")),
        concat(s(col("src")), lit(":"), s(col("dst")), lit(":"),
          s(col("cnt")))),
      auditRow("trade_nodes", nodes, Seq(col("node")),
        concat(s(col("node")), lit(":"), col("n_name"))),
      auditRow("trade_typed", typed,
        Seq(col("src"), col("dst"), col("edge_type")),
        concat(s(col("src")), lit(":"), s(col("dst")), lit(":"),
          s(col("cnt")), lit(":"), col("edge_type"))),
      auditRow("trade_undirected", undir,
        Seq(col("src"), col("dst")),
        concat(s(col("src")), lit(":"), s(col("dst")))))
      .reduce(_.unionByName(_))
      .orderBy("relation")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q230_graph_construction_audit" -> (q230GraphConstructionAudit _),
  )

  /** The fingerprint term over a SQL string expression — DuckDB side
    * of [[fpTerm]]. */
  private def fpSql(s: String): String =
    s"(${Md5Prefix.hexToLongSql(s"md5($s)", 1, 15)} % $FpMod)"

  val oracleSql: Map[String, String] = Map(
    "q230_graph_construction_audit" -> {
      val fx = graft.sources.PackageJsonSource.FixturePath
      s"""WITH ${TradeGraph.sqlCte},
         |${TradeGraph.sqlTypedCte},
         |${TradeGraph.sqlUndirectedCte},
         |nodes AS (
         |  SELECT CAST(n_nationkey AS BIGINT) AS node, n_name
         |  FROM nation),
         |man AS (
         |  SELECT * FROM read_json('$fx',
         |    format='newline_delimited',
         |    columns={name: 'VARCHAR', version: 'VARCHAR',
         |             dependencies: 'MAP(VARCHAR,VARCHAR)',
         |             devDependencies: 'MAP(VARCHAR,VARCHAR)',
         |             peerDependencies: 'MAP(VARCHAR,VARCHAR)'})),
         |e0 AS (
         |  SELECT name AS src, unnest(map_keys(dependencies)) AS dst
         |  FROM man
         |  UNION ALL
         |  SELECT name, unnest(map_keys(devDependencies)) FROM man
         |  UNION ALL
         |  SELECT name, unnest(map_keys(peerDependencies)) FROM man),
         |medge AS (SELECT DISTINCT src, dst FROM e0
         |          WHERE src IS NOT NULL AND dst IS NOT NULL),
         |mods AS (
         |  -- node universe from e0, NOT medge: a dep target referenced
         |  -- only by a null-name manifest keeps its node (matching
         |  -- entities(), whose module set is built from ALL dep
         |  -- targets before moduleGraph drops the null-SRC edge) even
         |  -- though its edge is filtered above
         |  SELECT name FROM (
         |    SELECT name FROM man
         |    UNION SELECT dst FROM e0) t
         |  WHERE name IS NOT NULL)
         |SELECT 'module_edges' AS relation,
         |       CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(count(*) AS BIGINT) AS n_keys,
         |       CAST(sum(${fpSql("src || ':' || dst")}) AS BIGINT) AS fp
         |FROM medge
         |UNION ALL
         |SELECT 'module_nodes', CAST(count(*) AS BIGINT),
         |       CAST(count(DISTINCT name) AS BIGINT),
         |       CAST(sum(${fpSql("name")}) AS BIGINT)
         |FROM mods
         |UNION ALL
         |SELECT 'trade_edges', CAST(count(*) AS BIGINT),
         |       CAST(count(DISTINCT src || ':' || dst) AS BIGINT),
         |       CAST(sum(${fpSql(
               "CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)" +
               " || ':' || CAST(cnt AS VARCHAR)")}) AS BIGINT)
         |FROM trade
         |UNION ALL
         |SELECT 'trade_nodes', CAST(count(*) AS BIGINT),
         |       CAST(count(DISTINCT node) AS BIGINT),
         |       CAST(sum(${fpSql(
               "CAST(node AS VARCHAR) || ':' || n_name")}) AS BIGINT)
         |FROM nodes
         |UNION ALL
         |SELECT 'trade_typed', CAST(count(*) AS BIGINT),
         |       CAST(count(DISTINCT src || ':' || dst || ':' || edge_type)
         |            AS BIGINT),
         |       CAST(sum(${fpSql(
               "CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)" +
               " || ':' || CAST(cnt AS VARCHAR) || ':' || edge_type")})
         |            AS BIGINT)
         |FROM typed
         |UNION ALL
         |SELECT 'trade_undirected', CAST(count(*) AS BIGINT),
         |       CAST(count(DISTINCT src || ':' || dst) AS BIGINT),
         |       CAST(sum(${fpSql(
               "CAST(src AS VARCHAR) || ':' || CAST(dst AS VARCHAR)")})
         |            AS BIGINT)
         |FROM undirected
         |ORDER BY 1""".stripMargin
    },
  )
}
