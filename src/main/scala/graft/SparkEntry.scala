package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{AsofJoin, Association, BloomJoin, EntityResolution, EventOps, JsonOps, Layout, Olap, Profile, RangeJoin, Relational, SetSimJoin, SkewJoin, Skyline, TypedEdges}
import graft.graph.{Algorithms, Centrality, CoPurchase, Cores, GraphAudit, Louvain, Node2Vec, NodeEmbeddings, RandomWalks, StarContraction}
import graft.text.{Classify, CorpusOps, EditOps, PolicyOps, SourceOps, SpanOps, SuffixArray, TermOps, TextOps}
import graft.sim.{KMeans, Prod2Vec, Similarity}
import graft.streaming.StreamOps

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  * Each `queries` entry is one first-class operator; `oracleSql` holds
  * its DuckDB-runnable ANSI mirror (hash-compared by the driver).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q05DegreeCentrality(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each runs in
    * its own [[Checkpoints.scoped]] body: when it returns, every cut it
    * made that the answer does not read is freed, and the rest live
    * until the caller's scope ends or [[Checkpoints.releaseAll]]. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (Relational.queries ++ TypedEdges.queries ++ AsofJoin.queries ++
      RangeJoin.queries ++ JsonOps.queries ++ EventOps.queries ++
      Profile.queries ++ Olap.queries ++ Layout.queries ++
      SkewJoin.queries ++
      Association.queries ++
      SetSimJoin.queries ++ Skyline.queries ++ BloomJoin.queries ++
      EntityResolution.queries ++
      graft.multimodal.Multimodal.queries ++
      graft.multimodal.ImageNearDup.queries ++
      graft.multimodal.VideoNearDup.queries ++
      graft.multimodal.AudioNearDup.queries ++
      graft.multimodal.Audio.queries ++
      graft.multimodal.Video.queries ++
      graft.sources.PackageJsonSource.queries ++
      graft.sources.ParquetSink.queries ++
      Algorithms.queries ++ Centrality.queries ++ Cores.queries ++
      CoPurchase.queries ++ Louvain.queries ++ RandomWalks.queries ++
      GraphAudit.queries ++ StarContraction.queries ++
      NodeEmbeddings.queries ++ Node2Vec.queries ++
      TextOps.queries ++
      CorpusOps.queries ++ PolicyOps.queries ++ SpanOps.queries ++
      SourceOps.queries ++ EditOps.queries ++ SuffixArray.queries ++
      Classify.queries ++ TermOps.queries ++
      Similarity.queries ++ KMeans.queries ++ Prod2Vec.queries ++
      StreamOps.queries).map { case (name, q) =>
        name -> ((spark: SparkSession, dir: String) => Checkpoints.scoped(q(spark, dir)))
      }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracleSql ++ TypedEdges.oracleSql ++ AsofJoin.oracleSql ++
      RangeJoin.oracleSql ++ JsonOps.oracleSql ++ EventOps.oracleSql ++
      Profile.oracleSql ++ Olap.oracleSql ++ Layout.oracleSql ++
      SkewJoin.oracleSql ++
      Association.oracleSql ++
      SetSimJoin.oracleSql ++ Skyline.oracleSql ++ BloomJoin.oracleSql ++
      EntityResolution.oracleSql ++
      graft.multimodal.Multimodal.oracleSql ++
      graft.multimodal.ImageNearDup.oracleSql ++
      graft.multimodal.VideoNearDup.oracleSql ++
      graft.multimodal.AudioNearDup.oracleSql ++
      graft.multimodal.Audio.oracleSql ++
      graft.multimodal.Video.oracleSql ++
      graft.sources.PackageJsonSource.oracleSql ++
      graft.sources.ParquetSink.oracleSql ++
      Algorithms.oracleSql ++ Centrality.oracleSql ++ Cores.oracleSql ++
      CoPurchase.oracleSql ++ Louvain.oracleSql ++ RandomWalks.oracleSql ++
      GraphAudit.oracleSql ++ StarContraction.oracleSql ++
      NodeEmbeddings.oracleSql ++ Node2Vec.oracleSql ++
      TextOps.oracleSql ++
      CorpusOps.oracleSql ++ PolicyOps.oracleSql ++ SpanOps.oracleSql ++
      SourceOps.oracleSql ++ EditOps.oracleSql ++ SuffixArray.oracleSql ++
      Classify.oracleSql ++ TermOps.oracleSql ++
      Similarity.oracleSql ++ KMeans.oracleSql ++ Prod2Vec.oracleSql ++ StreamOps.oracleSql
}
