package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A property-graph target: node rows and relation (edge) rows
  * declared like any other target state and reconciled with the same
  * ΔI/ΔU/ΔD machinery — the reference's neo4j/falkordb target shape
  * (`declare_record` / `declare_relation`,
  * python/cocoindex/connectors/neo4j/_target.py:1241,1324), stored as
  * two bucketed parquet tables (a MERGE per key is exactly what the
  * Cypher generators emit).
  *
  * Row convention (one desired-state relation feeds both tables):
  *   - `row_key` prefixed `n:` → node: (row_key, label, props…)
  *   - `row_key` prefixed `e:` → edge: (row_key, src, dst, rel_type,
  *     props…)
  * The prefix routes deletes without needing payload columns.
  */
final case class GraphTarget(
    nodesDir: String, edgesDir: String, numBuckets: Int = 16) extends Target {

  private val nodes = ParquetTableTarget(nodesDir, numBuckets)
  private val edges = ParquetTableTarget(edgesDir, numBuckets)

  override def containerSignature: String =
    s"graph;${nodes.containerSignature};${edges.containerSignature}"

  override def truncate(spark: SparkSession): Unit = {
    nodes.truncate(spark); edges.truncate(spark)
  }

  def apply(spark: SparkSession, upserts: DataFrame,
      deleteKeys: DataFrame): TargetStats = {
    def isNode(c: org.apache.spark.sql.Column) = c.startsWith("n:")
    val nodeCols = upserts.columns.filterNot(c => c == "src" || c == "dst" ||
      c == "rel_type")
    val edgeCols = upserts.columns.filterNot(_ == "label")
    val sn = nodes.apply(spark,
      upserts.filter(isNode(col("row_key"))).select(nodeCols.map(col).toSeq: _*),
      deleteKeys.filter(isNode(col("row_key"))))
    val se = edges.apply(spark,
      upserts.filter(!isNode(col("row_key"))).select(edgeCols.map(col).toSeq: _*),
      deleteKeys.filter(!isNode(col("row_key"))))
    TargetStats(sn.upserted + se.upserted, sn.deleted + se.deleted)
  }

  def read(spark: SparkSession): DataFrame =
    readNodes(spark).unionByName(readEdges(spark), allowMissingColumns = true)

  def readNodes(spark: SparkSession): DataFrame = nodes.read(spark)
  def readEdges(spark: SparkSession): DataFrame = edges.read(spark)
}
