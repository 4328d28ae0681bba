package graft.engine

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** FalkorDB property-graph target: Cypher over the RESP wire
  * (`GRAPH.QUERY <graph> "CYPHER k=v … <statement>"`) — the
  * reference's falkordb connector
  * (python/cocoindex/connectors/falkordb/_target.py:1268-1558, record
  * applier :444-541):
  *
  *   - statements come from [[Cypher]] (the `_cypher` builders shared
  *     by the neo4j/falkordb connectors): `MERGE (n:\`L\` {pk:
  *     $key_0}) SET n += $props` node upserts, three-MERGE
  *     relationship upserts that never touch endpoint properties,
  *     `DETACH DELETE` node deletes;
  *   - params inline through the client's `CYPHER k=v` prefix
  *     ([[Cypher.paramsPrefix]]) — falkordb has no multi-statement
  *     transactions, so each action is one GRAPH.QUERY call,
  *     pipelined per batch over one [[RespClient]] per partition;
  *   - the reference's v0 apply ordering is preserved: node upserts →
  *     relation upserts → relation deletes → node deletes
  *     (_target.py:448-452 — avoids transiently-orphaned endpoints);
  *   - per-graph multitenancy = the `graph` key of every command.
  *
  * Row convention is [[GraphTarget]]'s (one desired-state relation
  * feeds nodes and edges): `row_key` prefixed `n:` → node with
  * `label` + props; `e:` → edge with `src`/`dst`/`rel_type` (and
  * optional `src_label`/`dst_label`) + props. Deletes carry only
  * `row_key`, so delete statements match label-free on the pk —
  * documented in [[Cypher.nodeDelete]].
  *
  * No FalkorDB server exists in the environment; specs run against
  * [[graft.fixtures.MiniFalkor]], a real RESP2 peer that executes
  * exactly the canonical statement shapes this generator emits.
  */
final case class FalkorGraphTarget(host: String, port: Int, graph: String,
    pkField: String = "id",
    nodeProps: Seq[(String, DataType)] = Nil,
    edgeProps: Seq[(String, DataType)] = Nil,
    writePartitions: Int = 4, batchSize: Int = 64) extends WireTarget {

  import FalkorGraphTarget._

  Cypher.validateIdentifier(pkField, "property name")

  override def containerSignature: String =
    s"falkordb;$host:$port;graph=$graph;pk=$pkField"

  protected type Conn = RespClient
  /** The graph key is created by its first write. */
  protected type Container = Unit

  protected def connect(): RespClient = new RespClient(host, port)

  protected def observe(c: RespClient): Option[Unit] = Some(())

  override protected def phases = WireTarget.GraphPhases

  protected def prepare(c: RespClient, schema: StructType,
      existing: Option[Unit]): WireWriter[RespClient] = {
    val (g, pk, bs) = (graph, pkField, batchSize)
    def query(c: RespClient, stmts: Iterator[String]): Unit =
      stmts.grouped(bs).foreach { batch =>
        c.pipeline(batch.map(q => Seq("GRAPH.QUERY".getBytes(UTF_8),
          g.getBytes(UTF_8), q.getBytes(UTF_8)))).foreach(_.orThrow)
      }
    val keyIdx = schema.fieldIndex(RowKey)
    WireWriter(
      upsert = (c, rows) => query(c, rows.map(r =>
        if (r.getString(keyIdx).startsWith("n:")) nodeUpsertQuery(pk)(r, schema)
        else edgeUpsertQuery(pk)(r, schema))),
      delete = (c, keys) => query(c, keys.map(key =>
        Cypher.paramsPrefix(Seq("key_0" -> stripped(key))) +
          (if (key.startsWith("n:")) Cypher.nodeDelete(None, Seq(pk))
           else Cypher.relationshipDelete(None, Seq(pk))))))
  }

  /** Read back through canonical `MATCH … RETURN` queries (the
    * fixture executes exactly these shapes); nodes and edges come
    * back unioned like [[GraphTarget.read]], props re-typed via the
    * declared `nodeProps`/`edgeProps`. Gate/assertion-sized. The
    * fixture's entity encoding always carries the id under `__id`
    * regardless of the statement-side pk field name — `pkField`
    * names the Cypher property, not the reply key. */
  def read(spark: SparkSession): DataFrame = {
    val (nodes, edges) = withConn { c =>
      def rowsOf(q: String): Vector[Map[String, String]] =
        c.commandS("GRAPH.QUERY", graph, q).orThrow.items match {
          case Vector(_, RespValue.Arr(rows)) =>
            rows.map(r => r.items.head.items.grouped(2).collect {
              case Vector(k, v) => k.text -> v.text
            }.toMap)
          case other => throw new IllegalStateException(s"bad reply $other")
        }
      (rowsOf("MATCH (n) RETURN n"), rowsOf("MATCH (s)-[r]->(t) RETURN r"))
    }
    def retype(v: String, dt: DataType): Any =
      if (v == null) null
      else dt match {
        case LongType => v.toLong
        case IntegerType => v.toInt
        case DoubleType => v.toDouble
        case BooleanType => v.toBoolean
        case _ => v
      }
    val nodeSchema = StructType(
      Seq(StructField(RowKey, StringType), StructField("label", StringType)) ++
        nodeProps.map { case (n, dt) => StructField(n, dt) })
    val edgeSchema = StructType(
      Seq(StructField(RowKey, StringType), StructField("src", StringType),
        StructField("dst", StringType), StructField("rel_type", StringType)) ++
        edgeProps.map { case (n, dt) => StructField(n, dt) })
    val nodeRows = nodes.map(m => Row.fromSeq(
      ("n:" + m("__id")) +: m.getOrElse("__label", null) +:
        nodeProps.map { case (n, dt) => retype(m.getOrElse(n, null), dt) }))
    val edgeRows = edges.map(m => Row.fromSeq(
      ("e:" + m("__id")) +: m.getOrElse("__src", null) +:
        m.getOrElse("__dst", null) +: m.getOrElse("__type", null) +:
        edgeProps.map { case (n, dt) => retype(m.getOrElse(n, null), dt) }))
    val n = spark.createDataFrame(
      spark.sparkContext.parallelize(nodeRows, 1), nodeSchema)
    val e = spark.createDataFrame(
      spark.sparkContext.parallelize(edgeRows, 1), edgeSchema)
    n.unionByName(e, allowMissingColumns = true)
  }

  /** `GRAPH.DELETE` drops the whole graph key — the destructive
    * container transition (per-graph multitenancy makes this safe for
    * neighbors). */
  override def truncate(spark: SparkSession): Unit = withConn { c =>
    c.commandS("GRAPH.DELETE", graph) match {
      case RespValue.Err(m) if m.toLowerCase.contains("empty key") => ()
      case other => other.orThrow
    }
    ()
  }
}

object FalkorGraphTarget {
  val RowKey = "row_key"
  private val Routing = Set(RowKey, "label", "src", "dst", "rel_type",
    "src_label", "dst_label")

  private[engine] def stripped(rowKey: String): String = rowKey.drop(2)

  private[engine] def propValue(row: Row, i: Int, dt: DataType): Any = dt match {
    case ArrayType(FloatType, _) => row.getSeq[Float](i)
    case ArrayType(DoubleType, _) => row.getSeq[Double](i)
    case _ => row.get(i)
  }

  private[engine] def propsOf(row: Row, schema: StructType): Map[String, Any] =
    schema.fields.zipWithIndex.collect {
      case (f, i) if !Routing.contains(f.name) && !row.isNullAt(i) =>
        Cypher.validateIdentifier(f.name, "property name") ->
          propValue(row, i, f.dataType)
    }.toMap

  private[engine] def strCol(row: Row, schema: StructType,
      name: String): Option[String] =
    if (!schema.fieldNames.contains(name)) None
    else {
      val i = schema.fieldIndex(name)
      if (row.isNullAt(i)) None else Some(row.getString(i))
    }

  private[engine] def nodeUpsertQuery(pk: String)(
      row: Row, schema: StructType): String = {
    val label = strCol(row, schema, "label").getOrElse(
      throw new IllegalArgumentException(
        s"node row ${row.getString(schema.fieldIndex(RowKey))} has no label"))
    Cypher.validateIdentifier(label, "label")
    val props = propsOf(row, schema)
    val params = Seq[(String, Any)](
      "key_0" -> stripped(row.getString(schema.fieldIndex(RowKey)))) ++
      (if (props.nonEmpty) Seq("props" -> props) else Nil)
    Cypher.paramsPrefix(params) +
      Cypher.nodeUpsert(label, Seq(pk), props.nonEmpty)
  }

  private[engine] def edgeUpsertQuery(pk: String)(
      row: Row, schema: StructType): String = {
    val relType = strCol(row, schema, "rel_type").getOrElse(
      throw new IllegalArgumentException(
        s"edge row ${row.getString(schema.fieldIndex(RowKey))} has no rel_type"))
    Cypher.validateIdentifier(relType, "relationship type")
    val fromLabel = strCol(row, schema, "src_label")
    val toLabel = strCol(row, schema, "dst_label")
    (fromLabel ++ toLabel).foreach(Cypher.validateIdentifier(_, "label"))
    val props = propsOf(row, schema)
    val params = Seq[(String, Any)](
      "from_key_0" -> strCol(row, schema, "src").get,
      "to_key_0" -> strCol(row, schema, "dst").get,
      "rel_key_0" -> stripped(row.getString(schema.fieldIndex(RowKey)))) ++
      (if (props.nonEmpty) Seq("props" -> props) else Nil)
    Cypher.paramsPrefix(params) +
      Cypher.relationshipUpsert(relType, fromLabel, Seq(pk), toLabel,
        Seq(pk), Seq(pk), props.nonEmpty)
  }
}
