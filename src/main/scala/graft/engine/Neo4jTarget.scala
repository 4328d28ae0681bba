package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Neo4j property-graph target over real Bolt — the reference's
  * neo4j connector transport
  * (python/cocoindex/connectors/neo4j/_target.py:1241-1535, the
  * `neo4j` driver speaking Bolt underneath):
  *
  *   - statements come from [[Cypher]] (the shared `_cypher.py`
  *     builders): `MERGE (n:\`L\` {pk: $key_0}) SET n += $props`
  *     node upserts, three-MERGE relationship upserts that never
  *     touch endpoint properties, `DETACH DELETE` node deletes;
  *   - unlike the falkordb RESP transport, parameters travel
  *     NATIVELY — a PackStream map in each RUN message, the way the
  *     neo4j driver binds them (no literal inlining anywhere);
  *   - the v0 apply ordering is preserved (node upserts → relation
  *     upserts → relation deletes → node deletes);
  *   - read-backs decode genuine Bolt Node / Relationship structs.
  *
  * Row convention is [[GraphTarget]]'s: `row_key` prefixed `n:` →
  * node with `label` + props, `e:` → edge with `src`/`dst`/
  * `rel_type` + props. Writes run executor-side, one Bolt connection
  * per partition, RUN+PULL pipelined per row.
  *
  * No neo4j server exists in the environment; specs and the q100
  * gate run against [[graft.fixtures.MiniNeo4j]], a real Bolt 4.4
  * peer executing exactly these canonical statements.
  */
final case class Neo4jBoltTarget(host: String, port: Int,
    user: String = "neo4j", password: String = "",
    pkField: String = "id",
    nodeProps: Seq[(String, DataType)] = Nil,
    edgeProps: Seq[(String, DataType)] = Nil,
    writePartitions: Int = 4,
    /** Statements per explicit transaction: the reference wraps each
      * apply batch in ONE tx so partial writes roll back together
      * (neo4j/_target.py:487-530); chunking bounds server-side tx
      * state on huge partitions. */
    txBatch: Int = 500) extends WireTarget {

  import FalkorGraphTarget.{RowKey, propsOf, strCol, stripped}

  Cypher.validateIdentifier(pkField, "property name")

  override def containerSignature: String =
    s"neo4j;$host:$port;pk=$pkField"

  protected type Conn = BoltWire.Client
  /** A neo4j database has no per-target container to create. */
  protected type Container = Unit

  protected def connect(): BoltWire.Client =
    new BoltWire.Client(host, port, user, password)

  protected def observe(c: BoltWire.Client): Option[Unit] = Some(())

  override protected def phases = WireTarget.GraphPhases

  protected def prepare(c: BoltWire.Client, schema: StructType,
      existing: Option[Unit]): WireWriter[BoltWire.Client] = {
    val (pk, tb) = (pkField, txBatch)
    val keyIdx = schema.fieldIndex(RowKey)
    // each chunk commits as ONE explicit transaction (the reference's
    // per-batch atomicity, neo4j/_target.py:487), and the chunk's
    // statements are PIPELINED — one flush, one round trip for the
    // whole batch (runPipelined), so a chunk costs 3 synchronous
    // exchanges (BEGIN + batch + COMMIT), not 2 + k. A failing
    // statement FAILUREs, the pipelined drain RESETs the connection —
    // which aborts the open tx server-side — and the error
    // propagates; the rerun re-applies the whole chunk idempotently.
    // txBatch also bounds the response backlog a pipelined batch
    // buffers (~2 small summaries per statement), keeping it far
    // under socket-buffer deadlock territory.
    def inTx(c: BoltWire.Client,
        stmts: Iterator[(String, Map[String, Any])]): Unit =
      stmts.grouped(tb).foreach { chunk =>
        c.begin()
        c.runPipelined(chunk)
        c.commit()
      }
    def upsertStmt(row: Row): (String, Map[String, Any]) = {
      val key = row.getString(keyIdx)
      val props = propsOf(row, schema)
      val propsParam =
        if (props.nonEmpty) Map("props" -> props) else Map.empty[String, Any]
      if (key.startsWith("n:")) {
        val label = strCol(row, schema, "label").getOrElse(
          throw new IllegalArgumentException(s"node row $key has no label"))
        (Cypher.nodeUpsert(label, Seq(pk), props.nonEmpty),
          Map[String, Any]("key_0" -> stripped(key)) ++ propsParam)
      } else {
        val relType = strCol(row, schema, "rel_type").getOrElse(
          throw new IllegalArgumentException(s"edge row $key has no rel_type"))
        (Cypher.relationshipUpsert(relType,
          strCol(row, schema, "src_label"), Seq(pk),
          strCol(row, schema, "dst_label"), Seq(pk),
          Seq(pk), props.nonEmpty),
          Map[String, Any](
            "from_key_0" -> strCol(row, schema, "src").get,
            "to_key_0" -> strCol(row, schema, "dst").get,
            "rel_key_0" -> stripped(key)) ++ propsParam)
      }
    }
    WireWriter(
      upsert = (c, rows) => inTx(c, rows.map(upsertStmt)),
      delete = (c, keys) => inTx(c, keys.map(key =>
        (if (key.startsWith("n:")) Cypher.nodeDelete(None, Seq(pk))
         else Cypher.relationshipDelete(None, Seq(pk)),
          Map[String, Any]("key_0" -> stripped(key))))))
  }

  /** Read back through `MATCH … RETURN` — Bolt Node / Relationship
    * structs decoded to [[GraphTarget]]'s unioned row shape; the
    * node id comes from the entity's OWN pk property (a real MERGE
    * sets it on create). Gate/assertion-sized. */
  def read(spark: SparkSession): DataFrame = {
    val (nodeRecs, edgeRecs) = withConn { c =>
      (c.run("MATCH (n) RETURN n")._2, c.run("MATCH (s)-[r]->(t) RETURN r")._2)
    }
    def retype(v: Any, dt: DataType): Any =
      if (v == null) null
      else dt match {
        case LongType => String.valueOf(v).toLong
        case IntegerType => String.valueOf(v).toInt
        case DoubleType => String.valueOf(v).toDouble
        case BooleanType => String.valueOf(v).toBoolean
        case _ => String.valueOf(v)
      }
    val nodeSchema = StructType(
      Seq(StructField(RowKey, StringType), StructField("label", StringType)) ++
        nodeProps.map { case (n, dt) => StructField(n, dt) })
    val edgeSchema = StructType(
      Seq(StructField(RowKey, StringType), StructField("src", StringType),
        StructField("dst", StringType), StructField("rel_type", StringType)) ++
        edgeProps.map { case (n, dt) => StructField(n, dt) })
    // Relationship endpoints come back as internal entity ids; map
    // them to pk values through the node structs
    val nodesById = nodeRecs.map { rec =>
      val BoltWire.BoltStruct(_, Vector(id, _, props0)) =
        (rec.head.asInstanceOf[BoltWire.BoltStruct]: @unchecked)
      val props = props0.asInstanceOf[Map[String, Any]]
      String.valueOf(id) -> props
    }.toMap
    val nodeRows = nodeRecs.map { rec =>
      val BoltWire.BoltStruct(_, Vector(_, labels0, props0)) =
        (rec.head.asInstanceOf[BoltWire.BoltStruct]: @unchecked)
      val props = props0.asInstanceOf[Map[String, Any]]
      val labels = labels0.asInstanceOf[Vector[Any]]
      Row.fromSeq(
        ("n:" + String.valueOf(props(pkField))) +:
          labels.headOption.map(String.valueOf(_)).orNull +:
          nodeProps.map { case (n, dt) =>
            retype(props.getOrElse(n, null), dt)
          })
    }
    val edgeRows = edgeRecs.map { rec =>
      val BoltWire.BoltStruct(_, Vector(_, srcId, dstId, relType, props0)) =
        (rec.head.asInstanceOf[BoltWire.BoltStruct]: @unchecked)
      val props = props0.asInstanceOf[Map[String, Any]]
      def endpointPk(entityId: Any): String =
        nodesById.get(String.valueOf(entityId))
          .flatMap(_.get(pkField)).map(String.valueOf(_)).orNull
      Row.fromSeq(
        ("e:" + String.valueOf(props(pkField))) +:
          endpointPk(srcId) +: endpointPk(dstId) +:
          String.valueOf(relType) +:
          edgeProps.map { case (n, dt) =>
            retype(props.getOrElse(n, null), dt)
          })
    }
    val n = spark.createDataFrame(
      spark.sparkContext.parallelize(nodeRows, 1), nodeSchema)
    val e = spark.createDataFrame(
      spark.sparkContext.parallelize(edgeRows, 1), edgeSchema)
    n.unionByName(e, allowMissingColumns = true)
  }

  /** The destructive transition: `MATCH (n) DETACH DELETE n` (the
    * reference clears its managed graph the same statement-wise way;
    * neo4j has no per-graph DELETE key). */
  override def truncate(spark: SparkSession): Unit = withConn { c =>
    c.run("MATCH (n) DETACH DELETE n"); ()
  }
}
