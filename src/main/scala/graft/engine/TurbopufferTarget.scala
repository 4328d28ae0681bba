package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.JsonDSL._

/** A vector field of a turbopuffer namespace (reference `VectorDef`,
  * python/cocoindex/connectors/turbopuffer/_target.py:53-66).
  * `name = ""` declares the single unnamed vector, which rides in the
  * store's default `vector` field (`_DEFAULT_VECTOR_FIELD`,
  * _target.py:91). */
final case class TpufVectorDef(name: String, dim: Int)

/** Turbopuffer namespace target over the store's v2 REST API — the
  * reference's namespace/row target
  * (python/cocoindex/connectors/turbopuffer/_target.py:506-565):
  *
  *   - namespaces are created implicitly on first write
  *     (_target.py:9-10) — there is no DDL call; every write carries
  *     the `distance_metric` and the explicit `[N]f32 / ann` schema
  *     payload (`_build_write_schema`, :248-259) so the store can
  *     validate;
  *   - one `POST /v2/namespaces/{ns}` write call carries
  *     `upsert_rows` and/or `deletes` (`_apply_actions`, :287-313) —
  *     idempotent by row id, re-applying converges;
  *   - row ids are strings or ints (:174-189) — the engine's row key
  *     passes through verbatim, attributes are typed JSON
  *     (turbopuffer infers attribute types, :183-185);
  *   - namespace replace/delete is `DELETE /v2/namespaces/{ns}`
  *     (`ns.delete_all()` on replace, :396-402), tolerated missing.
  *
  * Writes run executor-side in `batchSize` pages under the litellm
  * retry taxonomy ([[HttpJson.sendBatched]]). Read-back pages the
  * namespace driver-side by id-ordered keyset queries (`rank_by
  * ["id","asc"]` + `["id","Gt",last]` — the store's documented scan
  * idiom); gate/serve-sized, the engine never scans targets on the
  * data path.
  *
  * No turbopuffer service exists in the environment, so specs run
  * against [[graft.fixtures.MiniTurbopuffer]] — a real in-JVM HTTP
  * peer; request shapes, batching and convergence here are what a
  * real store would receive unchanged.
  */
final case class TurbopufferNamespaceTarget(baseUrl: String,
    namespace: String, vectors: Seq[TpufVectorDef],
    distanceMetric: String = "cosine_distance",
    attrCols: Seq[(String, DataType)] = Nil,
    writePartitions: Int = 4, batchSize: Int = 256) extends WireTarget {

  import TurbopufferNamespaceTarget._

  require(vectors.nonEmpty, "a turbopuffer namespace declares >=1 vector")
  require(!vectors.exists(_.name == "") || vectors.length == 1,
    "the unnamed vector ('') must be the namespace's only vector")

  private def nsUrl = s"$baseUrl/v2/namespaces/$namespace"

  override def containerSignature: String =
    s"turbopuffer;$baseUrl;ns=$namespace;dist=$distanceMetric;vectors=" +
      vectors.map(v => s"${fieldName(v)}:${v.dim}").mkString(",")

  /** The explicit write-schema payload: `{field: {type: "[N]f32",
    * ann: true}}` (reference `_build_write_schema`). */
  private def writeSchema: JValue =
    vectors.foldLeft(JObject()) { (o, v) =>
      o ~ (fieldName(v) -> (("type" -> s"[${v.dim}]f32") ~ ("ann" -> true)))
    }

  /** Stateless HTTP. */
  protected type Conn = Unit
  /** Namespaces are created implicitly by their first write. */
  protected type Container = Unit

  protected def connect(): Unit = ()

  protected def observe(c: Unit): Option[Unit] = Some(())

  protected def prepare(c: Unit, schema: StructType,
      existing: Option[Unit]): WireWriter[Unit] = {
    val (url, dist, bs, vecDefs) = (nsUrl, distanceMetric, batchSize, vectors)
    val schemaJson = writeSchema
    def write[A](items: Iterator[A], field: String)(json: A => JValue): Unit =
      items.grouped(bs).foreach { batch =>
        HttpJson.sendBatched(batch) { page =>
          HttpJson.post(url, ("distance_metric" -> dist) ~
            ("schema" -> schemaJson) ~ (field -> JArray(page.toList.map(json))))
          ()
        }
      }
    WireWriter(
      upsert = (_, rows) =>
        write(rows, "upsert_rows")(rowJson(_, schema, vecDefs)),
      delete = (_, keys) => write(keys, "deletes")(JString(_)))
  }

  /** Driver-paged keyset scan: `rank_by ["id","asc"]`, `filters
    * ["id","Gt",last]`. Columns: `row_key`, one ARRAY<FLOAT> per
    * vector, then `attrCols`. */
  def read(spark: SparkSession): DataFrame = {
    val pageSize = 512
    val rows = Vector.newBuilder[Row]
    var last: Option[String] = None
    var done = false
    while (!done) {
      val base: JObject = ("rank_by" -> JArray(List(JString("id"),
        JString("asc")))) ~ ("top_k" -> pageSize) ~
        ("include_attributes" -> true)
      val body: JValue = last match {
        case None => base
        case Some(l) => base ~ ("filters" -> JArray(List(
          JString("id"), JString("Gt"), JString(l))))
      }
      val page = HttpJson.retrying()(
        HttpJson.post(s"$nsUrl/query", body).body \ "rows") match {
        case JArray(a) => a
        case _ => Nil
      }
      page.foreach { r =>
        val id = (r \ "id") match {
          case JString(s) => s
          case JInt(i) => i.toString
          case other => throw new IllegalStateException(s"bad id $other")
        }
        val vecs = vectors.map { v =>
          r \ fieldName(v) match {
            case JArray(xs) => xs.map(QdrantCollectionTarget.doubleOf(_)
              .toFloat)
            case _ => null
          }
        }
        val attrs = attrCols.map { case (n, dt) =>
          r \ n match {
            case JNothing | JNull => null
            case jv => dt match {
              case LongType => QdrantCollectionTarget.doubleOf(jv).toLong
              case IntegerType => QdrantCollectionTarget.doubleOf(jv).toInt
              case DoubleType => QdrantCollectionTarget.doubleOf(jv)
              case BooleanType => jv.asInstanceOf[JBool].value
              case _ => jv match {
                case JString(s) => s
                case other => org.json4s.jackson.JsonMethods.compact(
                  org.json4s.jackson.JsonMethods.render(other))
              }
            }
          }
        }
        rows += Row.fromSeq(id +: (vecs ++ attrs))
      }
      last = page.lastOption.map(r => (r \ "id") match {
        case JString(s) => s
        case JInt(i) => i.toString
        case _ => ""
      })
      done = page.length < pageSize
    }
    val out = rows.result()
    val schema = StructType(
      StructField(RowKey, StringType) +:
        (vectors.map(v => StructField(fieldName(v), ArrayType(FloatType))) ++
          attrCols.map { case (n, dt) => StructField(n, dt) }))
    spark.createDataFrame(spark.sparkContext.parallelize(out,
      math.max(1, math.min(writePartitions, out.size))), schema)
  }

  override def truncate(spark: SparkSession): Unit =
    try { HttpJson.retrying()(HttpJson.delete(nsUrl)); () }
    catch { case Batching.ApiStatusException(404, _) => () } // out-of-band

  /** ANN serve: `rank_by [field, "ANN", query]` (the store's query
    * shape); returns (row_key, dist, attrCols…). */
  def knn(spark: SparkSession, query: Array[Float], k: Int,
      vectorName: String = ""): DataFrame = {
    val field = vectors.find(_.name == vectorName)
      .map(fieldName).getOrElse(
        throw new IllegalArgumentException(s"no vector '$vectorName'"))
    val body: JValue = ("rank_by" -> JArray(List(JString(field),
      JString("ANN"), JArray(query.toList.map(f =>
        JDouble(f.toDouble)))))) ~
      ("top_k" -> k) ~ ("include_attributes" -> true)
    val hits = HttpJson.retrying()(
      HttpJson.post(s"$nsUrl/query", body).body \ "rows") match {
      case JArray(a) => a
      case _ => Nil
    }
    val rows = hits.map { h =>
      Row.fromSeq(
        ((h \ "id") match { case JString(s) => s; case JInt(i) => i.toString
          case _ => null }) +:
          QdrantCollectionTarget.doubleOf(h \ "$dist") +:
          attrCols.map { case (n, _) => h \ n match {
            case JString(s) => s
            case JNothing | JNull => null
            case other => org.json4s.jackson.JsonMethods.compact(
              org.json4s.jackson.JsonMethods.render(other))
          } })
    }
    val schema = StructType(
      StructField(RowKey, StringType) +: StructField("dist", DoubleType) +:
        attrCols.map { case (n, _) => StructField(n, StringType) })
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }
}

object TurbopufferNamespaceTarget {
  val RowKey = "row_key"

  private def fieldName(v: TpufVectorDef): String =
    if (v.name == "") "vector" else v.name

  /** One upsert row → the write API's row dict (`_row_to_upsert`,
    * _target.py:197-233): id, vector fields flat, attributes typed.
    * Attribute names colliding with id/vector fields are reserved —
    * fail loudly like the reference. */
  private[engine] def rowJson(row: Row, schema: StructType,
      vectors: Seq[TpufVectorDef]): JValue = {
    val rowKey = row.getString(schema.fieldIndex(RowKey))
    val vecFields = vectors.map(fieldName).toSet
    val vecJson = vectors.foldLeft(JObject("id" -> JString(rowKey))) {
      (o, v) =>
        val f = fieldName(v)
        val i = schema.fieldIndex(f)
        require(!row.isNullAt(i), s"row $rowKey: null vector '$f'")
        val arr = schema(i).dataType match {
          case ArrayType(FloatType, _) => row.getSeq[Float](i).map(_.toDouble)
          case ArrayType(DoubleType, _) => row.getSeq[Double](i)
          case other => throw new IllegalArgumentException(
            s"vector column $f has type $other")
        }
        require(arr.length == v.dim,
          s"row $rowKey: vector '$f' length ${arr.length} != ${v.dim}")
        o ~ (f -> JArray(arr.toList.map(JDouble(_))))
    }
    schema.fields.zipWithIndex
      .filter { case (f, _) => f.name != RowKey && !vecFields.contains(f.name) }
      .foldLeft(vecJson) { case (o, (f, i)) =>
        require(f.name != "id", s"attribute name 'id' is reserved")
        if (row.isNullAt(i)) o
        else o ~ (f.name -> (f.dataType match {
          case StringType => JString(row.getString(i)): JValue
          case LongType => JInt(row.getLong(i))
          case IntegerType => JInt(row.getInt(i))
          case ShortType => JInt(row.getShort(i).toInt)
          case DoubleType => JDouble(row.getDouble(i))
          case FloatType => JDouble(row.getFloat(i).toDouble)
          case BooleanType => JBool(row.getBoolean(i))
          case DateType | TimestampType => JString(String.valueOf(row.get(i)))
          case other => throw new IllegalArgumentException(
            s"unsupported attribute type $other for ${f.name}")
        }))
      }
  }
}
