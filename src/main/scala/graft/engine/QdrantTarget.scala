package graft.engine

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.JsonDSL._

/** A dense vector attribute of a qdrant collection (reference
  * `QdrantVectorDef`, python/cocoindex/connectors/qdrant/_target.py:
  * 51-70). `name = ""` declares the collection's single unnamed
  * vector; otherwise vectors are named. */
final case class QdrantVectorDef(name: String, size: Int,
    distance: String = "Cosine")

/** A sparse vector attribute (reference `QdrantSparseVectorDef`,
  * qdrant/_target.py:72-81); the row column is a
  * STRUCT<indices: ARRAY<INT>, values: ARRAY<FLOAT>>. */
final case class QdrantSparseVectorDef(name: String)

/** Qdrant collection + points target over the store's REST API — the
  * reference's `qdrant.declare_point` / collection target
  * (python/cocoindex/connectors/qdrant/_target.py:549,597,621):
  *
  *   - collection DDL: `PUT /collections/{c}` with the named dense /
  *     sparse vector config split the same way `_create_collection`
  *     splits it (_target.py:416-457), created if-not-exists so
  *     reruns converge; a vector-schema change is container identity
  *     → the engine's destructive replace (`DELETE /collections/{c}`
  *     + recreate, mirroring `delete_collection` on replace,
  *     _target.py:385-399);
  *   - upserts: batched `PUT /collections/{c}/points?wait=true`
  *     (idempotent by point id — re-applying converges); deletes:
  *     batched `POST /points/delete` (_apply_actions,
  *     _target.py:254-284);
  *   - point ids must be unsigned ints or UUIDs (qdrant's id domain):
  *     an all-digit row key rides as an int id, anything else maps to
  *     a deterministic name-UUID, with the original key carried in
  *     payload `__row_key` for read-back and serving.
  *
  * Writes run executor-side in `batchSize` pages under the litellm
  * retry taxonomy ([[HttpJson.sendBatched]]): 429/5xx back off and
  * retry, auth errors fail fast, anything else halves to isolate a
  * poison point. On a cluster each executor posts directly to the
  * store; the driver only issues collection DDL.
  *
  * No qdrant server exists in the environment, so specs and the q84
  * gate run against [[graft.fixtures.MiniQdrant]] — a real in-JVM
  * HTTP peer; request shapes, batching, convergence and read-back
  * here are the code a real store would exercise unchanged.
  */
final case class QdrantCollectionTarget(baseUrl: String, collection: String,
    vectors: Seq[QdrantVectorDef],
    sparseVectors: Seq[QdrantSparseVectorDef] = Nil,
    payloadCols: Seq[(String, DataType)] = Nil,
    writePartitions: Int = 4, batchSize: Int = 128) extends WireTarget {

  import QdrantCollectionTarget._

  require(vectors.nonEmpty || sparseVectors.nonEmpty,
    "a qdrant collection declares at least one vector")
  require(!vectors.exists(_.name == "") ||
    (vectors.length == 1 && sparseVectors.isEmpty),
    "the unnamed vector ('') must be the collection's only vector — " +
      "qdrant requires NAMED vectors when mixing dense and sparse")

  private def cUrl = s"$baseUrl/collections/$collection"

  override def containerSignature: String =
    s"qdrant;$baseUrl;collection=$collection;vectors=" +
      vectors.map(v => s"${v.name}:${v.size}:${v.distance}").mkString(",") +
      s";sparse=${sparseVectors.map(_.name).mkString(",")}"

  /** Stateless HTTP. */
  protected type Conn = Unit
  protected type Container = Unit

  protected def connect(): Unit = ()

  protected def observe(c: Unit): Option[Unit] =
    if (HttpJson.retrying()(
        (HttpJson.get(s"$cUrl/exists").body \ "result" \ "exists")
          .extractOpt[Boolean](DefaultFormats, manifest[Boolean])
          .getOrElse(false))) Some(())
    else None

  protected def prepare(c: Unit, schema: StructType,
      existing: Option[Unit]): WireWriter[Unit] = {
    if (existing.isEmpty) createCollection()
    val (base, coll, bs) = (baseUrl, collection, batchSize)
    val (vecDefs, sparseDefs) = (vectors, sparseVectors)
    WireWriter(
      upsert = (_, rows) => rows.grouped(bs).foreach { batch =>
        HttpJson.sendBatched(batch) { items =>
          val points = JArray(items.toList.map(r =>
            pointJson(r, schema, vecDefs, sparseDefs)))
          HttpJson.put(s"$base/collections/$coll/points?wait=true",
            "points" -> points)
          ()
        }
      },
      delete = (_, keys) => keys.grouped(bs).foreach { batch =>
        HttpJson.sendBatched(batch) { items =>
          HttpJson.post(s"$base/collections/$coll/points/delete?wait=true",
            "points" -> JArray(items.toList.map(pointId)))
          ()
        }
      })
  }

  private def createCollection(): Unit = {
    val dense: JValue = vectors match {
      case Seq(QdrantVectorDef("", size, dist)) =>
        ("size" -> size) ~ ("distance" -> dist)
      case defs =>
        defs.foldLeft(JObject()) { (o, v) =>
          o ~ (v.name -> (("size" -> v.size) ~ ("distance" -> v.distance)))
        }
    }
    val body: JValue =
      ("vectors" -> (if (vectors.isEmpty) JNothing else dense)) ~
        ("sparse_vectors" ->
          (if (sparseVectors.isEmpty) JNothing
          else sparseVectors.foldLeft(JObject())((o, s) =>
            o ~ (s.name -> JObject()))))
    try HttpJson.retrying()(HttpJson.put(cUrl, body))
    catch { case Batching.ApiStatusException(409, _) => () } // racer won
    ()
  }

  /** Read back via the scroll API (driver-paged, `with_payload` +
    * `with_vector`). Columns: `row_key`, one ARRAY<FLOAT> per dense
    * vector (the unnamed one surfaces as `vector`), one
    * STRUCT<indices,values> per sparse vector, then `payloadCols`.
    * Correctness-gate/serve-sized reads — targets are write-side
    * stores; the engine never scans them on the data path. */
  def read(spark: SparkSession): DataFrame = {
    implicit val fmts: Formats = DefaultFormats
    val pages = Iterator.unfold(Option[JValue](JNull)) {
      case None => None
      case Some(offset) =>
        val page: JObject = ("limit" -> 512) ~ ("with_payload" -> true) ~
          ("with_vector" -> true)
        val body: JValue = offset match {
          case JNull => page
          case o => page ~ ("offset" -> o)
        }
        val r = HttpJson.post(s"$cUrl/points/scroll", body).body \ "result"
        val pts = (r \ "points") match {
          case JArray(a) => a; case _ => Nil
        }
        val next = r \ "next_page_offset" match {
          case JNothing | JNull => None
          case o => Some(Some(o))
        }
        Some((pts, next.flatten.map(Some(_)).getOrElse(None)))
    }
    val points = pages.flatten.toVector
    val rows = points.map { p =>
      val payload = p \ "payload"
      val key = (payload \ RowKeyPayload).extract[String]
      val vecObj = p \ "vector"
      val denseVals = vectors.map { v =>
        val jv = if (v.name == "") vecObj match {
          case JArray(_) => vecObj
          case o => o \ "" // single unnamed stored plain
        } else vecObj \ v.name
        jv match {
          case JArray(xs) => xs.map(doubleOf(_).toFloat)
          case _ => null
        }
      }
      val sparseVals = sparseVectors.map { s =>
        vecObj \ s.name match {
          case o: JObject => Row(
            (o \ "indices").asInstanceOf[JArray].arr
              .map(doubleOf(_).toInt),
            (o \ "values").asInstanceOf[JArray].arr
              .map(doubleOf(_).toFloat))
          case _ => null
        }
      }
      val payloadVals = payloadCols.map { case (n, dt) =>
        payload \ n match {
          case JNothing | JNull => null
          case jv => dt match {
            case LongType => doubleOf(jv).toLong
            case IntegerType => doubleOf(jv).toInt
            case DoubleType => doubleOf(jv)
            case BooleanType => jv.asInstanceOf[JBool].value
            case _ => jv match {
              case JString(s) => s
              case other => org.json4s.jackson.JsonMethods.compact(
                org.json4s.jackson.JsonMethods.render(other))
            }
          }
        }
      }
      Row.fromSeq(key +: (denseVals ++ sparseVals ++ payloadVals))
    }
    val schema = StructType(
      StructField(RowKey, StringType) +:
        (vectors.map(v => StructField(
          if (v.name == "") "vector" else v.name, ArrayType(FloatType))) ++
          sparseVectors.map(s => StructField(s.name, SparseVectorType)) ++
          payloadCols.map { case (n, dt) => StructField(n, dt) }))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1,
        math.min(writePartitions, rows.size))), schema)
  }

  override def truncate(spark: SparkSession): Unit =
    try { HttpJson.delete(cUrl); () }
    catch { case Batching.ApiStatusException(404, _) => () } // already gone

  /** KNN serve through the store: `POST /points/search` on a named or
    * unnamed dense vector. Returns (row_key, score, payloadCols…). */
  def knn(spark: SparkSession, query: Array[Float], k: Int,
      vectorName: String = ""): DataFrame = {
    implicit val fmts: Formats = DefaultFormats
    val qvec: JValue =
      if (vectorName == "") JArray(query.toList.map(f => JDouble(f.toDouble)))
      else ("name" -> vectorName) ~
        ("vector" -> JArray(query.toList.map(f => JDouble(f.toDouble))))
    val body: JValue = ("vector" -> qvec) ~ ("limit" -> k) ~
      ("with_payload" -> true)
    val hits = HttpJson.post(s"$cUrl/points/search", body).body \ "result" match {
      case JArray(a) => a; case _ => Nil
    }
    val rows = hits.map { h =>
      val payload = h \ "payload"
      Row.fromSeq(
        (payload \ RowKeyPayload).extract[String] +:
          doubleOf(h \ "score") +:
          payloadCols.map { case (n, _) => payload \ n match {
            case JString(s) => s
            case JNothing | JNull => null
            case other => org.json4s.jackson.JsonMethods.compact(
              org.json4s.jackson.JsonMethods.render(other))
          } })
    }
    val schema = StructType(
      StructField(RowKey, StringType) +: StructField("score", DoubleType) +:
        payloadCols.map { case (n, _) => StructField(n, StringType) })
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }
}

object QdrantCollectionTarget {
  val RowKey = "row_key"
  /** Payload field carrying the engine's row key verbatim (qdrant ids
    * are ints/UUIDs, so non-numeric keys travel as name-UUIDs and the
    * original string rides in payload). */
  val RowKeyPayload = "__row_key"

  val SparseVectorType: DataType = StructType(Seq(
    StructField("indices", ArrayType(IntegerType)),
    StructField("values", ArrayType(FloatType))))

  private val Digits = "^\\d{1,18}$".r

  /** Qdrant's id domain (ExtendedPointId: unsigned int | UUID). Only
    * a CANONICAL decimal key rides as an int — a zero-padded "07"
    * must NOT collide with "7" in the store's id space, so any
    * non-canonical spelling takes the UUID path like every other
    * string. */
  def pointId(rowKey: String): JValue = rowKey match {
    case Digits() if BigInt(rowKey).toString == rowKey =>
      JInt(BigInt(rowKey))
    case other => JString(java.util.UUID.nameUUIDFromBytes(
      other.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString)
  }

  private[engine] def doubleOf(j: JValue): Double = j match {
    case JDouble(d) => d
    case JInt(i) => i.toDouble
    case JLong(l) => l.toDouble
    case JDecimal(d) => d.toDouble
    case other => throw new IllegalArgumentException(s"not a number: $other")
  }

  /** One upsert row → PointStruct JSON: id, dense vectors (unnamed
    * flat / named map), sparse vectors as {indices, values}, payload
    * from the remaining columns plus `__row_key`. */
  private[engine] def pointJson(row: Row, schema: StructType,
      vectors: Seq[QdrantVectorDef],
      sparse: Seq[QdrantSparseVectorDef]): JValue = {
    val rowKey = row.getString(schema.fieldIndex(RowKey))
    val vecCols = vectors.map(v =>
      (if (v.name == "") "vector" else v.name)).toSet ++
      sparse.map(_.name).toSet
    def denseJson(name: String, size: Int): JValue = {
      val i = schema.fieldIndex(name)
      require(!row.isNullAt(i), s"point $rowKey: null vector '$name'")
      val arr = schema(i).dataType match {
        case ArrayType(FloatType, _) =>
          row.getSeq[Float](i).map(_.toDouble)
        case ArrayType(DoubleType, _) => row.getSeq[Double](i)
        case other => throw new IllegalArgumentException(
          s"vector column $name has type $other")
      }
      require(arr.length == size,
        s"point $rowKey: vector '$name' length ${arr.length} != $size")
      JArray(arr.toList.map(JDouble(_)))
    }
    def sparseJson(name: String): JValue = {
      val r = row.getStruct(schema.fieldIndex(name))
      ("indices" -> JArray(r.getSeq[Int](0).toList.map(i => JInt(i)))) ~
        ("values" -> JArray(r.getSeq[Float](1).toList
          .map(f => JDouble(f.toDouble))))
    }
    val vectorJson: JValue = vectors match {
      case Seq(QdrantVectorDef("", size, _)) if sparse.isEmpty =>
        denseJson("vector", size)
      case defs =>
        val named = defs.foldLeft(JObject()) { (o, v) =>
          o ~ (v.name -> denseJson(v.name, v.size))
        }
        sparse.foldLeft(named) { (o, s) => o ~ (s.name -> sparseJson(s.name)) }
    }
    val payload = schema.fields.zipWithIndex
      .filter { case (f, _) => f.name != RowKey && !vecCols.contains(f.name) }
      .foldLeft(JObject(RowKeyPayload -> JString(rowKey))) {
        case (o, (f, i)) =>
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
              s"unsupported payload type $other for ${f.name}")
          }))
      }
    ("id" -> pointId(rowKey)) ~ ("vector" -> vectorJson) ~
      ("payload" -> payload)
  }
}
