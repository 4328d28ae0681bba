package graft.engine

import java.nio.ByteBuffer
import java.nio.ByteOrder.LITTLE_ENDIAN
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** An indexed field in a Valkey search index (reference `FieldDef`,
  * python/cocoindex/connectors/valkey/_target.py:81-97): TEXT / TAG /
  * NUMERIC, optionally SORTABLE. */
final case class ValkeyField(name: String, ftype: String = "text",
    sortable: Boolean = false)

/** Valkey documents-plus-search-index target over a real RESP wire
  * client — the reference's `valkey.declare_document` / index target
  * (python/cocoindex/connectors/valkey/_target.py:633,675,699):
  *
  *   - each row is a HASH at `{index}:{row_key}` whose fields are the
  *     row's payload columns stringified plus a float32-LE `vector`
  *     blob (`_vector_to_bytes`, _target.py:258-262);
  *   - an upsert is an atomic MULTI [DEL, HSET] EXEC so stale payload
  *     fields never survive an update (_target.py:313-320);
  *   - deletes are batched DEL;
  *   - the search index is FT.CREATE ON HASH with the `{index}:`
  *     prefix, a FLAT or HNSW FLOAT32 vector attribute and the
  *     declared TEXT/TAG/NUMERIC fields (_target.py:482-539),
  *     created if-not-exists so reruns converge;
  *   - `truncate` (the engine's destructive replace) is FT.DROPINDEX
  *     plus the SCAN-loop purge of prefixed keys (_target.py:441-480).
  *
  * Writes run executor-side: one [[RespClient]] per partition, one
  * pipelined round-trip per `batchSize` rows — the same shape as the
  * JDBC target's per-partition connection and the reference's async
  * client batching. On a cluster each executor talks to the store
  * directly; the driver only issues index DDL and scans key pages.
  *
  * The environment has no Valkey server, so specs and the q83 gate run
  * against [[graft.fixtures.MiniValkey]] — a real TCP/RESP2 peer; the
  * wire client, batching, convergence, and read-back here are the
  * code a real store would exercise unchanged.
  */
final case class ValkeyIndexTarget(host: String, port: Int,
    indexName: String,
    vectorDim: Int = 0, algorithm: String = "FLAT",
    distance: String = "COSINE", fields: Seq[ValkeyField] = Nil,
    writePartitions: Int = 4, batchSize: Int = 64) extends WireTarget {

  import ValkeyIndexTarget._

  private def prefix = s"$indexName:"
  private def hashKey(id: String) = prefix + id

  /** Index schema is container identity: the reference plans a
    * `replace` (drop index + purge prefix keys + recreate) when the
    * vector def or field set changes (_target.py:404-418) — the
    * engine's destructive transition via `truncate`. */
  override def containerSignature: String =
    s"valkey;$host:$port;index=$indexName" +
      s";vec=$vectorDim:$algorithm:$distance" +
      // sortable is part of the FT.CREATE definition: a flipped flag
      // must plan the destructive replace, or the live index keeps
      // the old SORTABLE forever (create is if-not-exists)
      s";fields=${fields.map(f =>
        s"${f.name}:${f.ftype}${if (f.sortable) ":s" else ""}").mkString(",")}"

  protected type Conn = RespClient
  protected type Container = Unit

  protected def connect(): RespClient = new RespClient(host, port)

  protected def observe(c: RespClient): Option[Unit] =
    if (c.commandS("FT._LIST").items.exists(_.text == indexName)) Some(())
    else None

  protected def prepare(c: RespClient, schema: StructType,
      existing: Option[Unit]): WireWriter[RespClient] = {
    if (existing.isEmpty) createIndex(c)
    val (pfx, bs, dim) = (prefix, batchSize, vectorDim)
    val keyIdx = schema.fieldIndex(RowKey)
    val valueFields = schema.fields.zipWithIndex
      .filter(_._1.name != RowKey).toSeq
    WireWriter(
      upsert = (c, rows) => rows.grouped(bs).foreach { batch =>
        val cmds = batch.flatMap { row =>
          val key = (pfx + row.getString(keyIdx)).getBytes(UTF_8)
          val hset = Seq.newBuilder[Array[Byte]]
          hset += "HSET".getBytes(UTF_8) += key
          var nFields = 0
          valueFields.foreach { case (f, i) =>
            if (!row.isNullAt(i)) {
              hset += f.name.getBytes(UTF_8)
              hset += fieldBytes(f.name, f.dataType, row, i, dim)
              nFields += 1
            }
          }
          // an empty hash does not exist in the store, and HSET with
          // no pairs is an arity error — an all-null row cannot be
          // represented; fail loudly, never silently vanish from
          // read-back
          require(nFields > 0,
            s"valkey document ${row.getString(keyIdx)} has no " +
              "non-null fields — an empty hash cannot exist")
          Seq(
            Seq("MULTI".getBytes(UTF_8)),
            Seq("DEL".getBytes(UTF_8), key),
            hset.result(),
            Seq("EXEC".getBytes(UTF_8)))
        }
        c.pipeline(cmds).foreach(_.orThrow)
      },
      delete = (c, keys) => keys.grouped(bs).foreach { batch =>
        c.command("DEL".getBytes(UTF_8) +:
          batch.map(k => (pfx + k).getBytes(UTF_8))).orThrow
      })
  }

  private def createIndex(c: RespClient): Unit = {
    val base = Seq("FT.CREATE", indexName, "ON", "HASH",
      "PREFIX", "1", prefix, "SCHEMA")
    val vec =
      if (vectorDim <= 0) Seq.empty[String]
      else Seq(VectorFieldName, "VECTOR", algorithm.toUpperCase, "6",
        "TYPE", "FLOAT32", "DIM", vectorDim.toString,
        "DISTANCE_METRIC", distance.toUpperCase)
    val flds = fields.flatMap { f =>
      Seq(f.name, f.ftype.toUpperCase) ++
        (if (f.sortable) Seq("SORTABLE") else Nil)
    }
    c.commandS(base ++ vec ++ flds: _*) match {
      case RespValue.Err(m) if m.contains("already exists") => () // racer won
      case other => other.orThrow
    }
  }

  /** All document ids under the index prefix — the SCAN page loop the
    * reference's purge uses (_target.py:441-480); keys only, bounded
    * by id volume, payloads stay off the driver. */
  private def scanKeys(c: RespClient): Vector[String] = {
    val out = Vector.newBuilder[String]
    var cursor = "0"
    var iterations = 0
    while (iterations < MaxScanIterations) {
      iterations += 1
      val reply = c.commandS("SCAN", cursor, "MATCH", s"$prefix*",
        "COUNT", "500").items
      cursor = reply(0).text
      reply(1).items.foreach(out += _.text)
      if (cursor == "0") return out.result()
    }
    throw new IllegalStateException(
      s"SCAN loop for prefix $prefix exceeded $MaxScanIterations pages")
  }

  /** Read back: driver-paged SCAN for ids, executor-batched HGETALL
    * for payloads (the KeyedListing read shape — ids are small, bytes
    * stay distributed). Columns: `row_key`, declared fields as
    * strings, `vector` as ARRAY<FLOAT> when the index has one. */
  def read(spark: SparkSession): DataFrame = {
    val keys = withConn(scanKeys)
    val (h, p, pfx, bs, dim) = (host, port, prefix, batchSize, vectorDim)
    val fieldNames = fields.map(_.name)
    val schema = StructType(
      StructField(RowKey, StringType) +:
        fieldNames.map(StructField(_, StringType)) ++:
        (if (dim > 0) Seq(StructField(VectorFieldName,
          ArrayType(FloatType))) else Nil))
    val rdd = spark.sparkContext
      .parallelize(keys, math.max(1, math.min(writePartitions, keys.size)))
      .mapPartitions { ks =>
        val c = new RespClient(h, p)
        try {
          ks.grouped(bs).flatMap { batch =>
            val replies = c.pipeline(batch.map(k =>
              Seq("HGETALL".getBytes(UTF_8), k.getBytes(UTF_8))))
            batch.zip(replies).flatMap { case (k, reply) =>
              val pairs = reply.items.grouped(2).collect {
                case Vector(f, v) => f.text -> v
              }.toMap
              if (pairs.isEmpty) None // deleted between SCAN and HGETALL
              else Some(Row.fromSeq(
                k.stripPrefix(pfx) +:
                  fieldNames.map(n => pairs.get(n).map(b =>
                    new String(b.asInstanceOf[RespValue.Bulk].bytes,
                      UTF_8)).orNull) ++:
                  (if (dim > 0)
                    Seq(pairs.get(VectorFieldName).map(b => floatsOf(
                      b.asInstanceOf[RespValue.Bulk].bytes).toSeq).orNull)
                  else Nil)))
            }
          }.toVector.iterator // drain before closing the client
        } finally c.close()
      }
    spark.createDataFrame(rdd, schema)
  }

  override def truncate(spark: SparkSession): Unit = withConn { c =>
    c.commandS("FT.DROPINDEX", indexName) match {
      case RespValue.Err(m) if m.contains("Unknown index") => ()
      case other => other.orThrow
    }
    val keys = scanKeys(c)
    keys.grouped(500).foreach { batch =>
      c.command("DEL".getBytes(UTF_8) +:
        batch.map(_.getBytes(UTF_8))).orThrow
    }
  }

  /** KNN serve over the store's index: FT.SEARCH `*=>[KNN k @vector
    * $B]` with the query vector as a float32-LE param blob. Returns
    * (row_key, score, fields…); k-sized, driver-built. */
  def knn(spark: SparkSession, query: Array[Float], k: Int): DataFrame = {
    require(vectorDim > 0, s"index $indexName has no vector attribute")
    val blob = Float32LE.encode(query.toSeq)
    val reply = withConn(_.command(Seq(
      "FT.SEARCH", indexName, s"*=>[KNN $k @$VectorFieldName $$B]",
      "PARAMS", "2", "B").map(_.getBytes(UTF_8)) ++
      Seq(blob) ++ Seq("DIALECT", "2").map(_.getBytes(UTF_8)))).orThrow
    val hits = reply.items.drop(1).grouped(2).collect {
      case Vector(key, flds) =>
        val pairs = flds.items.grouped(2).collect {
          case Vector(f, v) => f.text -> v.text
        }.toMap
        Row.fromSeq(
          key.text.stripPrefix(prefix) +:
            pairs("__vector_score").toDouble +:
            fields.map(f => pairs.get(f.name).orNull))
    }.toVector
    val schema = StructType(
      StructField(RowKey, StringType) +:
        StructField("score", DoubleType) +:
        fields.map(f => StructField(f.name, StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(hits, 1), schema)
  }
}

object ValkeyIndexTarget {
  val RowKey = "row_key"
  /** The reference's fixed vector hash-field name (_target.py:240). */
  val VectorFieldName = "vector"
  val MaxScanIterations = 10000

  private[engine] def floatsOf(b: Array[Byte]): Array[Float] =
    Float32LE.decode(b)

  /** One row column → hash-field bytes: the vector column packs to
    * float32-LE (reference `_vector_to_bytes`); everything else is
    * stringified (reference stores `str(v)`, _target.py:362-365). */
  private def fieldBytes(name: String, dt: DataType, row: Row, i: Int,
      dim: Int): Array[Byte] = dt match {
    case ArrayType(FloatType, _) if name == VectorFieldName =>
      val v = row.getSeq[Float](i)
      require(dim <= 0 || v.length == dim,
        s"vector length ${v.length} != declared DIM $dim")
      Float32LE.encode(v)
    case ArrayType(DoubleType, _) if name == VectorFieldName =>
      val v = row.getSeq[Double](i)
      require(dim <= 0 || v.length == dim,
        s"vector length ${v.length} != declared DIM $dim")
      Float32LE.encodeDoubles(v)
    case _ => String.valueOf(row.get(i)).getBytes(UTF_8)
  }
}
