package graft.engine

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Kafka topic target over the real wire protocol — the reference's
  * `kafka.declare_target_state` connector
  * (python/cocoindex/connectors/kafka/_target.py:231,277,301):
  *
  *   - one message per changed target state: upsert → (key, value),
  *     delete → tombstone (null value; the reference's optional
  *     `deletion_value_fn` maps a key to a non-null deletion payload,
  *     _target.py:255-260);
  *   - at-least-once: Produce with acks=all, per-partition error
  *     codes checked (the reference awaits every delivery report);
  *     re-applying a delta re-produces the same (key, value) pairs —
  *     idempotent at the compaction level;
  *   - the topic is USER-MANAGED: the target never creates or drops
  *     it (truncate is a no-op by design, _target.py:214-216 — the
  *     destructive transition is the operator's re-provisioning);
  *   - keys route to partitions with the client's default murmur2
  *     partitioner ([[KafkaWire.partitionFor]]), so a key's messages
  *     are totally ordered within its partition.
  *
  * Writes run executor-side: rows are key-hash partitioned, each task
  * opens one [[KafkaWireClient]] and produces one v2 record batch per
  * kafka partition per `batchSize` slice. Read-back fetches each
  * kafka partition in its own executor task and compacts client-side
  * (latest record per key, tombstones dropped) — the same view
  * `TopicTarget.compacted` serves broker-less.
  *
  * No broker exists in the environment; specs and the q88 gate run
  * against [[graft.fixtures.MiniKafkaBroker]] — real frames, real v2
  * record batches, real CRC32C over a real socket.
  */
final case class KafkaWireTopicTarget(host: String, port: Int,
    topic: String, writePartitions: Int = 2, batchSize: Int = 256)
    extends WireTarget {

  import KafkaWireTopicTarget._

  override def containerSignature: String =
    s"kafka;$host:$port;topic=$topic"

  protected type Conn = KafkaWireClient
  /** The topic's partition count (the topic is user-managed: it is
    * never created here). */
  protected type Container = Int

  protected def connect(): KafkaWireClient = new KafkaWireClient(host, port)

  protected def observe(c: KafkaWireClient): Option[Int] =
    c.metadata(Seq(topic)).find(_.name == topic).map(_.partitions.length)

  private def noTopic = new IllegalStateException(s"no topic $topic")

  protected def prepare(c: KafkaWireClient, schema: StructType,
      existing: Option[Int]): WireWriter[KafkaWireClient] = {
    val nParts = existing.getOrElse(throw noTopic)
    val (t, bs) = (topic, batchSize)
    def send(c: KafkaWireClient,
        records: Iterator[(Array[Byte], Array[Byte])]): Unit =
      records.grouped(bs).foreach { slice =>
        val now = System.currentTimeMillis()
        slice.groupBy { case (k, _) => KafkaWire.partitionFor(k, nParts) }
          .foreach { case (part, recs) => c.produce(t, part, recs, now) }
      }
    val keyIdx = schema.fieldIndex(RowKey)
    val valIdx = schema.fieldIndex(ValueCol)
    val valBinary = schema(valIdx).dataType == BinaryType
    WireWriter(
      upsert = (c, rows) => send(c, rows.map(r => (
        r.getString(keyIdx).getBytes(UTF_8),
        if (r.isNullAt(valIdx)) null
        else if (valBinary) r.getAs[Array[Byte]](valIdx)
        else r.getString(valIdx).getBytes(UTF_8)))),
      delete = (c, keys) => // tombstones
        send(c, keys.map(k => (k.getBytes(UTF_8), null: Array[Byte]))))
  }

  /** The compacted view: one executor task per kafka partition
    * fetches from offset 0 and keeps each key's LATEST record
    * (per-partition offset order is total per key because keys are
    * partition-sticky); tombstones drop. Columns: (key, value). */
  def read(spark: SparkSession): DataFrame = {
    val nParts = withConn(observe).getOrElse(throw noTopic)
    val (h, p, t) = (host, port, topic)
    val rdd = spark.sparkContext
      .parallelize(0 until nParts, nParts)
      .mapPartitions { parts =>
        parts.flatMap { part =>
          val c = new KafkaWireClient(h, p)
          try {
            val latest = scala.collection.mutable.LinkedHashMap
              .empty[String, (Long, Array[Byte])]
            var offset = 0L
            var done = false
            while (!done) {
              val (records, hw) = c.fetch(t, part, offset)
              records.foreach { r =>
                val k = new String(r.key, UTF_8)
                latest.get(k) match {
                  case Some((o, _)) if o > r.offset => ()
                  case _ => latest(k) = (r.offset, r.value)
                }
              }
              offset = records.lastOption.map(_.offset + 1).getOrElse(hw)
              done = records.isEmpty || offset >= hw
            }
            latest.iterator.collect {
              case (k, (_, v)) if v != null =>
                Row(k, new String(v, UTF_8))
            }.toVector
          } finally c.close()
        }
      }
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("key", StringType), StructField("value", StringType))))
  }

  /** The raw log of one partition (assertion helper): (offset, key,
    * value|null). */
  def log(spark: SparkSession, partition: Int): Seq[(Long, String, Option[String])] =
    withConn { c =>
      val (records, _) = c.fetch(topic, partition, 0L)
      records.map(r => (r.offset, new String(r.key, UTF_8),
        Option(r.value).map(new String(_, UTF_8))))
    }
}

object KafkaWireTopicTarget {
  val RowKey = "row_key"
  val ValueCol = "value"
}
