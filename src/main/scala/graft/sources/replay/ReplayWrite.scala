package graft.sources.replay

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.{BinaryType, IntegerType, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The WRITE half of the graft-replay table: a Kafka PRODUCER sink, the
  * engine-side equivalent of the reference's test producer
  * (populate_topic, /root/reference/tests/utils.rs:156-212 — an rdkafka
  * FutureProducer sending key/value pairs to explicit partitions). Here it
  * is a first-class DSv2 write so both lanes work:
  *
  *   - batch:      `df.write.format("graft-replay").option("client","kafka")
  *                    .option("path","broker:9092/topic").save()`
  *   - streaming:  `ds.writeStream.format("graft-replay")...start()`
  *
  * Input schema: `value` BINARY (required, nullable — null = tombstone),
  * plus optional `key` BINARY, `timestamp` TIMESTAMP (µs → broker ms;
  * absent = producer wall clock, like the official clients) and
  * `partition` INT (explicit routing). Without `partition`, a non-null key
  * routes via Kafka's DEFAULT PARTITIONER — murmur2(keyBytes) & 0x7fffffff
  * mod partition count, the exact public algorithm, so rows land on the
  * same partitions an official producer would pick — and null-key rows
  * round-robin from the Spark task id. Unknown input columns are rejected
  * loudly rather than silently dropped.
  *
  * Execution model at scale: every Spark task holds ONE producer client
  * with persistent per-leader connections, buffers rows per partition, and
  * flushes `producer.batch.records`-sized RecordBatch v2 frames (compressed
  * per `producer.compression.type`) — so a 1000-task write fans out to the
  * leaders directly, no driver funnel, exactly how distributed Kafka
  * writers are built. Delivery is AT-LEAST-ONCE: acks=-1, but a retried
  * Spark task re-produces its buffered rows; Kafka has no atomic
  * multi-partition commit for the driver to use, so the streaming epoch
  * commit is an observability no-op, like every Kafka sink.
  * `producer.enable.idempotence=true` (librdkafka's knob) upgrades the
  * TRANSPORT layer to exactly-once within each task's producer session —
  * an InitProducerId identity + per-partition sequence numbers let brokers
  * absorb the client's ambiguous-failure retries without re-appending —
  * but a restarted task is a NEW session with a new pid, so Spark-level
  * task retries remain at-least-once (full cross-session exactly-once
  * needs transactions, which this dialect does not speak; stated honestly).
  *
  * Only the `kafka` client kind can write (the file/socket backends are
  * read-side test seams; concurrent multi-task appends to a shared file log
  * would race).
  */
object ReplayWrite {
  private[replay] val WritableColumns = Set("key", "value", "timestamp", "partition")

  /** Kafka's default-partitioner hash (org.apache.kafka.common.utils.Utils
    * murmur2, public Apache code — re-implemented from the published
    * algorithm, seed 0x9747b28c): routing parity with official producers. */
  def murmur2(data: Array[Byte]): Int = {
    val seed = 0x9747b28c
    val m = 0x5bd1e995
    val r = 24
    val length = data.length
    var h = seed ^ length
    val length4 = length / 4
    var i = 0
    while (i < length4) {
      val i4 = i * 4
      var k = (data(i4) & 0xff) + ((data(i4 + 1) & 0xff) << 8) +
        ((data(i4 + 2) & 0xff) << 16) + ((data(i4 + 3) & 0xff) << 24)
      k *= m
      k ^= k >>> r
      k *= m
      h *= m
      h ^= k
      i += 1
    }
    val tail = length4 * 4
    if (length % 4 >= 3) h ^= (data(tail + 2) & 0xff) << 16
    if (length % 4 >= 2) h ^= (data(tail + 1) & 0xff) << 8
    if (length % 4 >= 1) { h ^= data(tail) & 0xff; h *= m }
    h ^= h >>> 13
    h *= m
    h ^= h >>> 15
    h
  }

  private[replay] def codecId(name: String): Int = name.toLowerCase(java.util.Locale.ROOT) match {
    case "none" | "uncompressed" => 0
    case "gzip" => 1
    case "snappy" => 2
    case "lz4" => 3
    case "zstd" => 4
    case other => throw new IllegalArgumentException(
      s"producer.compression.type '$other' unknown " +
        "(none, gzip, snappy, lz4, zstd)")
  }
}

/** Driver-side write plan: validates options + input schema once, resolves
  * the topic's partition ids once (metadata call), then hands executors a
  * serializable factory. */
class ReplayWriteBuilder(options: CaseInsensitiveStringMap,
    info: LogicalWriteInfo) extends WriteBuilder {
  import scala.jdk.CollectionConverters._

  override def build(): Write = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "option 'path' (host:port/topic) is required to write graft-replay"))
    val clientKind = Option(options.get("client")).getOrElse("file")
    require(clientKind == "kafka",
      s"graft-replay writes require client=kafka (got '$clientKind'): the " +
        "file/socket backends are read-side seams — multi-task appends to " +
        "a shared file log would race")
    // producer.* passthrough, prefix stripped — mirror of the read side's
    // consumer.* conf (same security keys travel: security.protocol, sasl.*)
    val producerConf = options.asScala.collect {
      case (k, v) if k.toLowerCase(java.util.Locale.ROOT).startsWith("producer.") =>
        k.substring("producer.".length) -> v
    }.toMap
    val batchRecords = producerConf.get("batch.records").map(_.toInt)
      .getOrElse(500)
    require(batchRecords > 0, s"producer.batch.records must be > 0")
    val codec = ReplayWrite.codecId(
      producerConf.getOrElse("compression.type", "none"))
    // `producer.transactional.id` upgrades the sink to TASK-ATTEMPT
    // transactions: each DataWriter owns one transaction (txn id =
    // `<base>-<sparkPartition>-<taskId>`, unique per attempt), committed at
    // task commit and aborted at task abort — so a failed or speculative
    // attempt's rows are PERMANENTLY invisible to read_committed consumers,
    // closing the duplicate-from-failed-attempts class the idempotent
    // producer alone cannot (honest scope: Spark's commit coordinator picks
    // the surviving attempt; an executor that dies WITHOUT running abort()
    // leaves its txn to the broker's transaction timeout, as with any
    // Kafka transactional producer).
    val txnBase = producerConf.get("transactional.id")

    val schema = info.schema()
    val unknown = schema.fieldNames.filterNot(f =>
      ReplayWrite.WritableColumns.contains(f.toLowerCase(java.util.Locale.ROOT)))
    require(unknown.isEmpty,
      s"graft-replay sink got unwritable columns ${unknown.mkString(", ")} " +
        "(writable: key BINARY, value BINARY, timestamp TIMESTAMP, " +
        "partition INT) — project them away explicitly")
    def idxOf(name: String, tpe: org.apache.spark.sql.types.DataType): Int = {
      val i = schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
      if (i >= 0) require(schema.fields(i).dataType == tpe,
        s"graft-replay sink column '$name' must be $tpe, " +
          s"got ${schema.fields(i).dataType}")
      i
    }
    val valueIdx = idxOf("value", BinaryType)
    require(valueIdx >= 0, "graft-replay sink requires a 'value' BINARY column")
    val keyIdx = idxOf("key", BinaryType)
    val tsIdx = idxOf("timestamp", TimestampType)
    val partIdx = idxOf("partition", IntegerType)

    // one metadata round-trip on the driver: the topic's partition ids
    // (sorted — the murmur2 index must be stable across tasks)
    val probe = new KafkaLogClient(path, producerConf)
    val partitionIds = probe.listPartitions().toArray
    require(partitionIds.nonEmpty, s"topic at '$path' has no partitions")

    val factory = ReplayWriterFactory(path, producerConf, partitionIds,
      keyIdx, valueIdx, tsIdx, partIdx, batchRecords, codec, txnBase)
    new Write {
      override def toBatch: BatchWrite = new ReplayBatchWrite(factory)
      override def toStreaming: StreamingWrite = new ReplayStreamingWrite(factory)
      override def description(): String = s"graft-replay-produce($path)"
    }
  }
}

/** Per-task rows-produced accounting, surfaced to the driver at commit. */
case class ReplayWriteCommit(taskId: Long, records: Long)
  extends WriterCommitMessage

case class ReplayWriterFactory(path: String, conf: Map[String, String],
    partitionIds: Array[Int], keyIdx: Int, valueIdx: Int, tsIdx: Int,
    partIdx: Int, batchRecords: Int, codec: Int,
    txnBase: Option[String] = None)
  extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ReplayDataWriter(this, partitionId, taskId)
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new ReplayDataWriter(this, partitionId, taskId)
}

/** Executor-side producer task: route → buffer per partition → flush
  * RecordBatch v2 frames of `batchRecords` through one persistent client.
  * With a transactional sink (factory.txnBase set), the whole task runs as
  * ONE Kafka transaction: opened lazily at the first row, committed in
  * [[commit]], aborted in [[abort]]. */
class ReplayDataWriter(f: ReplayWriterFactory, sparkPartitionId: Int,
    taskId: Long) extends DataWriter[InternalRow] {
  private val client = new KafkaLogClient(f.path,
    f.conf ++
      f.txnBase.map(b => "transactional.id" -> s"$b-$sparkPartitionId-$taskId"))
  private var txnOpen = false
  private val buffers = Array.fill(f.partitionIds.length)(
    scala.collection.mutable.ArrayBuffer.empty[(Array[Byte], Array[Byte], Long)])
  // null-key round-robin cursor, seeded by the Spark task so concurrent
  // tasks spread instead of all starting at partition 0
  private var rr = math.floorMod(sparkPartitionId, f.partitionIds.length)
  private var written = 0L

  private def route(key: Array[Byte], explicit: Int): Int = {
    if (f.partIdx >= 0) {
      val i = java.util.Arrays.binarySearch(f.partitionIds, explicit)
      require(i >= 0, s"explicit partition $explicit not in topic " +
        s"(has ${f.partitionIds.mkString(",")})")
      i
    } else if (key != null) {
      (ReplayWrite.murmur2(key) & 0x7fffffff) % f.partitionIds.length
    } else {
      rr = (rr + 1) % f.partitionIds.length
      rr
    }
  }

  override def write(row: InternalRow): Unit = {
    if (f.txnBase.isDefined && !txnOpen) { client.beginTxn(); txnOpen = true }
    val key = if (f.keyIdx >= 0 && !row.isNullAt(f.keyIdx))
      row.getBinary(f.keyIdx) else null
    val value = if (!row.isNullAt(f.valueIdx)) row.getBinary(f.valueIdx) else null
    val tsMs = if (f.tsIdx >= 0 && !row.isNullAt(f.tsIdx))
      row.getLong(f.tsIdx) / 1000L else System.currentTimeMillis()
    val explicit = if (f.partIdx >= 0) {
      require(!row.isNullAt(f.partIdx),
        "graft-replay sink 'partition' column must not be null")
      row.getInt(f.partIdx)
    } else -1
    val slot = route(key, explicit)
    // InternalRow binary getters may expose reused buffers — copy before
    // deferring to the flush
    buffers(slot) += ((
      if (key == null) null else key.clone(),
      if (value == null) null else value.clone(), tsMs))
    if (buffers(slot).length >= f.batchRecords) flush(slot)
  }

  private def flush(slot: Int): Unit = if (buffers(slot).nonEmpty) {
    client.produce(f.partitionIds(slot), buffers(slot).toSeq, f.codec)
    written += buffers(slot).length
    buffers(slot).clear()
  }

  override def commit(): WriterCommitMessage = {
    buffers.indices.foreach(flush)
    if (txnOpen) { client.endTxn(commit = true); txnOpen = false }
    client.closeProducer()
    ReplayWriteCommit(taskId, written)
  }

  override def abort(): Unit = {
    // transactional task abort: the marker makes every row this attempt
    // produced permanently invisible to read_committed consumers
    if (txnOpen) {
      try client.endTxn(commit = false)
      catch { case _: java.io.IOException => () } // broker gone: txn times out
      txnOpen = false
    }
    close()
  }
  override def close(): Unit = {
    buffers.foreach(_.clear())
    client.closeProducer()
  }
}

class ReplayBatchWrite(f: ReplayWriterFactory) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = f
  // Kafka has no atomic cross-partition commit: data is durable (acks=-1)
  // the moment each produce returns; commit/abort are bookkeeping only
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class ReplayStreamingWrite(f: ReplayWriterFactory) extends StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = f
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}
