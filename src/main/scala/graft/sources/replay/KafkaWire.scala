package graft.sources.replay

import java.io.{BufferedInputStream, ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException, IOException}

/** Kafka wire-protocol codec shared by [[KafkaLogClient]], the in-process
  * broker double [[KafkaLogServer]], [[GroupCoordinator]] and
  * [[KafkaGroupMembership]]. Big-endian framing in BOTH dialects: the
  * pinned pre-flexible versions (classic int16/int32-length strings,
  * bytes and arrays; header v1) and the flexible KIP-482 versions
  * (compact uvarint-length strings, bytes and arrays, a tagged-field
  * buffer closing every structure; header v2).
  *
  * The dialect is decided in ONE place: a [[WireWriter]] / [[WireReader]]
  * is bound to an (api key, version) and picks the compact or classic
  * encoding from [[isFlexible]], and [[request]] / [[readRequestHeader]] /
  * [[writeResponse]] pick the header the same way. Every API is therefore
  * written once per side; its code names a version only where the
  * protocol adds or drops a field (`if (w.version >= 9)`), the way Apache
  * Kafka's generated message classes do.
  *
  * Why the pinned dialect stays: KIP-482 frames first shipped in Kafka
  * 2.4, and the Kafka 4.0 Java client still supports brokers from 2.1
  * (KIP-896), so 2.1-2.3 brokers can only be served by the pinned
  * versions. Both dialects are negotiated per API from the broker's
  * ApiVersions ranges (highest mutually spoken wins). */
private[replay] object KafkaWire {
  val ApiProduce: Short = 0
  val ApiFetch: Short = 1
  val ApiListOffsets: Short = 2
  val ApiMetadata: Short = 3
  val ApiOffsetCommit: Short = 8
  val ApiOffsetFetch: Short = 9
  val ApiFindCoordinator: Short = 10
  val ApiJoinGroup: Short = 11
  val ApiHeartbeat: Short = 12
  val ApiLeaveGroup: Short = 13
  val ApiSyncGroup: Short = 14
  val ApiDescribeGroups: Short = 15
  val ApiListGroups: Short = 16
  val ApiSaslHandshake: Short = 17
  val ApiApiVersions: Short = 18
  val ApiCreateTopics: Short = 19
  val ApiDeleteTopics: Short = 20
  val ApiDeleteRecords: Short = 21
  val ApiInitProducerId: Short = 22
  val ApiAddPartitionsToTxn: Short = 24
  val ApiAddOffsetsToTxn: Short = 25
  val ApiEndTxn: Short = 26
  val ApiTxnOffsetCommit: Short = 28
  val ApiDescribeConfigs: Short = 32
  val ApiSaslAuthenticate: Short = 36
  val ApiDeleteGroups: Short = 42
  val ApiIncrementalAlterConfigs: Short = 44
  val ApiOffsetDelete: Short = 47
  val ClientId = "graft"

  /** One aborted transaction from a Fetch response's per-partition
    * `aborted_transactions` list: the producer id and the first offset it
    * wrote to this partition. A read_committed consumer drops every
    * TRANSACTIONAL batch from `pid` between `firstOffset` and that
    * producer's next control marker — exactly the official client's
    * aborted-producer scan. */
  final case class AbortedTxn(pid: Long, firstOffset: Long)

  def writeString(o: DataOutputStream, s: String): Unit = {
    val b = s.getBytes("UTF-8")
    o.writeShort(b.length); o.write(b)
  }

  def readString(in: DataInputStream): String = {
    val len = in.readShort()
    if (len < 0) null
    else { val b = new Array[Byte](len); in.readFully(b); new String(b, "UTF-8") }
  }

  /** Flexible (KIP-482) request versions per api key: the protocol's own
    * flexibleVersions floor for each API this codec speaks. */
  val FlexibleSince: Map[Short, Short] =
    Map(ApiApiVersions -> 3, ApiMetadata -> 9, ApiFetch -> 12,
      ApiListOffsets -> 6, ApiProduce -> 9,
      ApiFindCoordinator -> 3, ApiOffsetCommit -> 8, ApiOffsetFetch -> 6,
      ApiJoinGroup -> 6, ApiHeartbeat -> 4, ApiLeaveGroup -> 4,
      ApiSyncGroup -> 4, ApiInitProducerId -> 2,
      ApiAddPartitionsToTxn -> 3, ApiAddOffsetsToTxn -> 3,
      ApiEndTxn -> 3, ApiTxnOffsetCommit -> 3, ApiCreateTopics -> 5,
      ApiDescribeGroups -> 5, ApiListGroups -> 3, ApiDeleteTopics -> 4,
      ApiDeleteRecords -> 2, ApiDeleteGroups -> 2,
      ApiDescribeConfigs -> 4, ApiIncrementalAlterConfigs -> 1)
  def isFlexible(apiKey: Short, apiVersion: Short): Boolean =
    FlexibleSince.get(apiKey).exists(apiVersion >= _)

  /** Flexible responses carry header v1 (correlation id + tagged fields) —
    * except ApiVersions, whose response header stays v0 (KIP-511: the
    * broker cannot know the client's flexible support before parsing). */
  private def taggedResponseHeader(apiKey: Short, apiVersion: Short): Boolean =
    isFlexible(apiKey, apiVersion) && apiKey != ApiApiVersions

  // ---- frames ---------------------------------------------------------------

  /** One size-framed request/response on an open connection. The request
    * header is v2 (client_id, then a tagged-field buffer) for a flexible
    * version and v1 otherwise; client_id stays a classic string in both.
    * Returns the response body positioned after the response header. */
  def request(in: DataInputStream, out: DataOutputStream, apiKey: Short,
      apiVersion: Short, body: Array[Byte]): DataInputStream = {
    val header = new ByteArrayOutputStream()
    val h = new DataOutputStream(header)
    h.writeShort(apiKey); h.writeShort(apiVersion)
    h.writeInt(1)               // correlation id (sequential per-connection)
    writeString(h, ClientId)
    if (isFlexible(apiKey, apiVersion)) writeEmptyTagged(h)
    out.writeInt(header.size() + body.length)
    out.write(header.toByteArray); out.write(body); out.flush()
    val size = in.readInt()
    val resp = new Array[Byte](size)
    in.readFully(resp)
    val r = new DataInputStream(new ByteArrayInputStream(resp))
    r.readInt()                 // correlation id
    if (taggedResponseHeader(apiKey, apiVersion)) skipTagged(r)
    r
  }

  /** [[request]] with the body written by `body` and the response read
    * through a [[WireReader]] bound to the same (api key, version). */
  def roundTrip(in: DataInputStream, out: DataOutputStream, apiKey: Short,
      apiVersion: Short)(body: WireWriter => Unit): WireReader = {
    val w = new WireWriter(apiKey, apiVersion)
    body(w)
    new WireReader(request(in, out, apiKey, apiVersion, w.toByteArray),
      apiKey, apiVersion)
  }

  /** Broker side: parse a request frame's header, leaving `r` at the body.
    * Returns (api key, version, correlation id). */
  def readRequestHeader(r: DataInputStream): (Short, Short, Int) = {
    val apiKey = r.readShort()
    val apiVersion = r.readShort()
    val correlationId = r.readInt()
    readString(r)               // client_id
    if (isFlexible(apiKey, apiVersion)) skipTagged(r)
    (apiKey, apiVersion, correlationId)
  }

  /** Broker side: size-frame and send one response body. */
  def writeResponse(out: DataOutputStream, apiKey: Short, apiVersion: Short,
      correlationId: Int, body: Array[Byte]): Unit = {
    val tagged = taggedResponseHeader(apiKey, apiVersion)
    out.writeInt(4 + (if (tagged) 1 else 0) + body.length)
    out.writeInt(correlationId)
    if (tagged) writeEmptyTagged(out)
    out.write(body)
    out.flush()
  }

  /** Writes one request or response body of (api key, version). Strings,
    * bytes and arrays are compact in a flexible version and classic
    * otherwise; [[tags]] closes a structure with an empty tagged-field
    * buffer in a flexible version and writes nothing otherwise. Nulls are
    * the protocol's nullable encodings (length -1, or compact 0). */
  final class WireWriter(apiKey: Short, val version: Short) {
    private val flexible = isFlexible(apiKey, version)
    private val buf = new ByteArrayOutputStream()
    private val o = new DataOutputStream(buf)

    def int8(v: Int): this.type = { o.writeByte(v); this }
    def int16(v: Int): this.type = { o.writeShort(v); this }
    def int32(v: Int): this.type = { o.writeInt(v); this }
    def int64(v: Long): this.type = { o.writeLong(v); this }
    def bool(v: Boolean): this.type = { o.writeBoolean(v); this }
    def string(s: String): this.type = {
      if (flexible) writeCompactString(o, s)
      else if (s == null) o.writeShort(-1)
      else writeString(o, s)
      this
    }
    def bytes(b: Array[Byte]): this.type = {
      if (flexible) writeCompactBytes(o, b)
      else if (b == null) o.writeInt(-1)
      else { o.writeInt(b.length); o.write(b) }
      this
    }
    /** An array header for `n` elements; -1 writes a null array. */
    def arrayLen(n: Int): this.type = {
      if (flexible) writeCompactArrayLen(o, n) else o.writeInt(n)
      this
    }
    def array[A](xs: Iterable[A])(element: A => Any): this.type = {
      arrayLen(xs.size)
      xs.foreach(element)
      this
    }
    def tags(): this.type = { if (flexible) writeEmptyTagged(o); this }
    def toByteArray: Array[Byte] = buf.toByteArray
  }

  /** Reads one request or response body of (api key, version): the mirror
    * of [[WireWriter]]. [[tags]] skips a tagged-field buffer in a flexible
    * version (this codec ignores every tagged field, the KIP-482
    * forward-compatibility contract). [[bytes]] reads the payload with one
    * `readFully` into a fresh array; null stays null. */
  final class WireReader(in: DataInputStream, apiKey: Short,
      val version: Short) {
    private val flexible = isFlexible(apiKey, version)

    def int8(): Byte = in.readByte()
    def int16(): Short = in.readShort()
    def int32(): Int = in.readInt()
    def int64(): Long = in.readLong()
    def bool(): Boolean = in.readBoolean()
    def string(): String =
      if (flexible) readCompactString(in) else readString(in)
    def bytes(): Array[Byte] =
      if (flexible) readCompactBytes(in)
      else {
        val n = in.readInt()
        if (n < 0) null else { val b = new Array[Byte](n); in.readFully(b); b }
      }
    /** An array header: the element count, -1 for a null array. */
    def arrayLen(): Int =
      if (flexible) readCompactArrayLen(in) else in.readInt()
    /** An array whose elements `element` reads in order (null = empty). */
    def array[A](element: => A): IndexedSeq[A] =
      (0 until math.max(arrayLen(), 0)).map(_ => element)
    def tags(): Unit = if (flexible) skipTagged(in)
  }

  // ---- KIP-482 compact primitives ------------------------------------------
  // COMPACT strings/arrays/bytes carry an UNSIGNED-varint length+1 (0 =
  // null); a tagged-field buffer closes every flexible structure.

  /** UNSIGNED varint (compact lengths, tagged-field counts — NOT zigzag). */
  def readUvarint(in: DataInputStream): Int = {
    var value = 0; var shift = 0
    var b = in.readByte()
    while ((b & 0x80) != 0) {
      value |= (b & 0x7f) << shift; shift += 7; b = in.readByte()
    }
    value | ((b & 0x7f) << shift)
  }

  def writeUvarint(o: DataOutputStream, v0: Int): Unit = {
    var v = v0
    while ((v & ~0x7f) != 0) { o.writeByte((v & 0x7f) | 0x80); v >>>= 7 }
    o.writeByte(v)
  }

  /** COMPACT_NULLABLE_STRING: uvarint(n+1); 0 encodes null. */
  def readCompactString(in: DataInputStream): String = {
    val n = readUvarint(in) - 1
    if (n < 0) null
    else { val b = new Array[Byte](n); in.readFully(b); new String(b, "UTF-8") }
  }

  def writeCompactString(o: DataOutputStream, s: String): Unit =
    if (s == null) writeUvarint(o, 0)
    else {
      val b = s.getBytes("UTF-8")
      writeUvarint(o, b.length + 1); o.write(b)
    }

  /** COMPACT_NULLABLE_BYTES: uvarint(n+1); 0 encodes null. */
  def readCompactBytes(in: DataInputStream): Array[Byte] = {
    val n = readUvarint(in) - 1
    if (n < 0) null
    else { val b = new Array[Byte](n); in.readFully(b); b }
  }

  def writeCompactBytes(o: DataOutputStream, b: Array[Byte]): Unit =
    if (b == null) writeUvarint(o, 0)
    else { writeUvarint(o, b.length + 1); o.write(b) }

  /** Compact array length on the wire is count+1 (0 = null array). */
  def readCompactArrayLen(in: DataInputStream): Int = readUvarint(in) - 1
  def writeCompactArrayLen(o: DataOutputStream, n: Int): Unit =
    writeUvarint(o, n + 1)

  /** Skip a tagged-field buffer. */
  def skipTagged(in: DataInputStream): Unit = {
    val n = readUvarint(in)
    (1 to n).foreach { _ =>
      readUvarint(in)           // tag
      val size = readUvarint(in)
      in.skipNBytes(size.toLong)
    }
  }

  def writeEmptyTagged(o: DataOutputStream): Unit = writeUvarint(o, 0)

  // ---- varints (zigzag, protobuf layout — Kafka record fields) -------------

  def readVarint(in: DataInputStream): Int = {
    var value = 0; var shift = 0
    var b = in.readByte()
    while ((b & 0x80) != 0) {
      value |= (b & 0x7f) << shift; shift += 7; b = in.readByte()
    }
    value |= (b & 0x7f) << shift
    (value >>> 1) ^ -(value & 1)
  }

  def readVarlong(in: DataInputStream): Long = {
    var value = 0L; var shift = 0
    var b = in.readByte()
    while ((b & 0x80) != 0) {
      value |= (b & 0x7fL) << shift; shift += 7; b = in.readByte()
    }
    value |= (b & 0x7fL) << shift
    (value >>> 1) ^ -(value & 1L)
  }

  def writeVarint(o: DataOutputStream, v: Int): Unit = {
    var z = (v << 1) ^ (v >> 31)
    while ((z & ~0x7f) != 0) { o.writeByte((z & 0x7f) | 0x80); z >>>= 7 }
    o.writeByte(z)
  }

  def writeVarlong(o: DataOutputStream, v: Long): Unit = {
    var z = (v << 1) ^ (v >> 63)
    while ((z & ~0x7fL) != 0L) { o.writeByte(((z & 0x7f) | 0x80).toInt); z >>>= 7 }
    o.writeByte(z.toInt)
  }

  /** Open a decompressing stream over a RecordBatch v2 records section.
    * Kafka's four standard codecs, each in the exact framing the official
    * clients write (and rdkafka reads — the reference inherits all four
    * transparently from librdkafka, Cargo.toml:8): gzip = RFC-1952 via the
    * JDK, snappy = xerial framed stream (snappy-java), lz4 = LZ4 Frame
    * format (magic>=1 framing; lz4-java), zstd = zstd frame (zstd-jni).
    * All three codec jars ship with Spark, so no new dependency. Unknown
    * codec ids still fail loudly — a silent wrong decode is worse than an
    * error. */
  def decompressed(codec: Int, raw: java.io.InputStream): java.io.InputStream =
    codec match {
      case 1 => new java.util.zip.GZIPInputStream(raw)
      case 2 => new org.xerial.snappy.SnappyInputStream(raw)
      case 3 => new net.jpountz.lz4.LZ4FrameInputStream(raw)
      case 4 => new com.github.luben.zstd.ZstdInputStream(raw)
      case c => throw new IOException(
        s"unknown kafka compression codec $c (known: 0 none, 1 gzip, " +
          "2 snappy, 3 lz4, 4 zstd)")
    }

  /** Number of RecordBatch v2 header bytes covered by batch_length BEFORE
    * the records section (partition_leader_epoch .. records_count). */
  val BatchHeaderAfterLength = 49

  /** Producer-side mirror of [[decompressed]]: wrap `sink` in the codec's
    * standard framing (the exact streams the official producers use). */
  def compressed(codec: Int, sink: java.io.OutputStream): java.io.OutputStream =
    codec match {
      case 1 => new java.util.zip.GZIPOutputStream(sink)
      case 2 => new org.xerial.snappy.SnappyOutputStream(sink)
      case 3 => new net.jpountz.lz4.LZ4FrameOutputStream(sink)
      case 4 => new com.github.luben.zstd.ZstdOutputStream(sink)
      case c => throw new IOException(
        s"unknown kafka compression codec $c (known: 0 none, 1 gzip, " +
          "2 snappy, 3 lz4, 4 zstd)")
    }

  /** Encode records as ONE RecordBatch v2 for a Produce request —
    * the exact layout the official producers write (the decode mirror of
    * [[decodeBatches]]'s v2 arm): plaintext 61-byte header, records section
    * compressed as a unit when `codec` != 0, and a REAL CRC-32C
    * (Castagnoli) over attributes..end. The consume path tolerates crc=0
    * test doubles, but brokers VERIFY the checksum on produce and reject
    * the batch with CORRUPT_MESSAGE, so the producer side cannot skip it.
    * `recs` are (key, value, timestampMs) with nullable key/value;
    * `baseOffset` is written as 0 on produce — the broker rewrites it to
    * the assigned log position (producers never know it in advance); the
    * broker double passes the real assigned offset when re-serving stored
    * batches through Fetch. Producer id/epoch/
    * baseSeq default to -1 (non-idempotent, like a default-config
    * producer); an idempotent producer passes its InitProducerId-assigned
    * identity plus the partition's next sequence number, which brokers use
    * to absorb retried duplicates. `transactional` sets attributes bit 4 —
    * the flag that scopes the batch to its producer's open transaction
    * (read_committed consumers hide it until the commit marker lands). */
  def encodeRecordBatchV2(
      recs: Seq[(Array[Byte], Array[Byte], Long)], codec: Int,
      pid: Long = -1L, pepoch: Short = -1, baseSeq: Int = -1,
      transactional: Boolean = false, baseOffset: Long = 0L): Array[Byte] = {
    require(recs.nonEmpty, "kafka RecordBatch must carry at least one record")
    val firstTs = recs.head._3
    val recBytes = new ByteArrayOutputStream()
    val ro = new DataOutputStream(recBytes)
    recs.zipWithIndex.foreach { case ((k, v, tsMs), i) =>
      val one = new ByteArrayOutputStream(); val oo = new DataOutputStream(one)
      oo.writeByte(0)                     // record attributes
      writeVarlong(oo, tsMs - firstTs)
      writeVarint(oo, i)                  // offset delta
      def blob(b: Array[Byte]): Unit =
        if (b == null) writeVarint(oo, -1)
        else { writeVarint(oo, b.length); oo.write(b) }
      blob(k); blob(v)
      writeVarint(oo, 0)                  // headers
      writeVarint(ro, one.size())         // record length prefix
      ro.write(one.toByteArray)
    }
    val recordsOut: Array[Byte] =
      if (codec == 0) recBytes.toByteArray
      else {
        val cb = new ByteArrayOutputStream()
        val cs = compressed(codec, cb)
        cs.write(recBytes.toByteArray); cs.close()
        cb.toByteArray
      }

    // attributes..end — the span the CRC covers
    val body = new ByteArrayOutputStream(); val bo = new DataOutputStream(body)
    bo.writeShort((codec & 0x07) |        // attributes: codec bits, create-time
      (if (transactional) 0x10 else 0))   // bit 4: transactional
    bo.writeInt(recs.size - 1)            // last offset delta
    bo.writeLong(firstTs)
    bo.writeLong(recs.map(_._3).max)      // max timestamp
    bo.writeLong(pid); bo.writeShort(pepoch); bo.writeInt(baseSeq)
    bo.writeInt(recs.size)
    bo.write(recordsOut)
    val crc = new java.util.zip.CRC32C()
    crc.update(body.toByteArray)

    val out = new ByteArrayOutputStream(); val o = new DataOutputStream(out)
    o.writeLong(baseOffset)               // base offset (broker-assigned)
    o.writeInt(9 + body.size())           // batch length: epoch+magic+crc+body
    o.writeInt(-1)                        // partition leader epoch
    o.writeByte(2)                        // magic
    o.writeInt(crc.getValue.toInt)
    o.write(body.toByteArray)
    out.toByteArray
  }

  /** Encode a transaction CONTROL batch — the marker the coordinator writes
    * into each data partition when a transaction ends (WriteTxnMarkers on a
    * real cluster). One record, attributes bits 4+5 (transactional +
    * control), key = int16 version 0 + int16 type (1 = COMMIT, 0 = ABORT),
    * value = int16 version 0 + int32 coordinator epoch — the public control
    * record schema. Consumers never surface it as data; it occupies one log
    * offset (the reason Kafka offsets are not dense) and tells a
    * read_committed scan where `pid`'s in-flight span ends. */
  def encodeControlBatch(baseOffset: Long, pid: Long, pepoch: Short,
      commit: Boolean, tsMs: Long): Array[Byte] = {
    val key = new ByteArrayOutputStream(); val ko = new DataOutputStream(key)
    ko.writeShort(0)                      // control record version
    ko.writeShort(if (commit) 1 else 0)   // type: 1 commit, 0 abort
    val value = new ByteArrayOutputStream(); val vo = new DataOutputStream(value)
    vo.writeShort(0)                      // marker value version
    vo.writeInt(0)                        // coordinator epoch

    val one = new ByteArrayOutputStream(); val oo = new DataOutputStream(one)
    oo.writeByte(0)                       // record attributes
    writeVarlong(oo, 0L)                  // ts delta
    writeVarint(oo, 0)                    // offset delta
    writeVarint(oo, key.size()); oo.write(key.toByteArray)
    writeVarint(oo, value.size()); oo.write(value.toByteArray)
    writeVarint(oo, 0)                    // headers
    val recBytes = new ByteArrayOutputStream()
    val ro = new DataOutputStream(recBytes)
    writeVarint(ro, one.size()); ro.write(one.toByteArray)

    val body = new ByteArrayOutputStream(); val bo = new DataOutputStream(body)
    bo.writeShort(0x30)                   // attributes: control + transactional
    bo.writeInt(0)                        // last offset delta
    bo.writeLong(tsMs); bo.writeLong(tsMs)
    bo.writeLong(pid); bo.writeShort(pepoch); bo.writeInt(-1) // seq: markers have none
    bo.writeInt(1)
    bo.write(recBytes.toByteArray)
    val crc = new java.util.zip.CRC32C()
    crc.update(body.toByteArray)
    val out = new ByteArrayOutputStream(); val o = new DataOutputStream(out)
    o.writeLong(baseOffset)
    o.writeInt(9 + body.size())
    o.writeInt(-1); o.writeByte(2); o.writeInt(crc.getValue.toInt)
    o.write(body.toByteArray)
    out.toByteArray
  }

  /** True when a record_set's FIRST RecordBatch v2 carries the
    * transactional attribute bit (attributes int16 at fixed offset 21). */
  def batchIsTransactional(recordSet: Array[Byte]): Boolean =
    (java.nio.ByteBuffer.wrap(recordSet, 21, 2).getShort & 0x10) != 0

  /** Producer identity + sequence range of a record_set's FIRST RecordBatch
    * v2 — the fields a broker's idempotence check reads (fixed offsets in
    * the batch header: pid@43, epoch@51, baseSeq@53, lastSeq = baseSeq +
    * lastOffsetDelta@23). Returns (pid, epoch, baseSeq, lastSeq); pid -1 =
    * non-idempotent batch. */
  def batchProducerInfo(recordSet: Array[Byte]): (Long, Short, Int, Int) = {
    val bb = java.nio.ByteBuffer.wrap(recordSet)
    val lastOffsetDelta = bb.getInt(23)
    val pid = bb.getLong(43)
    val epoch = bb.getShort(51)
    val baseSeq = bb.getInt(53)
    (pid, epoch, baseSeq, if (baseSeq < 0) -1 else baseSeq + lastOffsetDelta)
  }

  /** Verify a record_set's RecordBatch v2 CRC-32C fields the way a broker
    * does on produce: recompute over attributes..end of each batch and
    * compare with the stored crc. Returns true when every batch checks out.
    * (Used by the broker double; a real broker answers CORRUPT_MESSAGE.) */
  def crcValid(recordSet: Array[Byte]): Boolean = {
    var pos = 0
    while (recordSet.length - pos >= 17) {
      val batchLength = java.nio.ByteBuffer.wrap(recordSet, pos + 8, 4).getInt
      if (recordSet.length - pos < 12 + batchLength || recordSet(pos + 16) != 2)
        return false                      // truncated or non-v2: reject
      val stored = java.nio.ByteBuffer.wrap(recordSet, pos + 17, 4).getInt
      val crc = new java.util.zip.CRC32C()
      crc.update(recordSet, pos + 21, batchLength - 9)
      if (crc.getValue.toInt != stored) return false
      pos += 12 + batchLength
    }
    pos == recordSet.length
  }

  /** Decode a Fetch record_set (one or more RecordBatch v2 OR legacy magic
    * 0/1 MessageSet entries, possibly with a truncated tail — brokers cut
    * at max_bytes) into (offset, key, value, timestampMs) for records at or
    * past `minOffset`. All three layouts share the first 17 bytes' shape —
    * int64 offset, int32 length, then magic at byte 16 (after v2's
    * partition_leader_epoch ≡ legacy's crc) — which is exactly how the
    * official consumers sniff the format; rdkafka reads pre-0.11 topics the
    * same way, so the reference consumes them transparently
    * (src/kafka/execution.rs:85-99). v2 handles all four standard codecs
    * (the records section is the compressed unit); legacy wrappers handle
    * gzip/snappy (+lz4 on v1 — v0's lz4 used a nonstandard broken-checksum
    * framing and fails loudly), with v1 relative-offset rewrite and
    * log-append-time override per the public format spec. Unknown magic
    * still throws. */
  def decodeBatches(recordSet: Array[Byte], minOffset: Long, needKey: Boolean,
      needValue: Boolean): Iterator[(Long, Array[Byte], Array[Byte], Long)] =
    decodeBatchesTxn(recordSet, minOffset, needKey, needValue,
      Nil, readCommitted = false)._1

  /** Transaction-aware variant of [[decodeBatches]]: additionally returns
    * the SCAN POSITION after the last complete batch (baseOffset +
    * lastOffsetDelta + 1), which is where the next Fetch must resume — with
    * transactions in the log, offsets are NOT dense (control markers occupy
    * offsets, aborted spans may decode to zero records), so "last record
    * offset + 1" under-advances and would re-fetch marker batches forever.
    * Under `readCommitted`, records of TRANSACTIONAL batches whose producer
    * appears in `aborted` at or before the batch's base offset are dropped;
    * a control marker (any type) ends that producer's tracked span — the
    * official consumer's aborted-producer scan, driven by the broker's
    * per-partition aborted_transactions list. */
  def decodeBatchesTxn(recordSet: Array[Byte], minOffset: Long,
      needKey: Boolean, needValue: Boolean, aborted: Seq[AbortedTxn],
      readCommitted: Boolean)
      : (Iterator[(Long, Array[Byte], Array[Byte], Long)], Long) = {
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Array[Byte], Array[Byte], Long)]
    var pos = 0
    var scanPos = minOffset
    // aborted producers whose span has opened but whose marker has not yet
    // been crossed, ordered by span start so activation is offset-driven
    val pendingAborts = scala.collection.mutable.PriorityQueue
      .empty[AbortedTxn](Ordering.by((a: AbortedTxn) => -a.firstOffset))
    pendingAborts ++= aborted
    val abortedPids = scala.collection.mutable.Set.empty[Long]
    // smallest complete prefix: offset+length+crc+magic = 17 bytes
    while (recordSet.length - pos >= 17) {
      val in = new DataInputStream(new ByteArrayInputStream(
        recordSet, pos, recordSet.length - pos))
      val baseOffset = in.readLong()
      val batchLength = in.readInt()
      if (recordSet.length - pos < 12 + batchLength) {
        pos = recordSet.length // truncated tail batch: re-fetched next round
      } else if (recordSet(pos + 16) != 2) {
        // legacy MessageSet entry (magic 0/1): crc..value is batchLength bytes
        decodeLegacyEntry(baseOffset, in, minOffset, needKey, needValue,
          None, out)
        // legacy wrapper offsets are the LAST inner absolute offset, so the
        // entry's own offset + 1 is the resume point in every layout
        scanPos = math.max(scanPos, baseOffset + 1)
        pos += 12 + batchLength
      } else {
        in.readInt()            // partition leader epoch
        in.readByte()           // magic (=2, sniffed above)
        in.readInt()            // crc
        val attrs = in.readShort()
        val codec = attrs & 0x07
        val isControl = (attrs & 0x20) != 0
        val isTransactional = (attrs & 0x10) != 0
        val lastOffsetDelta = in.readInt()
        val firstTs = in.readLong()
        in.readLong()           // max timestamp
        val producerId = in.readLong()
        in.readShort(); in.readInt() // producer epoch / base seq
        // activate every aborted span that starts at or before this batch
        while (pendingAborts.nonEmpty &&
            pendingAborts.head.firstOffset <= baseOffset) {
          abortedPids += pendingAborts.dequeue().pid
        }
        val dropAborted = readCommitted && isTransactional && !isControl &&
          abortedPids.contains(producerId)
        if (isControl) abortedPids -= producerId // marker closes the span
        val nRecords = in.readInt()
        // v2 compresses the RECORDS SECTION as one unit; the header above is
        // always plaintext. Decode-side pruning (needKey/needValue) still
        // applies after decompression — the bytes crossed the wire either way.
        val rin =
          if (codec == 0) in
          else {
            val comp = new Array[Byte](batchLength - BatchHeaderAfterLength)
            in.readFully(comp)
            new DataInputStream(new BufferedInputStream(
              decompressed(codec, new ByteArrayInputStream(comp)), 1 << 16))
          }
        (1 to nRecords).foreach { _ =>
          readVarint(rin)       // record length
          rin.readByte()        // record attributes
          val tsDelta = readVarlong(rin)
          val offDelta = readVarint(rin)
          def blob(need: Boolean): Array[Byte] = {
            val len = readVarint(rin)
            if (len < 0) null
            else if (!need) {
              // skipBytes may short-count on a decompressing stream; loop
              var left = len
              while (left > 0) {
                val s = rin.skipBytes(left)
                if (s <= 0) throw new EOFException(
                  "kafka record blob truncated inside a batch")
                left -= s
              }
              null
            }
            else { val b = new Array[Byte](len); rin.readFully(b); b }
          }
          val k = blob(needKey)
          val v = blob(needValue)
          val nHeaders = readVarint(rin)
          (1 to nHeaders).foreach { _ => blob(false); blob(false) }
          val off = baseOffset + offDelta
          if (!isControl && !dropAborted && off >= minOffset)
            out += ((off, k, v, firstTs + tsDelta))
        }
        scanPos = math.max(scanPos, baseOffset + lastOffsetDelta + 1)
        pos += 12 + batchLength
      }
    }
    (out.iterator, scanPos)
  }

  /** Decode one legacy (pre-0.11 message format) MessageSet entry:
    * crc int32, magic int8 (0|1), attributes int8, [v1: timestamp int64],
    * key BYTES, value BYTES. A compressed entry is a WRAPPER whose value is
    * a nested MessageSet: v0 inner offsets are absolute; v1 producers wrote
    * relative inner offsets (0..n-1) with the wrapper carrying the LAST
    * inner absolute offset — detected the way the official consumer does
    * (first inner offset == 0) and rewritten to absolute. A v1 wrapper with
    * the log-append-time attribute bit (0x08) stamps its own timestamp on
    * every inner record, as brokers do. CRC is not verified (same stance as
    * the v2 path). `appendTsMs` carries the log-append override into inner
    * entries. */
  private def decodeLegacyEntry(offset: Long, in: DataInputStream,
      minOffset: Long, needKey: Boolean, needValue: Boolean,
      appendTsMs: Option[Long],
      out: scala.collection.mutable.ArrayBuffer[(Long, Array[Byte], Array[Byte], Long)]): Unit = {
    in.readInt()                // crc (not verified)
    val magic = in.readByte()
    if (magic != 0 && magic != 1)
      throw new IOException(
        s"kafka message format v$magic unsupported (magic 0, 1 or 2)")
    val attrs = in.readByte()
    val codec = attrs & 0x07
    val tsMs = if (magic == 1) in.readLong() else -1L
    def blob(need: Boolean): Array[Byte] = {
      val len = in.readInt()
      if (len < 0) null
      else if (!need) {
        var left = len
        while (left > 0) {
          val s = in.skipBytes(left)
          if (s <= 0) throw new EOFException(
            "kafka legacy message blob truncated")
          left -= s
        }
        null
      }
      else { val b = new Array[Byte](len); in.readFully(b); b }
    }
    if (codec == 0) {
      val k = blob(needKey)
      val v = blob(needValue)
      if (offset >= minOffset)
        out += ((offset, k, v, appendTsMs.getOrElse(tsMs)))
    } else {
      blob(false)               // wrapper key: always null in practice
      val wrapped = blob(true)
      if (wrapped == null)
        throw new IOException("kafka compressed legacy wrapper has no value")
      val raw = new ByteArrayInputStream(wrapped)
      val codecIn: java.io.InputStream = codec match {
        case 1 => new java.util.zip.GZIPInputStream(raw)
        case 2 => new org.xerial.snappy.SnappyInputStream(raw)
        case 3 if magic == 1 => new net.jpountz.lz4.LZ4FrameInputStream(raw)
        case 3 => throw new IOException(
          "kafka lz4 in message format v0 uses a nonstandard broken-checksum " +
            "framing; unsupported (v1+ topics decode fine)")
        case c => throw new IOException(
          s"kafka compression codec $c illegal in legacy message format " +
            "(known: 1 gzip, 2 snappy, 3 lz4)")
      }
      val din = new DataInputStream(new BufferedInputStream(codecIn, 1 << 16))
      val innerAppendTs =
        if (magic == 1 && (attrs & 0x08) != 0) Some(tsMs) else appendTsMs
      val inner = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Array[Byte], Array[Byte], Long)]
      try {
        while (true) {
          val innerOffset = din.readLong()
          din.readInt()         // message size
          decodeLegacyEntry(innerOffset, din, Long.MinValue, needKey,
            needValue, innerAppendTs, inner)
        }
      } catch { case _: EOFException => () } // nested set fully consumed
      val relative = magic == 1 && inner.nonEmpty && inner.head._1 == 0L
      val lastInner = if (inner.nonEmpty) inner.last._1 else 0L
      inner.foreach { case (io, k, v, ts) =>
        val abs = if (relative) offset - lastInner + io else io
        if (abs >= minOffset) out += ((abs, k, v, ts))
      }
    }
  }
}
