package graft.sources.replay

import java.io.{BufferedInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.Socket

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The produce half of the wire dialect (Produce v3 + RecordBatch v2
  * ENCODE with real CRC-32C) and the graft-replay SINK built on it — the
  * engine-side equivalent of the reference's populate_topic test producer
  * (tests/utils.rs:156-212). All over real sockets against the broker
  * double, which — like a real broker and unlike its tolerant consume
  * side — VERIFIES the produce-path checksum. */
class KafkaProduceSpec extends graft.SparkSpec {
  import KafkaWire._

  private def bytes(s: String): Array[Byte] = s.getBytes("UTF-8")

  /** empty 3-partition topic created THROUGH THE WIRE (CreateTopics,
    * api 19) against a topicless broker — the reference harness's admin
    * flow (rdkafka AdminClient create_topics, tests/utils.rs:104-117)
    * instead of server-side constructor setup. */
  private def emptyBroker(topic: String): KafkaLogServer = {
    val dir = java.nio.file.Files.createTempDirectory("kafka-prod").toString
    val b = new KafkaLogServer(dir, topic, requireCreate = true)
    new KafkaLogClient(b.clientPath).createTopics(Seq(topic -> 3))
    b
  }

  test("CreateTopics: topicless broker refuses produce and metadata until " +
      "the admin client creates the topic over the wire") {
    val dir = java.nio.file.Files.createTempDirectory("kafka-prod").toString
    val broker = new KafkaLogServer(dir, "adm", requireCreate = true)
    try {
      val c = new KafkaLogClient(broker.clientPath)
      // before creation: metadata names the unknown topic loudly...
      val em = intercept[java.io.IOException](c.endOffset(0))
      assert(em.getMessage.contains("error 3"), em.getMessage)
      // ...and a raw produce to it answers UNKNOWN_TOPIC_OR_PARTITION
      val ep = intercept[java.io.IOException](
        c.produce(0, Seq((bytes("k"), bytes("v"), 1723700000000L))))
      assert(ep.getMessage.contains("UNKNOWN_TOPIC_OR_PARTITION") ||
        ep.getMessage.contains("error 3"), ep.getMessage)
      // invalid partition count is refused with the named error
      val ei = intercept[java.io.IOException](
        c.createTopics(Seq("adm" -> 0)))
      assert(ei.getMessage.contains("INVALID_PARTITIONS"), ei.getMessage)
      // create, then the same produce lands
      c.createTopics(Seq("adm" -> 3))
      assert(c.produce(2,
        Seq((bytes("k"), bytes("v"), 1723700000000L))) === 0L)
      assert(c.endOffset(2) === 1L)
      // re-creating answers TOPIC_ALREADY_EXISTS, like a real broker
      val ed = intercept[java.io.IOException](c.createTopics(Seq("adm" -> 3)))
      assert(ed.getMessage.contains("TOPIC_ALREADY_EXISTS"), ed.getMessage)
      // and a SECOND distinct topic is beyond the single-topic double
      val es = intercept[java.io.IOException](c.createTopics(Seq("oth" -> 1)))
      assert(es.getMessage.contains("INVALID_REQUEST"), es.getMessage)
      c.closeProducer()
    } finally broker.close()
  }

  test("DeleteTopics: create → produce → delete → UNKNOWN_TOPIC; " +
      "re-create starts EMPTY, data never resurrects") {
    val dir = java.nio.file.Files.createTempDirectory("kafka-del").toString
    val broker = new KafkaLogServer(dir, "life", requireCreate = true)
    try {
      val c = new KafkaLogClient(broker.clientPath)
      c.createTopics(Seq("life" -> 2))
      c.produce(0, Seq((bytes("k"), bytes("v1"), 1723700000000L)))
      c.produce(1, Seq((null, bytes("v2"), 1723700000001L)))
      assert(c.endOffset(0) === 1L && c.endOffset(1) === 1L)
      // commit a group offset into the topic — deletion must take it down
      c.commitOffsets("lifecycle-g", Map(0 -> 1L))
      assert(c.committedOffsets("lifecycle-g", Seq(0)) === Map(0 -> 1L))
      // deleting a name that was never created refuses loudly
      val eu = intercept[java.io.IOException](c.deleteTopics(Seq("ghost")))
      assert(eu.getMessage.contains("UNKNOWN_TOPIC_OR_PARTITION"), eu.getMessage)
      // the real delete: a fresh client's metadata answers 3
      c.deleteTopics(Seq("life"))
      val eg = intercept[java.io.IOException](
        new KafkaLogClient(broker.clientPath).endOffset(0))
      assert(eg.getMessage.contains("error 3"), eg.getMessage)
      // deleting twice is UNKNOWN too (it is gone)
      val e2 = intercept[java.io.IOException](c.deleteTopics(Seq("life")))
      assert(e2.getMessage.contains("UNKNOWN_TOPIC_OR_PARTITION"), e2.getMessage)
      // re-create: the topic exists again and is EMPTY — the pre-delete
      // records must not resurrect (real delete+recreate semantics)
      val c2 = new KafkaLogClient(broker.clientPath)
      c2.createTopics(Seq("life" -> 2))
      assert(c2.endOffset(0) === 0L && c2.endOffset(1) === 0L,
        "re-created topic must start empty")
      // and the group offsets committed into the OLD incarnation are gone:
      // a real broker removes the topic's committed offsets on delete, so
      // OffsetFetch after recreate must not point into the vanished log
      // (ADVICE r15).
      assert(c2.committedOffsets("lifecycle-g", Seq(0)).getOrElse(0, -1L)
        === -1L, "stale committed offset survived delete+recreate")
      c2.produce(0, Seq((null, bytes("fresh"), 1723700000002L)))
      assert(c2.endOffset(0) === 1L)
      c.closeProducer(); c2.closeProducer()
    } finally broker.close()
  }

  test("DeleteRecords: earliest moves to the low watermark, a fetch below " +
      "it answers OFFSET_OUT_OF_RANGE, truncation is monotonic") {
    val broker = emptyBroker("trunc")
    try {
      val c = new KafkaLogClient(broker.clientPath)
      (0 until 5).foreach(i =>
        c.produce(0, Seq((bytes(s"k$i"), bytes(s"v$i"), 1723700000000L + i))))
      assert(c.endOffset(0) === 5L && c.startOffset(0) === 0L)
      // truncate below offset 3: the low watermark returns and earliest moves
      assert(c.deleteRecords(Map(0 -> 3L)) === Map(0 -> 3L))
      assert(c.startOffset(0) === 3L, "ListOffsets earliest must move")
      assert(c.endOffset(0) === 5L, "the high watermark must not move")
      // fetch below the low watermark: OFFSET_OUT_OF_RANGE, not silence
      val fr = c.openFrames(0, 0L, needKey = true, needValue = true)
      val eo = intercept[java.io.IOException](try fr.readFrame() finally fr.close())
      assert(eo.getMessage.contains("error 1"), eo.getMessage)
      // fetch AT the low watermark serves the surviving records
      val ok = c.openFrames(0, 3L, needKey = true, needValue = true)
      try {
        ok.readFrame(); assert(new String(ok.value, "UTF-8") === "v3")
        ok.readFrame(); assert(new String(ok.value, "UTF-8") === "v4")
      } finally ok.close()
      // monotonic: a LOWER target never moves the watermark back
      assert(c.deleteRecords(Map(0 -> 1L)) === Map(0 -> 3L))
      // -1 truncates to the high watermark
      assert(c.deleteRecords(Map(0 -> -1L)) === Map(0 -> 5L))
      assert(c.startOffset(0) === 5L)
      // past the high watermark: the NAMED error
      val ep = intercept[java.io.IOException](c.deleteRecords(Map(0 -> 99L)))
      assert(ep.getMessage.contains("OFFSET_OUT_OF_RANGE"), ep.getMessage)
      // unknown partition: the named routing error
      val eu = intercept[java.io.IOException](c.deleteRecords(Map(9 -> 0L)))
      assert(eu.getMessage.contains("UNKNOWN_TOPIC_OR_PARTITION"), eu.getMessage)
      c.closeProducer()
    } finally broker.close()
  }

  test("fail.on.data.loss=false: a reader below the truncation point " +
      "skips forward to the earliest offset instead of dying") {
    val broker = emptyBroker("dloss")
    try {
      val p = new KafkaLogClient(broker.clientPath)
      (0 until 5).foreach(i =>
        p.produce(0, Seq((null, bytes(s"v$i"), 1723700000000L + i))))
      p.deleteRecords(Map(0 -> 3L))
      p.closeProducer()
      // default posture: loud failure (proven in the DeleteRecords test);
      // opted out: skip to earliest and serve the surviving records
      val c = new KafkaLogClient(broker.clientPath,
        Map("fail.on.data.loss" -> "false"))
      val fr = c.openFrames(0, 0L, needKey = false, needValue = true)
      try {
        fr.readFrame(); assert(new String(fr.value, "UTF-8") === "v3")
        assert(fr.frameOffset === 3L, "cursor must land AT the low watermark")
        fr.readFrame(); assert(new String(fr.value, "UTF-8") === "v4")
      } finally fr.close()
      // a genuine past-the-end read is NOT data loss and must still fail
      // loudly even with the option set (the guard in fetchMore)
      val fr2 = c.openFrames(0, 99L, needKey = false, needValue = true)
      intercept[Exception](try fr2.readFrame() finally fr2.close())
      // truncation that swallowed the ENTIRE remaining planned range:
      // the bounded read ends gracefully (false), it does not EOF-crash
      val p2 = new KafkaLogClient(broker.clientPath)
      p2.deleteRecords(Map(0 -> -1L)) // truncate to the high watermark
      p2.closeProducer()
      val fr3 = c.openFrames(0, 0L, needKey = false, needValue = true)
      try assert(!fr3.readFrameBefore(5L),
        "a fully-truncated planned range must end the read, not crash")
      finally fr3.close()
    } finally broker.close()
  }

  test("produce appends after the base log and round-trips bit-identically") {
    val dir = ReplayLog.ensureLog(spark, sf)
    val broker = new KafkaLogServer(dir, "events")
    try {
      val c = new KafkaLogClient(broker.clientPath)
      val before = c.endOffset(0)
      val recs = Seq(
        (bytes("k1"), bytes("v1"), 1723700000123L),
        (null, bytes("v2"), 1723700000456L),
        (bytes("k3"), null, 1723700000789L)) // null value = tombstone
      val base = c.produce(0, recs)
      assert(base === before, "assigned base offset must be the old log end")
      assert(c.endOffset(0) === before + 3)

      val frames = c.openFrames(0, before, needKey = true, needValue = true)
      try recs.foreach { case (k, v, tsMs) =>
        frames.readFrame()
        assert(java.util.Arrays.equals(frames.key, k))
        assert(java.util.Arrays.equals(frames.value, v))
        assert(frames.tsUs === tsMs * 1000L, "broker time is milliseconds")
      } finally frames.close()
    } finally broker.close()
  }

  test("compressed produce round-trips through all four codecs") {
    (1 to 4).foreach { codec =>
      val broker = emptyBroker(s"codec$codec")
      try {
        val c = new KafkaLogClient(broker.clientPath)
        val recs = (0 until 100).map(i =>
          (bytes(s"key-$i"), bytes(s"value-$i" * 5), 1723700000000L + i))
        assert(c.produce(1, recs, codec) === 0L)
        val frames = c.openFrames(1, 0L, needKey = true, needValue = true)
        try recs.foreach { case (k, v, tsMs) =>
          frames.readFrame()
          assert(java.util.Arrays.equals(frames.key, k), s"codec $codec key")
          assert(java.util.Arrays.equals(frames.value, v), s"codec $codec value")
          assert(frames.tsUs === tsMs * 1000L)
        } finally frames.close()
      } finally broker.close()
    }
  }

  test("flexible Produce v9 round-trips bit-identically to the pinned v3") {
    val dir = ReplayLog.ensureLog(spark, sf)
    // Produce negotiates like every other API: the default double
    // advertises v9 → flexible, the capped one tops out at v8 → the v3
    // pin. Same records, same offsets, same bytes.
    val flexB = new KafkaLogServer(dir, "events")
    val pinB = new KafkaLogServer(dir, "events",
      advertiseApis = Some(Seq[(Short, Short, Short)](
        (0, 0, 8), (1, 0, 11), (2, 0, 5), (3, 0, 8), (18, 0, 2))))
    try {
      val recs = (0 until 50).map(i =>
        (bytes(s"fk-$i"), bytes(s"fv-$i" * 3), 1723700001000L + i))
      val cf = new KafkaLogClient(flexB.clientPath)
      val cp = new KafkaLogClient(pinB.clientPath)
      val baseF = cf.produce(1, recs)
      val baseP = cp.produce(1, recs)
      assert(baseF === baseP, "both dialects must assign the same offsets")
      def tail(c: KafkaLogClient, from: Long) = {
        val f = c.openFrames(1, from, needKey = true, needValue = true)
        try (0 until recs.size).map { _ =>
          f.readFrame()
          (new String(f.key, "UTF-8"), new String(f.value, "UTF-8"), f.tsUs)
        } finally f.close()
      }
      assert(tail(cf, baseF) === tail(cp, baseP),
        "v9 and v3 produced tails must read back identically")
    } finally { flexB.close(); pinB.close() }
  }

  test("idempotent retransmit absorption holds over the flexible v9 frame") {
    val broker = emptyBroker("idemflex")
    try {
      val c = new KafkaLogClient(broker.clientPath,
        Map("enable.idempotence" -> "true"))
      assert(c.produce(0,
        (0 until 10).map(i => (bytes(s"k$i"), bytes(s"v$i"), 1000L + i))) === 0L)
      broker.dropProduceResponses = 1
      assert(c.produce(0,
        (10 until 20).map(i => (bytes(s"k$i"), bytes(s"v$i"), 1000L + i))) === 10L,
        "retry must be acked at the originally-assigned base offset")
      assert(broker.producedCount(0) === 20,
        "the v9 retransmit must be absorbed, not re-appended")
    } finally broker.close()
  }

  test("the broker verifies produce CRC-32C and answers CORRUPT_MESSAGE") {
    val good = encodeRecordBatchV2(Seq((null, bytes("x"), 1000L)), 0)
    assert(crcValid(good))
    val bad = good.clone()
    bad(bad.length - 1) = (bad(bad.length - 1) ^ 1).toByte
    assert(!crcValid(bad))

    val broker = emptyBroker("crc")
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)
      try {
        val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
        val out = new DataOutputStream(sock.getOutputStream)
        def produceRaw(rs: Array[Byte]): Short = {
          val body = new ByteArrayOutputStream(); val o = new DataOutputStream(body)
          o.writeShort(-1); o.writeShort(-1); o.writeInt(30000)
          o.writeInt(1); writeString(o, "crc")
          o.writeInt(1); o.writeInt(0)
          o.writeInt(rs.length); o.write(rs)
          val r = request(in, out, ApiProduce, 3, body.toByteArray)
          r.readInt(); readString(r); r.readInt() // topics=1, name, parts=1
          r.readInt()                             // partition
          r.readShort()                           // error code
        }
        assert(produceRaw(bad) === 2, "CORRUPT_MESSAGE for a flipped byte")
        assert(produceRaw(good) === 0, "the untouched batch lands")
      } finally sock.close()
    } finally broker.close()
  }

  test("produce to an unknown partition fails with a named error at both layers") {
    val broker = emptyBroker("route")
    try {
      // client layer: the metadata-resolved route check refuses before the wire
      val c = new KafkaLogClient(broker.clientPath)
      val e = intercept[java.io.IOException](
        c.produce(7, Seq((null, bytes("x"), 1L))))
      assert(e.getMessage.contains("partition route/7 unknown"), e.getMessage)

      // broker layer: a raw Produce for a partition it does not host answers
      // UNKNOWN_TOPIC_OR_PARTITION (3), like a real broker
      val sock = new Socket("127.0.0.1", broker.boundPort)
      try {
        val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
        val out = new DataOutputStream(sock.getOutputStream)
        val rs = encodeRecordBatchV2(Seq((null, bytes("x"), 1L)), 0)
        val body = new ByteArrayOutputStream(); val o = new DataOutputStream(body)
        o.writeShort(-1); o.writeShort(-1); o.writeInt(30000)
        o.writeInt(1); writeString(o, "route")
        o.writeInt(1); o.writeInt(7)
        o.writeInt(rs.length); o.write(rs)
        val r = request(in, out, ApiProduce, 3, body.toByteArray)
        r.readInt(); readString(r); r.readInt(); r.readInt()
        assert(r.readShort() === 3, "UNKNOWN_TOPIC_OR_PARTITION")
      } finally sock.close()
    } finally broker.close()
  }

  test("batch DataFrame write routes by Kafka's default partitioner and reads back") {
    val broker = emptyBroker("dfwrite")
    try {
      import spark.implicits._
      val rows = (0 until 300).map(i => (bytes(s"user-${i % 17}"), bytes(s"payload-$i")))
      rows.toDF("key", "value")
        .write.format("graft-replay")
        .option("client", "kafka").option("path", broker.clientPath)
        .option("producer.batch.records", "64") // several flushes per task
        .mode("append").save()

      val back = spark.read.format("graft-replay")
        .option("client", "kafka").option("path", broker.clientPath)
        .load()
        .select(col("key").cast("string"), col("value").cast("string"),
          col("partition"))
        .as[(String, String, Int)].collect()
      assert(back.length === rows.length)
      assert(back.map(r => (r._1, r._2)).toSet ===
        rows.map(r => (new String(r._1), new String(r._2))).toSet)
      // every row sits where Kafka's murmur2 default partitioner routes it
      back.foreach { case (k, _, p) =>
        assert(p === (ReplayWrite.murmur2(bytes(k)) & 0x7fffffff) % 3,
          s"key $k landed on $p")
      }
    } finally broker.close()
  }

  test("explicit partition column overrides the partitioner; bad columns are loud") {
    val broker = emptyBroker("explicit")
    try {
      import spark.implicits._
      (0 until 30).map(i => (bytes(s"v$i"), i % 2))
        .toDF("value", "partition")
        .write.format("graft-replay")
        .option("client", "kafka").option("path", broker.clientPath)
        .mode("append").save()
      assert(broker.producedCount(0) === 15)
      assert(broker.producedCount(1) === 15)
      assert(broker.producedCount(2) === 0)

      val noValue = intercept[Exception](
        Seq(1, 2).toDF("partition").write.format("graft-replay")
          .option("client", "kafka").option("path", broker.clientPath)
          .mode("append").save())
      assert(noValue.getMessage.contains("value"), noValue.getMessage)
      val unknown = intercept[Exception](
        Seq(("a", "b")).toDF("value", "wat").write.format("graft-replay")
          .option("client", "kafka").option("path", broker.clientPath)
          .mode("append").save())
      assert(unknown.getMessage.contains("wat"), unknown.getMessage)
    } finally broker.close()
  }

  test("idempotent producer: sequences advance and exact retransmits are absorbed") {
    val broker = emptyBroker("idem")
    try {
      val c = new KafkaLogClient(broker.clientPath,
        Map("enable.idempotence" -> "true"))
      val b1 = (0 until 10).map(i => (bytes(s"k$i"), bytes(s"v$i"), 1000L + i))
      val b2 = (10 until 25).map(i => (bytes(s"k$i"), bytes(s"v$i"), 1000L + i))
      assert(c.produce(0, b1) === 0L)
      assert(c.produce(0, b2) === 10L, "second batch lands after the first")
      assert(broker.producedCount(0) === 25)

      // ambiguous failure: the broker appends but withholds the response —
      // the client's retry resends the SAME (pid, sequence) batch and the
      // broker must ack the ORIGINAL offsets without re-appending
      broker.dropProduceResponses = 1
      val b3 = (25 until 40).map(i => (bytes(s"k$i"), bytes(s"v$i"), 1000L + i))
      assert(c.produce(0, b3) === 25L,
        "retry must be acked at the originally-assigned base offset")
      assert(broker.producedCount(0) === 40,
        "the retransmit must be absorbed, not re-appended")

      // and the session continues cleanly past the absorbed retry
      assert(c.produce(0, Seq((null, bytes("tail"), 99L))) === 40L)
      assert(broker.producedCount(0) === 41)
    } finally broker.close()
  }

  test("without idempotence the same ambiguous failure duplicates (honest at-least-once)") {
    val broker = emptyBroker("atleast")
    try {
      val c = new KafkaLogClient(broker.clientPath)
      broker.dropProduceResponses = 1
      c.produce(2, (0 until 5).map(i => (null, bytes(s"v$i"), 1L + i)))
      assert(broker.producedCount(2) === 10,
        "a non-idempotent retry re-appends — the documented contract")
    } finally broker.close()
  }

  test("a sequence gap is rejected with OUT_OF_ORDER_SEQUENCE_NUMBER") {
    val broker = emptyBroker("seqgap")
    try {
      val sock = new Socket("127.0.0.1", broker.boundPort)
      try {
        val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
        val out = new DataOutputStream(sock.getOutputStream)
        def produceRaw(rs: Array[Byte]): Short = {
          val body = new ByteArrayOutputStream(); val o = new DataOutputStream(body)
          o.writeShort(-1); o.writeShort(-1); o.writeInt(30000)
          o.writeInt(1); writeString(o, "seqgap")
          o.writeInt(1); o.writeInt(0)
          o.writeInt(rs.length); o.write(rs)
          val r = request(in, out, ApiProduce, 3, body.toByteArray)
          r.readInt(); readString(r); r.readInt(); r.readInt()
          r.readShort()
        }
        // a fresh pid must start at sequence 0; 5 is a gap
        val gap = encodeRecordBatchV2(Seq((null, bytes("x"), 1L)), 0,
          pid = 4242L, pepoch = 0, baseSeq = 5)
        assert(produceRaw(gap) === 45, "OUT_OF_ORDER_SEQUENCE_NUMBER")
        val ok = encodeRecordBatchV2(Seq((null, bytes("x"), 1L)), 0,
          pid = 4242L, pepoch = 0, baseSeq = 0)
        assert(produceRaw(ok) === 0)
      } finally sock.close()
    } finally broker.close()
  }

  test("produce works over SASL_SSL (the security seam covers the write half)") {
    // self-signed broker keystore + pinned client truststore via keytool —
    // same fixture shape as KafkaSecuritySpec
    val dir = java.nio.file.Files.createTempDirectory("kafka-prod-tls")
    val ks = dir.resolve("broker.p12").toString
    val ts = dir.resolve("trust.p12").toString
    val cert = dir.resolve("broker.crt").toString
    val pass = "graft-test"
    val keytool = java.nio.file.Paths
      .get(sys.props("java.home"), "bin", "keytool").toString
    def run(args: String*): Unit = {
      val p = new ProcessBuilder((keytool +: args): _*)
        .redirectErrorStream(true).start()
      val o = new String(p.getInputStream.readAllBytes, "UTF-8")
      assert(p.waitFor() == 0, s"keytool ${args.head} failed: $o")
    }
    run("-genkeypair", "-alias", "broker", "-keyalg", "RSA", "-keysize",
      "2048", "-validity", "1", "-storetype", "PKCS12", "-keystore", ks,
      "-storepass", pass, "-dname", "CN=127.0.0.1",
      "-ext", "SAN=IP:127.0.0.1")
    run("-exportcert", "-alias", "broker", "-keystore", ks,
      "-storepass", pass, "-file", cert)
    run("-importcert", "-alias", "broker", "-file", cert, "-keystore", ts,
      "-storepass", pass, "-noprompt")

    val logDir = java.nio.file.Files.createTempDirectory("kafka-prod-sasl").toString
    val broker = new KafkaLogServer(logDir, "sec",
      sasl = Some(("svc-writer", "hunter2")), tlsKeystore = Some((ks, pass)),
      explicitPartitions = Some(Seq(0, 1, 2)))
    try {
      val conf = Map(
        "security.protocol" -> "SASL_SSL",
        "sasl.mechanism" -> "PLAIN",
        "sasl.username" -> "svc-writer",
        "sasl.password" -> "hunter2",
        "ssl.truststore.location" -> ts,
        "ssl.truststore.password" -> pass,
        "enable.idempotence" -> "true")
      val c = new KafkaLogClient(broker.clientPath, conf)
      val recs = (0 until 20).map(i => (bytes(s"k$i"), bytes(s"v$i"), 1L + i))
      assert(c.produce(1, recs, codec = 4) === 0L)
      val frames = c.openFrames(1, 0L, needKey = true, needValue = true)
      try recs.foreach { case (k, v, _) =>
        frames.readFrame()
        assert(java.util.Arrays.equals(frames.key, k))
        assert(java.util.Arrays.equals(frames.value, v))
      } finally frames.close()
    } finally broker.close()
  }

  test("sink restart over a completed checkpoint re-produces NOTHING") {
    // the checkpoint WAL owns epoch truth: a completed epoch is never
    // re-planned, so restarting the sink query cannot duplicate its output
    val dir = ReplayLog.ensureLog(spark, sf)
    val src = new KafkaLogServer(dir, "events")
    val dst = emptyBroker("ckpt")
    val ckpt = java.nio.file.Files.createTempDirectory("kafka-sink-ckpt").toString
    try {
      def runOnce(): Unit = {
        val q = spark.readStream.format("graft-replay")
          .option("client", "kafka").option("path", src.clientPath)
          .option("maxRowsPerTrigger", "400") // several epochs
          .load()
          .select(col("key"), col("value"), col("timestamp"))
          .writeStream.format("graft-replay")
          .option("client", "kafka").option("path", dst.clientPath)
          .option("producer.enable.idempotence", "true")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      runOnce()
      val file = new FileLogClient(dir)
      val n = file.listPartitions().map(file.recordCount).sum
      val afterFirst = (0 until 3).map(dst.producedCount).sum
      assert(afterFirst.toLong === n, s"first run must produce all $n records")
      runOnce() // resume: every epoch already committed
      assert((0 until 3).map(dst.producedCount).sum.toLong === n,
        "a restart over a completed checkpoint re-produced data")
    } finally { src.close(); dst.close() }
  }

  test("sink killed mid-stream loses nothing on resume (at-least-once, bounded dups)") {
    val dir = ReplayLog.ensureLog(spark, sf)
    val src = new KafkaLogServer(dir, "events")
    val dst = emptyBroker("killed")
    val ckpt = java.nio.file.Files.createTempDirectory("kafka-sink-kill").toString
    try {
      def build(trigger: Trigger) = spark.readStream.format("graft-replay")
        .option("client", "kafka").option("path", src.clientPath)
        .option("maxRowsPerTrigger", "300")
        .load()
        .select(col("key"), col("value"), col("timestamp"))
        .writeStream.format("graft-replay")
        .option("client", "kafka").option("path", dst.clientPath)
        .option("checkpointLocation", ckpt)
        .trigger(trigger).start()
      // run 1: free-running; kill as soon as one batch has landed — the
      // in-flight epoch may have produced rows whose commit never happened
      val q1 = build(Trigger.ProcessingTime("10 milliseconds"))
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while ((q1.recentProgress.isEmpty ||
          q1.recentProgress.map(_.numInputRows).sum == 0) &&
          System.nanoTime() < deadline)
        Thread.sleep(50)
      q1.stop()
      // run 2: resume from the WAL to the end
      val q2 = build(Trigger.AvailableNow()); q2.awaitTermination()

      val file = new FileLogClient(dir)
      val n = file.listPartitions().map(file.recordCount).sum
      val got = spark.read.format("graft-replay")
        .option("client", "kafka").option("path", dst.clientPath).load()
        .select(col("value").cast("string")).as[String](
          org.apache.spark.sql.Encoders.STRING).collect().toSeq
      val want = spark.read.format("graft-replay")
        .option("client", "kafka").option("path", src.clientPath).load()
        .select(col("value").cast("string")).as[String](
          org.apache.spark.sql.Encoders.STRING).collect().toSeq
      assert(got.toSet === want.toSet, "a record was LOST across the kill")
      assert(got.size >= n.toInt, "at-least-once: every record delivered")
      // duplicates can come only from epochs in flight at the kill — each
      // bounded by the per-trigger admission cap across the 3 partitions
      assert(got.size - n <= 2 * 3 * 300,
        s"${got.size - n} duplicates exceeds the in-flight epoch bound")
    } finally { src.close(); dst.close() }
  }

  test("streaming sink pipes a replay stream back into a topic end-to-end") {
    // source broker serves the file-backed events log; the query projects
    // key/value/timestamp and PRODUCES into an empty topic on a second
    // broker — then a batch read of the sink topic must hold every record
    val dir = ReplayLog.ensureLog(spark, sf)
    val src = new KafkaLogServer(dir, "events")
    val dst = emptyBroker("mirrored")
    val ckpt = java.nio.file.Files.createTempDirectory("kafka-sink").toString
    try {
      val q = spark.readStream.format("graft-replay")
        .option("client", "kafka").option("path", src.clientPath)
        .option("maxRowsPerTrigger", "500") // several epochs → several produces
        .load()
        .select(col("key"), col("value"), col("timestamp"))
        .writeStream.format("graft-replay")
        .option("client", "kafka").option("path", dst.clientPath)
        .option("producer.compression.type", "zstd")
        .option("producer.enable.idempotence", "true")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()

      val srcDf = spark.read.format("graft-replay")
        .option("client", "kafka").option("path", src.clientPath).load()
        .select(col("value").cast("string"), col("timestamp"))
      val dstDf = spark.read.format("graft-replay")
        .option("client", "kafka").option("path", dst.clientPath).load()
        .select(col("value").cast("string"), col("timestamp"))
      import spark.implicits._
      val want = srcDf.as[(String, java.sql.Timestamp)].collect()
        .map { case (v, ts) => (v, ts.getTime) }.sorted.toSeq
      val got = dstDf.as[(String, java.sql.Timestamp)].collect()
        .map { case (v, ts) => (v, ts.getTime) }.sorted.toSeq
      assert(got === want, "the mirrored topic must hold every record " +
        "(values bit-identical, timestamps at broker ms precision)")
    } finally { src.close(); dst.close() }
  }

  test("DescribeConfigs/IncrementalAlterConfigs: a config write reads back " +
      "AND is enforced by the produce path (max.message.bytes)") {
    val broker = emptyBroker("cfg")
    try {
      val c = new KafkaLogClient(broker.clientPath)
      // static defaults: full listing, source 5 (DEFAULT_CONFIG)
      val all = c.describeConfigs("cfg")
      assert(all("max.message.bytes").value === "1048588")
      assert(all("max.message.bytes").source === 5)
      assert(all("cleanup.policy").value === "delete")
      assert(all.size === 7, s"the full static layer lists: ${all.keys}")
      // subset read
      val one = c.describeConfigs("cfg", Seq("retention.ms"))
      assert(one.keySet === Set("retention.ms"))
      assert(one("retention.ms").value === "604800000")
      // SET: the override reads back with source 1 (DYNAMIC_TOPIC_CONFIG)
      c.incrementalAlterConfigs("cfg", Seq(("max.message.bytes", 0, "600")))
      val after = c.describeConfigs("cfg", Seq("max.message.bytes"))
      assert(after("max.message.bytes").value === "600")
      assert(after("max.message.bytes").source === 1)
      // ...and the broker ENFORCES it: an oversized batch answers
      // MESSAGE_TOO_LARGE (10), a small one lands
      val big = intercept[java.io.IOException](
        c.produce(0, Seq((null, new Array[Byte](2000), 1000L))))
      assert(big.getMessage.contains("error 10"), big.getMessage)
      assert(c.produce(1, Seq((null, bytes("small"), 1000L))) === 0L)
      // DELETE restores the default and the big produce lands again
      c.incrementalAlterConfigs("cfg", Seq(("max.message.bytes", 1, null)))
      assert(c.describeConfigs("cfg",
        Seq("max.message.bytes"))("max.message.bytes").source === 5)
      c.produce(2, Seq((null, new Array[Byte](2000), 1001L)))
      // validate_only dry-runs: checked, not applied
      c.incrementalAlterConfigs("cfg", Seq(("retention.ms", 0, "1")),
        validateOnly = true)
      assert(c.describeConfigs("cfg",
        Seq("retention.ms"))("retention.ms").value === "604800000")
      // APPEND/SUBTRACT work on the LIST config...
      c.incrementalAlterConfigs("cfg", Seq(("cleanup.policy", 2, "compact")))
      assert(c.describeConfigs("cfg",
        Seq("cleanup.policy"))("cleanup.policy").value === "delete,compact")
      c.incrementalAlterConfigs("cfg", Seq(("cleanup.policy", 3, "delete")))
      assert(c.describeConfigs("cfg",
        Seq("cleanup.policy"))("cleanup.policy").value === "compact")
      // ...and are refused by NAME on a non-list config
      val listErr = intercept[java.io.IOException](
        c.incrementalAlterConfigs("cfg", Seq(("retention.ms", 2, "5"))))
      assert(listErr.getMessage.contains("error 40"), listErr.getMessage)
      // a NULL value on a list op is refused — never a literal "null" write
      val nul = intercept[java.io.IOException](
        c.incrementalAlterConfigs("cfg", Seq(("cleanup.policy", 2, null))))
      assert(nul.getMessage.contains("error 40"), nul.getMessage)
      assert(c.describeConfigs("cfg",
        Seq("cleanup.policy"))("cleanup.policy").value === "compact")
      // unknown keys and malformed values answer INVALID_CONFIG (40)
      val unk = intercept[java.io.IOException](
        c.incrementalAlterConfigs("cfg", Seq(("no.such.config", 0, "1"))))
      assert(unk.getMessage.contains("error 40"), unk.getMessage)
      val bad = intercept[java.io.IOException](
        c.incrementalAlterConfigs("cfg", Seq(("retention.ms", 0, "soon"))))
      assert(bad.getMessage.contains("error 40"), bad.getMessage)
      // unknown topics answer UNKNOWN_TOPIC_OR_PARTITION on both apis
      val dg = intercept[java.io.IOException](c.describeConfigs("ghost"))
      assert(dg.getMessage.contains("error 3"), dg.getMessage)
      val ag = intercept[java.io.IOException](
        c.incrementalAlterConfigs("ghost", Seq(("retention.ms", 0, "1"))))
      assert(ag.getMessage.contains("error 3"), ag.getMessage)
    } finally broker.close()
  }

  test("config lifecycle over the PINNED dialect (DescribeConfigs v1, " +
      "IncrementalAlterConfigs v0) matches the flexible one") {
    val dir = java.nio.file.Files.createTempDirectory("kafka-cfg").toString
    val broker = new KafkaLogServer(dir, "cfgv", requireCreate = true,
      advertiseApis = Some(Seq[(Short, Short, Short)](
        (0, 0, 8), (1, 0, 11), (2, 0, 5), (3, 0, 8), (10, 0, 2),
        (18, 0, 3), (19, 0, 4), (20, 0, 3), (32, 1, 3), (44, 0, 0))))
    try {
      val c = new KafkaLogClient(broker.clientPath)
      c.createTopics(Seq("cfgv" -> 3))
      assert(c.describeConfigs("cfgv")("segment.bytes").value === "1073741824")
      c.incrementalAlterConfigs("cfgv", Seq(("max.message.bytes", 0, "700")))
      val e = c.describeConfigs("cfgv", Seq("max.message.bytes"))
      assert(e("max.message.bytes").value === "700" &&
        e("max.message.bytes").source === 1)
      val big = intercept[java.io.IOException](
        c.produce(0, Seq((null, new Array[Byte](2000), 1000L))))
      assert(big.getMessage.contains("error 10"), big.getMessage)
      // DeleteTopics purges the override: recreate starts from defaults
      c.deleteTopics(Seq("cfgv"))
      c.createTopics(Seq("cfgv" -> 3))
      assert(c.describeConfigs("cfgv",
        Seq("max.message.bytes"))("max.message.bytes").source === 5)
    } finally broker.close()
  }
}
