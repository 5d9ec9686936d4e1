package graft.sources.replay

import org.apache.spark.sql.functions._

/** Kafka TRANSACTIONS over real sockets against the broker double — the
  * exactly-once write/read pair librdkafka exposes (`transactional.id` +
  * `isolation.level`, the config seam the reference inherits,
  * /root/reference/tests/utils.rs:261-285):
  *
  *   - producer: InitProducerId(txn id) → AddPartitionsToTxn (api 24) →
  *     transactional RecordBatch v2 (attributes bit 4) → EndTxn (api 26),
  *     with COMMIT/ABORT control markers landing in every touched partition;
  *   - consumer: Fetch v4 isolation_level=1 + the aborted_transactions
  *     list + control-batch offset gaps, ListOffsets v2 bounding "latest"
  *     at the last stable offset.
  *
  * The double's log stores BATCHES (not flat records) so producer identity,
  * the transactional bit and control markers survive the produce→fetch
  * round trip exactly as in a real broker's segments.
  */
class KafkaTxnSpec extends graft.SparkSpec {

  private def bytes(s: String): Array[Byte] = s.getBytes("UTF-8")
  private def str(b: Array[Byte]): String =
    if (b == null) null else new String(b, "UTF-8")

  /** empty 2-partition topic: nothing file-backed, produce-only. */
  private def emptyBroker(topic: String): KafkaLogServer = {
    val dir = java.nio.file.Files.createTempDirectory("kafka-txn").toString
    new KafkaLogServer(dir, topic, explicitPartitions = Some(Seq(0, 1)))
  }

  private def producer(broker: KafkaLogServer, txnId: String) =
    new KafkaLogClient(broker.clientPath,
      Map("transactional.id" -> txnId))

  /** Drain partition `p` with the bounded gap-tolerant cursor, returning
    * (offset, value-string) pairs — exactly how the DSv2 reader consumes. */
  private def drain(broker: KafkaLogServer, p: Int,
      isolation: String): Seq[(Long, String)] = {
    val c = new KafkaLogClient(broker.clientPath,
      Map("isolation.level" -> isolation))
    val end = c.endOffset(p)
    val frames = c.openFrames(p, 0L, needKey = true, needValue = true)
    try {
      val out = Seq.newBuilder[(Long, String)]
      while (frames.readFrameBefore(end))
        out += ((frames.frameOffset, str(frames.value)))
      out.result()
    } finally frames.close()
  }

  test("committed transactions are visible, aborted ones are not") {
    val broker = emptyBroker("txn1")
    try {
      val a = producer(broker, "txn-a")
      a.beginTxn()
      a.produce(0, Seq((bytes("k"), bytes("a1"), 1000L),
        (null, bytes("a2"), 1001L), (null, bytes("a3"), 1002L)))
      a.endTxn(commit = true)

      val b = producer(broker, "txn-b")
      b.beginTxn()
      b.produce(0, Seq((null, bytes("b1"), 2000L), (null, bytes("b2"), 2001L)))
      b.endTxn(commit = false)

      // log layout: a1 a2 a3 [commit] b1 b2 [abort] → 7 offsets, 5 data
      assert(broker.producedCount(0) === 7,
        "control markers occupy log offsets")

      val committed = drain(broker, 0, "read_committed")
      assert(committed.map(_._2) === Seq("a1", "a2", "a3"),
        s"read_committed must hide the aborted span, got $committed")
      assert(committed.map(_._1) === Seq(0L, 1L, 2L),
        "offsets are the true broker offsets")

      val uncommitted = drain(broker, 0, "read_uncommitted")
      assert(uncommitted.map(_._2) === Seq("a1", "a2", "a3", "b1", "b2"),
        "read_uncommitted sees aborted data but never control markers")
      assert(uncommitted.map(_._1) === Seq(0L, 1L, 2L, 4L, 5L),
        "offsets 3 and 6 are the markers — real gaps in both modes")
    } finally broker.close()
  }

  test("interleaved transactions filter per producer, not per range") {
    val broker = emptyBroker("txn2")
    try {
      val a = producer(broker, "txn-a")
      val b = producer(broker, "txn-b")
      a.beginTxn(); b.beginTxn()
      a.produce(0, Seq((null, bytes("a1"), 1000L)))          // offset 0
      b.produce(0, Seq((null, bytes("b1"), 2000L)))          // offset 1
      a.produce(0, Seq((null, bytes("a2"), 1001L)))          // offset 2
      b.produce(0, Seq((null, bytes("b2"), 2001L)))          // offset 3
      b.endTxn(commit = false)                               // marker 4
      a.produce(0, Seq((null, bytes("a3"), 1002L)))          // offset 5
      a.endTxn(commit = true)                                // marker 6

      val committed = drain(broker, 0, "read_committed")
      assert(committed === Seq((0L, "a1"), (2L, "a2"), (5L, "a3")),
        s"only the aborted producer's records inside its span drop, got $committed")
    } finally broker.close()
  }

  test("an open transaction holds back the last stable offset") {
    val broker = emptyBroker("txn3")
    try {
      val a = producer(broker, "txn-a")
      a.beginTxn()
      a.produce(0, Seq((null, bytes("pending1"), 1000L),
        (null, bytes("pending2"), 1001L)))

      val rc = new KafkaLogClient(broker.clientPath,
        Map("isolation.level" -> "read_committed"))
      val ru = new KafkaLogClient(broker.clientPath,
        Map("isolation.level" -> "read_uncommitted"))
      assert(rc.endOffset(0) === 0L,
        "read_committed 'latest' is the LSO: nothing is decided yet")
      assert(ru.endOffset(0) === 2L,
        "read_uncommitted 'latest' is the high watermark")

      a.endTxn(commit = true)
      assert(rc.endOffset(0) === 3L,
        "after the commit marker the LSO advances past data + marker")
      assert(drain(broker, 0, "read_committed").map(_._2) ===
        Seq("pending1", "pending2"))
    } finally broker.close()
  }

  test("transactions span partitions: one EndTxn writes every marker") {
    val broker = emptyBroker("txn4")
    try {
      val a = producer(broker, "txn-a")
      a.beginTxn()
      a.produce(0, Seq((null, bytes("p0"), 1000L)))
      a.produce(1, Seq((null, bytes("p1"), 1000L)))
      a.endTxn(commit = false)
      assert(broker.producedCount(0) === 2 && broker.producedCount(1) === 2,
        "data + abort marker in each touched partition")
      assert(drain(broker, 0, "read_committed").isEmpty)
      assert(drain(broker, 1, "read_committed").isEmpty)
    } finally broker.close()
  }

  test("transactional producer misuse fails loudly on both sides") {
    val broker = emptyBroker("txn5")
    try {
      val a = producer(broker, "txn-a")
      // client-side: produce before beginTxn
      val e1 = intercept[IllegalArgumentException] {
        a.produce(0, Seq((null, bytes("x"), 1000L)))
      }
      assert(e1.getMessage.contains("beginTxn"))
      // client-side: endTxn with no open transaction
      val e2 = intercept[IllegalArgumentException] { a.endTxn(commit = true) }
      assert(e2.getMessage.contains("no open transaction"))

      // broker-side: a transactional batch from a producer whose txn does
      // not include the partition → INVALID_TXN_STATE (48). Craft it by
      // sending a transactional batch through a NON-transactional producer
      // client whose conf skips AddPartitionsToTxn.
      val raw = new KafkaLogClient(broker.clientPath)
      val rs = KafkaWire.encodeRecordBatchV2(
        Seq((null, bytes("rogue"), 1000L)), 0, pid = 99L, pepoch = 0,
        baseSeq = 0, transactional = true)
      import java.io.{ByteArrayOutputStream, DataOutputStream}
      val body = new ByteArrayOutputStream(); val o = new DataOutputStream(body)
      KafkaWire.writeString(o, "ghost-txn")  // never registered
      o.writeShort(-1); o.writeInt(30000)
      o.writeInt(1); KafkaWire.writeString(o, "txn5")
      o.writeInt(1); o.writeInt(0)
      o.writeInt(rs.length); o.write(rs)
      val sock = new java.net.Socket("127.0.0.1", broker.boundPort)
      try {
        val in = new java.io.DataInputStream(
          new java.io.BufferedInputStream(sock.getInputStream))
        val out = new DataOutputStream(sock.getOutputStream)
        val r = KafkaWire.request(in, out, KafkaWire.ApiProduce, 3,
          body.toByteArray)
        r.readInt()             // topic count
        KafkaWire.readString(r); r.readInt() // name, partition count
        r.readInt()             // partition id
        assert(r.readShort() === 48, "INVALID_TXN_STATE for unregistered txn")
      } finally sock.close()
      assert(broker.producedCount(0) === 0, "nothing may append")
      assert(raw.endOffset(0) === 0L)
    } finally broker.close()
  }

  test("a re-registered transactional.id fences the zombie producer") {
    val broker = emptyBroker("txnf")
    try {
      // zombie: opens a txn, produces, then stalls mid-flight
      val zombie = producer(broker, "shared-id")
      zombie.beginTxn()
      zombie.produce(0, Seq((null, bytes("zombie1"), 1000L),
        (null, bytes("zombie2"), 1001L)))

      // successor registers the SAME transactional.id → epoch bump, and
      // the broker aborts the zombie's open txn (LSO released, span hidden)
      val successor = producer(broker, "shared-id")
      successor.beginTxn()
      successor.produce(0, Seq((null, bytes("fresh1"), 2000L)))
      successor.endTxn(commit = true)

      // the zombie's late produce and EndTxn are REJECTED, not absorbed
      val e1 = intercept[java.io.IOException] {
        zombie.produce(0, Seq((null, bytes("zombie3"), 1002L)))
      }
      assert(e1.getMessage.contains("fenced"), e1.getMessage)
      val e2 = intercept[java.io.IOException] { zombie.endTxn(commit = true) }
      assert(e2.getMessage.contains("fenced"), e2.getMessage)

      // only the successor's committed row is visible; the zombie span is
      // aborted even though the zombie never reached EndTxn
      assert(drain(broker, 0, "read_committed").map(_._2) === Seq("fresh1"))
      val rc = new KafkaLogClient(broker.clientPath)
      assert(rc.endOffset(0) === broker.producedCount(0).toLong,
        "the fencing abort must release the last stable offset")
    } finally broker.close()
  }

  test("a closed aborted span is not re-served: later commits from the " +
      "same producer stay visible to fetches starting past the marker") {
    val broker = emptyBroker("txnr")
    try {
      // ONE producer identity: abort txn1, then commit txn2 — the classic
      // sequence where re-serving the historical aborted span to a fetch
      // that starts after its marker would wrongly hide txn2's data
      val a = producer(broker, "txn-a")
      a.beginTxn()
      a.produce(0, Seq((null, bytes("dead1"), 1000L),
        (null, bytes("dead2"), 1001L)))         // offsets 0-1
      a.endTxn(commit = false)                  // marker 2
      a.beginTxn()
      a.produce(0, Seq((null, bytes("live1"), 2000L),
        (null, bytes("live2"), 2001L)))         // offsets 3-4
      a.endTxn(commit = true)                   // marker 5

      assert(drain(broker, 0, "read_committed").map(_._2) ===
        Seq("live1", "live2"))

      // the regression shape: a fetch STARTING past the abort marker —
      // a second micro-batch, a range split, or any resumed cursor
      val c = new KafkaLogClient(broker.clientPath)
      val frames = c.openFrames(0, 3L, needKey = false, needValue = true)
      try {
        val got = Seq.newBuilder[String]
        while (frames.readFrameBefore(6L)) got += str(frames.value)
        assert(got.result() === Seq("live1", "live2"),
          "a fetch past the abort marker must see the later commit")
      } finally frames.close()
    } finally broker.close()
  }

  test("the broker reaps a transaction past transaction.timeout.ms") {
    val broker = emptyBroker("txnt")
    try {
      val a = new KafkaLogClient(broker.clientPath,
        Map("transactional.id" -> "slow",
          "transaction.timeout.ms" -> "300"))
      a.beginTxn()
      a.produce(0, Seq((null, bytes("stuck1"), 1000L),
        (null, bytes("stuck2"), 1001L)))
      val rc = new KafkaLogClient(broker.clientPath)
      assert(rc.endOffset(0) === 0L, "open txn pins the LSO")
      Thread.sleep(400)
      // the reaper runs on the next isolation-aware request: the dead
      // txn aborts, the LSO advances past data + marker, nothing surfaces
      assert(rc.endOffset(0) === 3L,
        "after the timeout the LSO must advance (data + abort marker)")
      assert(drain(broker, 0, "read_committed").isEmpty)
      // and the producer is FENCED, not resumed
      val e = intercept[java.io.IOException] {
        a.produce(0, Seq((null, bytes("late"), 1002L)))
      }
      assert(e.getMessage.contains("fenced") ||
        e.getMessage.contains("error 48"), e.getMessage)
    } finally broker.close()
  }

  test("LIMIT over a gap-ful kafka log returns exactly n rows") {
    val broker = emptyBroker("txnl")
    try {
      val a = producer(broker, "txn-a")
      // markers at offsets 2 and 5: offsets 0-5 hold only 4 data rows, so
      // a pushed 4-offset span would silently return 3 — the push must be
      // refused for kafka and Spark's own Limit applied over real rows
      a.beginTxn()
      a.produce(0, Seq((null, bytes("r1"), 1000L), (null, bytes("r2"), 1001L)))
      a.endTxn(commit = true)
      a.beginTxn()
      a.produce(0, Seq((null, bytes("r3"), 1002L), (null, bytes("r4"), 1003L),
        (null, bytes("r5"), 1004L)))
      a.endTxn(commit = true)
      val got = spark.read.format("graft-replay")
        .option("client", "kafka").option("path", broker.clientPath)
        .load().limit(4)
        .select(org.apache.spark.sql.functions.col("value").cast("string"))
        .collect().map(_.getString(0)).toSet
      assert(got.size === 4 && got.subsetOf(Set("r1", "r2", "r3", "r4", "r5")),
        s"limit over offset gaps returned $got")
    } finally broker.close()
  }

  test("sendOffsetsToTxn: consumer offsets land ATOMICALLY with the commit " +
      "marker (the exactly-once consume-transform-produce loop)") {
    val broker = emptyBroker("txn-offs")
    try {
      val p = producer(broker, "ctp")
      p.beginTxn()
      p.produce(0, Seq((null, bytes("out-1"), 1000L)))
      p.sendOffsetsToTxn("ctp-group", Map(0 -> 7L, 1 -> 3L))
      // BEFORE the commit: neither the produced data nor the offsets are
      // visible — the whole point of staging them in one transaction
      assert(broker.committed("ctp-group").isEmpty,
        "offsets visible before the commit marker")
      val c = new KafkaLogClient(broker.clientPath)
      assert(c.committedOffsets("ctp-group", Seq(0, 1)).isEmpty,
        "OffsetFetch must not see staged offsets")
      p.endTxn(commit = true)
      assert(broker.committed("ctp-group") === Map(0 -> 7L, 1 -> 3L),
        "offsets must land with the commit")
      assert(c.committedOffsets("ctp-group", Seq(0, 1)) ===
        Map(0 -> 7L, 1 -> 3L))
      assert(drain(broker, 0, "read_committed").map(_._2) === Seq("out-1"),
        "produced data commits with the same marker")
      p.closeProducer()
    } finally broker.close()
  }

  test("an ABORTED transaction drops its staged offsets — never partially") {
    val broker = emptyBroker("txn-offs-abort")
    try {
      val p = producer(broker, "ctp-a")
      // seed a pre-existing committed offset OUTSIDE any transaction: the
      // abort must leave it untouched
      val c = new KafkaLogClient(broker.clientPath)
      c.commitOffsets("ctp-a-group", Map(0 -> 2L))
      p.beginTxn()
      p.produce(0, Seq((null, bytes("drop-me"), 1000L)))
      p.sendOffsetsToTxn("ctp-a-group", Map(0 -> 9L, 1 -> 9L))
      p.endTxn(commit = false)
      assert(broker.committed("ctp-a-group") === Map(0 -> 2L),
        "abort must drop staged offsets and keep the pre-txn value")
      assert(drain(broker, 0, "read_committed").isEmpty,
        "aborted data stays invisible")
      p.closeProducer()
    } finally broker.close()
  }

  test("an offsets-only transaction (no data partitions) still EndTxns on " +
      "the wire and commits the offsets") {
    val broker = emptyBroker("txn-offs-only")
    try {
      val p = producer(broker, "ctp-o")
      p.beginTxn()
      p.sendOffsetsToTxn("ctp-o-group", Map(1 -> 5L))
      p.endTxn(commit = true) // must NOT resolve locally like an empty txn
      assert(broker.committed("ctp-o-group") === Map(1 -> 5L),
        "offsets-only txn must reach the coordinator's EndTxn")
      p.closeProducer()
    } finally broker.close()
  }

  test("a fenced zombie's sendOffsetsToTxn is rejected at the wire") {
    val broker = emptyBroker("txn-offs-fence")
    try {
      val zombie = producer(broker, "ctp-f")
      zombie.beginTxn()
      zombie.produce(0, Seq((null, bytes("z"), 1000L)))
      // a NEW producer re-registers the same transactional.id → epoch bump
      val successor = producer(broker, "ctp-f")
      successor.beginTxn()
      val e = intercept[java.io.IOException] {
        zombie.sendOffsetsToTxn("ctp-f-group", Map(0 -> 1L))
      }
      assert(e.getMessage.contains("fenced"), s"got: ${e.getMessage}")
      assert(broker.committed("ctp-f-group").isEmpty)
      successor.endTxn(commit = false)
      successor.closeProducer(); zombie.closeProducer()
    } finally broker.close()
  }

  test("an empty transaction commits (and aborts) without a wire error") {
    // The broker only creates the txn at the first AddPartitionsToTxn, so
    // an EndTxn for a zero-produce txn would draw INVALID_TXN_STATE; the
    // client must resolve it locally, like the Java client does.
    val broker = emptyBroker("txn-empty")
    try {
      val p = producer(broker, "txn-e")
      p.beginTxn(); p.endTxn(commit = true)   // empty commit
      p.beginTxn(); p.endTxn(commit = false)  // empty abort
      // the producer is still usable for a REAL transaction afterwards
      p.beginTxn()
      p.produce(0, Seq((null, bytes("after-empty"), 1000L)))
      p.endTxn(commit = true)
      p.closeProducer()
      assert(drain(broker, 0, "read_committed").map(_._2) ===
        Seq("after-empty"))
    } finally broker.close()
  }

  test("ambiguous-failure retry inside a transaction is absorbed once") {
    val broker = emptyBroker("txn6")
    try {
      val a = producer(broker, "txn-a")
      a.beginTxn()
      a.produce(0, Seq((null, bytes("t1"), 1000L)))
      broker.dropProduceResponses = 1
      a.produce(0, Seq((null, bytes("t2"), 1001L))) // retried + absorbed
      a.endTxn(commit = true)
      assert(drain(broker, 0, "read_committed").map(_._2) === Seq("t1", "t2"),
        "the retransmit must not duplicate inside the transaction")
    } finally broker.close()
  }

  test("the transactional sink commits per task; failed attempts vanish") {
    val broker = emptyBroker("txn7")
    try {
      import spark.implicits._
      // committed write: every row visible through the DSv2 read path
      (0 until 40).map(i => (s"key-$i", s"val-$i"))
        .toDF("k", "v")
        .select(col("k").cast("binary").as("key"),
          col("v").cast("binary").as("value"),
          (col("k").substr(5, 10).cast("int") % 2).as("partition"))
        .repartition(2)
        .write.format("graft-replay")
        .option("client", "kafka").option("path", broker.clientPath)
        .option("producer.transactional.id", "sink-txn")
        .mode("append").save()

      // a failing job: writers open transactions, produce (batch.records=4
      // forces mid-task flushes, so rows ARE on the broker), then EVERY
      // task hits its poison row — spark.range(0,40,1,2) pins rows 0-19 /
      // 20-39 to the two tasks deterministically, poison at 19 and 39 —
      // Spark calls abort(), the txns abort, and read_committed must never
      // see any of it
      val failing = spark.range(0, 40, 1, 2)
        .select(concat(lit("bad-"), col("id")).cast("binary").as("value"),
          when(col("id") === 19 || col("id") === 39,
            raise_error(lit("boom")).cast("int"))
            .otherwise((col("id") % 2).cast("int")).as("partition"))
      intercept[Exception] {
        failing.write.format("graft-replay")
          .option("client", "kafka").option("path", broker.clientPath)
          .option("producer.transactional.id", "sink-txn-fail")
          .option("producer.batch.records", "4") // force mid-task flushes
          .mode("append").save()
      }

      val visible = spark.read.format("graft-replay")
        .option("client", "kafka").option("path", broker.clientPath)
        .load()
        .select(col("value").cast("string")).as[String].collect().toSet
      assert(visible.size === 40, s"exactly the committed rows: $visible")
      assert(visible.forall(_.startsWith("val-")),
        "no row of the aborted attempts may surface under read_committed")

      // the aborted rows DID reach the broker — read_uncommitted proves the
      // produce happened and only the abort markers hide it
      val raw = spark.read.format("graft-replay")
        .option("client", "kafka").option("path", broker.clientPath)
        .option("consumer.isolation.level", "read_uncommitted")
        .load()
        .select(col("value").cast("string")).as[String].collect().toSet
      assert(raw.exists(_.startsWith("bad-")),
        "read_uncommitted must see the aborted attempts' rows")
    } finally broker.close()
  }
}
