package graft.sources.replay

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException, IOException}
import java.net.{ServerSocket, Socket}

/** Wire-faithful single-node Kafka broker double for [[KafkaLogClient]]:
  * speaks the exact protocol subset the client consumes, in BOTH dialects
  * negotiated per API — each API's pinned pre-flexible version and its
  * flexible (KIP-482) one (e.g. Metadata v0/v9, ListOffsets v1/v2/v6,
  * Fetch v4/v12, ApiVersions v0/v3, Produce v3/v9, InitProducerId v0/v2),
  * each request parsed and each response written once through
  * [[KafkaWire.WireReader]]/[[KafkaWire.WireWriter]] — plus CRC-32C
  * verification and idempotent-producer sequence absorption on produce —
  * serving one topic from a file-backed [[ReplayLog]] directory. Lives in
  * MAIN scope
  * (like [[SocketLogServer]], the socket backend's double) so the declared
  * registry queries s56/s57 can run the kafka wire client and the produce
  * sink through the driver's DuckDB correctness gate, not just the specs;
  * the fault-injection knobs (truncateTail, forgeScramServerSig,
  * dropProduceResponses, apiVersionsError, legacyMagic) are all off by
  * default and only exercised from the test suites. Persistent connections
  * (the client's frame cursor issues sequential Fetch requests on one
  * socket). Batches are capped at [[batchRecords]] records so a ranged read
  * exercises the multi-batch and multi-fetch decode paths, and the tail of
  * each record_set can be truncated mid-batch via [[truncateTail]] to prove
  * the client's partial-batch handling (brokers cut at max_bytes).
  * `codec` (0 none, 1 gzip, 2 snappy, 3 lz4, 4 zstd) compresses each batch's
  * records section exactly as the official producers do, so the client's
  * decompression path is exercised against real codec framings.
  *
  * Every RecordBatch v2 it serves (file-backed base log and produced
  * tail alike) comes from [[KafkaWire.encodeRecordBatchV2]], the encoder
  * the producer uses, so it carries a real CRC-32C. Timestamps are milliseconds on the wire, so the ReplayLog's
  * µs event times truncate to ms — exactly what a real broker round-trip
  * does.
  */
final class KafkaLogServer(dir: String, topic: String,
    batchRecords: Int = 200, truncateTail: Boolean = false,
    port: Int = 0, codec: Int = 0,
    sasl: Option[(String, String)] = None,
    oauthToken: Option[String] = None,
    tlsKeystore: Option[(String, String)] = None,
    forgeScramServerSig: Boolean = false,
    legacyMagic: Option[Int] = None,
    advertiseApis: Option[Seq[(Short, Short, Short)]] = None,
    apiVersionsError: Short = 0,
    explicitPartitions: Option[Seq[Int]] = None,
    requireCreate: Boolean = false,
    maxReauthMs: Long = 0L) extends AutoCloseable {
  import KafkaWire._

  require(legacyMagic.forall(m => m == 0 || m == 1),
    s"legacyMagic must be 0 or 1, got $legacyMagic")

  private val saslMechs =
    Seq("PLAIN", "SCRAM-SHA-256", "SCRAM-SHA-512", "OAUTHBEARER")
  private def saslEnabled = sasl.isDefined || oauthToken.isDefined

  /** ApiVersions advertisement: a modern broker's ranges for the APIs this
    * double serves (overridable per test to simulate a broker that dropped
    * the client's pinned versions). */
  private val apiRanges: Seq[(Short, Short, Short)] =
    advertiseApis.getOrElse(Seq[(Short, Short, Short)](
      (0, 0, 9), (1, 0, 13), (2, 0, 7), (3, 0, 12), (8, 0, 8), (9, 0, 8),
      (10, 0, 4), (11, 0, 9), (12, 0, 4), (13, 0, 5), (14, 0, 5), (15, 0, 5),
      (16, 0, 4), (17, 0, 1), (18, 0, 3), (19, 0, 7), (20, 0, 5), (21, 0, 2),
      (22, 0, 4), (24, 0, 3), (25, 0, 3), (26, 0, 3), (28, 0, 3), (32, 1, 4),
      (36, 0, 2), (42, 0, 2), (44, 0, 1), (47, 0, 0)))

  // TLS listener: keystore (path, password) holds the broker's key+cert —
  // the exact shape a real broker's ssl.keystore.location configures
  private val server: ServerSocket = tlsKeystore match {
    case None => new ServerSocket(port)
    case Some((loc, pw)) =>
      val ks = java.security.KeyStore.getInstance(
        new java.io.File(loc), pw.toCharArray)
      val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
        javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
      kmf.init(ks, pw.toCharArray)
      val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
      ctx.init(kmf.getKeyManagers, null, null)
      ctx.getServerSocketFactory.createServerSocket(port)
  }
  @volatile private var closed = false

  /** DeleteRecords (api 21) low watermark per partition — the log-start
    * offset a real broker persists on truncation. Fetches below it answer
    * OFFSET_OUT_OF_RANGE and ListOffsets earliest returns it instead of 0;
    * records themselves stay in the double's storage (like segment files
    * awaiting cleanup) but are unreachable through the protocol. */
  private val logStart =
    new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private def logStartOffset(p: Int): Long =
    Option(logStart.get(p)).fold(0L)(_.longValue)

  /** Dynamic topic configs (DescribeConfigs api 32 / IncrementalAlterConfigs
    * api 44): (topic, key) → value overrides layered over
    * [[KafkaLogServer.TopicConfigDefaults]]. Deleting a topic purges its
    * overrides (a re-created topic starts from defaults, like a real
    * broker). The produce path ENFORCES max.message.bytes — a batch
    * larger than the effective value answers MESSAGE_TOO_LARGE (10) — so
    * an altered config is observable in broker behavior, not just echoed
    * back by describe. */
  private val topicConfigs =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  private def effectiveConfig(t: String, key: String): Option[String] =
    Option(topicConfigs.get((t, key)))
      .orElse(KafkaLogServer.TopicConfigDefaults.get(key).map(_._1))
  private def maxMessageBytes(t: String): Int =
    effectiveConfig(t, "max.message.bytes").map(_.toInt)
      .getOrElse(1048588)

  /** (group, topic, partition) → committed offset — the coordinator state. */
  private val committedStore =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int), java.lang.Long]()

  /** Group-membership coordinator (JoinGroup/SyncGroup/Heartbeat/LeaveGroup
    * + OffsetCommit generation fencing) — see [[GroupCoordinator]]. */
  private val groupCoordinator = new GroupCoordinator

  /** One stored batch of the produced tail. Real broker logs are BATCH
    * sequences, not flat record lists — transaction semantics live on the
    * batch (producer identity, the transactional attribute bit, control
    * markers), so the tail preserves batch boundaries and Fetch re-serves
    * whole batches at their assigned base offsets (clients filter records
    * below the fetch offset, exactly as against a real broker).
    * `control` = Some(committed) makes this a one-record control marker. */
  private final class TailBatch(val base: Long,
      val recs: Seq[(Array[Byte], Array[Byte], Long)],
      val pid: Long, val epoch: Short, val baseSeq: Int,
      val transactional: Boolean, val control: Option[Boolean]) {
    // computed ONCE: recs may be a List, whose .size is O(n) — every
    // endOffset/fetch walks all entries, so a per-call size turned the
    // whole produce/consume path quadratic (caught by stack sampling at
    // the ×30 spot: 90% of samples inside List.length)
    val size: Int = recs.size
    val end: Long = base + size
  }

  /** Per-partition produced tail: batches appended via Produce (and txn
    * control markers) live here, logically after the file-backed base log,
    * and are served back through ListOffsets/Fetch like any broker log
    * segment. */
  private val produced = new java.util.concurrent.ConcurrentHashMap[
    Int, scala.collection.mutable.ArrayBuffer[TailBatch]]()

  /** Wire-created topic (CreateTopics, api 19): (name, partition ids).
    * `requireCreate = true` starts the broker TOPICLESS — every topic
    * request answers UNKNOWN_TOPIC_OR_PARTITION until an admin client
    * creates one, exactly the pre-harness state of a real test broker
    * (the reference creates its topics through rdkafka's AdminClient,
    * `tests/utils.rs:104-117`). The double stays single-topic by design:
    * creating a second distinct topic answers INVALID_REQUEST. */
  @volatile private var created: Option[(String, Seq[Int])] = None
  /** DeleteTopics (api 20) tombstone for the FILE-BACKED base topic: once
    * deleted, the broker is topicless (every topic request answers
    * UNKNOWN_TOPIC_OR_PARTITION) and a re-created topic starts EMPTY —
    * the base log segments never resurrect, exactly a real broker's
    * delete+recreate. Wire-created topics delete by clearing [[created]]. */
  @volatile private var baseDeleted = false
  /** The topic this broker currently serves, if any. */
  private def activeTopic: Option[String] =
    created.map(_._1).orElse(
      if (requireCreate || baseDeleted) None else Some(topic))
  private def partitionIds: Seq[Int] =
    created.map(_._2).getOrElse(
      if (requireCreate || baseDeleted) Nil
      else explicitPartitions.getOrElse(ReplayLog.listPartitions(dir)))
  private def baseCount(p: Int): Long =
    if (baseDeleted) 0L
    else if ((explicitPartitions.isDefined || requireCreate) &&
        !ReplayLog.logFile(dir, p).exists()) 0L
    else ReplayLog.safeRecordCount(dir, p)
  private def producedTail(p: Int) = produced.computeIfAbsent(p,
    _ => scala.collection.mutable.ArrayBuffer.empty)
  private def endOffset(p: Int): Long = baseCount(p) + producedCount(p).toLong

  /** Test-visible count of records appended to partition p via Produce,
    * INCLUDING transaction control markers (they occupy log offsets).
    * O(1): offsets are assigned contiguously, so the last entry's end IS
    * the count (summing per-entry sizes here made every wire request
    * O(#batches)). */
  def producedCount(p: Int): Int = {
    val tail = producedTail(p)
    tail.synchronized {
      tail.lastOption.fold(0L)(_.end - baseCount(p)).toInt
    }
  }

  // ---- transaction coordinator state ---------------------------------------
  /** transactional id → (producer id, CURRENT epoch). Re-registering a
    * known transactional id keeps the pid and bumps the epoch — the
    * fencing handshake: every in-flight request still carrying the old
    * epoch is a ZOMBIE and gets rejected, exactly how Kafka guarantees a
    * restarted exactly-once producer cannot be raced by its predecessor. */
  private val txnProducers =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Short)]()
  /** Open transaction per producer id: partitions added via
    * AddPartitionsToTxn, plus the first data offset written per partition
    * (the LSO floor and, on abort, the aborted-span start). */
  private final class OpenTxn(timeoutMs: Int) {
    val partitions = scala.collection.mutable.Set.empty[Int]
    val firstOffsets = scala.collection.mutable.Map.empty[Int, Long]
    /** Consumer offsets STAGED inside this transaction (TxnOffsetCommit,
      * api 28): (group, topic, partition) → offset. Real coordinators
      * write these to __consumer_offsets with the transactional marker —
      * they become visible ONLY when the commit marker lands; an abort
      * (including the timeout reaper's and the fencing abort) drops them.
      * The exactly-once consume-transform-produce contract. */
    val stagedOffsets =
      scala.collection.mutable.Map.empty[(String, String, Int), Long]
    /** transaction.timeout.ms deadline — crossed = reaped (abort + fence). */
    val deadline: Long = System.currentTimeMillis() + math.max(timeoutMs, 1)
  }
  /** pid → registered transaction timeout (from InitProducerId). */
  private val txnTimeouts =
    new java.util.concurrent.ConcurrentHashMap[Long, Integer]()
  private val openTxns =
    new java.util.concurrent.ConcurrentHashMap[Long, OpenTxn]()
  /** Per-partition ABORTED spans: (producer id, first offset, marker
    * offset). Fetch serves the (pid, firstOffset) pairs whose MARKER lies
    * at or beyond the fetch offset — a span whose marker the consumer has
    * already passed must NOT be re-served: the client's scan activates any
    * span with firstOffset <= batch base and only deactivates it when it
    * crosses the marker batch, so re-serving a closed span to a fetch that
    * starts after its marker would hide the same producer's LATER
    * COMMITTED data (exactly how a real broker's txn index filters). */
  private val abortedTxns = new java.util.concurrent.ConcurrentHashMap[
    Int, scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]]()
  private def abortedOf(p: Int) = abortedTxns.computeIfAbsent(p,
    _ => scala.collection.mutable.ArrayBuffer.empty)

  /** End pid's open transaction: one control marker per touched partition
    * (the coordinator's WriteTxnMarkers step); aborts also record the span
    * for Fetch's aborted_transactions list. No-op without an open txn.
    * ORDERING: markers + abort spans land BEFORE the txn leaves openTxns —
    * removing first would advance the LSO past still-unmarked aborted data
    * and a concurrent read_committed fetch in that window would serve it
    * as committed. */
  private def endOpenTxn(pid: Long, commit: Boolean): Unit = {
    val txn = openTxns.get(pid)
    if (txn != null) {
      val parts = txn.synchronized { txn.partitions.toSeq.sorted }
      parts.foreach { p =>
        val tail = producedTail(p)
        tail.synchronized {
          val markerOff = tail.lastOption.fold(baseCount(p))(_.end)
          tail += new TailBatch(markerOff, Seq((null, null,
            System.currentTimeMillis())), pid, 0, -1,
            transactional = true, control = Some(commit))
          if (!commit) {
            val first = txn.synchronized { txn.firstOffsets.get(p) }
            first.foreach { f =>
              abortedOf(p).synchronized {
                abortedOf(p) += ((pid, f, markerOff))
              }
            }
          }
        }
      }
      // staged consumer offsets (TxnOffsetCommit) land EXACTLY when the
      // transaction commits — an abort (incl. the reaper's and the
      // fencing abort) drops them, never partially
      if (commit) txn.synchronized {
        txn.stagedOffsets.foreach { case (k, off) =>
          committedStore.put(k, off)
        }
      }
      openTxns.remove(pid)
    }
  }

  /** Fencing abort: a re-registered transactional id aborts its
    * predecessor's open transaction. */
  private def abortOpenTxn(pid: Long): Unit = endOpenTxn(pid, commit = false)

  /** Last stable offset: everything below it is transactionally decided.
    * With open transactions on p, the LSO is the earliest still-undecided
    * data offset; otherwise the log end. Reaps expired transactions first
    * — the broker-side transaction.timeout.ms guarantee that a writer
    * which died without abort() cannot pin the LSO forever. */
  private def lastStable(p: Int): Long = {
    reapExpiredTxns()
    import scala.jdk.CollectionConverters._
    val floors = openTxns.values.asScala
      .flatMap(t => t.synchronized { t.firstOffsets.get(p) })
    if (floors.isEmpty) endOffset(p) else floors.min
  }

  /** Abort every open transaction past its timeout deadline and FENCE its
    * producer (epoch bump), exactly what a real coordinator's
    * transaction.timeout.ms reaper does: the dead writer's data becomes
    * permanently invisible, the LSO advances, and a zombie that wakes up
    * later is rejected rather than resumed. */
  private def reapExpiredTxns(): Unit = {
    import scala.jdk.CollectionConverters._
    val now = System.currentTimeMillis()
    openTxns.asScala.filter(_._2.deadline <= now).keys.toSeq.foreach { pid =>
      endOpenTxn(pid, commit = false)
      txnProducers.replaceAll((_, reg) =>
        if (reg._1 == pid) (reg._1, (reg._2 + 1).toShort) else reg)
    }
  }

  /** InitProducerId assignment counter + per-(pid, partition) last sequence
    * range and assigned base offset — the broker-side idempotence cache
    * (real brokers keep the last 5 ranges; one suffices for a retry-once
    * client). */
  private val pidCounter = new java.util.concurrent.atomic.AtomicLong(1000L)
  private val seqStore = new java.util.concurrent.ConcurrentHashMap[
    (Long, Int), (Int, Int, Long)]()

  /** Fault injection: when > 0, that many Produce requests are fully
    * PROCESSED (appended) but the response is withheld and the connection
    * killed — the ambiguous-failure window an idempotent producer's retry
    * must absorb. */
  @volatile var dropProduceResponses: Int = 0

  /** Test-visible view of a group's committed offsets for this topic. */
  def committed(group: String): Map[Int, Long] = {
    import scala.jdk.CollectionConverters._
    committedStore.asScala.collect {
      case ((g, t, p), off) if g == group && t == topic => p -> Long.unbox(off)
    }.toMap
  }

  def boundPort: Int = server.getLocalPort
  def address: String = s"127.0.0.1:$boundPort"
  /** value for the replay source's `path` option. */
  def clientPath: String = s"$address/$topic"

  private val acceptor = new Thread(() => {
    while (!closed) {
      try {
        val sock = server.accept()
        val t = new Thread(() => handle(sock), "fake-kafka-handler")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: IOException if closed =>
        case _: IOException =>
      }
    }
  }, "fake-kafka-acceptor")
  acceptor.setDaemon(true)
  acceptor.start()

  private def handle(sock: Socket): Unit = {
    try {
      sock.setTcpNoDelay(true)
      val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
      val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))
      // per-connection SASL session state — a real broker requires the
      // handshake + authenticate sequence on EVERY new connection of a
      // SASL listener before any other API is served
      var mechanism: String = null
      var authed = !saslEnabled
      // KIP-368 (connections.max.reauth.ms): a successful authentication
      // starts a session clock; v1+ SaslAuthenticate responses advertise
      // the lifetime, and a connection that keeps issuing data APIs past
      // it without re-authenticating is KILLED, like a real broker.
      var sessionExpiry = Long.MaxValue
      def markAuthed(): Unit = {
        authed = true
        if (maxReauthMs > 0)
          sessionExpiry = System.currentTimeMillis() + maxReauthMs
      }
      // OAUTHBEARER failure flow (RFC 7628 §3.2.3): after a bad token the
      // server sends the error JSON as a *challenge*, the client answers
      // with the dummy %x01 byte, and only then does the server fail the
      // authentication — this holds the JSON between those two legs
      var oauthErrJson: String = null
      // SCRAM server state between the two SaslAuthenticate legs:
      // (clientFirstBare, serverFirst, salt) — RFC 5802 server side
      var scramState: (String, String, Array[Byte]) = null
      // One SCRAM leg: (reply, authComplete, error). Real-credential
      // verification — the server recovers ClientKey from the proof and
      // checks H(ClientKey) == StoredKey, exactly like Kafka's
      // ScramSaslServer; `forgeScramServerSig` lets a test prove the
      // CLIENT verifies the server signature (mutual auth).
      def scramLeg(msg: String): (String, Boolean, String) = {
        val (user, pass) = sasl.get
        val shaAlgo = if (mechanism == "SCRAM-SHA-512") "SHA-512" else "SHA-256"
        val hmacAlgo = "Hmac" + shaAlgo.replace("-", "")
        def hmac(key: Array[Byte], data: String): Array[Byte] = {
          val m = javax.crypto.Mac.getInstance(hmacAlgo)
          m.init(new javax.crypto.spec.SecretKeySpec(key, hmacAlgo))
          m.doFinal(data.getBytes("UTF-8"))
        }
        def digest(d: Array[Byte]): Array[Byte] =
          java.security.MessageDigest.getInstance(shaAlgo).digest(d)
        def attrsOf(s: String): Map[String, String] = s.split(",").collect {
          case a if a.length >= 2 && a.charAt(1) == '=' =>
            a.substring(0, 1) -> a.substring(2)
        }.toMap
        val b64e = java.util.Base64.getEncoder
        val b64d = java.util.Base64.getDecoder
        if (scramState == null) {
          if (!msg.startsWith("n,,"))
            return (null, false, s"unsupported gs2 header in '$msg'")
          val bare = msg.substring(3)
          val attrs = attrsOf(bare)
          val u = attrs.getOrElse("n", "").replace("=2C", ",").replace("=3D", "=")
          if (u != user)
            return (null, false, "Authentication failed: unknown user")
          val rnd = new java.security.SecureRandom()
          val sn = new Array[Byte](18); rnd.nextBytes(sn)
          val salt = new Array[Byte](16); rnd.nextBytes(salt)
          val nonce = attrs.getOrElse("r", "") +
            b64e.withoutPadding.encodeToString(sn)
          val serverFirst =
            s"r=$nonce,s=${b64e.encodeToString(salt)},i=4096"
          scramState = (bare, serverFirst, salt)
          (serverFirst, false, null)
        } else {
          val (bare, serverFirst, salt) = scramState
          val attrs = attrsOf(msg)
          val expectedNonce = attrsOf(serverFirst)("r")
          if (attrs.getOrElse("r", "") != expectedNonce ||
              attrs.getOrElse("c", "") != "biws")
            return (null, false, "Authentication failed: nonce/binding mismatch")
          val pIdx = msg.lastIndexOf(",p=")
          if (pIdx < 0) return (null, false, "client-final missing proof")
          val authMessage = bare + "," + serverFirst + "," + msg.substring(0, pIdx)
          val keyBits = if (shaAlgo == "SHA-512") 512 else 256
          val salted = javax.crypto.SecretKeyFactory
            .getInstance("PBKDF2WithHmac" + shaAlgo.replace("-", ""))
            .generateSecret(new javax.crypto.spec.PBEKeySpec(
              pass.toCharArray, salt, 4096, keyBits))
            .getEncoded
          val storedKey = digest(hmac(salted, "Client Key"))
          val clientSig = hmac(storedKey, authMessage)
          val recovered = b64d.decode(attrs("p"))
            .zip(clientSig).map { case (a, b) => (a ^ b).toByte }
          if (!java.security.MessageDigest.isEqual(digest(recovered), storedKey))
            return (null, false, "Authentication failed: invalid credentials")
          val serverSig = hmac(hmac(salted, "Server Key"), authMessage)
          if (forgeScramServerSig) serverSig(0) = (serverSig(0) ^ 1).toByte
          (s"v=${b64e.encodeToString(serverSig)}", true, null)
        }
      }
      while (!closed) { // persistent connection: serve requests until EOF
        val size = in.readInt()
        val req = new Array[Byte](size)
        in.readFully(req)
        val frame = new DataInputStream(new java.io.ByteArrayInputStream(req))
        val (apiKey, apiVersion, correlationId) = readRequestHeader(frame)
        val r = new WireReader(frame, apiKey, apiVersion)
        val o = new WireWriter(apiKey, apiVersion)
        // KIP-368 enforcement: past the session lifetime only the re-auth
        // sequence (and ApiVersions) is served; anything else kills the
        // connection, exactly a real broker with connections.max.reauth.ms
        if (authed && maxReauthMs > 0 &&
            System.currentTimeMillis() > sessionExpiry &&
            apiKey != ApiSaslHandshake && apiKey != ApiSaslAuthenticate &&
            apiKey != ApiApiVersions)
          throw new IOException("fake broker: SASL session lifetime " +
            "exceeded without re-authentication (KIP-368)")
        apiKey match {
          case ApiSaslHandshake if apiVersion == 1 =>
            val mech = r.string()
            val mechOk = saslMechs.contains(mech) &&
              (if (mech == "OAUTHBEARER") oauthToken.isDefined else sasl.isDefined)
            if (mechOk) mechanism = mech
            o.int16(if (mechOk) 0 else 33) // 33: UNSUPPORTED_SASL_MECHANISM
            o.array(saslMechs)(o.string)
          case ApiSaslAuthenticate if apiVersion == 0 || apiVersion == 1 =>
            if (mechanism == null)
              throw new IOException("fake broker: authenticate before handshake")
            val tok = r.bytes()
            // (error, error message, auth_bytes): 58 = SASL_AUTHENTICATION_FAILED
            val (err, msg, reply): (Int, String, Array[Byte]) =
              if (mechanism == "PLAIN") {
                val parts = new String(tok, "UTF-8").split("\u0000", -1)
                if (parts.length == 3 && sasl.contains((parts(1), parts(2)))) {
                  markAuthed()
                  (0, null, Array.emptyByteArray)
                } else (58, "Authentication failed: invalid credentials",
                  Array.emptyByteArray)
              } else if (mechanism == "OAUTHBEARER") {
                val msg = new String(tok, "UTF-8")
                if (oauthErrJson != null) {
                  // the post-challenge dummy %x01 leg → named failure
                  val json = oauthErrJson
                  oauthErrJson = null
                  (58, json, Array.emptyByteArray)
                } else {
                  val Bearer = "n,,\u0001auth=Bearer (.+)\u0001\u0001".r
                  msg match {
                    case Bearer(t) if oauthToken.contains(t) =>
                      markAuthed()
                      (0, null, Array.emptyByteArray) // success: empty auth_bytes
                    case _ =>
                      // RFC 7628 error JSON rides as a CHALLENGE (error 0)
                      oauthErrJson = """{"status":"invalid_token"}"""
                      (0, null, oauthErrJson.getBytes("UTF-8"))
                  }
                }
              } else {
                val (reply, done, err) = scramLeg(new String(tok, "UTF-8"))
                scramState = if (done || err != null) null else scramState
                if (err != null) (58, err, Array.emptyByteArray)
                else {
                  if (done) markAuthed()
                  (0, null, reply.getBytes("UTF-8"))
                }
              }
            o.int16(err).string(msg).bytes(reply)
            // KIP-368: v1+ responses carry session_lifetime_ms (0 = the
            // broker does not require re-authentication)
            if (apiVersion >= 1) o.int64(maxReauthMs)
          case ApiApiVersions if apiVersion == 0 || apiVersion == 3 =>
            // served pre-auth, like real brokers (clients use it to
            // negotiate the SASL handshake version)
            if (apiVersion >= 3) { r.string(); r.string() } // client software
            r.tags()
            o.int16(apiVersionsError)
            o.array(if (apiVersionsError == 0) apiRanges else Nil) {
              case (k, lo, hi) => o.int16(k).int16(lo).int16(hi).tags()
            }
            if (apiVersion >= 1) o.int32(0) // throttle_time_ms
            o.tags()
          case _ if !authed =>
            // real brokers kill the connection on pre-auth API use
            throw new IOException(
              s"fake broker: api $apiKey before SASL authentication")
          case ApiProduce if apiVersion == 3 || apiVersion == 9 =>
            val txnId = r.string()      // transactional_id (nullable)
            r.int16(); r.int32()        // acks, timeout_ms
            val topics = r.array {
              val name = r.string()
              val parts = r.array {
                val p = r.int32(); val rs = r.bytes(); r.tags()
                (p, rs)
              }
              r.tags()
              (name, parts)
            }
            r.tags()
            o.array(topics) { case (name, parts) =>
              o.string(name)
              o.array(parts) { case (p, rs) =>
                // the append path (CRC check, idempotence, txn gating,
                // offset assignment) is dialect-free: produceAppend
                val (err, baseOff) = produceAppend(txnId, name, p, rs)
                o.int32(p).int16(err).int64(baseOff)
                o.int64(-1L)            // log_append_time: create-time batch
                if (apiVersion >= 5) o.int64(0L) // log_start_offset
                if (apiVersion >= 8)    // record_errors, error_message
                  o.arrayLen(0).string(null)
                o.tags()
              }
              o.tags()
            }
            if (dropProduceResponses > 0) {
              // ambiguous-failure injection: the append above HAPPENED but
              // the producer never hears back — it must retry and the
              // sequence check must absorb the duplicate
              dropProduceResponses -= 1
              throw new EOFException("fake broker: produce response dropped")
            }
            o.int32(0)                  // throttle_time_ms (tails Produce)
            o.tags()
          case ApiInitProducerId if apiVersion == 0 || apiVersion == 2 =>
            val txnId = r.string()
            val timeoutMs = r.int32()   // transaction_timeout_ms
            r.tags()
            val (pid, epoch) =
              if (txnId == null) (pidCounter.getAndIncrement(), 0: Short)
              else txnProducers.compute(txnId, (_, prev) =>
                if (prev == null) (pidCounter.getAndIncrement(), 0: Short)
                else (prev._1, (prev._2 + 1).toShort)) // fence: epoch bump
            if (txnId != null) txnTimeouts.put(pid, timeoutMs)
            if (txnId != null && epoch > 0) {
              // a re-registration ABORTS the predecessor's open txn (the
              // coordinator's bumpEpoch path): zombie data must not hold
              // the LSO hostage or ever become visible
              abortOpenTxn(pid)
              // and its sequence expectations reset with the new epoch
              val it = seqStore.keySet.iterator()
              while (it.hasNext) if (it.next()._1 == pid) it.remove()
            }
            o.int32(0)                  // throttle_time_ms
            o.int16(0)                  // error
            o.int64(pid).int16(epoch).tags()
          case ApiAddPartitionsToTxn if apiVersion == 0 || apiVersion == 3 =>
            val txnId = r.string()
            val pid = r.int64(); val pepoch = r.int16()
            val reg = Option(txnProducers.get(txnId))
            val fenced = reg.exists(t => t._1 == pid && pepoch < t._2)
            val registered = reg.exists(t => t._1 == pid && t._2 == pepoch)
            if (registered)
              openTxns.computeIfAbsent(pid, _ => new OpenTxn(
                Option(txnTimeouts.get(pid)).fold(60000)(_.intValue)))
            val topics = r.array {
              val name = r.string(); val ps = r.array(r.int32()); r.tags()
              (name, ps)
            }
            r.tags()
            o.int32(0)                  // throttle_time_ms
            o.array(topics) { case (name, ps) =>
              o.string(name)
              o.array(ps) { p =>
                val err =
                  if (fenced) 90        // PRODUCER_FENCED
                  else if (!registered) 48 // INVALID_TXN_STATE
                  else if (!activeTopic.contains(name) ||
                    !partitionIds.contains(p)) 3
                  else {
                    val txn = openTxns.get(pid)
                    txn.synchronized { txn.partitions += p }
                    0
                  }
                o.int32(p).int16(err).tags()
              }
              o.tags()
            }
            o.tags()
          case ApiAddOffsetsToTxn if apiVersion == 0 || apiVersion == 3 =>
            // registers the consumer group's offsets with the open txn —
            // same fencing/registration rules as AddPartitionsToTxn; the
            // double needs no per-group marker partition (offsets stage
            // inside the OpenTxn), but the txn must exist from here on
            val txnId = r.string()
            val pid = r.int64(); val pepoch = r.int16()
            r.string()                  // group_id
            r.tags()
            val reg = Option(txnProducers.get(txnId))
            val fenced = reg.exists(t => t._1 == pid && pepoch < t._2)
            val registered = reg.exists(t => t._1 == pid && t._2 == pepoch)
            if (registered && !fenced)
              openTxns.computeIfAbsent(pid, _ => new OpenTxn(
                Option(txnTimeouts.get(pid)).fold(60000)(_.intValue)))
            o.int32(0)                  // throttle_time_ms
            o.int16(
              if (fenced) 90            // PRODUCER_FENCED
              else if (!registered) 48  // INVALID_TXN_STATE
              else 0)
            o.tags()
          case ApiTxnOffsetCommit if apiVersion == 0 || apiVersion == 3 =>
            // stage consumer offsets INSIDE the transaction: they land in
            // committedStore only when the COMMIT marker does (endOpenTxn)
            val txnId = r.string()
            val group = r.string()
            val pid = r.int64(); val pepoch = r.int16()
            val (generation, member, instTo) =
              if (apiVersion >= 3)      // KIP-447 + group_instance_id
                (r.int32(), r.string(), r.string())
              else (-1, "", null)
            val reg = Option(txnProducers.get(txnId))
            val fenced = reg.exists(t => t._1 == pid && pepoch < t._2)
            val registered = reg.exists(t => t._1 == pid && t._2 == pepoch)
            val txn = openTxns.get(pid)
            // KIP-447: the v3 frame also carries the consumer's
            // (generation, member) — fenced-out consumers are rejected by
            // the group coordinator exactly like a plain OffsetCommit
            val groupFence =
              groupCoordinator.validateCommit(group, generation, member, instTo)
            val code: Int =
              if (fenced) 47            // INVALID_PRODUCER_EPOCH
              else if (!registered || txn == null) 48 // INVALID_TXN_STATE
              else groupFence
            val topics = r.array {
              val name = r.string()
              val ps = r.array {
                val p = r.int32(); val off = r.int64()
                if (apiVersion >= 2) r.int32() // committed_leader_epoch
                r.string(); r.tags()    // metadata
                (p, off)
              }
              r.tags()
              (name, ps)
            }
            r.tags()
            o.int32(0)                  // throttle_time_ms
            o.array(topics) { case (name, ps) =>
              o.string(name)
              o.array(ps) { case (p, off) =>
                if (code == 0) txn.synchronized {
                  txn.stagedOffsets((group, name, p)) = off
                }
                o.int32(p).int16(code).tags()
              }
              o.tags()
            }
            o.tags()
          case ApiEndTxn if apiVersion == 0 || apiVersion == 3 =>
            val txnId = r.string()
            val pid = r.int64(); val pepoch = r.int16()
            val commit = r.bool()
            r.tags()
            o.int32(0)                  // throttle_time_ms
            val reg = Option(txnProducers.get(txnId))
            if (reg.exists(t => t._1 == pid && pepoch < t._2))
              o.int16(90)               // PRODUCER_FENCED: zombie EndTxn
            else if (openTxns.get(pid) == null ||
                !reg.exists(t => t._1 == pid && t._2 == pepoch))
              o.int16(48)               // INVALID_TXN_STATE
            else {
              endOpenTxn(pid, commit)
              o.int16(0)
            }
            o.tags()
          case ApiCreateTopics if apiVersion == 0 || apiVersion == 5 =>
            val reqs = r.array {
              val name = r.string()
              val nParts = r.int32()
              val rf = r.int16()
              r.array { r.int32(); r.array(r.int32()); r.tags() } // assignments
              r.array { r.string(); r.string(); r.tags() } // configs
              r.tags()
              (name, nParts, rf)
            }
            r.int32()             // timeout_ms (in-process: instantaneous)
            val validateOnly = apiVersion >= 1 && r.bool()
            r.tags()
            if (apiVersion >= 2) o.int32(0) // throttle_time_ms
            o.array(reqs) { case (name, nParts, rf) =>
              val err: Int =
                if (activeTopic.contains(name)) 36 // TOPIC_ALREADY_EXISTS
                else if (activeTopic.isDefined) 42 // INVALID_REQUEST: the
                                                   // double is single-topic
                else if (nParts < 1) 37            // INVALID_PARTITIONS
                else if (rf != 1 && rf != -1) 38   // INVALID_REPLICATION_FACTOR
                else if (validateOnly) 0           // checked, not created
                else { created = Some((name, 0 until nParts)); 0 }
              o.string(name).int16(err)
              if (apiVersion >= 1) o.string(null) // error_message
              if (apiVersion >= 5) {
                o.int32(if (err == 0) nParts else -1)
                o.int16(if (err == 0) 1 else -1)
                o.arrayLen(0)           // configs
              }
              o.tags()
            }
            o.tags()
          case ApiDeleteTopics if apiVersion == 0 || apiVersion == 5 =>
            // CreateTopics' dual (VERDICT r14 #6): deleting the active
            // topic tombstones it — data (file-backed base AND produced
            // tails) never resurrects on re-create, fetch sessions holding
            // its partition state are dropped, and every subsequent topic
            // request answers UNKNOWN_TOPIC_OR_PARTITION
            val names = r.array(r.string())
            r.int32()                   // timeout_ms (in-process)
            r.tags()
            if (apiVersion >= 1) o.int32(0) // throttle_time_ms
            o.array(names) { name =>
              val err: Int =
                if (activeTopic.contains(name)) {
                  created = None
                  baseDeleted = true
                  produced.clear()
                  evictFetchSessions()
                  // real brokers also drop the topic's committed group
                  // offsets: after delete+recreate an OffsetFetch must NOT
                  // return stale offsets pointing into the vanished log
                  committedStore.keySet.removeIf(_._2 == name)
                  // ...its dynamic config overrides (a re-created topic
                  // starts from the static defaults)...
                  topicConfigs.keySet.removeIf(_._1 == name)
                  // ...and a re-created topic starts with log-start 0
                  logStart.clear()
                  0
                } else 3                // UNKNOWN_TOPIC_OR_PARTITION
              o.string(name).int16(err)
              if (apiVersion >= 5) o.string(null) // error_message
              o.tags()
            }
            o.tags()
          case ApiDescribeGroups if apiVersion == 0 || apiVersion == 5 =>
            val gids = r.array(r.string())
            if (apiVersion >= 3) r.bool() // include_authorized_operations
            r.tags()
            if (apiVersion >= 1) o.int32(0) // throttle_time_ms
            o.array(gids) { gid =>
              val (state, ptype, pname, members) = groupCoordinator.describe(gid)
              o.int16(0)                // error_code (unknown group = Dead)
              o.string(gid).string(state).string(ptype).string(pname)
              o.array(members) { case (mid, md, assign) =>
                o.string(mid)
                if (apiVersion >= 4) o.string(null) // group_instance_id
                o.string(mid)           // client_id: the double's
                o.string("/127.0.0.1")  // stand-ins
                o.bytes(md).bytes(assign).tags()
              }
              if (apiVersion >= 3) o.int32(Int.MinValue) // authorized_operations: omitted
              o.tags()
            }
            o.tags()
          case ApiListGroups if apiVersion == 0 || apiVersion == 4 =>
            val statesFilter: Set[String] =
              if (apiVersion >= 4) r.array(r.string()).toSet else Set.empty
            r.tags()
            val all = groupCoordinator.list()
            val shown =
              if (statesFilter.isEmpty) all
              else all.filter(g => statesFilter.contains(g._3))
            if (apiVersion >= 1) o.int32(0) // throttle_time_ms
            o.int16(0)                  // error_code
            o.array(shown) { case (gid, ptype, state) =>
              o.string(gid).string(ptype)
              if (apiVersion >= 4) o.string(state)
              o.tags()
            }
            o.tags()
          case ApiDeleteRecords if apiVersion >= 0 && apiVersion <= 2 =>
            // api 21: advance the log-start offset ("low watermark") —
            // log truncation. Post-conditions a real broker guarantees and
            // the double reproduces: ListOffsets earliest answers the new
            // low watermark; a fetch below it answers OFFSET_OUT_OF_RANGE.
            // offset -1 truncates to the high watermark; an offset past
            // the HW is OFFSET_OUT_OF_RANGE; truncation is monotonic (a
            // lower request never moves the watermark back).
            val req = r.array {
              val name = r.string()
              val ps = r.array {
                val p = r.int32(); val off = r.int64(); r.tags()
                (p, off)
              }
              r.tags()
              (name, ps)
            }
            r.int32()                   // timeout_ms (in-process)
            r.tags()
            o.int32(0)                  // throttle_time_ms
            o.array(req) { case (name, ps) =>
              o.string(name)
              o.array(ps) { case (p, off) =>
                val (low, err): (Long, Int) =
                  if (!activeTopic.contains(name) || !partitionIds.contains(p))
                    (-1L, 3)            // UNKNOWN_TOPIC_OR_PARTITION
                  else {
                    val hw = endOffset(p)
                    val target = if (off == -1L) hw else off
                    if (target > hw) (-1L, 1) // OFFSET_OUT_OF_RANGE
                    else {
                      val nl = math.max(logStartOffset(p), target)
                      logStart.put(p, nl)
                      (nl, 0)
                    }
                  }
                o.int32(p).int64(low).int16(err).tags()
              }
              o.tags()
            }
            o.tags()
          case ApiDeleteGroups if apiVersion >= 0 && apiVersion <= 2 =>
            // api 42: remove consumer groups wholesale — OffsetDelete's
            // group-level sibling. A group with LIVE members answers
            // NON_EMPTY_GROUP (68): membership is never yanked. A group
            // the coordinator never saw (no state, no committed offsets)
            // answers GROUP_ID_NOT_FOUND (69). Deletion drops BOTH the
            // membership state and every committed offset of the group.
            val gids = r.array(r.string())
            r.tags()
            o.int32(0)                  // throttle_time_ms
            o.array(gids) { gid =>
              import scala.jdk.CollectionConverters._
              val hasOffsets = committedStore.asScala.keys.exists(_._1 == gid)
              val err: Int = groupCoordinator.delete(gid) match {
                // offsets-only groups (simple consumers that never joined)
                // exist on a real broker as Empty coordinator groups —
                // deletable, offsets dropped
                case 69 if hasOffsets => 0
                case c => c
              }
              if (err == 0) committedStore.keySet.removeIf(_._1 == gid)
              o.string(gid).int16(err).tags()
            }
            o.tags()
          case ApiDescribeConfigs if apiVersion >= 1 && apiVersion <= 4 =>
            // api 32: the AdminClient's config read — the effective value
            // of every (or each requested) topic config, with its source
            // (5 = static default, 1 = dynamic topic override). The double
            // serves resource type 2 (TOPIC) for its single topic; other
            // resource types answer INVALID_REQUEST (42) per-resource,
            // unknown topics UNKNOWN_TOPIC_OR_PARTITION (3) — named
            // errors, never a dropped connection.
            val resources = r.array {
              val rtype = r.int8()
              val rname = r.string()
              val nKeys = r.arrayLen()
              val keys: Seq[String] =
                if (nKeys < 0) null else (1 to nKeys).map(_ => r.string())
              r.tags()
              (rtype, rname, keys)
            }
            r.bool()                    // include_synonyms (v1+)
            if (apiVersion >= 3) r.bool() // include_documentation
            r.tags()
            o.int32(0)                  // throttle_time_ms
            o.array(resources) { case (rtype, rname, keys) =>
              val err: Int =
                if (rtype != 2) 42      // INVALID_REQUEST: only TOPIC here
                else if (!activeTopic.contains(rname)) 3
                else 0
              o.int16(err)
              o.string(if (err == 0) null else s"resource error $err")
              o.int8(rtype).string(rname)
              val listed: Seq[String] =
                if (err != 0) Nil
                else if (keys == null || keys.isEmpty)
                  KafkaLogServer.TopicConfigDefaults.keys.toSeq.sorted
                else keys
              o.array(listed) { key =>
                val dyn = Option(topicConfigs.get((rname, key)))
                val dflt = KafkaLogServer.TopicConfigDefaults.get(key)
                o.string(key)
                o.string(dyn.orElse(dflt.map(_._1)).orNull) // value (null = unknown key)
                o.bool(false)           // read_only
                o.int8(if (dyn.isDefined) 1 else 5) // config_source
                o.bool(false)           // is_sensitive
                o.arrayLen(0)           // synonyms
                if (apiVersion >= 3) {
                  o.int8(dflt.map(_._2.toInt).getOrElse(0)) // config_type
                  o.string(null)        // documentation
                }
                o.tags()
              }
              o.tags()
            }
            o.tags()
          case ApiIncrementalAlterConfigs if apiVersion == 0 || apiVersion == 1 =>
            // api 44: the AdminClient's config write — SET/DELETE/APPEND/
            // SUBTRACT ops per config, validate_only dry runs, per-resource
            // named errors (INVALID_CONFIG 40 for unknown keys, bad values,
            // or list-ops on non-list configs). Applied overrides are
            // OBSERVABLE: the produce path enforces max.message.bytes.
            val resources = r.array {
              val rtype = r.int8()
              val rname = r.string()
              val cfgs = r.array {
                val key = r.string()
                val op = r.int8()
                val value = r.string()
                r.tags()
                (key, op, value)
              }
              r.tags()
              (rtype, rname, cfgs)
            }
            val validateOnly = r.bool()
            r.tags()
            o.int32(0)                  // throttle_time_ms
            o.array(resources) { case (rtype, rname, cfgs) =>
              def badValue(key: String, v: String): Boolean =
                KafkaLogServer.TopicConfigDefaults.get(key).exists {
                  case (_, 3, _) => // INT
                    try { v.toInt; false } catch { case _: Exception => true }
                  case (_, 5, _) => // LONG
                    try { v.toLong; false } catch { case _: Exception => true }
                  case _ => false
                }
              val err: Int =
                if (rtype != 2) 42      // INVALID_REQUEST
                else if (!activeTopic.contains(rname)) 3
                else cfgs.collectFirst {
                  case (key, _, _)
                      if !KafkaLogServer.TopicConfigDefaults.contains(key) =>
                    40                  // INVALID_CONFIG: unknown key
                  case (key, op, _)
                      if (op == 2 || op == 3) &&
                        !KafkaLogServer.TopicConfigDefaults(key)._3 =>
                    40                  // list op on a non-list config
                  case (_, op, v) if (op == 2 || op == 3) && v == null =>
                    40                  // APPEND/SUBTRACT need a value —
                                        // never persist a literal "null"
                  case (key, op, v)
                      if op == 0 && (v == null || badValue(key, v)) =>
                    40                  // SET needs a well-typed value
                  case (_, op, _) if op < 0 || op > 3 =>
                    42                  // unknown operation
                }.getOrElse(0)
              if (err == 0 && !validateOnly) cfgs.foreach {
                case (key, 0, v) => topicConfigs.put((rname, key), v) // SET
                case (key, 1, _) => topicConfigs.remove((rname, key)) // DELETE
                case (key, 2, v) =>     // APPEND to the effective list
                  val cur = effectiveConfig(rname, key).getOrElse("")
                  val items = cur.split(",").filter(_.nonEmpty).toSeq
                  if (!items.contains(v))
                    topicConfigs.put((rname, key), (items :+ v).mkString(","))
                case (key, 3, v) =>     // SUBTRACT from the effective list
                  val cur = effectiveConfig(rname, key).getOrElse("")
                  val items = cur.split(",").filter(_.nonEmpty).toSeq
                  topicConfigs.put((rname, key),
                    items.filterNot(_ == v).mkString(","))
                case _ =>
              }
              o.int16(err)
              o.string(if (err == 0) null else s"config error $err")
              o.int8(rtype).string(rname).tags()
            }
            o.tags()
          case ApiOffsetDelete if apiVersion == 0 =>
            // KIP-496: administrative offset reset. Unknown group answers
            // GROUP_ID_NOT_FOUND (69) at the group level; a group whose
            // LIVE members still subscribe refuses per-partition with
            // GROUP_SUBSCRIBED_TO_TOPIC (86) — an active subscription's
            // offsets are never yanked; otherwise the committed offsets
            // are dropped (idempotent: deleting an absent offset is 0).
            val group = r.string()
            val req = r.array {
              val name = r.string()
              r.array((name, r.int32()))
            }.flatten
            val (gState, _, _, members) = groupCoordinator.describe(group)
            val groupKnown = gState != "Dead" || {
              import scala.jdk.CollectionConverters._
              committedStore.asScala.keys.exists(_._1 == group)
            }
            val live = members.nonEmpty
            o.int16(if (groupKnown) 0 else 69) // 69: GROUP_ID_NOT_FOUND
            o.int32(0)                  // throttle_time_ms
            val byTopic =
              if (groupKnown) req.groupBy(_._1).toSeq.sortBy(_._1) else Nil
            o.array(byTopic) { case (name, ps) =>
              o.string(name)
              o.array(ps) { case (_, p) =>
                val err: Int =
                  if (live) 86          // GROUP_SUBSCRIBED_TO_TOPIC
                  else { committedStore.remove((group, name, p)); 0 }
                o.int32(p).int16(err)
              }
            }
          case ApiMetadata if apiVersion == 0 || apiVersion == 9 => metadata(r, o)
          case ApiListOffsets if apiVersion == 1 || apiVersion == 2 ||
              apiVersion == 6 => listOffsets(r, o)
          case ApiFetch if apiVersion == 4 || apiVersion == 12 => fetch(r, o)
          case ApiFindCoordinator if apiVersion == 0 || apiVersion == 3 =>
            r.string()                  // key: single node = coordinator
            if (apiVersion >= 1) r.int8() // key_type
            r.tags()
            if (apiVersion >= 1) o.int32(0) // throttle_time_ms
            o.int16(0)                  // error
            if (apiVersion >= 1) o.string(null) // error_message
            o.int32(0)                  // node id
            o.string("127.0.0.1").int32(boundPort).tags()
          case ApiJoinGroup if apiVersion == 0 || apiVersion == 6 =>
            groupCoordinator.joinGroup(r, o)
          case ApiSyncGroup if apiVersion == 0 || apiVersion == 4 =>
            groupCoordinator.syncGroup(r, o)
          case ApiHeartbeat if apiVersion == 0 || apiVersion == 4 =>
            groupCoordinator.heartbeat(r, o)
          case ApiLeaveGroup if apiVersion == 0 || apiVersion == 4 =>
            groupCoordinator.leaveGroup(r, o)
          case ApiOffsetCommit if apiVersion == 2 || apiVersion == 8 =>
            val group = r.string()
            val generation = r.int32()
            val member = r.string()
            val instOc =
              if (apiVersion >= 7) r.string() else null // group_instance_id
            if (apiVersion >= 2 && apiVersion <= 4) r.int64() // retention_time_ms
            // generation fencing: a member commit must carry the LIVE
            // generation; -1/"" is the simple consumer and always passes.
            // KIP-345: a replaced static incarnation is fenced (82) by its
            // instance id so it can never clobber its successor's offsets.
            val fence =
              groupCoordinator.validateCommit(group, generation, member, instOc)
            val topics = r.array {
              val name = r.string()
              val ps = r.array {
                val p = r.int32(); val off = r.int64()
                if (apiVersion >= 6) r.int32() // committed_leader_epoch
                r.string(); r.tags()    // metadata
                (p, off)
              }
              r.tags()
              (name, ps)
            }
            r.tags()
            if (apiVersion >= 3) o.int32(0) // throttle_time_ms
            o.array(topics) { case (name, ps) =>
              o.string(name)
              o.array(ps) { case (p, off) =>
                if (fence == 0) committedStore.put((group, name, p), off)
                o.int32(p).int16(fence).tags()
              }
              o.tags()
            }
            o.tags()
          case ApiOffsetFetch if apiVersion == 1 || apiVersion == 6 =>
            val group = r.string()
            val topics = r.array {
              val name = r.string(); val ps = r.array(r.int32()); r.tags()
              (name, ps)
            }
            r.tags()
            if (apiVersion >= 3) o.int32(0) // throttle_time_ms
            o.array(topics) { case (name, ps) =>
              o.string(name)
              o.array(ps) { p =>
                val off = Option(committedStore.get((group, name, p)))
                  .map(Long.unbox).getOrElse(-1L)
                o.int32(p).int64(off)
                if (apiVersion >= 5) o.int32(-1) // committed_leader_epoch
                o.string("").int16(0).tags() // metadata, error_code
              }
              o.tags()
            }
            if (apiVersion >= 2) o.int16(0) // top-level error_code
            o.tags()
          case other =>
            throw new IOException(s"fake broker: unsupported api $other v$apiVersion")
        }
        writeResponse(out, apiKey, apiVersion, correlationId, o.toByteArray)
      }
    } catch {
      // a clean client disconnect is not a handler failure — even in debug
      case _: EOFException => // client done
      // GRAFT_BROKER_DEBUG: surface per-connection parse/handler failures
      // (normally swallowed like a real broker dropping a bad client) —
      // the diagnostic seam that caught the round-13 v9 misframe. NonFatal
      // only: an OutOfMemoryError must propagate, not be swallowed.
      case e: Throwable if sys.env.contains("GRAFT_BROKER_DEBUG") &&
          scala.util.control.NonFatal(e) =>
        e.printStackTrace()
      case _: IOException =>
    } finally sock.close()
  }

  /** Metadata (v0 or the flexible v9, which adds leader_epoch,
    * offline_replicas, rack, cluster_id and the authorized-operations
    * fields). Honors the request's topic list: a topic this broker does
    * not serve (not yet created under requireCreate, or simply foreign)
    * answers UNKNOWN_TOPIC_OR_PARTITION per topic, like a real broker with
    * auto-creation off; an empty request (= all topics) lists the active
    * topic if there is one. */
  private def metadata(r: WireReader, o: WireWriter): Unit = {
    val v = r.version
    val requested = {
      val n = r.arrayLen()
      if (n <= 0) activeTopic.toSeq
      else (1 to n).map { _ => val name = r.string(); r.tags(); name }
    }
    if (v >= 4) r.bool()                // allow_auto_topic_creation
    if (v >= 8) { r.bool(); r.bool() }  // include_{cluster,topic}_authorized_operations
    r.tags()
    if (v >= 3) o.int32(0)              // throttle_time_ms
    o.arrayLen(1)                       // brokers
    o.int32(0).string("127.0.0.1").int32(boundPort)
    if (v >= 1) o.string(null)          // rack
    o.tags()
    if (v >= 2) o.string("graft-double") // cluster_id
    if (v >= 1) o.int32(0)              // controller_id
    o.array(requested) { name =>
      val known = activeTopic.contains(name)
      o.int16(if (known) 0 else 3)      // 3: UNKNOWN_TOPIC_OR_PARTITION
      o.string(name)
      if (v >= 1) o.bool(false)         // is_internal
      o.array(if (known) partitionIds else Nil) { p =>
        o.int16(0).int32(p).int32(0)    // error, id, leader
        if (v >= 7) o.int32(0)          // leader_epoch
        o.arrayLen(1).int32(0)          // replicas [0]
        o.arrayLen(1).int32(0)          // isr [0]
        if (v >= 5) o.arrayLen(0)       // offline_replicas
        o.tags()
      }
      if (v >= 8) o.int32(Int.MinValue) // topic_authorized_operations: none
      o.tags()
    }
    if (v >= 8 && v <= 10) o.int32(Int.MinValue) // cluster_authorized_operations
    o.tags()
  }

  /** ListOffsets by REAL timestamp (KIP-79): the earliest VISIBLE offset
    * whose record timestamp (ms) is >= `tsMs`, or -1 when none — scanning
    * the file-backed base log (µs timestamps on disk, served as ms on the
    * wire) and then the produced tail's decoded records, exactly the
    * records a fetch at the same isolation would serve. A real broker
    * resolves this from its time index; the double's sequential scan is
    * the same contract at test scale. Bounds: never below the
    * DeleteRecords low watermark, never at/past `cap` (the HW, or the LSO
    * under read_committed — undecided records have no public timestamp). */
  private def offsetForTimestamp(p: Int, tsMs: Long, cap: Long): Long = {
    val lo = logStartOffset(p)
    val bc = math.min(baseCount(p), cap)
    if (bc > 0 && lo < bc) {
      val fr = new FrameStream(dir, p, lo, needKey = false, needValue = false)
      try {
        var off = lo
        while (off < bc) {
          fr.readFrame()
          if (fr.tsUs / 1000L >= tsMs) return off
          off += 1
        }
      } finally fr.close()
    }
    producedTail(p).synchronized {
      producedTail(p).foreach { b =>
        if (b.control.isEmpty) b.recs.zipWithIndex.foreach {
          case ((_, _, ts), i) =>
            val o = b.base + i
            if (o >= lo && o < cap && ts >= tsMs) return o
        }
      }
    }
    -1L
  }

  /** ListOffsets (v1, v2 or the flexible v6). v2 added the isolation
    * level: read_committed's "latest" is the LSO. v6's request adds
    * current_leader_epoch (ignored: single broker, one epoch) and its
    * response a leader_epoch (−1, like a broker that does not track it). */
  private def listOffsets(r: WireReader, o: WireWriter): Unit = {
    val v = r.version
    r.int32()                           // replica id
    val isolation = if (v >= 2) r.int8() else 0
    val topics = r.array {
      val name = r.string()
      val ps = r.array {
        val p = r.int32()
        if (v >= 4) r.int32()           // current_leader_epoch
        val ts = r.int64()
        r.tags()
        (p, ts)
      }
      r.tags()
      (name, ps)
    }
    r.tags()
    if (v >= 2) o.int32(0)              // throttle_time_ms
    o.array(topics) { case (name, ps) =>
      o.string(name)
      o.array(ps) { case (p, ts) =>
        val off =
          if (ts == -2L) logStartOffset(p) // earliest = the low watermark
          else if (ts >= 0L) offsetForTimestamp(p, ts,
            if (isolation == 1) lastStable(p) else endOffset(p))
          else if (isolation == 1) lastStable(p)
          else endOffset(p)
        o.int32(p).int16(0).int64(ts).int64(off)
        if (v >= 4) o.int32(-1)         // leader_epoch: not tracked
        o.tags()
      }
      o.tags()
    }
    o.tags()
  }

  /** One partition's produce-append decision — a real broker's produce
    * path: route check, CRC-32C verification (unlike the tolerant
    * consume-side double), idempotence sequence check, transactional
    * gating (zombie fencing by epoch, INVALID_TXN_STATE for unregistered
    * txn batches), then append + offset assignment under the log lock.
    * Shared verbatim by the non-flexible v3 and flexible v9 Produce
    * handlers — only their envelopes differ. Returns (error, baseOffset). */
  private def produceAppend(txnId: String, name: String, p: Int,
      rs: Array[Byte]): (Int, Long) =
    if (!activeTopic.contains(name) || !partitionIds.contains(p))
      (3, -1L)                  // UNKNOWN_TOPIC_OR_PARTITION
    else if (rs.length > maxMessageBytes(name))
      (10, -1L)                 // MESSAGE_TOO_LARGE: the max.message.bytes
                                // topic config (alterable via api 44) is
                                // enforced where a real partition leader
                                // enforces it — at append time
    else if (!crcValid(rs))
      (2, -1L)                  // CORRUPT_MESSAGE
    else {
      val (pid, pepoch, baseSeq, lastSeq) = batchProducerInfo(rs)
      val transactional = batchIsTransactional(rs)
      // a transactional batch must come from a registered transactional
      // producer whose OPEN txn includes this partition — otherwise
      // INVALID_TXN_STATE, like a real coordinator-backed partition
      // leader; a STALE epoch (a newer producer re-registered the id) is
      // the zombie-fencing reject, INVALID_PRODUCER_EPOCH
      val reg = if (txnId == null) None
        else Option(txnProducers.get(txnId))
      val fenced = transactional &&
        reg.exists(r => r._1 == pid && pepoch < r._2)
      val txnOk = !transactional || (
        reg.exists(r => r._1 == pid && r._2 == pepoch) &&
        Option(openTxns.get(pid))
          .exists(_.partitions.contains(p)))
      val tail = producedTail(p)
      if (fenced) (47, -1L)      // INVALID_PRODUCER_EPOCH
      else if (!txnOk) (48, -1L) // INVALID_TXN_STATE
      else tail.synchronized {
        val cached =
          if (pid < 0) null else seqStore.get((pid, p))
        if (pid >= 0 && cached != null &&
            baseSeq == cached._1 && lastSeq == cached._2) {
          // exact retransmit of the last acked batch: absorb — ack the
          // ORIGINAL offsets, append nothing (the idempotent-producer
          // contract)
          (0, cached._3)
        } else if (pid >= 0 &&
            ((cached == null && baseSeq != 0) ||
             (cached != null && baseSeq != cached._2 + 1))) {
          (45, -1L)             // OUT_OF_ORDER_SEQUENCE_NUMBER
        } else {
          val recs = decodeBatches(rs, 0L,
            needKey = true, needValue = true).toSeq
          val assigned = tail.lastOption.fold(baseCount(p))(_.end)
          tail += new TailBatch(assigned,
            recs.map { case (_, k, v, tsMs) => (k, v, tsMs) },
            pid, pepoch, baseSeq, transactional, None)
          if (transactional) {
            val txn = openTxns.get(pid)
            txn.synchronized {
              txn.firstOffsets.getOrElseUpdate(p, assigned)
            }
          }
          if (pid >= 0)
            seqStore.put((pid, p), (baseSeq, lastSeq, assigned))
          (0, assigned)
        }
      }
    }

  // ---- KIP-227 incremental fetch sessions -----------------------------------
  /** One cached fetch session: the broker-side partition state an
    * incremental fetch request delta-updates instead of restating. */
  private final class FetchSession(val id: Int) {
    /** next epoch this session accepts. */
    var epoch: Int = 1
    /** (topic, partition) → current fetch offset. */
    val parts = scala.collection.mutable.LinkedHashMap[(String, Int), Long]()
  }
  /** Session cache, access-ordered and CAPPED like a real broker's
    * `max.incremental.fetch.session.cache.slots`: every full fetch (epoch 0)
    * creates a session and long runs with many micro-batch cursors would
    * otherwise grow broker memory without bound. Evicting the LRU session is
    * safe by protocol — the orphaned client's next incremental fetch answers
    * FETCH_SESSION_ID_NOT_FOUND (70) and it falls back to a full fetch,
    * the path [[evictFetchSessions]] already exercises. All access under
    * the map's own monitor. */
  private val fetchSessionSlots = 64
  private val fetchSessions =
    new java.util.LinkedHashMap[Integer, FetchSession](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Integer, FetchSession]): Boolean =
        size() > fetchSessionSlots
    }
  private val fetchSessionIds = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Test seam: drop every cached session — a real broker's cache
    * eviction; the next incremental request answers
    * FETCH_SESSION_ID_NOT_FOUND and the client must fall back to a full
    * fetch. */
  def evictFetchSessions(): Unit =
    fetchSessions.synchronized { fetchSessions.clear() }

  /** Fetch (v4, or the flexible v12, which adds the KIP-227 session
    * fields, leader-epoch fields, log_start_offset and
    * preferred_read_replica). A read_committed fetch never serves past the
    * LSO and lists the aborted transactions it must skip. v4 is
    * sessionless; v12 speaks the full KIP-227 session protocol:
    * sessionless (epoch -1), full fetch opening a session (epoch 0 → a
    * fresh session id), and INCREMENTAL fetches (epoch n must match;
    * partitions in the request update the cached state, forgotten ones
    * leave it, and the response carries ONLY the session partitions that
    * have data — the bandwidth shape of KIP-227). A missing session answers
    * FETCH_SESSION_ID_NOT_FOUND (70), a stale epoch
    * INVALID_FETCH_SESSION_EPOCH (71) — both top-level, both the signals a
    * real client takes as "fall back to a full fetch". */
  private def fetch(r: WireReader, o: WireWriter): Unit = {
    val v = r.version
    r.int32(); r.int32(); r.int32(); r.int32() // replica/wait/min/max
    val isolation = r.int8()            // 0 read_uncommitted, 1 read_committed
    val (sessionId, sessionEpoch) =
      if (v >= 7) (r.int32(), r.int32()) else (0, -1)
    // parse the whole request first: sessions decide the response set
    val requested = r.array {
      val name = r.string()
      val ps = r.array {
        val p = r.int32()
        if (v >= 9) r.int32()           // current_leader_epoch
        val fetchOffset = r.int64()
        if (v >= 12) r.int32()          // last_fetched_epoch
        if (v >= 5) r.int64()           // log_start_offset
        r.int32()                       // partition_max_bytes
        r.tags()
        ((name, p), fetchOffset)
      }
      r.tags()
      ps
    }.flatten
    val forgotten =
      if (v >= 7) r.array {             // forgotten_topics_data
        val name = r.string()
        val ps = r.array((name, r.int32()))
        r.tags()
        ps
      }.flatten
      else Nil
    // (answer set, session id to echo, incremental?) per the session rules
    val resolved: Either[Short, (Seq[((String, Int), Long)], Int, Boolean)] =
      if (sessionEpoch == -1) Right((requested, 0, false))
      else if (sessionEpoch == 0) {
        val s = new FetchSession(fetchSessionIds.incrementAndGet())
        s.parts ++= requested
        fetchSessions.synchronized { fetchSessions.put(s.id, s) }
        Right((requested, s.id, false))
      } else Option(fetchSessions.synchronized { fetchSessions.get(sessionId) }) match {
        case None => Left(70)           // FETCH_SESSION_ID_NOT_FOUND
        case Some(s) => s.synchronized {
          if (sessionEpoch != s.epoch) Left(71) // INVALID_FETCH_SESSION_EPOCH
          else {
            s.epoch += 1
            requested.foreach { case (tp, off) => s.parts(tp) = off }
            forgotten.foreach(s.parts.remove)
            Right((s.parts.toSeq, s.id, true))
          }
        }
      }
    o.int32(0)                          // throttle_time_ms
    resolved match {
      case Left(code) =>
        o.int16(code).int32(0)          // error_code, session_id
        o.arrayLen(0).tags()            // no topics
      case Right((answerSet, echoSessionId, incremental)) =>
        // evaluate every partition, then (incremental only) omit the empty
        // ones — a full fetch restates everything, KIP-227's response rule
        val answers = answerSet.map { case ((name, p), fetchOffset) =>
          // LSO first: lastStable() reaps expired transactions, which can
          // APPEND abort markers — reading the high watermark before the
          // reap could publish a protocol-inconsistent (lso > hw) pair
          val lso = lastStable(p)
          val hw = endOffset(p)
          val end = if (isolation == 1) lso else hw
          // a fetch below the log-start offset (DeleteRecords truncation)
          // answers OFFSET_OUT_OF_RANGE like a real broker whose segments
          // are gone — the consumer must reset, not silently skip
          val oor = fetchOffset < logStartOffset(p)
          // only spans whose MARKER is at or beyond the fetch offset — a
          // span the consumer's scan position has already passed must not
          // be re-served, or its producer's later committed data would be
          // hidden
          val aborted =
            if (isolation == 1 && !oor)
              abortedOf(p).synchronized {
                abortedOf(p).toVector.filter(_._3 >= fetchOffset)
              }
            else Vector.empty
          val recordSet =
            if (oor || fetchOffset >= end) Array.emptyByteArray
            else encodeBatch(p, fetchOffset,
              math.min(end, fetchOffset + batchRecords))
          (name, p, hw, lso, aborted, recordSet, oor)
        }
        val included =
          if (incremental)
            answers.filter(a => a._6.nonEmpty || a._5.nonEmpty || a._7)
          else answers
        if (v >= 7) o.int16(0).int32(echoSessionId) // error_code, session_id
        o.array(included.groupBy(_._1).toSeq.sortBy(_._1)) { case (name, parts) =>
          o.string(name)
          o.array(parts) { case (_, p, hw, lso, aborted, recordSet, oor) =>
            o.int32(p).int16(if (oor) 1 else 0)
            o.int64(hw).int64(lso)
            if (v >= 5) o.int64(logStartOffset(p))
            o.array(aborted) { case (pid, first, _) =>
              o.int64(pid).int64(first).tags()
            }
            if (v >= 11) o.int32(-1)    // preferred_read_replica
            o.bytes(recordSet).tags()
          }
          o.tags()
        }
        o.tags()
    }
  }

  /** One RecordBatch v2 (or, with [[legacyMagic]], a pre-0.11 MessageSet)
    * for records [start, until) of partition p; when `truncateTail` is set,
    * a second partial batch header is appended to simulate a broker cutting
    * the record_set at max_bytes. */
  private def encodeBatch(p: Int, start: Long, until0: Long): Array[Byte] = {
    val base = baseCount(p)
    // never span the base-log / produced-tail seam inside one batch — the
    // client simply re-fetches from the seam, like any multi-batch read
    val until = if (start < base) math.min(until0, base) else until0
    if (start >= base) return encodeTailBatches(p, start, until)
    val frames = new FrameStream(dir, p, start, needKey = true, needValue = true)
    val recs = try {
      (start until until).map { off =>
        frames.readFrame()
        (off, frames.key, frames.value, frames.tsUs / 1000L)
      }
    } finally frames.close()
    legacyMagic match {
      case Some(m) => encodeLegacySet(m, recs)
      case None =>
        val bo = new ByteArrayOutputStream(); val o = new DataOutputStream(bo)
        o.write(encodeRecordBatchV2(recs.map { case (_, k, v, tsMs) =>
          (k, v, tsMs) }, codec, baseOffset = start))
        if (truncateTail) {
          // a plausible-but-cut next batch: full header claimed, half delivered
          o.writeLong(until)
          o.writeInt(1000)
          o.write(new Array[Byte](50))
        }
        bo.toByteArray
    }
  }

  /** Serve stored produced-tail batches overlapping [start, until): whole
    * batches at their assigned base offsets, preserving producer identity,
    * the transactional bit, and control markers — the batch-boundary
    * fidelity transaction semantics need (a client filters records below
    * its fetch offset, exactly as against a real broker's log segments).
    * Data batches re-encode with the server's configured codec; control
    * markers use the public control-record schema. */
  private def encodeTailBatches(p: Int, start: Long, until: Long): Array[Byte] = {
    val tail = producedTail(p)
    val entries = tail.synchronized { tail.toVector }
    val overlapping = entries.filter(e => e.end > start && e.base < until)
    legacyMagic match {
      case Some(m) =>
        // a pre-0.11 broker double serves produced records in the legacy
        // MessageSet framing too; transactions postdate that wire format
        // by years, so a transactional tail under legacyMagic is a test
        // configuration error, not something to encode silently
        require(overlapping.forall(e => !e.transactional && e.control.isEmpty),
          "fake broker: legacyMagic cannot serve transactional batches " +
            "(pre-0.11 wire format has no transactions)")
        val flat = overlapping.flatMap(e => e.recs.zipWithIndex.map {
          case ((k, v, tsMs), i) => (e.base + i, k, v, tsMs)
        })
        return if (flat.isEmpty) Array.emptyByteArray
          else encodeLegacySet(m, flat)
      case None =>
    }
    val bo = new ByteArrayOutputStream()
    overlapping.foreach { e =>
      val bytes = e.control match {
        case Some(commit) =>
          encodeControlBatch(e.base, e.pid, e.epoch, commit, e.recs.head._3)
        case None =>
          encodeRecordBatchV2(e.recs, codec, e.pid, e.epoch, e.baseSeq,
            transactional = e.transactional, baseOffset = e.base)
      }
      bo.write(bytes)
    }
    bo.toByteArray
  }

  /** Pre-0.11 MessageSet encoding (magic 0: no timestamp; magic 1: int64
    * create-time timestamp), exactly as old producers/brokers framed it:
    * each entry = offset int64, size int32, crc int32 (0 — client does not
    * verify, same as v2), magic, attributes, [v1 ts], key BYTES, value
    * BYTES. With a codec, all records nest inside ONE compressed wrapper
    * message — v1 wrappers carry relative inner offsets (0..n-1) and the
    * last inner ABSOLUTE offset on the wrapper; v0 inner offsets stay
    * absolute, wrapper offset = last. Codecs follow the legacy rules:
    * gzip/snappy both magics, lz4 only on v1 (v0's lz4 framing was the
    * broken-checksum variant nobody should emit). */
  private def encodeLegacySet(magic: Int,
      recs: Seq[(Long, Array[Byte], Array[Byte], Long)]): Array[Byte] = {
    def message(off: Long, k: Array[Byte], v: Array[Byte], tsMs: Long,
        attrs: Int): Array[Byte] = {
      val mb = new ByteArrayOutputStream(); val mo = new DataOutputStream(mb)
      mo.writeInt(0)                    // crc (unverified)
      mo.writeByte(magic)
      mo.writeByte(attrs)
      if (magic == 1) mo.writeLong(tsMs)
      def bytes(b: Array[Byte]): Unit =
        if (b == null) mo.writeInt(-1)
        else { mo.writeInt(b.length); mo.write(b) }
      bytes(k); bytes(v)
      val eb = new ByteArrayOutputStream(); val eo = new DataOutputStream(eb)
      eo.writeLong(off)
      eo.writeInt(mb.size())
      eo.write(mb.toByteArray)
      eb.toByteArray
    }
    if (codec == 0) {
      val bo = new ByteArrayOutputStream()
      recs.foreach { case (off, k, v, tsMs) =>
        bo.write(message(off, k, v, tsMs, 0))
      }
      bo.toByteArray
    } else {
      require(codec <= 3 && !(codec == 3 && magic == 0),
        s"fake broker: codec $codec illegal for legacy magic $magic")
      val innerSet = new ByteArrayOutputStream()
      recs.zipWithIndex.foreach { case ((off, k, v, tsMs), i) =>
        val innerOff = if (magic == 1) i.toLong else off
        innerSet.write(message(innerOff, k, v, tsMs, 0))
      }
      val cb = new ByteArrayOutputStream()
      val cs = compressed(codec, cb)
      cs.write(innerSet.toByteArray); cs.close()
      // wrapper: offset = last inner ABSOLUTE offset, value = compressed set
      message(recs.last._1, null, cb.toByteArray, recs.last._4, codec)
    }
  }

  override def close(): Unit = {
    closed = true
    server.close()
  }
}

private[replay] object KafkaLogServer {
  /** Topic config defaults the double serves (a real broker's static
    * layer): key → (default value, config_type per the protocol's
    * ConfigType enum — 1 BOOLEAN, 2 STRING, 3 INT, 5 LONG, 7 LIST —
    * and whether APPEND/SUBTRACT apply, i.e. the config is LIST-typed).
    * config_source: 5 = DEFAULT_CONFIG for these, 1 = DYNAMIC_TOPIC_CONFIG
    * for an altered override. None are sensitive, none read-only. */
  val TopicConfigDefaults: Map[String, (String, Byte, Boolean)] = Map(
    "retention.ms" -> (("604800000", 5: Byte, false)),
    "retention.bytes" -> (("-1", 5: Byte, false)),
    "max.message.bytes" -> (("1048588", 3: Byte, false)),
    "segment.bytes" -> (("1073741824", 3: Byte, false)),
    "min.insync.replicas" -> (("1", 3: Byte, false)),
    "compression.type" -> (("producer", 2: Byte, false)),
    "cleanup.policy" -> (("delete", 7: Byte, true)))
}
