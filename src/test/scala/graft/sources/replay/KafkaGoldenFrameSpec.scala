package graft.sources.replay

import java.io.{BufferedInputStream, DataInputStream, DataOutputStream, EOFException, IOException}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.HexFormat

import org.scalatest.funsuite.AnyFunSuite

/** Golden wire frames for both Kafka dialects.
  *
  * The fixtures under `src/test/resources/kafka-golden/` hold the exact
  * bytes of every request [[KafkaLogClient]] sends and every response
  * [[KafkaLogServer]] returns while running the client conversation of
  * [[KafkaFlexDialectSpec]]'s `runAllLanes`: once against a broker that
  * advertises only the flexible (KIP-482) versions ("retired") and once
  * against one that advertises only the pre-flexible versions
  * ("vintage"). Two more conversations ("admin-retired",
  * "admin-vintage") cover what that lane set does not reach: SASL/PLAIN,
  * an idempotent producer, incremental fetch sessions, ListOffsets by
  * timestamp, DescribeConfigs, IncrementalAlterConfigs and OffsetDelete.
  * Each side is replayed ON ITS OWN against the recording:
  *
  *   - the recorded responses drive a fresh client, which must send the
  *     recorded requests byte for byte;
  *   - the recorded requests go to a fresh broker double, which must
  *     answer the recorded responses byte for byte.
  *
  * A layout mistake made the same way on both ends passes every
  * round-trip spec; it fails here. Only the fields the double fills from
  * the wall clock or a random source are masked: the advertised port
  * (the 4 bytes after the "127.0.0.1" host in Metadata and
  * FindCoordinator responses) and each transaction control marker's CRC
  * and timestamps.
  *
  * Re-record (only when the wire format is meant to change):
  * `sbt "Test/runMain graft.sources.replay.KafkaGoldenFrameRecorder
  * src/test/resources/kafka-golden"`.
  */
object KafkaGoldenFrames {

  /** One request/response pair: the connection it rode (numbered in order
    * of first use) and both frames without their int32 size prefix. */
  final case class Exchange(conn: Int, request: Array[Byte],
      response: Array[Byte]) {
    def apiKey: Short = ((request(0) & 0xff) << 8 | (request(1) & 0xff)).toShort
    def apiVersion: Short =
      ((request(2) & 0xff) << 8 | (request(3) & 0xff)).toShort
  }

  /** Every API at only its flexible versions (KafkaFlexDialectSpec). */
  val Retired: Seq[(Short, Short, Short)] = Seq[(Short, Short, Short)](
    (0, 9, 9), (1, 12, 13), (2, 6, 8), (3, 9, 12), (8, 8, 8), (9, 6, 8),
    (10, 3, 4), (11, 6, 9), (12, 4, 4), (13, 4, 5), (14, 4, 5),
    (17, 1, 1), (18, 0, 3), (36, 0, 2), (19, 5, 7), (20, 4, 5),
    (15, 5, 5), (16, 3, 4), (22, 2, 4), (24, 3, 3), (25, 3, 3), (26, 3, 3),
    (28, 3, 3), (21, 2, 2), (42, 2, 2))

  /** Every API capped below its flexible floor (KafkaFlexDialectSpec). */
  val Vintage: Seq[(Short, Short, Short)] = Seq[(Short, Short, Short)](
    (0, 0, 8), (1, 0, 11), (2, 0, 5), (3, 0, 8), (8, 0, 7), (9, 0, 5),
    (10, 0, 2), (11, 0, 5), (12, 0, 3), (13, 0, 3), (14, 0, 3),
    (15, 0, 4), (16, 0, 2), (17, 0, 1), (18, 0, 3), (36, 0, 2),
    (19, 0, 4), (20, 0, 3), (22, 0, 1), (24, 0, 2), (25, 0, 2), (26, 0, 2),
    (28, 0, 2), (21, 0, 1), (42, 0, 1))

  /** The config, offset-delete and SASL APIs [[adminLanes]] adds. */
  private val AdminRetired = Retired ++ Seq[(Short, Short, Short)](
    (32, 4, 4), (44, 1, 1), (47, 0, 0))
  private val AdminVintage = Vintage.filterNot(_._1 == 36) ++
    Seq[(Short, Short, Short)]((36, 0, 0), (32, 1, 3), (44, 0, 0), (47, 0, 0))

  /** One recorded conversation: fixture name, advertisement, whether it
    * runs [[adminLanes]] (else [[lanes]]). */
  final case class Conversation(name: String,
      advertise: Seq[(Short, Short, Short)], admin: Boolean) {
    def broker(): KafkaLogServer = {
      val dir = Files.createTempDirectory("kafka-golden").toString
      if (admin) new KafkaLogServer(dir, "flex", requireCreate = true,
        advertiseApis = Some(advertise), batchRecords = 2,
        sasl = Some(("golden", "secret")))
      else new KafkaLogServer(dir, "flex", requireCreate = true,
        advertiseApis = Some(advertise))
    }
    def run(address: String): Seq[Any] =
      if (admin) adminLanes(address) else lanes(address)
    def expected: Seq[Any] = if (admin) ExpectedAdmin else ExpectedOutcomes
  }

  val Conversations: Seq[Conversation] = Seq(
    Conversation("retired", Retired, admin = false),
    Conversation("vintage", Vintage, admin = false),
    Conversation("admin-retired", AdminRetired, admin = true),
    Conversation("admin-vintage", AdminVintage, admin = true))

  private def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)
  private def str(b: Array[Byte]): String =
    if (b == null) null else new String(b, UTF_8)
  private def fails(f: => Any, text: String): Boolean =
    try { f; false } catch {
      case e: IOException => Option(e.getMessage).exists(_.contains(text))
    }

  /** The client side of KafkaFlexDialectSpec's `runAllLanes`, call for
    * call, against the broker at `address`: wire-created topic,
    * transactional produce (commit, abort, staged consumer offsets),
    * read_committed consume, group membership, admin group views, simple
    * commit-back, DeleteRecords, DeleteGroups and DeleteTopics. Returns
    * the observable outcomes. */
  def lanes(address: String): Seq[Any] = {
    val path = s"$address/flex"
    val admin = new KafkaLogClient(path)
    admin.createTopics(Seq(("flex", 2)))

    val prod = new KafkaLogClient(path, Map("transactional.id" -> "flex-txn"))
    prod.beginTxn()
    prod.produce(0, Seq((bytes("k1"), bytes("keep-1"), 1000L),
      (null, bytes("keep-2"), 1001L)))
    prod.produce(1, Seq((null, bytes("keep-3"), 1002L)))
    prod.endTxn(commit = true)
    prod.beginTxn()
    prod.produce(0, Seq((null, bytes("drop-1"), 1003L)))
    prod.endTxn(commit = false)
    prod.beginTxn()
    prod.produce(1, Seq((null, bytes("keep-4"), 1004L)))
    prod.sendOffsetsToTxn("flex-ctp", Map(0 -> 2L))
    prod.endTxn(commit = true)
    prod.closeProducer()

    val cons = new KafkaLogClient(path,
      Map("isolation.level" -> "read_committed"))
    val end = cons.endOffset(0)
    val frames = cons.openFrames(0, 0L, needKey = true, needValue = true)
    val rows = Seq.newBuilder[(Long, String)]
    while (frames.readFrameBefore(end))
      rows += ((frames.frameOffset, str(frames.value)))
    frames.close()

    val member = new KafkaGroupMembership(cons, "flex-group", "flex")
    val assigned = member.join()
    val beat = member.heartbeat()
    val descr = cons.describeGroups(Seq("flex-group"))("flex-group")
    val groupSeen = cons.listGroups().exists(_._1 == "flex-group")
    val ghost = cons.describeGroups(Seq("flex-ghost"))("flex-ghost")
    member.commitOffsets(Map(0 -> 2L, 1 -> 1L))
    member.leave()

    cons.commitOffsets("flex-simple", Map(0 -> 1L))
    val simple = cons.committedOffsets("flex-simple", Seq(0, 1))
    val ctp = cons.committedOffsets("flex-ctp", Seq(0, 1))

    val lows = cons.deleteRecords(Map(0 -> 2L))
    val truncated = (lows(0), cons.startOffset(0), cons.endOffset(0))
    cons.deleteGroups(Seq("flex-simple"))
    val dgGone = cons.committedOffsets("flex-simple", Seq(0, 1)).isEmpty
    val dgGhost =
      fails(cons.deleteGroups(Seq("flex-simple")), "GROUP_ID_NOT_FOUND")
    val delUnknown = fails(cons.deleteTopics(Seq("never-created")),
      "UNKNOWN_TOPIC_OR_PARTITION")
    cons.deleteTopics(Seq("flex"))
    val goneAfterDelete =
      fails(new KafkaLogClient(path).endOffset(0), "error 3")

    Seq(rows.result().map(_._2), assigned, beat, simple, ctp,
      (descr.state, descr.protocolType, descr.members.size, ghost.state,
        groupSeen), truncated, dgGone, dgGhost, delUnknown, goneAfterDelete)
  }

  /** What [[lanes]] returns against a correct broker, either dialect. */
  val ExpectedOutcomes: Seq[Any] = Seq(Seq("keep-1", "keep-2"), Seq(0, 1),
    true, Map(0 -> 1L), Map(0 -> 2L), ("Stable", "consumer", 1, "Dead", true),
    (2L, 2L, 5L), true, true, true, true)

  /** APIs and paths [[lanes]] does not reach: SASL/PLAIN on every
    * connection, an idempotent producer, a multi-fetch cursor (incremental
    * fetch sessions on the flexible dialect), ListOffsets by timestamp,
    * DescribeConfigs, IncrementalAlterConfigs and OffsetDelete. */
  def adminLanes(address: String): Seq[Any] = {
    val c = new KafkaLogClient(s"$address/flex", Map(
      "security.protocol" -> "SASL_PLAINTEXT", "sasl.mechanism" -> "PLAIN",
      "sasl.username" -> "golden", "sasl.password" -> "secret",
      "enable.idempotence" -> "true", "isolation.level" -> "read_uncommitted"))
    c.createTopics(Seq(("flex", 1)))
    val bases = (1 to 5).map(i =>
      c.produce(0, Seq((bytes(s"k$i"), bytes(s"v$i"), 1000L + i))))
    c.closeProducer()
    val parts = c.listPartitions()
    val byTs = (c.offsetForTimestamp(0, 1003L), c.offsetForTimestamp(0, 9999L))
    val end = c.endOffset(0)
    val frames = c.openFrames(0, 1L, needKey = true, needValue = true)
    val rows = Seq.newBuilder[(Long, String, String, Long)]
    while (frames.readFrameBefore(end))
      rows += ((frames.frameOffset, str(frames.key), str(frames.value),
        frames.tsUs))
    frames.close()
    val before = c.describeConfigs("flex", Seq("max.message.bytes"))
    c.incrementalAlterConfigs("flex", Seq(("max.message.bytes", 0, "2048"),
      ("cleanup.policy", 2, "compact")))
    val after = c.describeConfigs("flex")
    val badKey = fails(c.incrementalAlterConfigs("flex",
      Seq(("no.such.key", 0, "1"))), "error 40")
    c.commitOffsets("adm", Map(0 -> 3L))
    c.offsetDelete("adm", Seq(0))
    val deleted = c.committedOffsets("adm", Seq(0))
    val ghost = fails(c.offsetDelete("never", Seq(0)), "GROUP_ID_NOT_FOUND")
    def entries(m: Map[String, c.ConfigEntry]) = m.toSeq.sortBy(_._1).map {
      case (k, e) => (k, e.value, e.source, e.readOnly, e.sensitive)
    }
    Seq(bases, parts, byTs, end, rows.result(), entries(before), entries(after),
      badKey, deleted, ghost)
  }

  /** What [[adminLanes]] returns against a correct broker. */
  val ExpectedAdmin: Seq[Any] = Seq(Seq(0L, 1L, 2L, 3L, 4L), Seq(0),
    (Some(2L), None), 5L,
    Seq((1L, "k2", "v2", 1002000L), (2L, "k3", "v3", 1003000L),
      (3L, "k4", "v4", 1004000L), (4L, "k5", "v5", 1005000L)),
    Seq(("max.message.bytes", "1048588", 5, false, false)),
    Seq(("cleanup.policy", "delete,compact", 1, false, false),
      ("compression.type", "producer", 5, false, false),
      ("max.message.bytes", "2048", 1, false, false),
      ("min.insync.replicas", "1", 5, false, false),
      ("retention.bytes", "-1", 5, false, false),
      ("retention.ms", "604800000", 5, false, false),
      ("segment.bytes", "1073741824", 5, false, false)),
    true, Map.empty[Int, Long], true)

  // ---- frames -------------------------------------------------------------

  def readFrame(in: DataInputStream): Array[Byte] = {
    val b = new Array[Byte](in.readInt())
    in.readFully(b)
    b
  }

  def writeFrame(out: DataOutputStream, b: Array[Byte]): Unit = {
    out.writeInt(b.length); out.write(b); out.flush()
  }

  private val Host = bytes("127.0.0.1")

  /** Start positions of the advertised port in a Metadata (3) or
    * FindCoordinator (10) response: the 4 bytes after each "127.0.0.1". */
  def portPositions(apiKey: Short, response: Array[Byte]): Seq[Int] =
    if (apiKey != KafkaWire.ApiMetadata && apiKey != KafkaWire.ApiFindCoordinator) Nil
    else (0 to response.length - Host.length - 4).filter { i =>
      java.util.Arrays.equals(response, i, i + Host.length, Host, 0, Host.length)
    }.map(_ + Host.length)

  /** Copy of `response` with every advertised port set to `port`. */
  def withPort(apiKey: Short, response: Array[Byte], port: Int): Array[Byte] = {
    val b = response.clone()
    portPositions(apiKey, b).foreach { i =>
      java.nio.ByteBuffer.wrap(b, i, 4).putInt(port)
    }
    b
  }

  /** Copy of `response` with the advertised port and every control
    * marker's CRC and timestamps zeroed. A control batch is found by its
    * header: leader epoch -1, magic 2, CRC, attributes 0x0030
    * (transactional + control) and last offset delta 0. */
  def masked(apiKey: Short, response: Array[Byte]): Array[Byte] = {
    val b = withPort(apiKey, response, 0)
    if (apiKey == KafkaWire.ApiFetch) {
      var i = 0
      while (i + 31 <= b.length) {
        def at(k: Int, v: Int): Boolean = (b(i + k) & 0xff) == v
        if (at(0, 0xff) && at(1, 0xff) && at(2, 0xff) && at(3, 0xff) &&
            at(4, 2) && at(9, 0) && at(10, 0x30) &&
            at(11, 0) && at(12, 0) && at(13, 0) && at(14, 0)) {
          java.util.Arrays.fill(b, i + 5, i + 9, 0: Byte)   // crc
          java.util.Arrays.fill(b, i + 15, i + 31, 0: Byte) // first/max ts
          i += 31
        } else i += 1
      }
    }
    b
  }

  /** Index of the first differing byte, or -1. */
  def firstDiff(a: Array[Byte], b: Array[Byte]): Int =
    java.util.Arrays.mismatch(a, b)

  def describe(i: Int, ex: Exchange, side: String, want: Array[Byte],
      got: Array[Byte]): String = {
    val at = firstDiff(want, got)
    def around(b: Array[Byte]) = HexFormat.of().formatHex(
      b, math.max(0, at - 8), math.min(b.length, at + 16))
    s"exchange $i (api ${ex.apiKey} v${ex.apiVersion}, conn ${ex.conn}): " +
      s"$side differs at byte $at (lengths ${want.length}/${got.length}); " +
      s"want …${around(want)}… got …${around(got)}…"
  }

  // ---- fixture files ------------------------------------------------------

  def resource(name: String): String = s"/kafka-golden/$name.frames"

  def load(name: String): Seq[Exchange] = {
    val in = getClass.getResourceAsStream(resource(name))
    require(in != null, s"missing golden fixture ${resource(name)}")
    val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
    val hex = HexFormat.of()
    text.linesIterator.filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(conn, req, resp) = l.split(' ')
      Exchange(conn.toInt, hex.parseHex(req), hex.parseHex(resp))
    }.toSeq
  }

  def save(path: String, exchanges: Seq[Exchange]): Unit = {
    val hex = HexFormat.of()
    val lines = "# conn request-hex response-hex (frames without size prefix)" +:
      exchanges.map { e =>
        s"${e.conn} ${hex.formatHex(e.request)} " +
          hex.formatHex(masked(e.apiKey, e.response))
      }
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }

  // ---- loopback servers ---------------------------------------------------

  /** A loopback listener running `serve(connectionIndex, socket)` on one
    * thread per accepted connection. */
  abstract class Loopback extends AutoCloseable {
    private val server = new ServerSocket(0, 50, InetAddress.getLoopbackAddress)
    @volatile private var closed = false
    private val accepted = new java.util.concurrent.atomic.AtomicInteger(0)
    val port: Int = server.getLocalPort
    def address: String = s"127.0.0.1:$port"
    protected def serve(conn: Int, sock: Socket): Unit

    private val acceptor = new Thread(() => {
      while (!closed) {
        try {
          val sock = server.accept()
          val conn = accepted.getAndIncrement()
          val t = new Thread(() =>
            try serve(conn, sock)
            catch { case _: IOException => }
            finally sock.close(), "golden-conn")
          t.setDaemon(true)
          t.start()
        } catch { case _: IOException => }
      }
    }, "golden-acceptor")
    acceptor.setDaemon(true)
    acceptor.start()

    protected def streams(sock: Socket): (DataInputStream, DataOutputStream) = {
      sock.setTcpNoDelay(true)
      (new DataInputStream(new BufferedInputStream(sock.getInputStream)),
        new DataOutputStream(sock.getOutputStream))
    }

    override def close(): Unit = { closed = true; server.close() }
  }

  /** Recording proxy in front of a broker double: forwards each frame,
    * records the pair, and re-points the advertised port at itself so
    * every connection the client opens rides through it. Connections are
    * numbered in order of their first request. */
  final class Recorder(brokerPort: Int) extends Loopback {
    private val log = scala.collection.mutable.ArrayBuffer.empty[Exchange]
    private val connIds = scala.collection.mutable.Map.empty[Int, Int]
    def exchanges: Seq[Exchange] = log.synchronized(log.toList)

    protected def serve(conn: Int, sock: Socket): Unit = {
      val (cin, cout) = streams(sock)
      val upstream = new Socket("127.0.0.1", brokerPort)
      try {
        val (bin, bout) = streams(upstream)
        while (true) {
          val req = try readFrame(cin) catch { case _: EOFException => return }
          writeFrame(bout, req)
          val resp = readFrame(bin)
          val ex0 = Exchange(0, req, resp)
          log.synchronized {
            val id = connIds.getOrElseUpdate(conn, connIds.size)
            log += ex0.copy(conn = id)
          }
          writeFrame(cout, withPort(ex0.apiKey, resp, port))
        }
      } finally upstream.close()
    }
  }

  /** Stand-in broker that answers from a recording: each request must equal
    * the next recorded one (in the single global order a sequential client
    * produces), and is answered with the recorded response re-pointed at
    * this listener's port. The first mismatch is kept and ends the replay. */
  final class Replayer(recorded: Seq[Exchange]) extends Loopback {
    private val next = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var mismatch: Option[String] = None
    def consumed: Int = next.get

    protected def serve(conn: Int, sock: Socket): Unit = {
      val (in, out) = streams(sock)
      while (mismatch.isEmpty) {
        val req = try readFrame(in) catch { case _: EOFException => return }
        val i = next.getAndIncrement()
        if (i >= recorded.size) {
          mismatch = Some(s"request $i beyond the ${recorded.size} recorded")
          return
        }
        val ex = recorded(i)
        if (firstDiff(ex.request, req) >= 0) {
          mismatch = Some(describe(i, ex, "request", ex.request, req))
          return
        }
        writeFrame(out, withPort(ex.apiKey, ex.response, port))
      }
    }
  }
}

/** Records the golden fixtures: runs each conversation through a
  * [[KafkaGoldenFrames.Recorder]] and writes `<dir>/<name>.frames`. */
object KafkaGoldenFrameRecorder {
  import KafkaGoldenFrames._

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("src/test/resources/kafka-golden")
    Conversations.foreach { c =>
      val broker = c.broker()
      val recorder = new Recorder(broker.boundPort)
      try {
        val outcome = c.run(recorder.address)
        println(s"${c.name}: ${recorder.exchanges.size} exchanges, outcome $outcome")
        require(outcome == c.expected, s"${c.name} outcome: $outcome")
        save(s"$dir/${c.name}.frames", recorder.exchanges)
      } finally { recorder.close(); broker.close() }
    }
  }
}

class KafkaGoldenFrameSpec extends AnyFunSuite {
  import KafkaGoldenFrames._

  Conversations.foreach { c =>
    test(s"${c.name}: recorded responses draw the recorded requests from the client") {
      val recorded = load(c.name)
      val replayer = new Replayer(recorded)
      try {
        val outcome =
          try Right(c.run(replayer.address))
          catch { case e: Exception => Left(e) }
        replayer.mismatch.foreach(m => fail(m))
        outcome match {
          case Left(e) => throw e
          case Right(o) => assert(o === c.expected)
        }
        assert(replayer.consumed === recorded.size,
          "the client stopped before the end of the recording")
      } finally replayer.close()
    }

    test(s"${c.name}: recorded requests draw the recorded responses from the double") {
      val recorded = load(c.name)
      val broker = c.broker()
      val conns = scala.collection.mutable.Map.empty[Int,
        (Socket, DataInputStream, DataOutputStream)]
      try {
        recorded.zipWithIndex.foreach { case (ex, i) =>
          val (_, in, out) = conns.getOrElseUpdate(ex.conn, {
            val s = new Socket("127.0.0.1", broker.boundPort)
            (s, new DataInputStream(new BufferedInputStream(s.getInputStream)),
              new DataOutputStream(s.getOutputStream))
          })
          writeFrame(out, ex.request)
          val got = masked(ex.apiKey, readFrame(in))
          val want = masked(ex.apiKey, ex.response)
          if (firstDiff(want, got) >= 0)
            fail(describe(i, ex, "response", want, got))
        }
      } finally {
        conns.values.foreach(_._1.close())
        broker.close()
      }
    }
  }
}
