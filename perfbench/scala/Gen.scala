package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable

import graft.sources.replay.{KafkaLogClient, KafkaLogServer}

/** The fixed shape of the generated ad-event stream (the Yahoo streaming
  * benchmark's): JSON `{ad_id, event_type, user_id, created_ms}` records,
  * 500 per produce call, one call per 20 ms tick (25,000 records/s),
  * round-robin over 4 partitions. The Kafka timestamp is event time; 1 % of records are
  * stamped 5 s early, out of order but inside the 10 s watermark. */
object Shape {
  val Topic = "events"
  val Partitions = 4
  val Ads = 1000
  val Campaigns = 100
  val Users = 100000
  val RecordsPerCall = 500
  val TickMs = 20L
  /** How much faster than live the catch-up backlog is sent. */
  val PreloadSpeedup = 20
  val WindowMs = 10000L
  val EarlyMs = 5000L
  val EventTypes: Array[String] = Array("view", "click", "purchase")

  /** The static ad → campaign table, a function of the seed alone. */
  def campaigns(seed: Long): Array[Int] = {
    val r = new SplittableRandom(seed ^ 0x2545F4914F6CDD1DL)
    Array.fill(Ads)(r.nextInt(Campaigns))
  }
}

/** Deterministic record source: the same seed yields the same records in
  * the same order. Keeps the exact expected answer of the query — the
  * `view` count per (10 s event-time window, campaign) — as it goes. */
final class RecordGen(seed: Long) {
  import Shape._
  private val rnd = new SplittableRandom(seed)
  private val campaignOf = campaigns(seed)
  /** (window start ms, campaign) → view count. */
  val tally = mutable.HashMap.empty[(Long, Int), Long]
  var records = 0L
  var payloadBytes = 0L

  /** One produce call's worth of records, all created at `createdMs` and
    * (but for the early 1 %) stamped with event time `eventMs`. */
  def batch(eventMs: Long, createdMs: Long): Seq[(Array[Byte], Array[Byte], Long)] = {
    val out = new Array[(Array[Byte], Array[Byte], Long)](RecordsPerCall)
    var i = 0
    while (i < RecordsPerCall) {
      val ad = rnd.nextInt(Ads)
      val et = rnd.nextInt(EventTypes.length)
      val user = rnd.nextInt(Users)
      val ts = if (rnd.nextInt(100) == 0) eventMs - EarlyMs else eventMs
      if (et == 0) {
        val k = (Math.floorDiv(ts, WindowMs) * WindowMs, campaignOf(ad))
        tally(k) = tally.getOrElse(k, 0L) + 1L
      }
      val v = s"""{"ad_id":$ad,"event_type":"${EventTypes(et)}","user_id":$user,"created_ms":$createdMs}"""
        .getBytes(UTF_8)
      payloadBytes += v.length
      out(i) = (null, v, ts)
      i += 1
    }
    records += RecordsPerCall
    out.toSeq
  }

  def tallyJson: String = tally.toSeq.sortBy(_._1)
    .map { case ((w, c), n) => s"[$w,$c,$n]" }.mkString("[", ",", "]")
}

/** The load-generator process: a broker double plus one producer thread
  * with one connection. Runs in its own JVM so the engine's CPU and GC
  * numbers stay clean and an engine stall cannot slow the schedule.
  *
  * Line protocol: stdout `READY <path>`; then for `live` stdin `GO`
  * starts the open loop, stdin `STOP` ends it and stdout answers
  * `DONE <json>`; for `preload` the backlog is produced before READY
  * and `DONE <json>` follows it at once. stdin `EXIT` (or EOF) closes the
  * broker. `dump` prints the records of `--records` without a broker, for
  * the benchmark's own tests. */
object GenMain {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val mode = opts("mode")
    val seed = opts("seed").toLong
    if (mode == "dump") return dump(seed, opts("records").toLong, opts("start").toLong)
    val dir = opts("dir")
    new java.io.File(dir).mkdirs()
    val broker = new KafkaLogServer(dir, Shape.Topic, requireCreate = true)
    val client = new KafkaLogClient(broker.clientPath, Map("graft.role" -> "producer"))
    client.createTopics(Seq(Shape.Topic -> Shape.Partitions))
    val gen = new RecordGen(seed)
    val stdin = new BufferedReader(new InputStreamReader(System.in, UTF_8))
    def say(s: String): Unit = { System.out.println(s); System.out.flush() }

    val produceNs = mutable.ArrayBuffer.empty[Long]
    var lateMaxMs = 0L
    /** Open loop: tick k is due at start + k × tickMs, whatever happened to
      * tick k-1; a late tick is sent at once and counted as late. Records
      * are stamped created at their due time, event time `eventMs(k)`. */
    def run(start: Long, tickMs: Long, eventMs: Long => Long, stop: Long => Boolean): Long = {
      var k = 0L
      while (!stop(k)) {
        val due = start + k * tickMs
        val now = System.currentTimeMillis()
        if (now < due) Thread.sleep(due - now)
        lateMaxMs = math.max(lateMaxMs, System.currentTimeMillis() - due)
        val recs = gen.batch(eventMs(k), due)
        val t0 = System.nanoTime()
        client.produce((k % Shape.Partitions).toInt, recs)
        produceNs += System.nanoTime() - t0
        k += 1
      }
      k
    }
    def done(calls: Long): Unit = {
      val ends = (0 until Shape.Partitions).map(client.endOffset)
      say("DONE " + s"""{"records":${gen.records},"calls":$calls,""" +
        s""""payload_bytes":${gen.payloadBytes},"late_ms_max":$lateMaxMs,""" +
        s""""produce_ns":${produceNs.mkString("[", ",", "]")},""" +
        s""""end_offsets":${ends.mkString("[", ",", "]")},""" +
        s""""tally":${gen.tallyJson}}""")
    }

    mode match {
      case "live" =>
        say(s"READY ${broker.clientPath}")
        require(stdin.readLine() == "GO", "expected GO")
        val stopped = new AtomicBoolean(false)
        val watcher = new Thread(() => { stdin.readLine(); stopped.set(true) })
        watcher.setDaemon(true)
        watcher.start()
        val start = System.currentTimeMillis()
        val calls = run(start, Shape.TickMs, start + _ * Shape.TickMs, _ => stopped.get)
        done(calls)
      case "preload" =>
        // the backlog holds the live schedule's event times up to now; it
        // is sent 20 times faster than live, so lateness here reads as the
        // produce path's shortfall
        val calls = opts("records").toLong / Shape.RecordsPerCall
        val start = System.currentTimeMillis()
        run(start, Shape.TickMs / Shape.PreloadSpeedup,
          k => start - (calls - k) * Shape.TickMs, _ >= calls)
        say(s"READY ${broker.clientPath}")
        done(calls)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
    while ({ val l = stdin.readLine(); l != null && l != "EXIT" }) ()
    broker.close()
  }

  /** Every record of a live run started at `start` whose clock never ran
    * late: `[partition, kafka timestamp, value]` a line, then the ad →
    * campaign table and the tally. */
  private def dump(seed: Long, records: Long, start: Long): Unit = {
    val gen = new RecordGen(seed)
    val out = new java.io.PrintStream(System.out, false, "UTF-8")
    (0L until records / Shape.RecordsPerCall).foreach { k =>
      val due = start + k * Shape.TickMs
      gen.batch(due, due).foreach { case (_, v, ts) =>
        out.println(s"[${k % Shape.Partitions},$ts,${new String(v, UTF_8)}]")
      }
    }
    out.println("CAMPAIGNS " + Shape.campaigns(seed).mkString("[", ",", "]"))
    out.println("TALLY " + gen.tallyJson)
    out.flush()
  }
}
