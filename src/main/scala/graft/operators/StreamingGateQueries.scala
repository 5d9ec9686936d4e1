package graft.operators

import java.nio.file.Files

import graft.{GQuery, Tables}
import graft.sources.replay.ReplayLog
import graft.streaming._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, Trigger}
import org.apache.spark.sql.types._

/** The Kafka wire gate and live pipeline twins: release funnel (s54),
  * Confluent-framed Avro decode (s55), the wire-protocol replay /
  * produce / transaction round-trips against the broker double
  * (s56-s58), the streaming DSIR gate (s59) and audio QA (s60).
  *
  * Part of the [[StreamingQueries]] registry (split from the former
  * monolithic file in round 12); execution helpers (runToMemory, the
  * 8-partition harness session, replay/event/doc streams) live on
  * [[StreamingQueries]] itself.
  */
private[operators] object StreamingGateQueries {
  import StreamingQueries._

  val queries: Seq[GQuery] = Seq(

    // S54: streaming release funnel — the live twin of x64's attrition
    // dashboard (VERDICT r10 #8). Fresh documents (doc_id % 10 = 7) stream
    // against the already-released corpus and flow the same gate chain:
    //   raw → exact-new (s30's incremental-dedup shape: a STATIC history
    //   hash table probed with a stream-static left-anti join — history
    //   never enters stream state — then dropDuplicates for first-arrival
    //   within the stream) → n-gram-clean (x13/x57's broadcast eval-gram
    //   probe as a per-row array_intersect against a ONE-ROW static frame,
    //   so the stage keeps append mode: no stream-side aggregation) →
    //   quality (s49's per-row rational-sigmoid score at the 'keep'
    //   boundary, ≥ 0.6; the n-gram gate at 0.15 — both chosen so every
    //   stage has attrition at the test corpora).
    // The sink receives per-doc flag rows (append, file sink — distributed
    // end to end); the funnel itself is a batch-side stack()+aggregate over
    // the sunk flags, exactly like x64. Deterministic despite arrival
    // order: duplicates share text, hence token counts, so per-stage
    // doc/token totals are order-invariant. State is |distinct new hashes|
    // in the fresh slice only (pinned in StreamMetricsSpec). At 100 TB:
    // history is a broadcast/bucketed static probe, eval grams are a
    // broadcast array, scoring is per-row — the only state is the fresh
    // window's dedup set, the same bound s30 carries.
    GQuery("s54_stream_release_funnel",
      (s, d) => {
        val ds = Tables.table(s, d, "documents")
        val isFresh = col("doc_id") % 10 === 7
        val isEval = col("doc_id") % 20 === 0 && col("doc_id") < 2000
        // static sides persisted: a stream-static join re-executes the
        // static plan every micro-batch (the s27 lesson)
        val hist = ds.filter(!isFresh).select(md5(col("text")).as("h"))
          .distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        hist.count()
        val evg = ds.filter(isEval)
          .select(explode(graft.functions.GraftFunctions
            .word_shingles(col("text"), 3)).as("g"))
          .distinct().agg(collect_list(col("g")).as("evs"))
          .withColumn("jk", lit(1))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        evg.count()
        // s49's quality score, per-row on the stream
        val ws = split(col("text"), " ")
        val nwS = greatest(size(ws), lit(1))
        val stops = array(Seq("the", "a", "of", "and", "to", "in", "is", "for")
          .map(lit): _*)
        val punct = length(col("text")) -
          length(regexp_replace(col("text"), "[.,!?;:]", ""))
        val z = lit(-1.0) +
          lit(2.4) * (size(array_distinct(ws)) / nwS) +
          lit(1.2) * (least(size(ws), lit(400)) / lit(400.0)) -
          lit(3.0) * (punct / greatest(length(col("text")), lit(1))) -
          lit(0.8) * abs((length(col("text")) - (size(ws) - lit(1))) / nwS -
            lit(5.0)) / lit(5.0) +
          lit(1.5) * (size(filter(ws, w => array_contains(stops, w))) / nwS)
        val score = (lit(0.5) + lit(0.5) * (z / (lit(1.0) + abs(z))))
          .cast("decimal(18,6)").cast("double")
        val flags = docStream(s, d).filter(isFresh)
          .select(col("text"),
            size(split(col("text"), " ")).cast("long").as("tok"),
            md5(col("text")).as("h"),
            graft.functions.GraftFunctions.word_shingles(col("text"), 3)
              .as("sh"))
          .join(hist, Seq("h"), "left_anti")
          .dropDuplicates("h")
          .withColumn("jk", lit(1))
          .join(broadcast(evg), "jk")
          // the x57/x61/x64 canary: an empty eval slice would null the
          // probe into a silent pass-everything stage — fail loudly
          .withColumn("evs",
            when(assert_true(size(col("evs")) > 0,
              lit("s54: eval gram set is empty — the n-gram stage would " +
                "silently pass every doc")).isNull, col("evs")))
          .withColumn("p2",
            size(array_intersect(col("sh"), col("evs"))).cast("double") /
              size(col("sh")).cast("double") < 0.15)
          .withColumn("p3", score >= 0.6)
          .select(col("tok"), col("p2"), col("p3"))
        // NOTE (r18): the only stateful operator is the unwatermarked
        // dropDuplicates("h") — no terminal no-data batch is scheduled, so
        // the s18-style opt-out measured as a no-op (2.05 vs 2.48 s, noise)
        val sunk = runToMemory(flags, "append")
        val raw = ds.filter(isFresh)
          .agg(count(lit(1)).as("n_docs"),
            sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
          .select(lit("0_raw").as("stage"), col("n_docs"), col("n_tokens"))
        val staged = sunk.select(col("tok"), expr("""stack(3,
            '1_exact_new', true,
            '2_ngram_clean', p2,
            '3_quality_keep', p2 AND p3) AS (stage, pass)"""))
          .filter(col("pass"))
          .groupBy(col("stage"))
          .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"))
        val total = ds.filter(isFresh).agg(count(lit(1)).as("total"))
        raw.unionByName(staged)
          .crossJoin(broadcast(total))
          .select(col("stage"), col("n_docs"), col("n_tokens"),
            (col("n_docs").cast("double") / col("total"))
              .cast("decimal(18,6)").cast("double").as("retained_frac"))
          .orderBy(col("stage"))
      },
      Some("""WITH f AS (SELECT doc_id, text, md5(text) AS h,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
  FROM documents WHERE doc_id % 10 = 7),
hist AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 <> 7),
surv AS (SELECT h, min(doc_id) AS doc_id FROM f
  WHERE h NOT IN (SELECT h FROM hist) GROUP BY h),
sd AS (SELECT f.doc_id, f.tok FROM f JOIN surv USING (h, doc_id)),
toks AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
shd AS (SELECT doc_id,
  CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(range(1, len(w) - 1),
    i -> array_to_string(w[i:i+2], ' ')))
  ELSE [array_to_string(w, ' ')] END AS s FROM toks),
evg AS (SELECT DISTINCT unnest(s) AS g FROM shd
  WHERE doc_id % 20 = 0 AND doc_id < 2000),
hits AS (SELECT t.doc_id, count(*) AS n
  FROM (SELECT sd.doc_id, unnest(shd.s) AS g FROM sd JOIN shd USING (doc_id)) t
  JOIN evg USING (g) GROUP BY t.doc_id),
p2t AS (SELECT sd.doc_id,
    (CAST(coalesce(hits.n, 0) AS DOUBLE) / len(shd.s)) < 0.15 AS p2
  FROM sd JOIN shd USING (doc_id) LEFT JOIN hits ON hits.doc_id = sd.doc_id),
zt AS (SELECT sd.doc_id,
    -1.0 + 2.4 * (len(list_distinct(w)) / greatest(len(w), 1))
         + 1.2 * (least(len(w), 400) / 400.0)
         - 3.0 * ((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) / greatest(length(text), 1))
         - 0.8 * abs(((length(text) - (len(w) - 1)) / greatest(len(w), 1)) - 5.0) / 5.0
         + 1.5 * (len(list_filter(w, x -> list_contains(['the','a','of','and','to','in','is','for'], x))) / greatest(len(w), 1))
      AS z
  FROM sd JOIN toks USING (doc_id)),
p3t AS (SELECT doc_id,
    CAST(CAST(0.5 + 0.5 * (z / (1.0 + abs(z))) AS DECIMAL(18,6)) AS DOUBLE) >= 0.6 AS p3
  FROM zt),
stg AS (
  SELECT '0_raw' AS stage, count(*) AS n_docs, sum(tok) AS n_tokens FROM f
  UNION ALL
  SELECT '1_exact_new', count(*), sum(tok) FROM sd
  UNION ALL
  SELECT '2_ngram_clean', count(*), sum(tok)
  FROM sd JOIN p2t USING (doc_id) WHERE p2
  UNION ALL
  SELECT '3_quality_keep', count(*), sum(tok)
  FROM sd JOIN p2t USING (doc_id) JOIN p3t USING (doc_id) WHERE p2 AND p3),
tot AS (SELECT count(*) AS total FROM f)
SELECT stage, CAST(n_docs AS BIGINT) AS n_docs,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(CAST(CAST(n_docs AS DOUBLE) / total AS DECIMAL(18,6)) AS DOUBLE)
    AS retained_frac
FROM stg, tot ORDER BY stage NULLS FIRST""")),

    // S55: CONFLUENT-FRAMED AVRO envelope decode with schema-registry
    // dispatch — the dominant real Kafka payload encoding (magic 0x00 +
    // int32 BE schema id + avro body), over a bus caught mid-migration:
    // half the producers still write schema 1 (V1: user_id, cents), half
    // the evolved schema 2 (V2: + event_type). The query validates the
    // magic byte (raise_error on garbage — never a silent misparse),
    // reads the id from the frame, dispatches avro_decode per id (CaseWhen
    // evaluates only the matching branch — one decode per row), and folds
    // V1 rows into a 'v1_legacy' cohort: exactly how a consumer survives a
    // producer-side schema migration. Decode is the native AvroCatalyst
    // expression (avro-core, no broker/connector libs); per-row, stateless,
    // so it scales with input like any projection. The frame is
    // deterministic per event, so DuckDB oracles the aggregate straight
    // from the events table. (The reference ships DataFusion's `avro`
    // feature, Cargo.toml:7, without exercising it; this is that surface
    // made real on the streaming path — s11 is the JSON sibling.)
    // Round 12: the schemas are no longer compile-time constants in the
    // query — they are FETCHED BY ID over the registry's public REST
    // contract (GET /schemas/ids/{id}), driver-side, once per id, then
    // travel to executors inside the serialized decode expressions.
    // In-process registry double by default; a real registry via
    // GRAFT_SCHEMA_REGISTRY_URL (the live-broker gating pattern).
    GQuery("s55_avro_envelope_decode",
      (s, d) => {
        import graft.functions.GraftFunctions.avro_decode
        val log = ReplayLog.ensureAvroLog(s, d)
        val extUrl = sys.env.get("GRAFT_SCHEMA_REGISTRY_URL")
        val double = if (extUrl.isEmpty) Some(new graft.sources.replay
            .SchemaRegistry.Server(Map(1 -> ReplayLog.AvroV1,
              2 -> ReplayLog.AvroV2)))
          else None
        val (schemaV1, schemaV2) = try {
          val reg = new graft.sources.replay.SchemaRegistry.Client(
            extUrl.getOrElse(double.get.url))
          (reg.schemaById(1), reg.schemaById(2))
        } finally double.foreach(_.close())
        val stream = s.readStream.format("graft-replay").option("path", log).load()
        val sid = expr("""CASE WHEN substring(value, 1, 1) = X'00'
          THEN CAST(conv(hex(substring(value, 2, 4)), 16, 10) AS INT)
          ELSE CAST(raise_error('confluent frame: bad magic byte') AS INT)
          END""")
        val body = expr("substring(value, 6, length(value) - 5)")
        val decoded = stream.select(sid.as("sid"), body.as("body"))
          .withColumn("r1", when(col("sid") === 1,
            avro_decode(col("body"), schemaV1)))
          .withColumn("r2", when(col("sid") === 2,
            avro_decode(col("body"), schemaV2)))
          .select(
            coalesce(col("r1.user_id"), col("r2.user_id")).as("user_id"),
            coalesce(col("r1.cents"), col("r2.cents")).as("cents"),
            when(col("sid") === 1, lit("v1_legacy"))
              .when(col("sid") === 2, col("r2.event_type"))
              .otherwise(raise_error(concat(lit("unknown avro schema id "),
                col("sid")))).as("etype"))
        runToMemory(
          decoded.groupBy(col("etype"))
            .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
              min(col("user_id")).as("min_user"), max(col("user_id")).as("max_user")),
          "complete").orderBy(col("etype"))
      },
      Some("""SELECT CASE WHEN event_id % 2 = 0 THEN 'v1_legacy' ELSE event_type END AS etype,
  count(*) AS n,
  CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents,
  min(user_id) AS min_user, max(user_id) AS max_user
FROM events GROUP BY 1 ORDER BY etype NULLS FIRST""")),

    // S64: s55's decode with the schemas discovered BY SUBJECT (round 13,
    // VERDICT r12 #5) — the bootstrap path real consumers use: nobody hands
    // them ids, they resolve `{topic}-value` against the registry's subject
    // surface (GET /subjects/events-value/versions/{1,latest}) and only then
    // dispatch frames on the ids those versions map to. The resolved
    // (id, version) pairs are ASSERTED before any decode — a registry whose
    // subject chain doesn't match the frames fails loudly at plan time, not
    // as a misdecoded column. Decode path, state shape and oracle are s55's
    // (the envelope bytes are identical); only schema DISCOVERY differs.
    // Same driver-side discipline: two subject fetches per plan, schema
    // text then travels inside the serialized expression.
    GQuery("s64_avro_decode_by_subject",
      (s, d) => {
        import graft.functions.GraftFunctions.avro_decode
        val log = ReplayLog.ensureAvroLog(s, d)
        val extUrl = sys.env.get("GRAFT_SCHEMA_REGISTRY_URL")
        val double = if (extUrl.isEmpty) Some(new graft.sources.replay
            .SchemaRegistry.Server(
              Map(1 -> ReplayLog.AvroV1, 2 -> ReplayLog.AvroV2),
              subjects = Map("events-value" -> Seq(1, 2))))
          else None
        val (schemaV1, schemaV2) = try {
          val reg = new graft.sources.replay.SchemaRegistry.Client(
            extUrl.getOrElse(double.get.url))
          val v1 = reg.byVersion("events-value", 1)
          val latest = reg.latest("events-value")
          require(v1.id == 1 && latest.id == 2,
            s"subject chain does not match the framed ids: " +
              s"v1 -> ${v1.id}, latest -> ${latest.id}")
          (v1.schema, latest.schema)
        } finally double.foreach(_.close())
        val stream = s.readStream.format("graft-replay").option("path", log).load()
        val sid = expr("""CASE WHEN substring(value, 1, 1) = X'00'
          THEN CAST(conv(hex(substring(value, 2, 4)), 16, 10) AS INT)
          ELSE CAST(raise_error('confluent frame: bad magic byte') AS INT)
          END""")
        val body = expr("substring(value, 6, length(value) - 5)")
        val decoded = stream.select(sid.as("sid"), body.as("body"))
          .withColumn("r1", when(col("sid") === 1,
            avro_decode(col("body"), schemaV1)))
          .withColumn("r2", when(col("sid") === 2,
            avro_decode(col("body"), schemaV2)))
          .select(
            coalesce(col("r1.user_id"), col("r2.user_id")).as("user_id"),
            coalesce(col("r1.cents"), col("r2.cents")).as("cents"),
            when(col("sid") === 1, lit("v1_legacy"))
              .when(col("sid") === 2, col("r2.event_type"))
              .otherwise(raise_error(concat(lit("unknown avro schema id "),
                col("sid")))).as("etype"))
        runToMemory(
          decoded.groupBy(col("etype"))
            .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
              min(col("user_id")).as("min_user"), max(col("user_id")).as("max_user")),
          "complete").orderBy(col("etype"))
      },
      Some("""SELECT CASE WHEN event_id % 2 = 0 THEN 'v1_legacy' ELSE event_type END AS etype,
  count(*) AS n,
  CAST(SUM(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS cents,
  min(user_id) AS min_user, max(user_id) AS max_user
FROM events GROUP BY 1 ORDER BY etype NULLS FIRST""")),

    // S56: the replay stream consumed over the KAFKA WIRE PROTOCOL — s35's
    // kafka twin: client=kafka against an in-process wire-faithful broker
    // (Metadata/ListOffsets/Fetch v4, RecordBatch v2), putting the wire
    // client into the driver's DuckDB gate (it was spec-evidenced only).
    // Same offsets, same admission, same checkpointing; only the wire
    // differs. Envelope oracle ≡ s35 (partition = event_id % 3,
    // offset = event_id // 3).
    GQuery("s56_kafka_wire_replay",
      (s, d) => {
        val log = ReplayLog.ensureLog(s, d)
        val broker = new graft.sources.replay.KafkaLogServer(log, "events")
        try {
          runToMemory(
            s.readStream.format("graft-replay")
              .option("client", "kafka").option("path", broker.clientPath)
              .option("maxRowsPerTrigger", adaptiveTrigger(s, d).toString)
              .load()
              .select(col("partition").cast("long").as("partition"), col("offset"),
                col("key").cast("string").as("key"),
                length(col("value").cast("string")).cast("long").as("vlen")),
            "append").orderBy(col("partition"), col("offset"))
        } finally broker.close()
      },
      Some("""SELECT event_id % 3 AS "partition", event_id // 3 AS "offset",
  'Key ' || event_id AS key, len(props) AS vlen
FROM events
ORDER BY "partition" NULLS FIRST, "offset" NULLS FIRST""")),

    // S65: s56's read with partition ownership assigned by the GROUP
    // COORDINATOR (round 13, VERDICT r12 #9) — consumer.group.assignment=
    // subscribe runs the real JoinGroup/SyncGroup dance at stream init (≡
    // librdkafka's subscribe(), the seam the reference's config passthrough
    // exposes, tests/utils.rs:261-285): this sole member is elected leader,
    // range-assigns itself every partition, reads its (full) share, commits
    // back under the coordinator-issued generation-fenced (generation,
    // memberId), and LeaveGroups on stop. Cooperative-split only (the
    // assignment is held for the stream's lifetime — no mid-stream
    // rebalance; KafkaSubscribeSpec pins the two-member disjoint split).
    // Envelope oracle ≡ s56: ownership discovery must not change one row.
    GQuery("s65_group_subscribe_replay",
      (s, d) => {
        val log = ReplayLog.ensureLog(s, d)
        val broker = new graft.sources.replay.KafkaLogServer(log, "events")
        try {
          runToMemory(
            s.readStream.format("graft-replay")
              .option("client", "kafka").option("path", broker.clientPath)
              .option("consumer.group.id", "graft-s65")
              .option("consumer.group.assignment", "subscribe")
              .option("consumer.enable.auto.commit", "true")
              .option("maxRowsPerTrigger", adaptiveTrigger(s, d).toString)
              .load()
              .select(col("partition").cast("long").as("partition"), col("offset"),
                col("key").cast("string").as("key"),
                length(col("value").cast("string")).cast("long").as("vlen")),
            "append").orderBy(col("partition"), col("offset"))
        } finally broker.close()
      },
      Some("""SELECT event_id % 3 AS "partition", event_id // 3 AS "offset",
  'Key ' || event_id AS key, len(props) AS vlen
FROM events
ORDER BY "partition" NULLS FIRST, "offset" NULLS FIRST""")),

    // S57: the PRODUCE round-trip as a declared query — the events envelope
    // written through the graft-replay SINK (Produce v3 wire batches, real
    // CRC-32C, zstd, idempotent producer) into an empty 3-partition topic,
    // then read back over the same wire and checked row-by-row against the
    // source table. Key-level identity is routing-independent (partition
    // assignment is murmur2's business, offsets the broker's), so the
    // oracle replays exactly the content contract the sink guarantees.
    GQuery("s57_kafka_produce_roundtrip",
      (s, d) => {
        val dir = Files.createTempDirectory(tmpBase, "kafka-sunk").toString
        val broker = new graft.sources.replay.KafkaLogServer(dir, "sunk",
          explicitPartitions = Some(0 until 3))
        try {
          Tables.events(s, d)
            .select(concat(lit("Key "), col("event_id")).cast("binary").as("key"),
              col("props").cast("binary").as("value"))
            .write.format("graft-replay")
            .option("client", "kafka").option("path", broker.clientPath)
            .option("producer.compression.type", "zstd")
            .option("producer.enable.idempotence", "true")
            .mode("append").save()
          // materialize BEFORE the finally kills the broker: the returned
          // frame must not re-dial a closed socket when the caller collects
          s.read.format("graft-replay")
            .option("client", "kafka").option("path", broker.clientPath)
            .load()
            .select(col("key").cast("string").as("key"),
              length(col("value").cast("string")).cast("long").as("vlen"))
            .orderBy(col("key"))
            .localCheckpoint(true)
        } finally broker.close()
      },
      Some("""SELECT 'Key ' || event_id AS key, len(props) AS vlen
FROM events ORDER BY key NULLS FIRST""")),

    // S58: Kafka TRANSACTIONS through the correctness gate — the
    // exactly-once pair the reference inherits from librdkafka
    // (transactional.id + isolation.level). Two ABORTED decoy
    // transactions sandwich the real data: decoys land first (a leading
    // aborted span + abort marker the reader must skip over), then the
    // events envelope commits through the TRANSACTIONAL sink (one Kafka
    // transaction per task, committed at task commit), then a second decoy
    // txn aborts after. The default read_committed read must surface
    // EXACTLY the committed table rows — any leaked decoy key or dropped
    // event changes the oracle hash — while walking a log whose offsets
    // now have real gaps (control markers + hidden aborted spans).
    GQuery("s58_kafka_txn_roundtrip",
      (s, d) => {
        val dir = Files.createTempDirectory(tmpBase, "kafka-txn").toString
        val broker = new graft.sources.replay.KafkaLogServer(dir, "txn",
          explicitPartitions = Some(0 until 3))
        var decoys: graft.sources.replay.KafkaLogClient = null
        try {
          decoys = new graft.sources.replay.KafkaLogClient(
            broker.clientPath,
            Map("transactional.id" -> "s58-decoy"))
          def abortedDecoys(tag: String): Unit = {
            decoys.beginTxn()
            (0 until 3).foreach { p =>
              decoys.produce(p, (0 until 250).map(i =>
                (s"Key decoy-$tag-$i".getBytes("UTF-8"),
                  s"never-visible-$i".getBytes("UTF-8"), 1723700000000L + i)))
            }
            decoys.endTxn(commit = false)
          }
          abortedDecoys("pre")
          Tables.events(s, d)
            .select(concat(lit("Key "), col("event_id")).cast("binary").as("key"),
              col("props").cast("binary").as("value"))
            .write.format("graft-replay")
            .option("client", "kafka").option("path", broker.clientPath)
            .option("producer.transactional.id", "s58-sink")
            .option("producer.compression.type", "zstd")
            .mode("append").save()
          abortedDecoys("post")
          s.read.format("graft-replay")
            .option("client", "kafka").option("path", broker.clientPath)
            .load()
            .select(col("key").cast("string").as("key"),
              length(col("value").cast("string")).cast("long").as("vlen"))
            .orderBy(col("key"))
            .localCheckpoint(true)
        } finally {
          // the decoy producer keeps persistent sockets — close them before
          // the broker, or each run of this query leaks two connections
          if (decoys != null)
            try decoys.closeProducer() catch { case _: Throwable => () }
          broker.close()
        }
      },
      Some("""SELECT 'Key ' || event_id AS key, len(props) AS vlen
FROM events ORDER BY key NULLS FIRST""")),

    // S68 (round 14): the EXACTLY-ONCE consume-transform-produce loop
    // through the hash gate — librdkafka's send_offsets_to_transaction
    // (AddOffsetsToTxn api 25 + TxnOffsetCommit api 28, both dialects):
    // consumer offsets staged inside the producer's transaction become
    // visible ATOMICALLY with its commit marker, so "input consumed" and
    // "output produced" are one decision. Two transactions: the first
    // commits 32 transformed rows plus its input offset (32); the second
    // produces 32 more and stages offset 64, then ABORTS — neither its
    // data nor its offset may leak. The read_committed DSv2 read plus the
    // group's fetched offset are the oracle-hashed output: a leaked
    // aborted row, a lost committed row, or an offset landing early/late/
    // at the aborted value all change the hash. The 64-row driver fetch
    // is a bounded wire-gate fixture (like s58's decoys), not a corpus
    // path.
    GQuery("s68_kafka_txn_offsets_roundtrip",
      (s, d) => {
        val dir = Files.createTempDirectory(tmpBase, "kafka-ctp").toString
        val broker = new graft.sources.replay.KafkaLogServer(dir, "ctp",
          explicitPartitions = Some(Seq(0)))
        var prod: graft.sources.replay.KafkaLogClient = null
        try {
          val input = Tables.events(s, d)
            .select(col("event_id")).orderBy(col("event_id")).limit(64)
            .collect().map(_.getLong(0))
          prod = new graft.sources.replay.KafkaLogClient(broker.clientPath,
            Map("transactional.id" -> "ctp-gate"))
          def transformed(ids: Seq[Long]) = ids.map(id =>
            (null: Array[Byte], s"out $id".getBytes("UTF-8"), id))
          prod.beginTxn()
          prod.produce(0, transformed(input.take(32).toSeq))
          prod.sendOffsetsToTxn("ctp-gate-group", Map(0 -> 32L))
          prod.endTxn(commit = true)
          prod.beginTxn()
          prod.produce(0, transformed(input.drop(32).toSeq))
          prod.sendOffsetsToTxn("ctp-gate-group", Map(0 -> 64L))
          prod.endTxn(commit = false)
          val groupOffset = new graft.sources.replay.KafkaLogClient(
            broker.clientPath)
            .committedOffsets("ctp-gate-group", Seq(0)).getOrElse(0, -1L)
          s.read.format("graft-replay")
            .option("client", "kafka").option("path", broker.clientPath)
            .load()
            .select(col("offset"), col("value").cast("string").as("value"))
            .withColumn("group_offset", lit(groupOffset))
            .orderBy(col("offset"))
            .localCheckpoint(true)
        } finally {
          if (prod != null)
            try prod.closeProducer() catch { case _: Throwable => () }
          broker.close()
        }
      },
      Some("""WITH f AS (
  SELECT event_id, row_number() OVER (ORDER BY event_id) - 1 AS off
  FROM (SELECT event_id FROM events ORDER BY event_id LIMIT 32))
SELECT CAST(off AS BIGINT) AS "offset", 'out ' || event_id AS value,
  CAST(32 AS BIGINT) AS group_offset
FROM f ORDER BY off""")),

    // S61: the ADMIN lifecycle through the hash gate — the broker starts
    // TOPICLESS (requireCreate), the client creates the 3-partition topic
    // over the wire (CreateTopics, api 19 — the reference harness's
    // rdkafka AdminClient step, tests/utils.rs:104-117), and only then
    // does the events envelope commit through the produce sink and read
    // back. Any silent create failure surfaces as UNKNOWN_TOPIC produce
    // errors; any partial create changes the hash. Same content contract
    // as s57, so the oracle is shared.
    GQuery("s61_kafka_admin_roundtrip",
      (s, d) => {
        val dir = Files.createTempDirectory(tmpBase, "kafka-admin").toString
        val broker = new graft.sources.replay.KafkaLogServer(dir, "adm",
          requireCreate = true)
        try {
          new graft.sources.replay.KafkaLogClient(broker.clientPath)
            .createTopics(Seq("adm" -> 3))
          Tables.events(s, d)
            .select(concat(lit("Key "), col("event_id")).cast("binary").as("key"),
              col("props").cast("binary").as("value"))
            .write.format("graft-replay")
            .option("client", "kafka").option("path", broker.clientPath)
            .option("producer.compression.type", "lz4")
            .mode("append").save()
          s.read.format("graft-replay")
            .option("client", "kafka").option("path", broker.clientPath)
            .load()
            .select(col("key").cast("string").as("key"),
              length(col("value").cast("string")).cast("long").as("vlen"))
            .orderBy(col("key"))
            .localCheckpoint(true)
        } finally broker.close()
      },
      Some("""SELECT 'Key ' || event_id AS key, len(props) AS vlen
FROM events ORDER BY key NULLS FIRST""")),

    // S59: the streaming DSIR gate — x69's importance scorer applied LIVE.
    // The rate table is trained batch-side (the same 512-bucket hashed
    // unigram+bigram log-ratio computation as x69, one bounded aggregate),
    // collected ONCE as 512 micro-unit longs (the BPE merge-table idiom:
    // a driver fetch of a fixed-size model, never corpus rows) and folded
    // into every arriving doc as a per-row HOF over its feature array —
    // exact integer micro-units, so the fold is order-free and the gate is
    // ZERO-STATE: no shuffle, no stateful operator, unbounded stream legal
    // in append mode at any volume. Unseen buckets take the add-1
    // smoothing default ln((C+B)/(T+B)) (never fires on this replay — the
    // stream IS the training corpus — but the gate must be total for real
    // fresh traffic). The verdict bands route docs toward the target
    // mixture the way x69's top-K resample does offline. O-class: the
    // oracle replays training + per-doc micro-unit sums in SQL.
    GQuery("s59_stream_dsir_gate",
      (s, d) => {
        val feats = expr("""concat(toks,
          CASE WHEN size(toks) < 2 THEN array()
               ELSE transform(sequence(1, size(toks) - 1),
                 i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))
          END)""")
        val bucket = "CAST(conv(substr(md5(concat('dsir69:', f)), 1, 6), " +
          "16, 10) AS BIGINT) % 512"
        // train in ONE aggregation keyed by bucket (guide §2.3 "aggregate
        // before you shuffle"): the former per-(doc_id, source, b) pre-group
        // fed ONLY this rollup, so it was a full extra exchange of
        // ~|docs|x|buckets| rows for nothing — sum over per-doc counts
        // == direct count, conditional sum == conditional count. Map-side
        // partial aggregation collapses the feature stream to <= 512 rows
        // per task before the single exchange.
        val bc = Tables.table(s, d, "documents")
          .select(col("source"), split(col("text"), " ").as("toks"))
          .select(col("source"), explode(feats).as("f"))
          .select(col("source"), expr(bucket).as("b"))
          .groupBy(col("b"))
          .agg(count(lit(1)).as("cc"),
            sum(when(col("source") === "src0", lit(1L))
              .otherwise(lit(0L))).as("tc"))
          // checkpoint the <=512-row bucket table: THREE driver fetches read
          // it (tot, the rates6 collect, the default6 collect) and each used
          // to re-execute the full corpus explode+md5 training scan
          .localCheckpoint(true)
        // train with EXACTLY x69's engine formulation (hash-proven against
        // the oracle), then collect the 512 micro-unit longs driver-side
        val tot = bc.agg(sum(col("cc")).as("c"), sum(col("tc")).as("t"))
        val rates6: Map[Long, Long] = graft.GraftOps.boundedCollect(
          bc.crossJoin(broadcast(tot))
            .select(col("b"),
              (log(((col("tc") + lit(1.0)) / (col("t") + lit(512))) /
                ((col("cc") + lit(1.0)) / (col("c") + lit(512))))
                .cast("decimal(18,6)") * lit(1000000)).cast("long").as("lr6")),
          512, "s59 DSIR bucket-rate table (hash domain is 512 buckets)")
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val default6 = tot.select(
          (log((col("c") + lit(512.0)) / (col("t") + lit(512.0)))
            .cast("decimal(18,6)") * lit(1000000)).cast("long"))
          .collect().head.getLong(0)
        val logw6 = expr(s"""aggregate(concat(toks,
            CASE WHEN size(toks) < 2 THEN array()
                 ELSE transform(sequence(1, size(toks) - 1),
                   i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))
            END),
          CAST(0 AS BIGINT),
          (acc, f) -> acc + coalesce(element_at(rates6, $bucket),
            CAST($default6 AS BIGINT)))""")
        runToMemory(
          docStream(s, d)
            .select(col("doc_id"), split(col("text"), " ").as("toks"))
            .withColumn("rates6", typedLit(rates6))
            .select(col("doc_id"), logw6.as("logw6"))
            .select(col("doc_id"),
              (col("logw6").cast("double") / lit(1000000.0)).as("logw"),
              when(col("logw6") >= 1000000L, "strong_target")
                .when(col("logw6") > 0L, "lean_target")
                .otherwise("raw").as("verdict")),
          "append").orderBy(col("doc_id"))
      },
      Some("""WITH w AS (
  SELECT doc_id, source,
    CAST(concat('0x', substr(md5('dsir69:' || feat), 1, 6)) AS BIGINT) % 512
      AS b
  FROM (SELECT doc_id, source,
          unnest(toks || list_transform(range(1, len(toks)),
            i -> toks[i] || ' ' || toks[i + 1])) AS feat
        FROM (SELECT doc_id, source, string_split(text, ' ') AS toks
              FROM documents))),
dcnt AS (SELECT doc_id, source, b, count(*) AS dc FROM w GROUP BY 1, 2, 3),
bc AS (SELECT b, sum(dc) AS cc,
    sum(CASE WHEN source = 'src0' THEN dc ELSE 0 END) AS tc
  FROM dcnt GROUP BY 1),
tot AS (SELECT sum(cc) AS c, sum(tc) AS t FROM bc),
rates AS (SELECT b,
    CAST(CAST(ln(((tc + 1.0) / (t + 512)) / ((cc + 1.0) / (c + 512)))
      AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS lr6
  FROM bc, tot),
lw AS (SELECT doc_id, CAST(sum(dc * lr6) AS BIGINT) AS logw6
  FROM dcnt JOIN rates USING (b) GROUP BY 1)
SELECT doc_id, CAST(logw6 AS DOUBLE) / 1000000.0 AS logw,
  CASE WHEN logw6 >= 1000000 THEN 'strong_target'
       WHEN logw6 > 0 THEN 'lean_target' ELSE 'raw' END AS verdict
FROM lw ORDER BY doc_id NULLS FIRST""")),

    // S60: streaming audio QA — x70's WAV lane live. Every arriving event's
    // payload round-trips through REAL RIFF/WAVE bytes (wav_pcm16 encode →
    // wav_stats chunk-walk parse, both codegen expressions) and emits its
    // exact-integer gate row in append mode — per-row, zero state, the
    // multimodal twin of s49/s59's scoring gates. The oracle computes the
    // same statistics from the sample definition without the WAV round
    // trip, so the stream lane inherits x70's encode→parse identity proof
    // per event. rms over exact integers through IEEE-exact steps only.
    GQuery("s60_stream_audio_qa",
      (s, d) => {
        val samples = expr("transform(sequence(0, 63), " +
          "i -> CAST((event_id * 37 + i * 997) % 65536 - 32768 AS INT))")
        runToMemory(
          eventStream(s, d)
            .select(col("event_id"), graft.functions.GraftFunctions
              .wav_stats(graft.functions.GraftFunctions
                .wav_pcm16(samples, lit(8000))).as("st"))
            .select(col("event_id"),
              col("st.n_samples").cast("long").as("n_samples"),
              col("st.peak").cast("long").as("peak"),
              col("st.clipped").cast("long").as("clipped"),
              col("st.zero_cross").cast("long").as("zero_cross"),
              col("st.sum_sq").as("sum_sq"),
              sqrt(col("st.sum_sq").cast("double") / lit(64.0)).as("rms"),
              (col("st.peak") === 32768 || col("st.clipped") > 0)
                .as("hot_flag")),
          "append").orderBy(col("event_id"))
      },
      Some("""WITH sm AS (
  SELECT event_id,
    [(event_id * 37 + i * 997) % 65536 - 32768 for i in range(0, 64)] AS s
  FROM events)
SELECT event_id,
  CAST(64 AS BIGINT) AS n_samples,
  CAST(list_max(list_transform(s, x -> abs(x))) AS BIGINT) AS peak,
  CAST(len(list_filter(s, x -> x = 32767 OR x = -32768)) AS BIGINT)
    AS clipped,
  CAST(len([i for i in range(1, 64) if (s[i] < 0) != (s[i + 1] < 0)])
    AS BIGINT) AS zero_cross,
  CAST(list_sum(list_transform(s, x -> x * x)) AS BIGINT) AS sum_sq,
  sqrt(CAST(CAST(list_sum(list_transform(s, x -> x * x)) AS BIGINT)
    AS DOUBLE) / 64.0) AS rms,
  (list_max(list_transform(s, x -> abs(x))) = 32768
    OR len(list_filter(s, x -> x = 32767 OR x = -32768)) > 0) AS hot_flag
FROM sm ORDER BY event_id NULLS FIRST""")),

    // S63: streaming video QA — x80's AVI lane live, completing the live
    // multimodal pair (s60 audio / s63 video). Every arriving event's frame
    // stack round-trips through a REAL RIFF/AVI container (avi_pack encode →
    // avi_frame_sample index-seeking parse, both codegen expressions) and
    // emits its exact-integer gate row in append mode — per-row, zero
    // state, scan-speed. The oracle computes the same statistics from the
    // frame-byte definition without the AVI round trip, so the stream lane
    // inherits x80's encode→index-seek→parse identity proof per event.
    GQuery("s63_stream_video_qa",
      (s, d) => {
        // pack_bytes frame generator — see x80 (same bytes, no per-pixel
        // hex-string round trip; BytePackSpec pins the equivalence).
        // PRECONDITION (ADVICE r17): identity pinned for 0..255 inputs
        // only; event_id >= 0 and %256 reduction keep it in range here.
        val frames = transform(
          sequence(lit(0), lit(7) + (col("event_id") % 9).cast("int")),
          f => graft.functions.GraftFunctions.pack_bytes(
            transform(sequence(lit(0), lit(15)),
              p => ((col("event_id") * 31 + f * 17 + p * 7) % 256)
                .cast("int"))))
        runToMemory(
          eventStream(s, d)
            .select(col("event_id"), graft.functions.GraftFunctions
              .avi_frame_sample(graft.functions.GraftFunctions
                .avi_pack(frames, lit(12), lit(4), lit(4), lit(4)),
                lit(3)).as("st"))
            .select(col("event_id"),
              col("st.n_frames").cast("long").as("n_frames"),
              col("st.n_keyframes").cast("long").as("n_keyframes"),
              col("st.sampled_n").cast("long").as("sampled_n"),
              col("st.sampled_sum").as("sampled_sum"),
              col("st.sampled_max").cast("long").as("sampled_max"),
              (col("st.sampled_max") === 255).as("sat_flag")),
          "append").orderBy(col("event_id"))
      },
      Some("""WITH e AS (SELECT event_id, CAST(8 + event_id % 9 AS INT) AS nf
  FROM events),
k AS (SELECT event_id, nf,
    len([x for x in range(0, nf) if x % 4 = 0]) AS nkey,
    [x for x in range(0, nf) if x % 3 = 0] AS sidx
  FROM e),
pb AS (SELECT k.event_id,
    (k.event_id * 31 + b.fx * 17 + r.p * 7) % 256 AS byte
  FROM k, unnest(k.sidx) AS b(fx), unnest(range(0, 16)) AS r(p)),
a AS (SELECT event_id, CAST(sum(byte) AS BIGINT) AS ssum,
    max(byte) AS smax
  FROM pb GROUP BY event_id)
SELECT k.event_id, CAST(k.nf AS BIGINT) AS n_frames,
  CAST(k.nkey AS BIGINT) AS n_keyframes,
  CAST(len(k.sidx) AS BIGINT) AS sampled_n,
  a.ssum AS sampled_sum, CAST(a.smax AS BIGINT) AS sampled_max,
  (a.smax = 255) AS sat_flag
FROM k JOIN a USING (event_id) ORDER BY event_id NULLS FIRST""")),


    // S66: streaming IVF routing (round 13) — the INGESTION half of the
    // x03b ANN index: vectors arrive continuously (an embedding service's
    // output topic) and each is routed to its inverted-file cell BEFORE it
    // lands, so the index partition a vector belongs to is decided at
    // stream time (the write path of every IVF store). The coarse
    // quantizer is EXACTLY x03b's trained codebook (shared ivfCodebook
    // helper: md5-seeded k=16 + one decimal-exact Lloyd round), collected
    // driver-side as 16×64 doubles — the s59 bounded-broadcast pattern
    // (16 rows, once per stream, never per batch). Routing is per-row:
    // 16 codegen'd l2_dist kernels against centroid literals folded with
    // least(struct(dist, cid)) — zero state, append mode, scan speed; ties
    // break to the smaller cell id ≡ the oracle's ORDER BY dist, cid.
    // At 100 TB: the codebook broadcast is O(k·dim) regardless of stream
    // volume, and the output is already partitioned by cell for the sink.
    GQuery("s66_stream_ivf_route",
      (s, d) => {
        val e = Tables.table(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val cb: Array[(Int, Seq[Double])] = graft.GraftOps.boundedCollect(
          PipelineSimilarityQueries.coarseIndex(s, d),
          16, "s66 IVF coarse codebook (k = 16 centroids)")
          .map(r => r.getInt(0) -> r.getSeq[Double](1))
        val L2 = graft.functions.GraftFunctions.l2_dist _
        val vecStream = s.readStream
          .schema(Tables.table(s, d, "embeddings").schema)
          .option("pathGlobFilter", "embeddings.parquet").parquet(d)
        val dv = col("embedding").cast("array<double>")
        val cands = cb.map { case (cid, cv) =>
          struct(L2(dv, typedlit(cv)).as("dist"), lit(cid).as("cid"))
        }
        val best = least(cands.toIndexedSeq: _*)
        runToMemory(
          vecStream.select(col("vec_id"),
            best.getField("cid").cast("long").as("cell"),
            best.getField("dist").cast("decimal(18,6)").cast("double")
              .as("dist")),
          "append").orderBy(col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
seeds AS (SELECT vec_id, row_number()
    OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cid
  FROM e),
c0 AS (SELECT s.cid, e.v AS cv
  FROM seeds s JOIN e USING (vec_id) WHERE s.cid <= 16),
a1 AS (SELECT vec_id, cid, v FROM (
    SELECT e.vec_id, c.cid, list_distance(e.v, c.cv) AS dist, e.v
    FROM e CROSS JOIN c0 c)
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1),
u1 AS (SELECT cid, i AS pos,
    CAST(sum(CAST(v[i] AS DECIMAL(27,15))) AS DOUBLE) / count(*) AS m
  FROM a1, unnest(range(1, 65)) AS r(i) GROUP BY cid, i),
c1 AS (SELECT cid, list(m ORDER BY pos) AS cv FROM u1 GROUP BY cid),
route AS (SELECT vec_id, cid, dist FROM (
    SELECT e.vec_id, c.cid, list_distance(e.v, c.cv) AS dist
    FROM e CROSS JOIN c1 c)
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1)
SELECT vec_id, CAST(cid AS BIGINT) AS cell,
  CAST(CAST(dist AS DECIMAL(18,6)) AS DOUBLE) AS dist
FROM route ORDER BY vec_id NULLS FIRST""")),


    // ---- S67: streaming out-of-distribution gate (round 14) ---------------
    // The live half of x85's release-drift audit: vectors arriving on a
    // stream are scored against the RELEASE-N per-label centroids (the
    // x85/x71 convention: prev = vec_id % 7 != 0) and far-from-centroid
    // rows are flagged 'ood' — the ingestion filter that keeps an
    // embedding store from silently absorbing a distribution shift the
    // batch audit would only catch at the next release cut. Training is
    // batch-side (the x85 decimal-exact centroid recipe), collected once
    // driver-side as |labels|x64 doubles (the s59/s66 bounded-broadcast
    // pattern — O(labels*dim) regardless of stream volume); scoring is
    // per-row — the codegen l2_dist kernel against the row's own label's
    // centroid literal via a label-dispatch CASE chain — zero state,
    // append mode, scan speed. The 1.01 threshold is the p90 of this
    // corpus's in-release distances (documented calibration constant);
    // the flag compares the QUANTIZED distance so the band edge is exact
    // on both engines. Unknown labels flag 'nolabel' rather than
    // silently passing.
    GQuery("s67_stream_ood_gate",
      (s, d) => {
        val e = Tables.table(s, d, "embeddings")
          .select(col("vec_id"), col("label").cast("long").as("label"),
            col("embedding").cast("array<double>").as("v"))
        val centsDf = e.filter(col("vec_id") % 7 =!= 0)
          .select(col("label"), posexplode(col("v")))
          .toDF("label", "pos", "x")
          .groupBy(col("label"), col("pos"))
          .agg((sum(col("x").cast("decimal(27,15)")).cast("double") /
            count(lit(1))).as("m"))
          .groupBy(col("label"))
          .agg(expr("transform(array_sort(collect_list(struct(pos, m))), " +
            "x -> x.m)").as("c"))
        val vecStream = s.readStream
          .schema(Tables.table(s, d, "embeddings").schema)
          .option("pathGlobFilter", "embeddings.parquet").parquet(d)
        val dv = col("embedding").cast("array<double>")
        val lbl = col("label").cast("long")
        // label dispatch with the AUTOMATIC fallback (VERDICT r16 #7):
        // <= 4096 labels fold into the zero-join CASE chain; a wider label
        // space takes the broadcast-join path with byte-identical output
        // (GraftOps.withCentroidDist, CentroidDispatchSpec)
        val dispatched = graft.GraftOps.withCentroidDist(
          vecStream.select(col("vec_id"), lbl.as("label"), dv.as("v")),
          centsDf, col("v"), col("label"))
        val dist = col("dist").cast("decimal(18,6)").cast("double")
        runToMemory(
          dispatched.select(col("vec_id"), col("label"), dist.as("dist"),
            when(dist.isNull, "nolabel").when(dist > 1.01, "ood")
              .otherwise("in").as("flag")),
          "append").orderBy(col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (SELECT label, i AS pos,
    CAST(sum(CAST(v[i] AS DECIMAL(27,15))) AS DOUBLE) / count(*) AS m
  FROM e, unnest(range(1, 65)) r(i) WHERE vec_id % 7 <> 0 GROUP BY label, i),
cv AS (SELECT label, list(m ORDER BY pos) AS c FROM cent GROUP BY label),
d AS (SELECT e.vec_id, e.label,
    CAST(CAST(list_distance(e.v, cv.c) AS DECIMAL(18,6)) AS DOUBLE) AS dist
  FROM e LEFT JOIN cv USING (label))
SELECT vec_id, label, dist,
  CASE WHEN dist IS NULL THEN 'nolabel'
       WHEN dist > 1.01 THEN 'ood' ELSE 'in' END AS flag
FROM d ORDER BY vec_id NULLS FIRST""")),


    // S69: streaming HTML text extraction — x87's live half (round 15,
    // VERDICT r14 #2): crawled pages arrive on a stream and are
    // tag-stripped BEFORE anything downstream (chunking, dedup, quality)
    // sees them. Pure per-row projection (synthesize the trap-laden page,
    // html_text it, emit exact line/char stats + a full-extraction md5
    // checksum), APPEND mode through the distributed sink — extraction at
    // scan speed, zero state, zero shuffle; the per-doc checksum pins
    // every byte of the streamed walk against the batch-side oracle.
    GQuery("s69_stream_html_extract",
      (s, d) => {
        import PipelineShared.htmlPage
        val rows = StreamingQueries.docStream(s, d)
          .filter(col("text").isNotNull && length(col("text")) > 0 &&
            col("lang").isNotNull && col("source").isNotNull)
          .select(col("doc_id"), col("source"), col("text"),
            graft.functions.GraftFunctions.html_text(htmlPage).as("ext"))
          .withColumn("lines", split(col("ext"), "\n"))
          .select(col("doc_id"), col("source"),
            size(col("lines")).cast("long").as("n_lines"),
            length(col("ext")).cast("long").as("n_chars"),
            (element_at(col("lines"), 4) === col("text")).as("roundtrip_ok"),
            expr("CAST(conv(substr(md5(ext), 1, 15), 16, 10) AS BIGINT)")
              .as("h"))
        runToMemory(rows, "append").orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, source, text FROM documents
  WHERE text IS NOT NULL AND length(text) > 0
    AND lang IS NOT NULL AND source IS NOT NULL),
e AS (SELECT doc_id, source, text, ${PipelineShared.htmlExpectedDuck} AS ext
  FROM d)
SELECT doc_id, source,
  CAST(len(string_split(ext, chr(10))) AS BIGINT) AS n_lines,
  CAST(length(ext) AS BIGINT) AS n_chars,
  string_split(ext, chr(10))[4] = text AS roundtrip_ok,
  CAST(concat('0x', substr(md5(ext), 1, 15)) AS BIGINT) AS h
FROM e ORDER BY doc_id NULLS FIRST""")),


    // S70: streaming outlink extraction gate — x88's live half: pages
    // arrive on a stream, their anchors are extracted (script/comment
    // anchors never enter the frontier) and canonicalized per row, and
    // each page emits its frontier stats — link count, how many stay on
    // the page's own site, and an md5 xor-fold over the canonical URLs
    // that pins every byte of the streamed extract+canonicalize chain.
    // Pure per-row projection, APPEND mode, zero state, zero shuffle.
    GQuery("s70_stream_outlink_gate",
      (s, d) => {
        import PipelineShared.htmlLinkPage
        val G = graft.functions.GraftFunctions
        val rows = StreamingQueries.docStream(s, d)
          .filter(col("text").isNotNull && length(col("text")) > 0 &&
            col("lang").isNotNull && col("source").isNotNull)
          .select(col("doc_id"), col("source"),
            transform(G.html_links(htmlLinkPage),
              u => G.url_canon(u)).as("cs"))
          .select(col("doc_id"), col("source"),
            size(col("cs")).cast("long").as("n_links"),
            size(filter(col("cs"), c => c.startsWith(
              concat(lit("https://"), col("source"), lit(".example.org/")))))
              .cast("long").as("n_onsite"),
            expr("""aggregate(cs, CAST(0 AS BIGINT), (acc, u) ->
              acc ^ CAST(conv(substr(md5(u), 1, 15), 16, 10) AS BIGINT))""")
              .as("h"))
        runToMemory(rows, "append").orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, source FROM documents
  WHERE text IS NOT NULL AND length(text) > 0
    AND lang IS NOT NULL AND source IS NOT NULL),
e AS (SELECT doc_id, source,
    [${PipelineShared.linkCanonDuck.mkString(", ")}] AS cs
  FROM d)
SELECT doc_id, source,
  CAST(len(cs) AS BIGINT) AS n_links,
  CAST(len(list_filter(cs, c -> starts_with(c,
    'https://' || source || '.example.org/'))) AS BIGINT) AS n_onsite,
  list_reduce(list_transform(cs, u ->
    CAST(concat('0x', substr(md5(u), 1, 15)) AS BIGINT)),
    (a, b) -> xor(a, b)) AS h
FROM e ORDER BY doc_id NULLS FIRST""")),


    // S71: streaming boilerplate excision — x87b's live half: the
    // ≥80%-document-frequency boilerplate set is trained ONCE on the
    // released corpus (batch side, persisted — a stream-static join
    // re-executes the static plan every micro-batch), and arriving pages
    // are tag-stripped and their lines anti-joined against it per row.
    // History never enters stream state (the s30/s54 pattern); the stream
    // side is append-mode per-line rows with the ORIGINAL line position,
    // so downstream chunkers see the page layout minus the chrome.
    GQuery("s71_stream_boilerplate_excision",
      (s, d) => {
        import PipelineShared.htmlPage
        val G = graft.functions.GraftFunctions
        def clean(df: DataFrame): DataFrame = df
          .filter(col("text").isNotNull && length(col("text")) > 0 &&
            col("lang").isNotNull && col("source").isNotNull)
        val docsStatic = clean(Tables.table(s, d, "documents"))
        val linesStatic = docsStatic
          .select(col("doc_id"), col("source"),
            G.html_text(htmlPage).as("ext"))
          .select(col("doc_id"), col("source"),
            explode(split(col("ext"), "\n")).as("line"))
        val dfreq = linesStatic.groupBy(col("source"), col("line"))
          .agg(countDistinct(col("doc_id")).as("df"))
        val nsrc = docsStatic.groupBy(col("source"))
          .agg(countDistinct(col("doc_id")).as("n_docs"))
        val boiler = dfreq.join(broadcast(nsrc), Seq("source"))
          .filter(col("df") * 10 >= col("n_docs") * 8)
          .select(col("source"), col("line"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        boiler.count()
        val streamKept = clean(StreamingQueries.docStream(s, d))
          .select(col("doc_id"), col("source"),
            posexplode(split(G.html_text(htmlPage), "\n")))
          .toDF("doc_id", "source", "pos", "line")
          .join(broadcast(boiler), Seq("source", "line"), "left_anti")
          .select(col("doc_id"), col("pos").cast("long").as("pos"),
            col("line"))
        runToMemory(streamKept, "append").orderBy(col("doc_id"), col("pos"))
      },
      Some(s"""WITH d AS (SELECT doc_id, source, text FROM documents
  WHERE text IS NOT NULL AND length(text) > 0
    AND lang IS NOT NULL AND source IS NOT NULL),
lines AS (
  SELECT doc_id, source, 0 AS pos, 'Doc ' || doc_id || ' :: ' || source AS line FROM d
  UNION ALL SELECT doc_id, source, 1, 'Home | About' FROM d
  UNION ALL SELECT doc_id, source, 2, 'Doc Header ' || doc_id FROM d
  UNION ALL SELECT doc_id, source, 3, text FROM d
  UNION ALL SELECT doc_id, source, 4, 'odd & aside' FROM d WHERE doc_id % 2 = 1
  UNION ALL SELECT doc_id, source,
    CASE WHEN doc_id % 2 = 1 THEN 5 ELSE 4 END,
    chr(169) || ' ' || source || ' ' || chr(8212) || ' fin' FROM d),
dfreq AS (SELECT source, line, count(DISTINCT doc_id) AS df
  FROM lines GROUP BY 1, 2),
nsrc AS (SELECT source, count(DISTINCT doc_id) AS n_docs FROM d GROUP BY 1),
boiler AS (SELECT dfreq.source, line FROM dfreq JOIN nsrc USING (source)
  WHERE df * 10 >= n_docs * 8),
kept AS (SELECT l.doc_id, l.pos, l.line FROM lines l ANTI JOIN boiler b
  ON l.source = b.source AND l.line = b.line)
SELECT doc_id, CAST(pos AS BIGINT) AS pos, line
FROM kept ORDER BY doc_id NULLS FIRST, pos NULLS FIRST""")),


    // S72: streaming warc.gz ingestion gate — x92's live half: crawl
    // shards arrive on the stream as per-record gzip members and each row
    // runs the FULL ingestion chain in place — inflate the members, parse
    // the WARC records by declared lengths, charset-decode the response
    // payload (the doc_id%4 declaration arms of x92: header param /
    // UTF-16BE+BOM / UTF-16LE+BOM / meta prescan), tag-strip the decoded
    // page — and emits per-record verdicts: record count, the
    // full-chain identity flag (decoded page byte-equal to the
    // construction AND the extraction's 4th line equal to the raw text),
    // and an md5 fold over the extracted lines that pins every byte.
    // Pure per-row projection, APPEND mode, zero state, zero shuffle —
    // the shape a 100 TB live-crawl intake runs at scan speed.
    GQuery("s72_stream_warc_gz_gate",
      (s, d) => {
        import PipelineShared.{warcGzArm, warcGzCtype, warcGzPage, warcGzShard}
        val G = graft.functions.GraftFunctions
        // arm/ctype/shard: single-sourced with x92 (PipelineShared)
        val rows = StreamingQueries.docStream(s, d)
          .filter(col("text").isNotNull && length(col("text")) > 0 &&
            col("lang").isNotNull && col("source").isNotNull)
          .select(col("doc_id"), col("source"), col("text"), col("lang"),
            warcGzArm.as("arm"), warcGzCtype.as("ctype"),
            G.warc_gz_extract(warcGzShard).as("recs"))
          .withColumn("page", G.decode_charset(
            col("recs").getItem(1).getField("payload"), col("ctype")))
          .withColumn("ext", G.html_text(col("page")))
          .select(col("doc_id"), col("source"), col("arm"),
            size(col("recs")).cast("long").as("n_records"),
            (size(col("recs")) === 2 &&
              col("page") === warcGzPage &&
              element_at(split(col("ext"), "\n"), 4) === col("text"))
              .as("ok"),
            expr("CAST(conv(substr(md5(ext), 1, 15), 16, 10) AS BIGINT)")
              .as("h"))
        runToMemory(rows, "append").orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, source, text FROM documents
  WHERE text IS NOT NULL AND length(text) > 0
    AND lang IS NOT NULL AND source IS NOT NULL),
e AS (SELECT doc_id, source, text,
    ${PipelineShared.htmlExpectedDuck} AS ext FROM d)
SELECT doc_id, source, CAST(doc_id % 7 AS INT) AS arm,
  CAST(2 AS BIGINT) AS n_records, true AS ok,
  CAST(concat('0x', substr(md5(ext), 1, 15)) AS BIGINT) AS h
FROM e ORDER BY doc_id NULLS FIRST""")),

    // S73: streaming politeness gate — x93's live half (VERDICT r16 #5).
    // Each ARRIVING page emits its outlink fetch schedule: links extracted
    // and canonicalized (x88), gated per-link by the target host's robots
    // verdict (x90), the survivors ordered deterministically (canonical
    // URL) and assigned politeness slots slot_i = i · Crawl-delay(host_i),
    // with the host's Sitemap count surfaced — the feed a live crawl
    // scheduler shards by host downstream. ZERO stateful operators,
    // append mode: the robots policy rides the row (in production a
    // broadcast per-host table — the s07 stream-static shape) and the
    // slot rank is local to the page's own emission, so no watermark, no
    // state store, no cross-row coordination. The oracle reconstructs
    // every page's allowed set, schedule and checksum from raw columns
    // without parsing robots or HTML (the x93 recipe, per-doc).
    GQuery("s73_stream_politeness_gate",
      (s, d) => {
        import PipelineShared.htmlLinkPage
        val G = graft.functions.GraftFunctions
        def host(u: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          regexp_extract(u, "^[a-z]+://([^/]+)", 1)
        def pathq(u: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          regexp_replace(u, "^[a-z]+://[^/]+", "")
        def robotsFor(h: org.apache.spark.sql.Column): org.apache.spark.sql.Column = concat(
          lit("# robots for "), h, lit("\n"),
          lit("User-agent: graftbot\nCrawl-delay: 3\n"),
          lit("Disallow: /page/\nAllow: /page/1\n"),
          lit("Sitemap: https://"), h, lit("/sitemap.xml\n\n"),
          lit("User-agent: *\nDisallow: /asset/\nDisallow: /doc/\n"),
          lit("Crawl-delay: 2\n"))
        val rows = StreamingQueries.docStream(s, d)
          .filter(col("text").isNotNull && length(col("text")) > 0 &&
            col("lang").isNotNull && col("source").isNotNull)
          .select(col("doc_id"), col("source"),
            transform(G.html_links(htmlLinkPage),
              u => G.url_canon(u)).as("cs"))
          .withColumn("allowed", array_sort(filter(col("cs"),
            u => G.robots_allowed(robotsFor(host(u)), pathq(u), "graftbot"))))
          .select(col("doc_id"), col("source"),
            size(col("allowed")).cast("long").as("n_allowed"),
            (size(col("cs")) - size(col("allowed"))).cast("long")
              .as("n_blocked"),
            // per-host group-scoped delay (the * group's 2 must not leak)
            G.robots_crawl_delay(robotsFor(host(element_at(col("allowed"), 1))),
              "graftbot").as("delay"),
            // one Sitemap per gated host: summed over the allowed set
            aggregate(col("allowed"), lit(0L), (acc, u) =>
              acc + size(G.robots_sitemaps(robotsFor(host(u)))).cast("long"))
              .as("n_sitemaps"),
            // schedule: slot_i = i · delay(host_i) over the sorted survivors
            aggregate(
              zip_with(col("allowed"),
                sequence(lit(0), size(col("allowed")) - 1),
                (u, i) => concat(u, lit(":"), (i.cast("long") *
                  G.robots_crawl_delay(robotsFor(host(u)), "graftbot"))
                    .cast("string"))),
              lit(0L), (acc, su) => acc.bitwiseXOR(
                conv(substring(md5(su), 1, 15), 16, 10).cast("long")))
              .as("sched_checksum"))
        runToMemory(rows, "append").orderBy(col("doc_id"))
      },
      Some(s"""WITH d AS (SELECT doc_id, source FROM documents
  WHERE text IS NOT NULL AND length(text) > 0
    AND lang IS NOT NULL AND source IS NOT NULL),
e AS (SELECT doc_id, source,
    list_sort(list_filter([
      'https://www.example.com/home?x=1',
      'http://example.com/doc/' || ((doc_id * 7 + 13) % 97) || '?a=1&b=2',
      'https://cdn.example.com:8080/asset/' || doc_id || '.png?v=3',
      CASE WHEN CAST((doc_id * 3 + 5) % 97 AS VARCHAR) LIKE '1%'
        THEN 'https://' || source || '.example.org/page/' ||
          ((doc_id * 3 + 5) % 97) || '/' END], u -> u IS NOT NULL)) AS allowed
  FROM d)
SELECT doc_id, source,
  CAST(len(allowed) AS BIGINT) AS n_allowed,
  CAST(4 - len(allowed) AS BIGINT) AS n_blocked,
  CAST(3 AS BIGINT) AS delay,
  CAST(len(allowed) AS BIGINT) AS n_sitemaps,
  list_reduce(list_transform(allowed, (u, i) ->
    CAST(concat('0x', substr(md5(u || ':' || ((i - 1) * 3)), 1, 15)) AS BIGINT)),
    (a, b) -> xor(a, b)) AS sched_checksum
FROM e ORDER BY doc_id NULLS FIRST"""))
  )
}
