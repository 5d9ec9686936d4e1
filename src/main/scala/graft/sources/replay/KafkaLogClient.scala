package graft.sources.replay

import java.io.{BufferedInputStream, DataInputStream, DataOutputStream, EOFException, IOException}
import java.net.{InetSocketAddress, Socket}

/** The third [[LogClient]] backend: a minimal APACHE KAFKA WIRE-PROTOCOL
  * consumer — the literal core capability of the reference
  * (/root/reference/src/kafka/execution.rs:62-112, an rdkafka consumer with
  * `enable.partition.eof` reading bounded offset ranges), implemented
  * directly against the public Kafka protocol so the engine needs no broker
  * library on the classpath.
  *
  * Protocol subset — TWO dialects, negotiated per API: every API has a
  * pinned pre-flexible version (stable since Kafka 0.11) and a flexible
  * KIP-482 one, and the client speaks the highest of the two the broker
  * serves (the hot read path eagerly in the ApiVersions preflight, the
  * rest at first use) — so a KRaft-era broker that retired the
  * pre-flexible versions is served, not refused, ≡ the version
  * negotiation librdkafka does transparently for the reference
  * (Cargo.toml:8). Each API's request and response are written once, in
  * the dialect-neutral [[KafkaWire.WireWriter]]/[[KafkaWire.WireReader]]
  * (see [[KafkaWire]] for why both dialects stay). The read path:
  *   - Metadata v0 or v9 (api 3): partition ids + per-partition leader +
  *     broker address book. Re-requested every trigger via
  *     [[listPartitions]], so mid-stream partition growth is observed like
  *     the file client's re-listing.
  *   - ListOffsets v2 or v6 (api 2): timestamp −2 → earliest, −1 → log-end. The
  *     planner's `[earliest, endOffset)` range IS the reference's
  *     `enable.partition.eof` bounded batch: each micro-batch plan reads to
  *     the frozen high watermark and stops. v2 carries the isolation level,
  *     so a read_committed consumer's "latest" is the LAST STABLE OFFSET —
  *     planned ranges never include records of a still-open transaction.
  *   - ApiVersions v0 (+v3 flexible when served; api 18):
  *     first-connection preflight — negotiates the Metadata, Fetch and
  *     ListOffsets versions, verifies the SASL pair's pinned versions and
  *     fails with a named error instead of a raw wire parse error if the
  *     broker serves neither dialect (tolerated as absent on pre-0.10
  *     brokers).
  *   - Fetch v4 or v12 (api 1): RecordBatch v2 (magic 2) decode, with all four
  *     standard codecs (gzip/snappy/lz4/zstd — the records section is the
  *     compressed unit in v2, in the framing the official clients write);
  *     unknown codec ids or pre-v2 batches fail loudly — this client favors
  *     a diagnosable error over a silent wrong decode.
  *
  * `path` is `bootstrap-host:port/topic`. Planning calls are one-shot
  * connections to the bootstrap broker; each [[openFrames]] cursor holds one
  * persistent connection to the PARTITION LEADER (resolved via Metadata) and
  * issues sequential Fetch requests along its planned `[start, end)` range.
  *
  * Semantics notes vs the file/socket backends:
  *   - Kafka timestamps are milliseconds; the seam's `tsUs` is µs, so wire
  *     timestamps surface as `ms * 1000` (sub-ms precision does not survive
  *     a real broker round-trip — inherent to Kafka, not to this client).
  *   - `sizeInBytes` has no cheap protocol answer in this subset
  *     (DescribeLogDirs is a cluster-admin API); it estimates 1 KiB/record,
  *     used only for planner statistics.
  *   - Control batches (transaction markers) are skipped; `needKey`/
  *     `needValue` pruning skips payload DECODE (the bytes still cross the
  *     wire — Kafka fetches whole batches).
  *
  * Security (the reference inherits these from librdkafka's config
  * passthrough, tests/utils.rs:261-285): `consumer.security.protocol` =
  * PLAINTEXT (default) / SSL / SASL_PLAINTEXT / SASL_SSL. TLS runs the
  * JDK handshake, trusting `consumer.ssl.truststore.location` (PKCS12/JKS,
  * with `.password`) or the JVM default anchors, with HTTPS-style endpoint
  * identification on by default; SASL (SaslHandshake v1 + SaslAuthenticate
  * v0; `consumer.sasl.mechanism` = PLAIN, SCRAM-SHA-256, SCRAM-SHA-512 or
  * OAUTHBEARER) authenticates every new connection before any other API is
  * used — PLAIN/SCRAM with `consumer.sasl.username`/`.password`,
  * OAUTHBEARER with `consumer.sasl.oauthbearer.token`(`.file`).
  *
  * Registered as client kind `kafka`:
  * `spark.readStream.format("graft-replay").option("client", "kafka")
  *   .option("path", "broker:9092/events")`.
  * KafkaWireSpec proves the dialect against an in-process wire-faithful
  * broker double (KafkaCodecSpec the codecs, KafkaSecuritySpec the
  * TLS/SASL paths); the real-broker contract test is gated on
  * `GRAFT_KAFKA_BOOTSTRAP`/`GRAFT_KAFKA_TOPIC` and skips cleanly when no
  * broker is reachable.
  */
final class KafkaLogClient(path: String,
    conf: Map[String, String] = Map.empty) extends LogClient {
  import KafkaWire._

  private val (bootstrap, topic) = {
    val i = path.indexOf('/')
    require(i > 0 && i < path.length - 1,
      s"kafka client path must be host:port/topic, got '$path'")
    (path.substring(0, i), path.substring(i + 1))
  }

  // ---- security (the reference inherits this from librdkafka's config
  // passthrough, tests/utils.rs:261-285; same key names, minus the
  // `consumer.` prefix the source strips) --------------------------------
  private val securityProtocol =
    conf.getOrElse("security.protocol", "PLAINTEXT")
      .toUpperCase(java.util.Locale.ROOT)
  require(Set("PLAINTEXT", "SSL", "SASL_PLAINTEXT", "SASL_SSL")
      .contains(securityProtocol),
    s"unknown security.protocol '$securityProtocol' " +
      "(known: PLAINTEXT, SSL, SASL_PLAINTEXT, SASL_SSL)")
  private val useTls = securityProtocol.contains("SSL")
  /** Hostname verification algorithm, Kafka's
    * `ssl.endpoint.identification.algorithm`: defaults to HTTPS-style
    * host/SAN matching like every real Kafka client; the empty string
    * opts out (Kafka's own escape hatch for SAN-less internal certs).
    * Without this, any cert chaining to a trusted anchor would be
    * accepted for any broker host — a MITM hole on SSL/SASL_SSL. */
  private val endpointIdAlgo =
    conf.getOrElse("ssl.endpoint.identification.algorithm", "https")
  private val useSasl = securityProtocol.startsWith("SASL")
  private val saslMechanism = conf.getOrElse("sasl.mechanism", "PLAIN")
    .toUpperCase(java.util.Locale.ROOT)
  if (useSasl) require(
    Set("PLAIN", "SCRAM-SHA-256", "SCRAM-SHA-512", "OAUTHBEARER")
      .contains(saslMechanism),
    s"sasl.mechanism '$saslMechanism' unsupported " +
      "(PLAIN, SCRAM-SHA-256, SCRAM-SHA-512, OAUTHBEARER)")

  /** TLS context: a truststore option pins the broker CA; without one the
    * JVM default trust anchors apply (public-CA broker certs). */
  private lazy val sslContext: javax.net.ssl.SSLContext =
    conf.get("ssl.truststore.location") match {
      case Some(loc) =>
        val pw = conf.getOrElse("ssl.truststore.password", "").toCharArray
        val ks = java.security.KeyStore.getInstance(new java.io.File(loc), pw)
        val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
          javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
        tmf.init(ks)
        val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
        ctx.init(null, tmf.getTrustManagers, null)
        ctx
      case None => javax.net.ssl.SSLContext.getDefault
    }

  /** Open one configured connection to `addr`: TCP, then the TLS handshake
    * when the protocol asks for it, then SASL/PLAIN (SaslHandshake v1 +
    * SaslAuthenticate v0) — the exact client-side sequence a real broker
    * expects before serving any other API on a secured listener. */
  private def open(addr: String): (Socket, DataInputStream, DataOutputStream) = {
    val i = addr.lastIndexOf(':')
    require(i > 0, s"kafka address must be host:port, got '$addr'")
    val host = addr.substring(0, i)
    val port = addr.substring(i + 1).toInt
    val plain = new Socket()
    plain.connect(new InetSocketAddress(host, port), 10000)
    plain.setTcpNoDelay(true)
    val sock =
      if (!useTls) plain
      else {
        val s = sslContext.getSocketFactory
          .createSocket(plain, host, port, true)
          .asInstanceOf[javax.net.ssl.SSLSocket]
        if (endpointIdAlgo.nonEmpty) {
          val p = s.getSSLParameters
          p.setEndpointIdentificationAlgorithm(
            endpointIdAlgo.toUpperCase(java.util.Locale.ROOT))
          s.setSSLParameters(p)
        }
        s.startHandshake()
        s
      }
    val in = new DataInputStream(
      new BufferedInputStream(sock.getInputStream, 1 << 16))
    val out = new DataOutputStream(sock.getOutputStream)
    try {
      if (!preflighted) preflight(in, out)
      if (useSasl) authenticate(in, out)
    } catch { case e: Throwable => sock.close(); throw e }
    (sock, in, out)
  }

  private def authenticate(in: DataInputStream, out: DataOutputStream): Unit = {
    // SaslHandshake v1: negotiate the mechanism
    val herr =
      roundTrip(in, out, ApiSaslHandshake, 1)(_.string(saslMechanism)).int16()
    if (herr != 0)
      throw new IOException(
        s"kafka SASL handshake rejected mechanism $saslMechanism (error $herr)")
    def need(k: String) = conf.getOrElse(k, throw new IOException(
      s"$securityProtocol requires consumer.$k"))
    // session_lifetime_ms is threaded as a VALUE from the final
    // SaslAuthenticate leg to here (not a shared field): two connections
    // authenticating concurrently on one client must not consume each
    // other's lifetime, or a long-lived fetch cursor ends up with no
    // re-auth deadline and the broker kills it mid-stream.
    val lifetimeMs: Long = saslMechanism match {
      case "PLAIN" =>
        // SaslAuthenticate v0: PLAIN token = [authzid] NUL user NUL password
        saslRound(in, out, ("\u0000" + need("sasl.username") + "\u0000" +
          need("sasl.password")).getBytes("UTF-8"))._2
      case "OAUTHBEARER" =>
        oauthBearerAuthenticate(in, out)
      case scram => // SCRAM-SHA-256 / SCRAM-SHA-512
        scramAuthenticate(in, out, scram.stripPrefix("SCRAM-"),
          need("sasl.username"), need("sasl.password"))
    }
    // KIP-368: arm (or re-arm) this connection's re-auth clock from the
    // broker-advertised session lifetime
    if (lifetimeMs > 0 &&
        !conf.get("sasl.disable.reauth").contains("true"))
      sessionDeadlines.put(out,
        System.currentTimeMillis() + lifetimeMs * 9 / 10)
    ()
  }

  /** SASL/OAUTHBEARER (RFC 7628) — the bearer-token mechanism managed
    * Kafka offers for OIDC/service-account auth (librdkafka, and hence the
    * reference, exposes it through the same config seam as PLAIN/SCRAM,
    * tests/utils.rs:261-285). The initial client response is
    * `n,, \x01 auth=Bearer <token> \x01\x01` (gs2 header, one kvpair); a
    * compliant server answers success with empty auth_bytes, or — per the
    * RFC's failure flow, which Kafka's OAuthBearerSaslServer implements —
    * an error-JSON *challenge*, after which the client sends the dummy
    * `\x01` response and the server fails the connection. Both paths are
    * handled: the JSON body is surfaced in the thrown error so a rejected
    * token reads as `invalid_token`, not a raw wire error.
    *
    * The token is static config — `consumer.sasl.oauthbearer.token`
    * (inline) or `consumer.sasl.oauthbearer.token.file` (path to a file
    * whose trimmed contents are the token — the mounted-service-account
    * shape). A refreshing provider callback is deliberately out of scope:
    * each connection re-reads the file, so external rotation works. */
  private def oauthBearerAuthenticate(in: DataInputStream,
      out: DataOutputStream): Long = {
    val token = conf.get("sasl.oauthbearer.token")
      .orElse(conf.get("sasl.oauthbearer.token.file").map { f =>
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(f)), "UTF-8").trim
      })
      .getOrElse(throw new IOException("sasl.mechanism OAUTHBEARER requires " +
        "consumer.sasl.oauthbearer.token or .token.file"))
    require(!token.exists(c => c == '\u0001' || c.isControl),
      "OAUTHBEARER token must not contain control characters")
    val (challenge, lifetimeMs) = saslRound(in, out,
      ("n,,\u0001auth=Bearer " + token + "\u0001\u0001").getBytes("UTF-8"))
    if (challenge.nonEmpty) {
      // RFC 7628 §3.2.3: a non-empty server message after the initial
      // response is an error JSON; the client MUST reply with %x01 and the
      // server then fails the authentication (Kafka returns error 58 on
      // that leg — saslRound throws; belt-and-braces throw if it doesn't).
      val errJson = new String(challenge, "UTF-8")
      try saslRound(in, out, Array[Byte](0x01)) catch {
        case e: IOException => throw new IOException(
          s"kafka OAUTHBEARER authentication failed: $errJson", e)
      }
      throw new IOException(
        s"kafka OAUTHBEARER authentication failed: $errJson")
    }
    lifetimeMs
  }

  /** One SaslAuthenticate round trip (v1 when the broker serves it, else
    * the v0 pin); returns (server auth_bytes — empty for PLAIN —,
    * session_lifetime_ms), throwing on a non-zero error code. The lifetime
    * (KIP-368, 0 when v0 or the broker requires no re-auth) is returned as
    * a value and threaded per connection by the callers — never parked in
    * shared state, so concurrent authentications cannot steal each other's
    * re-auth clock. */
  private def saslRound(in: DataInputStream, out: DataOutputStream,
      token: Array[Byte]): (Array[Byte], Long) = {
    val v: Short = brokerRanges.flatMap(_.get(ApiSaslAuthenticate)) match {
      case Some((lo, hi)) if lo <= 1 && 1 <= hi => 1
      case _ => 0
    }
    val ar = roundTrip(in, out, ApiSaslAuthenticate, v)(_.bytes(token))
    val aerr = ar.int16()
    val msg = ar.string()
    if (aerr != 0)
      throw new IOException("kafka SASL authentication failed (error " +
        s"$aerr${Option(msg).filter(_.nonEmpty).map(": " + _).getOrElse("")})")
    val bytes = Option(ar.bytes()).getOrElse(Array.emptyByteArray)
    val lifetimeMs = if (v >= 1) ar.int64() else 0L
    (bytes, lifetimeMs)
  }

  /** KIP-368 re-auth deadlines per live connection (weak keys: one-shot
    * connections vanish with their sockets; only the long-lived fetch
    * cursor stays). Deadline = auth time + 90% of the advertised lifetime,
    * the official client's windowing idea without its jitter (determinism
    * over a double matters more here). */
  private val sessionDeadlines = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataOutputStream, java.lang.Long]())

  /** Re-authenticate in place (SaslHandshake + SaslAuthenticate over the
    * SAME socket, interleaved between normal requests — the KIP-368 client
    * flow) when this connection's session deadline passed. Long-lived
    * connections (the fetch cursor) call this before each request; without
    * it a streaming read against a broker with connections.max.reauth.ms
    * set dies mid-stream. Test seam: `consumer.sasl.disable.reauth=true`
    * lets a spec PROVE the broker-side kill is real. */
  private def maybeReauth(in: DataInputStream, out: DataOutputStream): Unit = {
    if (!useSasl) return
    val d = sessionDeadlines.get(out)
    if (d != null && System.currentTimeMillis() >= d) authenticate(in, out)
  }

  /** SCRAM client exchange (RFC 5802, SHA-256/512 parameterization per
    * RFC 7677), carried in SaslAuthenticate frames exactly as Kafka's
    * ScramSaslClient does — the default managed-Kafka SASL mechanism after
    * PLAIN (librdkafka, and hence the reference, inherits it from the same
    * config seam, tests/utils.rs:261-285). Three legs:
    *   C: `n,,n=user,r=cnonce`
    *   S: `r=cnonce+snonce,s=b64(salt),i=iterations`
    *   C: `c=biws,r=nonce,p=b64(ClientProof)` with
    *      ClientProof = ClientKey XOR HMAC(H(ClientKey), AuthMessage)
    *   S: `v=b64(ServerSignature)` — VERIFIED here (mutual auth: a server
    *      that never held the credentials cannot forge it).
    * Passwords are raw UTF-8 (Kafka's SaslPrep is the identity for the
    * ASCII passwords it documents); usernames get the =2C/=3D escapes. */
  private def scramAuthenticate(in: DataInputStream, out: DataOutputStream,
      shaAlgo: String, user: String, password: String): Long = {
    val b64e = java.util.Base64.getEncoder
    val b64d = java.util.Base64.getDecoder
    val hmacAlgo = "Hmac" + shaAlgo.replace("-", "")
    def hmac(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
      val m = javax.crypto.Mac.getInstance(hmacAlgo)
      m.init(new javax.crypto.spec.SecretKeySpec(key, hmacAlgo))
      m.doFinal(data)
    }
    def digest(data: Array[Byte]): Array[Byte] =
      java.security.MessageDigest.getInstance(shaAlgo).digest(data)
    val saslUser = user.replace("=", "=3D").replace(",", "=2C")
    val nb = new Array[Byte](18)
    new java.security.SecureRandom().nextBytes(nb)
    val cnonce = b64e.withoutPadding.encodeToString(nb)
    val clientFirstBare = s"n=$saslUser,r=$cnonce"
    val serverFirst = new String(
      saslRound(in, out, ("n,," + clientFirstBare).getBytes("UTF-8"))._1, "UTF-8")
    val attrs = serverFirst.split(",").collect {
      case a if a.length >= 2 && a.charAt(1) == '=' =>
        a.substring(0, 1) -> a.substring(2)
    }.toMap
    val nonce = attrs.getOrElse("r", throw new IOException(
      s"kafka SCRAM server-first missing nonce: '$serverFirst'"))
    if (!nonce.startsWith(cnonce))
      throw new IOException("kafka SCRAM server nonce does not extend the " +
        "client nonce — replayed or tampered exchange")
    val salt = b64d.decode(attrs.getOrElse("s", throw new IOException(
      s"kafka SCRAM server-first missing salt: '$serverFirst'")))
    val iterations = attrs.getOrElse("i", "0").toInt
    if (iterations < 1)
      throw new IOException(s"kafka SCRAM iteration count $iterations invalid")
    val keyBits = if (shaAlgo == "SHA-512") 512 else 256
    val salted = javax.crypto.SecretKeyFactory
      .getInstance("PBKDF2WithHmac" + shaAlgo.replace("-", ""))
      .generateSecret(new javax.crypto.spec.PBEKeySpec(
        password.toCharArray, salt, iterations, keyBits))
      .getEncoded
    val clientKey = hmac(salted, "Client Key".getBytes("UTF-8"))
    val clientFinalNoProof = s"c=biws,r=$nonce" // biws = b64("n,,")
    val authMessage = (clientFirstBare + "," + serverFirst + "," +
      clientFinalNoProof).getBytes("UTF-8")
    val clientSig = hmac(digest(clientKey), authMessage)
    val proof = clientKey.zip(clientSig).map { case (a, b) => (a ^ b).toByte }
    // the lifetime rides the FINAL SaslAuthenticate leg (the broker arms
    // the session only once authentication completes)
    val (serverFinalBytes, lifetimeMs) = saslRound(in, out,
      (clientFinalNoProof + ",p=" + b64e.encodeToString(proof))
        .getBytes("UTF-8"))
    val serverFinal = new String(serverFinalBytes, "UTF-8")
    val serverSig = hmac(hmac(salted, "Server Key".getBytes("UTF-8")), authMessage)
    val v = serverFinal.split(",").find(_.startsWith("v="))
      .getOrElse(throw new IOException(
        s"kafka SCRAM server-final missing verifier: '$serverFinal'"))
    if (!java.security.MessageDigest.isEqual(b64d.decode(v.drop(2)), serverSig))
      throw new IOException("kafka SCRAM server signature mismatch — the " +
        "broker does not hold these credentials (mutual auth failed)")
    lifetimeMs
  }

  /** The (name, api key, pinned version) dialect this client speaks with
    * NO flexible twin — only the SASL handshake pair, which must be
    * verified at preflight time because authentication happens before any
    * other API can run. Every other API negotiates between its pinned
    * version and its flexible (KIP-482) one through [[pickVersion]]: the
    * hot read path ([[HotPath]]) eagerly in [[preflight]], the rest lazily
    * at first use — so a configuration that never touches an API never
    * fails on its ranges, and one that does gets a NAMED version error
    * instead of a raw wire parse failure. */
  private def pinnedApis: Seq[(String, Short, Short)] =
    if (useSasl) Seq[(String, Short, Short)](
      ("SaslHandshake", ApiSaslHandshake, 1),
      ("SaslAuthenticate", ApiSaslAuthenticate, 0)) else Nil

  /** The read path's (name, api key, pinned, flexible) versions, checked
    * eagerly by the preflight and re-derived from [[brokerRanges]] on every
    * use. */
  private val HotPath = Seq[(String, Short, Short, Short)](
    ("Metadata", ApiMetadata, 0, 9),
    ("Fetch", ApiFetch, 4, 12),
    ("ListOffsets", ApiListOffsets, 2, 6))
  private def hotVersion(k: Short): Short = HotPath.collectFirst {
    case (name, `k`, pinned, flexible) => pickVersion(name, k, pinned, flexible)
  }.get

  @volatile private var preflighted = false
  /** The broker's advertised version ranges (preflight outcome); None both
    * before the preflight and for a pre-0.10 broker that errors the
    * ApiVersions request itself — in either case the pinned versions
    * apply (the oldest versions such a broker speaks anyway). */
  @volatile private var brokerRanges: Option[Map[Short, (Short, Short)]] = None

  /** Highest mutually-spoken version of one API: the flexible (KIP-482)
    * version when the broker serves it, the pinned pre-flexible one when it
    * does not, a NAMED error when it serves neither — and the pinned one
    * when `ranges` is None (before the preflight, or a pre-0.10 broker
    * with no ApiVersions at all). */
  private def pickVersion(name: String, k: Short, pinned: Short,
      flexible: Short,
      ranges: Option[Map[Short, (Short, Short)]] = brokerRanges): Short =
    ranges match {
      case None => pinned
      case Some(rs) =>
        def serves(v: Short): Boolean =
          rs.get(k).exists { case (lo, hi) => v >= lo && v <= hi }
        if (serves(flexible)) flexible
        else if (serves(pinned)) pinned
        else rs.get(k) match {
          case Some((lo, hi)) => throw new IOException(
            s"kafka broker serves $name [$lo, $hi]; this client speaks " +
              s"v$pinned (non-flexible) and v$flexible (flexible) only")
          case None => throw new IOException(
            s"kafka broker does not expose api $k ($name)")
        }
    }

  /** ApiVersions preflight on the first connection — sent before SASL,
    * exactly where real clients send it (brokers serve it pre-auth so
    * clients can negotiate handshake versions). v0 goes first because a
    * pre-0.10 broker closes the connection on versions it never knew,
    * while every later broker answers v0 fine; when the broker serves
    * ApiVersions v3, the flexible form is round-tripped on the same
    * connection too (≡ KIP-511's upgrade) and must advertise the same
    * ranges. The hot read path is then negotiated EAGERLY, so a broker
    * serving neither dialect of Metadata, Fetch or ListOffsets fails with
    * a named error on the first connection, not a raw wire parse error
    * mid-read; the SASL pair must serve its pinned versions. A broker that
    * errors the request itself (pre-0.10 vintage) skips the check. */
  private def preflight(in: DataInputStream, out: DataOutputStream): Unit = {
    def apiVersions(v: Short): (Short, Map[Short, (Short, Short)]) = {
      val r = roundTrip(in, out, ApiApiVersions, v) { w =>
        if (w.version >= 3) w.string("graft").string("0.1") // client software
        w.tags()
      }
      val err = r.int16()
      if (err != 0) (err, Map.empty)
      else (err, r.array {
        val k = r.int16(); val lo = r.int16(); val hi = r.int16()
        r.tags()
        k -> ((lo, hi))
      }.toMap)
    }
    val (err, ranges) = apiVersions(0)
    if (err != 0) { preflighted = true; return }
    def serves(k: Short, v: Short): Boolean =
      ranges.get(k).exists { case (lo, hi) => v >= lo && v <= hi }
    if (serves(ApiApiVersions, 3)) {
      val (err3, ranges3) = apiVersions(3)
      if (err3 != 0)
        throw new IOException("kafka ApiVersions v3 failed with error " +
          s"$err3 after the broker advertised [${ranges(ApiApiVersions)._1}," +
          s" ${ranges(ApiApiVersions)._2}] for api 18")
      if (ranges3 != ranges)
        throw new IOException("kafka ApiVersions v0 and v3 advertise " +
          "different ranges — refusing to negotiate against an " +
          s"inconsistent broker (v0: $ranges, v3: $ranges3)")
    }
    HotPath.foreach { case (name, k, pinned, flexible) =>
      pickVersion(name, k, pinned, flexible, Some(ranges))
    }
    brokerRanges = Some(ranges)
    val bad = pinnedApis.flatMap { case (name, k, v) =>
      ranges.get(k) match {
        case Some((lo, hi)) if v >= lo && v <= hi => None
        case Some((lo, hi)) => Some(s"$name v$v (broker serves [$lo, $hi])")
        case None => Some(s"$name v$v (broker does not expose api $k)")
      }
    }
    if (bad.nonEmpty)
      throw new IOException("kafka broker rejects this client's pinned " +
        s"protocol dialect: ${bad.mkString("; ")} — the graft kafka client " +
        "speaks fixed pre-flexible request versions for these APIs")
    preflighted = true
  }

  /** one configured connection, one request/response (planning-side). */
  private[replay] def oneShot(addr: String, apiKey: Short, apiVersion: Short,
      body: Array[Byte]): DataInputStream = {
    val (s, in, out) = open(addr)
    try request(in, out, apiKey, apiVersion, body)
    finally s.close() // response fully buffered by request()
  }

  /** [[oneShot]] at a version chosen by the caller, body and response
    * through the version-bound writer/reader. */
  private def oneShotAt(addr: String, apiKey: Short, apiVersion: Short)
      (body: WireWriter => Unit): WireReader = {
    val w = new WireWriter(apiKey, apiVersion)
    body(w)
    new WireReader(oneShot(addr, apiKey, apiVersion, w.toByteArray),
      apiKey, apiVersion)
  }

  /** One-shot with LAZY version negotiation: opens the connection first
    * (forcing the preflight on a fresh client), THEN picks the version and
    * builds the version-dependent body — a body built before negotiation
    * would be framed as the just-negotiated version. Returns (negotiated
    * version, response). */
  private[replay] def oneShotVersioned(addr: String, name: String,
      apiKey: Short, pinned: Short, flexible: Short)
      (body: Short => Array[Byte]): (Short, DataInputStream) = {
    val (s, in, out) = open(addr)
    try {
      val v = pickVersion(name, apiKey, pinned, flexible)
      (v, request(in, out, apiKey, v, body(v)))
    } finally s.close()
  }

  /** [[oneShotVersioned]] through the version-bound writer/reader: the
    * shape every negotiated API call below takes. */
  private[replay] def call(addr: String, name: String, apiKey: Short,
      pinned: Short, flexible: Short)(body: WireWriter => Unit): WireReader = {
    val (v, in) = oneShotVersioned(addr, name, apiKey, pinned, flexible) { v =>
      val w = new WireWriter(apiKey, v)
      body(w)
      w.toByteArray
    }
    new WireReader(in, apiKey, v)
  }

  // ---- admin ---------------------------------------------------------------

  /** CreateTopics (api 19, v0 or the flexible v5) — the admin call the
    * reference's test harness makes before producing (rdkafka AdminClient
    * create_topics, `tests/utils.rs:104-117`): create each
    * (name, partitions) with replication factor 1 (single node),
    * broker-assigned replicas, no configs. Throws with the NAMED Kafka
    * error on any per-topic failure — a topic that silently failed to
    * create would surface later as an UNKNOWN_TOPIC produce error, far
    * from the cause. */
  def createTopics(topics: Seq[(String, Int)], timeoutMs: Int = 30000): Unit = {
    val r = call(bootstrap, "CreateTopics", ApiCreateTopics, 0, 5) { w =>
      w.array(topics) { case (name, partitions) =>
        w.string(name).int32(partitions)
          .int16(1)             // replication_factor (single-node)
          .arrayLen(0)          // assignments: broker assigns
          .arrayLen(0)          // configs: defaults
          .tags()
      }
      w.int32(timeoutMs)
      if (w.version >= 1) w.bool(false) // validate_only
      w.tags()
    }
    if (r.version >= 2) r.int32() // throttle_time_ms
    val failed = r.array {
      val name = r.string()
      val err = r.int16()
      if (r.version >= 1) r.string() // error_message
      if (r.version >= 5) {
        r.int32(); r.int16()    // num_partitions, replication_factor
        r.array { r.string(); r.string(); r.bool(); r.int8(); r.bool(); r.tags() }
      }
      r.tags()
      (name, err)
    }.filter(_._2 != 0)
    if (failed.nonEmpty) {
      val named = failed.map { case (t, e) =>
        val name = e match {
          case 3 => "UNKNOWN_TOPIC_OR_PARTITION"
          case 36 => "TOPIC_ALREADY_EXISTS"
          case 37 => "INVALID_PARTITIONS"
          case 38 => "INVALID_REPLICATION_FACTOR"
          case 42 => "INVALID_REQUEST"
          case other => s"error $other"
        }
        s"'$t' -> $name"
      }
      throw new IOException(s"kafka CreateTopics failed: ${named.mkString(", ")}")
    }
  }

  /** DeleteTopics (api 20, v0 or the flexible v5) — CreateTopics' dual,
    * completing the rdkafka AdminClient lifecycle the reference harness
    * links (create_topics, tests/utils.rs:104-117; deletion is how that
    * harness tears down). Throws the NAMED Kafka error on any per-topic
    * failure — deleting a topic that does not exist answers
    * UNKNOWN_TOPIC_OR_PARTITION, never silence. */
  def deleteTopics(names: Seq[String], timeoutMs: Int = 30000): Unit = {
    val r = call(bootstrap, "DeleteTopics", ApiDeleteTopics, 0, 5) { w =>
      w.array(names)(w.string).int32(timeoutMs).tags()
    }
    if (r.version >= 1) r.int32() // throttle_time_ms
    val failed = r.array {
      val name = r.string()
      val err = r.int16()
      if (r.version >= 5) r.string() // error_message
      r.tags()
      (name, err)
    }.filter(_._2 != 0)
    if (failed.nonEmpty) {
      val named = failed.map { case (t, e) =>
        val name = e match {
          case 3 => "UNKNOWN_TOPIC_OR_PARTITION"
          case 29 => "TOPIC_AUTHORIZATION_FAILED"
          case 42 => "INVALID_REQUEST"
          case other => s"error $other"
        }
        s"'$t' -> $name"
      }
      throw new IOException(s"kafka DeleteTopics failed: ${named.mkString(", ")}")
    }
  }

  /** DeleteRecords (api 21, v1 or the flexible v2) — advance a
    * partition's log-start offset, truncating everything below it: the
    * rdkafka AdminClient's delete_records, the log-surgery call an
    * operator uses to reclaim space or unstick a consumer. Per-partition
    * target offset; -1 means "truncate to the high watermark". Returns the
    * new low watermark per partition. A real broker's post-conditions —
    * which the double reproduces and KafkaProduceSpec pins — are that
    * ListOffsets earliest MOVES to the low watermark and a fetch below it
    * answers OFFSET_OUT_OF_RANGE. Named per-partition failures: deleting
    * past the high watermark is OFFSET_OUT_OF_RANGE; an unknown
    * topic/partition answers UNKNOWN_TOPIC_OR_PARTITION. */
  def deleteRecords(offsets: Map[Int, Long],
      timeoutMs: Int = 30000): Map[Int, Long] = {
    if (offsets.isEmpty) return Map.empty
    val r = call(bootstrap, "DeleteRecords", ApiDeleteRecords, 1, 2) { w =>
      w.arrayLen(1).string(topic)
      w.array(offsets.toSeq.sortBy(_._1)) { case (p, off) =>
        w.int32(p).int64(off).tags()
      }
      w.tags().int32(timeoutMs).tags()
    }
    r.int32()                   // throttle_time_ms
    var lows = Map.empty[Int, Long]
    var failed = List.empty[(Int, Short)]
    r.array {
      val name = r.string()
      r.array {
        val p = r.int32()
        val low = r.int64()
        val err = r.int16()
        r.tags()
        if (err != 0) failed ::= (p, err)
        else if (name == topic) lows += p -> low
      }
      r.tags()
    }
    r.tags()
    if (failed.nonEmpty) {
      val named = failed.reverse.map { case (p, e) =>
        val n = e match {
          case 1 => "OFFSET_OUT_OF_RANGE"
          case 3 => "UNKNOWN_TOPIC_OR_PARTITION"
          case 44 => "POLICY_VIOLATION"
          case other => s"error $other"
        }
        s"p$p -> $n"
      }
      throw new IOException(
        s"kafka DeleteRecords failed: ${named.mkString(", ")}")
    }
    lows
  }

  /** DeleteGroups (api 42, v1 or the flexible v2) — remove consumer
    * groups and their committed offsets wholesale: OffsetDelete's
    * group-level sibling and the last call of the rdkafka AdminClient
    * surface the reference links. Groups are routed to their own
    * coordinator (FindCoordinator per group, batched per address) like the
    * official client. Named failures: a group with LIVE members answers
    * NON_EMPTY_GROUP — membership is never yanked; an unknown group
    * answers GROUP_ID_NOT_FOUND. */
  def deleteGroups(groups: Seq[String]): Unit = {
    if (groups.isEmpty) return
    val failed = scala.collection.mutable.ListBuffer.empty[(String, Short)]
    groups.groupBy(coordinator).foreach { case (addr, gs) =>
      val r = call(addr, "DeleteGroups", ApiDeleteGroups, 1, 2) { w =>
        w.array(gs)(w.string).tags()
      }
      r.int32()                 // throttle_time_ms
      r.array {
        val gid = r.string()
        val err = r.int16()
        r.tags()
        if (err != 0) failed += ((gid, err))
      }
      r.tags()
    }
    if (failed.nonEmpty) {
      val named = failed.map { case (g, e) =>
        val n = e match {
          case 68 => "NON_EMPTY_GROUP"
          case 69 => "GROUP_ID_NOT_FOUND"
          case 30 => "GROUP_AUTHORIZATION_FAILED"
          case other => s"error $other"
        }
        s"'$g' -> $n"
      }
      throw new IOException(
        s"kafka DeleteGroups failed: ${named.mkString(", ")}")
    }
  }

  /** OffsetDelete (api 47, v0 — its only version; KIP-496) — drop a
    * group's committed offsets for the given partitions of the bootstrap
    * topic. The administrative reset an operator runs before re-consuming
    * from scratch. Named failures: a group the coordinator has never seen
    * answers GROUP_ID_NOT_FOUND; a group whose live members still
    * subscribe to the topic refuses per-partition with
    * GROUP_SUBSCRIBED_TO_TOPIC — offsets of an ACTIVE subscription are
    * never yanked out from under it. */
  def offsetDelete(group: String, partitions: Seq[Int]): Unit = {
    val r = oneShotAt(coordinator(group), ApiOffsetDelete, 0) { w =>
      w.string(group)
      w.arrayLen(1).string(topic).array(partitions)(w.int32)
    }
    val gerr = r.int16()
    if (gerr == 69)
      throw new IOException(
        s"kafka OffsetDelete: GROUP_ID_NOT_FOUND for '$group'")
    if (gerr != 0)
      throw new IOException(s"kafka OffsetDelete error $gerr for '$group'")
    r.int32()                   // throttle_time_ms (after error: KIP-496)
    val failed = r.array {
      val name = r.string()
      r.array((name, r.int32(), r.int16()))
    }.flatten.filter(_._3 != 0)
    if (failed.nonEmpty) {
      val named = failed.map { case (t, p, e) =>
        val n = e match {
          case 86 => "GROUP_SUBSCRIBED_TO_TOPIC"
          case 3 => "UNKNOWN_TOPIC_OR_PARTITION"
          case other => s"error $other"
        }
        s"$t/$p -> $n"
      }
      throw new IOException(
        s"kafka OffsetDelete failed: ${named.mkString(", ")}")
    }
  }

  /** One group's DescribeGroups (api 15) view: Kafka state name
    * (Stable/Empty/PreparingRebalance/CompletingRebalance, or Dead for an
    * unknown group), protocol type, and the live member ids. */
  final case class GroupInfo(state: String, protocolType: String,
      members: Seq[String])

  /** DescribeGroups (api 15, v0 or the flexible v5) — the admin view of
    * consumer-group membership (state machine + member roster) that
    * rdkafka's AdminClient and every ops dashboard polls. An unknown group
    * is NOT an error on the wire: real brokers answer state "Dead"; this
    * client surfaces exactly that. */
  def describeGroups(groups: Seq[String]): Map[String, GroupInfo] = {
    val addr = groups.headOption.map(coordinator).getOrElse(bootstrap)
    val r = call(addr, "DescribeGroups", ApiDescribeGroups, 0, 5) { w =>
      w.array(groups)(w.string)
      if (w.version >= 3) w.bool(false) // include_authorized_operations
      w.tags()
    }
    if (r.version >= 1) r.int32() // throttle_time_ms
    r.array {
      val err = r.int16()
      val gid = r.string()
      val state = r.string()
      val ptype = r.string()
      r.string()                // protocol_data
      val members = r.array {
        val mid = r.string()
        if (r.version >= 4) r.string() // group_instance_id
        r.string(); r.string()  // client_id, client_host
        r.bytes(); r.bytes()    // member_metadata, member_assignment
        r.tags()
        mid
      }
      if (r.version >= 3) r.int32() // authorized_operations
      r.tags()
      if (err != 0)
        throw new IOException(s"kafka DescribeGroups error $err for '$gid'")
      gid -> GroupInfo(state, ptype, members)
    }.toMap
  }

  /** ListGroups (api 16, v0 or the flexible v4) — enumerate the broker's
    * consumer groups; v4 carries per-group state and an optional
    * states filter. On a vintage (v0) broker the state comes back "" —
    * the field does not exist there, recorded honestly. */
  def listGroups(states: Seq[String] = Nil): Seq[(String, String)] = {
    val r = call(bootstrap, "ListGroups", ApiListGroups, 0, 4) { w =>
      if (w.version >= 4) w.array(states)(w.string) // states_filter
      w.tags()
    }
    if (r.version >= 1) r.int32() // throttle_time_ms
    val err = r.int16()
    if (err != 0) throw new IOException(s"kafka ListGroups error $err")
    r.array {
      val gid = r.string()
      r.string()                // protocol_type
      val state = if (r.version >= 4) r.string() else ""
      r.tags()
      (gid, state)
    }
  }

  /** One topic config's effective state as DescribeConfigs reports it:
    * value, source (5 = static default, 1 = dynamic topic override),
    * read-only flag, sensitivity. */
  final case class ConfigEntry(value: String, source: Int,
      readOnly: Boolean, sensitive: Boolean)

  /** DescribeConfigs (api 32, pinned v1 or the flexible v4): the effective
    * topic configs — every config when `keys` is empty, else the requested
    * subset. The remaining rdkafka AdminClient read surface after the
    * round-15/16 admin tail (every ops dashboard reads configs). */
  def describeConfigs(topicName: String,
      keys: Seq[String] = Nil): Map[String, ConfigEntry] = {
    val r = call(bootstrap, "DescribeConfigs", ApiDescribeConfigs, 1, 4) { w =>
      w.arrayLen(1).int8(2)     // resource_type: TOPIC
      w.string(topicName)
      if (keys.isEmpty) w.arrayLen(-1) // null = all configs
      else w.array(keys)(w.string)
      w.tags()
      w.bool(false)             // include_synonyms
      if (w.version >= 3) w.bool(false) // include_documentation
      w.tags()
    }
    r.int32()                   // throttle_time_ms
    val nRes = r.arrayLen()
    require(nRes == 1, s"expected one resource result, got $nRes")
    val err = r.int16()
    val msg = r.string()
    r.int8()                    // resource_type
    val rname = r.string()
    if (err != 0)
      throw new IOException(
        s"kafka DescribeConfigs error $err for topic '$rname'" +
          Option(msg).fold("")(m => s": $m"))
    r.array {
      val key = r.string()
      val value = r.string()
      val readOnly = r.bool()
      val source = r.int8().toInt // config_source
      val sensitive = r.bool()
      r.array { r.string(); r.string(); r.int8(); r.tags() } // synonyms
      if (r.version >= 3) { r.int8(); r.string() } // config_type, documentation
      r.tags()
      key -> ConfigEntry(value, source, readOnly, sensitive)
    }.toMap
  }

  /** IncrementalAlterConfigs (api 44, pinned v0 or the flexible v1):
    * apply (key, op, value) ops to a topic's dynamic config — op 0 SET,
    * 1 DELETE, 2 APPEND, 3 SUBTRACT (list configs only). Per-resource
    * errors surface as named exceptions (INVALID_CONFIG 40 for unknown
    * keys/bad values, never a silent no-op). */
  def incrementalAlterConfigs(topicName: String,
      ops: Seq[(String, Int, String)],
      validateOnly: Boolean = false): Unit = {
    val r = call(bootstrap, "IncrementalAlterConfigs",
      ApiIncrementalAlterConfigs, 0, 1) { w =>
      w.arrayLen(1).int8(2)     // resource_type: TOPIC
      w.string(topicName)
      w.array(ops) { case (key, op, value) =>
        w.string(key).int8(op).string(value).tags()
      }
      w.tags().bool(validateOnly).tags()
    }
    r.int32()                   // throttle_time_ms
    r.array {
      val err = r.int16()
      val msg = r.string()
      r.int8()                  // resource_type
      val rname = r.string()
      r.tags()
      if (err != 0)
        throw new IOException(
          s"kafka IncrementalAlterConfigs error $err for topic '$rname'" +
            Option(msg).fold("")(m => s": $m"))
    }
  }

  // ---- metadata ------------------------------------------------------------

  private case class Meta(brokers: Map[Int, String], leaders: Map[Int, Int])

  /** Metadata for this client's topic: broker address book + partition
    * leaders. The version is picked BEFORE the one-shot opens its
    * connection, so a fresh client's very first Metadata request goes out
    * at the pinned v0 (the preflight runs inside that open); every later
    * one uses the negotiated version. */
  private def fetchMeta(): Meta = {
    val r = oneShotAt(bootstrap, ApiMetadata, hotVersion(ApiMetadata)) { w =>
      w.array(Seq(topic)) { t => w.string(t).tags() }
      if (w.version >= 4) w.bool(false) // allow_auto_topic_creation
      if (w.version >= 8)       // include_{cluster,topic}_authorized_operations
        w.bool(false).bool(false)
      w.tags()
    }
    if (r.version >= 3) r.int32() // throttle_time_ms
    val brokers = r.array {
      val id = r.int32(); val host = r.string(); val port = r.int32()
      if (r.version >= 1) r.string() // rack
      r.tags()
      id -> s"$host:$port"
    }.toMap
    if (r.version >= 2) r.string() // cluster_id
    if (r.version >= 1) r.int32() // controller_id
    var leaders = Map.empty[Int, Int]
    r.array {
      val err = r.int16(); val name = r.string()
      if (r.version >= 1) r.bool() // is_internal
      if (err != 0)
        throw new IOException(s"kafka metadata error $err for topic '$name'")
      r.array {
        val perr = r.int16(); val pid = r.int32(); val leader = r.int32()
        if (r.version >= 7) r.int32() // leader_epoch
        r.array(r.int32())      // replicas
        r.array(r.int32())      // isr
        if (r.version >= 5) r.array(r.int32()) // offline_replicas
        r.tags()
        if (perr != 0)
          throw new IOException(s"kafka metadata error $perr for $name/$pid")
        if (name == topic) leaders += pid -> leader
      }
      if (r.version >= 8) r.int32() // topic_authorized_operations
      r.tags()
    }
    if (r.version >= 8 && r.version <= 10) r.int32() // cluster_authorized_operations
    r.tags()
    if (leaders.isEmpty)
      throw new IOException(s"kafka topic '$topic' has no partitions at $bootstrap")
    Meta(brokers, leaders)
  }

  private def leaderAddr(meta: Meta, p: Int): String =
    meta.brokers.getOrElse(meta.leaders.getOrElse(p,
        throw new IOException(s"kafka partition $topic/$p unknown")),
      throw new IOException(s"kafka leader for $topic/$p not in broker list"))

  // ---- LogClient surface ---------------------------------------------------

  override def listPartitions(): Seq[Int] = fetchMeta().leaders.keys.toSeq.sorted

  /** ListOffsets at `ts` (−1 latest, −2 earliest) against the leader, over
    * the negotiated version (pinned v2 or flexible v6, which adds
    * current_leader_epoch, −1 = unknown). Both are ISOLATION-AWARE (v2 was
    * the first): under read_committed the "latest" offset is the LAST
    * STABLE OFFSET, so every planned micro-batch range ends at
    * transactionally-decided data — a range can never include records of a
    * still-open transaction. */
  private def listOffset(p: Int, ts: Long): Long =
    listOffsetRaw(p, ts) match {
      case off if off >= 0 => off
      case _ => throw new IOException(s"kafka ListOffsets missing $topic/$p")
    }

  /** ListOffsets by REAL timestamp (KIP-79 semantics the v6 path always
    * accepted but no lane exercised — VERDICT r16 #8): the earliest offset
    * whose record timestamp is >= `tsMs`, None when the log holds no such
    * record. Works over both dialects (the broker double resolves v2 and
    * v6 identically). */
  override def offsetForTimestamp(p: Int, tsMs: Long): Option[Long] = {
    require(tsMs >= 0, s"offsetForTimestamp needs a real timestamp, got $tsMs")
    val off = listOffsetRaw(p, tsMs)
    if (off < 0) None else Some(off)
  }

  private def listOffsetRaw(p: Int, ts: Long): Long = {
    val addr = leaderAddr(fetchMeta(), p)
    val r = oneShotAt(addr, ApiListOffsets, hotVersion(ApiListOffsets)) { w =>
      w.int32(-1)               // replica_id: consumer
      if (w.version >= 2) w.int8(if (readCommitted) 1 else 0) // isolation_level
      w.arrayLen(1).string(topic).arrayLen(1).int32(p)
      if (w.version >= 4) w.int32(-1) // current_leader_epoch: unknown
      w.int64(ts).tags().tags().tags()
    }
    var result = -1L
    if (r.version >= 2) r.int32() // throttle_time_ms
    r.array {
      val name = r.string()
      r.array {
        val pid = r.int32(); val err = r.int16()
        r.int64()               // timestamp
        val off = r.int64()
        if (r.version >= 4) r.int32() // leader_epoch
        r.tags()
        if (err != 0)
          throw new IOException(
            s"kafka ListOffsets error $err for $name/$pid")
        if (name == topic && pid == p) result = off
      }
      r.tags()
    }
    result // -1 = no answer (timestamp past the log end, or topic missing)
  }

  override def endOffset(p: Int): Long = listOffset(p, -1L)
  /** Earliest readable offset — the log-start / DeleteRecords low
    * watermark (ListOffsets timestamp -2). */
  def startOffset(p: Int): Long = listOffset(p, -2L)
  override def recordCount(p: Int): Long =
    math.max(0L, listOffset(p, -1L) - listOffset(p, -2L))
  override def sizeInBytes(p: Int): Long = recordCount(p) * 1024L

  // ---- consumer-group offset commit-back -----------------------------------
  // FindCoordinator v0/v3 (api 10) + OffsetCommit v2/v8 (api 8) +
  // OffsetFetch v1/v6 (api 9): the ≡ of rdkafka's enable.auto.commit (reference
  // tests/utils.rs:272). Commit-back is ecosystem observability — external
  // lag monitors watching the group see this consumer's progress — while
  // the Spark checkpoint WAL stays the restart truth (the reference never
  // reads committed offsets back either; SURVEY §3.2).

  /** The group coordinator's address for `group` (a real cluster routes
    * group state to one broker; the bootstrap answers FindCoordinator,
    * v0 or the flexible v3 — v1+ adds key_type, 0 = consumer group). */
  private[replay] def coordinator(group: String): String = {
    val r = call(bootstrap, "FindCoordinator", ApiFindCoordinator, 0, 3) { w =>
      w.string(group)
      if (w.version >= 1) w.int8(0) // key_type: consumer group
      w.tags()
    }
    if (r.version >= 1) r.int32() // throttle_time_ms
    val err = r.int16()
    val errMsg = if (r.version >= 1) Option(r.string()) else None
    if (err != 0)
      throw new IOException(s"kafka FindCoordinator error $err for group " +
        s"'$group'${errMsg.fold("")(m => s": $m")}")
    r.int32()                   // node id
    val host = r.string()
    val port = r.int32()
    s"$host:$port"
  }

  override def commitOffsets(group: String, offsets: Map[Int, Long]): Unit =
    commitOffsetsAs(group, -1, "", offsets)

  /** OffsetCommit (v2 or the flexible v8) carrying an explicit
    * (generation, memberId) — -1/"" is the simple non-member consumer; the
    * membership seam passes its coordinator-issued identity so commits are
    * generation-fenced. */
  private[replay] def commitOffsetsAs(group: String, generation: Int,
      memberId: String, offsets: Map[Int, Long],
      groupInstanceId: String = null): Unit = {
    if (offsets.isEmpty) return
    val r = call(coordinator(group), "OffsetCommit", ApiOffsetCommit, 2, 8) { w =>
      w.string(group).int32(generation).string(memberId)
      if (w.version >= 7) w.string(groupInstanceId) // KIP-345 (null = dynamic)
      if (w.version >= 2 && w.version <= 4) w.int64(-1L) // retention: default
      w.arrayLen(1).string(topic)
      w.array(offsets.toSeq.sortBy(_._1)) { case (p, off) =>
        w.int32(p).int64(off)
        if (w.version >= 6) w.int32(-1) // committed_leader_epoch: not tracked
        w.string("").tags()     // committed_metadata
      }
      w.tags().tags()
    }
    if (r.version >= 3) r.int32() // throttle_time_ms
    r.array {
      val name = r.string()
      r.array {
        val pid = r.int32(); val err = r.int16()
        r.tags()
        if (err != 0)
          throw new IOException(
            s"kafka OffsetCommit error $err for $name/$pid group '$group'" +
              (if (generation != -1) s" (member $memberId gen $generation)"
               else ""))
      }
      r.tags()
    }
  }

  override def committedOffsets(group: String,
      parts: Seq[Int]): Map[Int, Long] = {
    if (parts.isEmpty) return Map.empty
    val r = call(coordinator(group), "OffsetFetch", ApiOffsetFetch, 1, 6) { w =>
      w.string(group)
      w.arrayLen(1).string(topic).array(parts.sorted)(w.int32).tags()
      w.tags()
    }
    if (r.version >= 3) r.int32() // throttle_time_ms
    var out = Map.empty[Int, Long]
    r.array {
      val name = r.string()
      r.array {
        val pid = r.int32(); val off = r.int64()
        if (r.version >= 5) r.int32() // committed_leader_epoch
        r.string()              // metadata
        val err = r.int16()
        r.tags()
        if (err != 0)
          throw new IOException(
            s"kafka OffsetFetch error $err for $name/$pid group '$group'")
        if (name == topic && off >= 0) out += pid -> off
      }
      r.tags()
    }
    if (r.version >= 2) {
      val topErr = r.int16()
      if (topErr != 0)
        throw new IOException(
          s"kafka OffsetFetch top-level error $topErr for group '$group'")
    }
    out
  }

  // ---- producer side --------------------------------------------------------
  // Produce v3 or the flexible v9 (api 0): the write half of the wire
  // dialect — v3 is the first version that carries RecordBatch v2 (the
  // format this client encodes) and the last before flexible headers. The
  // reference only produces in its test harness (populate_topic,
  // tests/utils.rs:156-212, an rdkafka FutureProducer); here the same
  // capability backs the graft-replay SINK (ReplayWrite), so a streaming
  // query can write its output back to a topic.

  /** Per-leader persistent produce connections (a sink task produces many
    * small batches; re-dialing + re-authenticating per call would dominate).
    * Guarded by this client instance — one sink DataWriter owns one client. */
  private var prodConns = Map.empty[String, (Socket, DataInputStream, DataOutputStream)]
  private var prodMeta: Meta = _

  /** Idempotence (`enable.idempotence=true`, librdkafka's knob): a producer
    * identity from InitProducerId (api 22 v0) plus a per-partition sequence
    * number stamped into every batch. Brokers track (pid, partition) →
    * last sequence range and ABSORB an exact retransmit (same offsets
    * acked, nothing re-appended), which upgrades the ambiguous-failure
    * retry below from at-least-once to exactly-once WITHIN this producer
    * session. Honest scope, same as the real client: a NEW session (task
    * restart) gets a new pid, so cross-restart duplicates remain possible
    * — full cross-session exactly-once needs transactions, which this
    * dialect does not speak. */
  /** `transactional.id` (librdkafka's knob) upgrades the producer to
    * TRANSACTIONS — the full exactly-once write path this dialect's
    * consume side already understands: InitProducerId registers the id,
    * [[beginTxn]] opens a transaction, produce stamps the transactional
    * attribute bit and lazily registers each partition via
    * AddPartitionsToTxn (api 24 v0 — Kafka has no wire "begin"; a txn
    * starts when its first partition is added), and [[endTxn]] asks the
    * coordinator to write COMMIT/ABORT control markers (EndTxn, api 26
    * v0). Until the commit marker lands, a read_committed consumer sees
    * nothing; an abort makes the produced records permanently invisible.
    * A transactional id implies idempotence, as in every real client. */
  private val transactionalId = conf.get("transactional.id")
  private val idempotent = transactionalId.isDefined ||
    conf.get("enable.idempotence").contains("true")
  private var producerId = -1L
  private var producerEpoch: Short = -1
  private val seqByPartition = scala.collection.mutable.Map.empty[Int, Int]
  private var txnOpen = false
  private val txnPartitions = scala.collection.mutable.Set.empty[Int]
  /** true once sendOffsetsToTxn staged offsets in the open txn — the txn
    * then has broker-side state even with zero data partitions, so EndTxn
    * must go to the wire (the local empty-txn resolution would leak the
    * staged offsets forever). */
  private var txnHasOffsets = false

  private def ensureProducerId(): Unit = if (idempotent && producerId < 0) {
    val r = call(bootstrap, "InitProducerId", ApiInitProducerId, 0, 2) { w =>
      w.string(transactionalId.orNull) // null: idempotence only
      // transaction.timeout.ms ≡ librdkafka's knob: the broker aborts (and
      // fences) a transaction left open past this — the liveness bound that
      // keeps a crashed writer from pinning the LSO forever
      w.int32(conf.get("transaction.timeout.ms").map(_.toInt)
        .getOrElse(60000))
      w.tags()
    }
    r.int32()                   // throttle_time_ms
    val err = r.int16()
    if (err != 0)
      throw new IOException(s"kafka InitProducerId error $err")
    producerId = r.int64()
    producerEpoch = r.int16()
  }

  /** Open a transaction. All subsequent [[produce]] calls belong to it
    * until [[endTxn]]. (Wire-wise this only fences local state — the
    * broker learns of the txn at the first AddPartitionsToTxn.) */
  def beginTxn(): Unit = synchronized {
    require(transactionalId.isDefined,
      "beginTxn requires producer transactional.id")
    require(!txnOpen, "a transaction is already open")
    ensureProducerId()
    txnPartitions.clear()
    txnHasOffsets = false
    txnOpen = true
  }

  /** AddPartitionsToTxn (v0 or the flexible v3): register `p` with the
    * coordinator as part of the open transaction (sent lazily on first
    * produce to `p`). */
  private def addPartitionToTxn(p: Int): Unit = {
    val r = call(bootstrap, "AddPartitionsToTxn", ApiAddPartitionsToTxn, 0, 3) { w =>
      w.string(transactionalId.get).int64(producerId).int16(producerEpoch)
      w.arrayLen(1).string(topic).arrayLen(1).int32(p).tags()
      w.tags()
    }
    r.int32()                   // throttle_time_ms
    r.array {
      val name = r.string()
      r.array {
        val pid = r.int32(); val err = r.int16()
        r.tags()
        if (err == 90) throw new IOException(
          s"kafka AddPartitionsToTxn error 90 for $name/$pid: producer " +
            s"fenced — a newer producer re-registered transactional.id " +
            s"'${transactionalId.get}'")
        if (err != 0) throw new IOException(
          s"kafka AddPartitionsToTxn error $err for $name/$pid")
      }
      r.tags()
    }
    txnPartitions += p
  }

  /** Commit CONSUMER offsets inside the open transaction — librdkafka's
    * send_offsets_to_transaction, the heart of the exactly-once
    * consume-transform-produce loop: the offsets become visible to
    * OffsetFetch atomically with the transaction's COMMIT marker (an
    * abort drops them), so "input consumed" and "output produced" are one
    * decision. Two wire steps, each speaking both dialects:
    * AddOffsetsToTxn (api 25, v0 or flexible v3) registers the group's
    * offsets topic with the transaction at the txn coordinator, then
    * TxnOffsetCommit (api 28, v0 or flexible v3) stages the offsets at
    * the GROUP coordinator under the producer's (pid, epoch) — a fenced
    * zombie is rejected at either step (90/47), an unregistered producer
    * with INVALID_TXN_STATE (48). The v3 frame carries the KIP-447
    * (generation, member) fields; this simple-consumer path sends
    * (-1, "") exactly like [[commitOffsets]]. */
  def sendOffsetsToTxn(group: String, offsets: Map[Int, Long]): Unit =
    synchronized {
      require(transactionalId.isDefined,
        "sendOffsetsToTxn requires producer transactional.id")
      require(txnOpen,
        "sendOffsetsToTxn must be called inside beginTxn()/endTxn()")
      if (offsets.isEmpty) return
      ensureProducerId()
      val ar = call(bootstrap, "AddOffsetsToTxn", ApiAddOffsetsToTxn, 0, 3) { w =>
        w.string(transactionalId.get).int64(producerId).int16(producerEpoch)
        w.string(group).tags()
      }
      ar.int32()                // throttle_time_ms
      val aerr = ar.int16()
      if (aerr == 90) throw new IOException(
        "kafka AddOffsetsToTxn error 90: producer fenced — a newer " +
          s"producer re-registered transactional.id '${transactionalId.get}'")
      if (aerr != 0)
        throw new IOException(s"kafka AddOffsetsToTxn error $aerr")
      // from here the broker HAS an open txn for this pid: EndTxn must go
      // to the wire even if the TxnOffsetCommit below fails and the
      // caller aborts
      txnHasOffsets = true
      val r = call(coordinator(group), "TxnOffsetCommit",
        ApiTxnOffsetCommit, 0, 3) { w =>
        w.string(transactionalId.get).string(group)
        w.int64(producerId).int16(producerEpoch)
        if (w.version >= 3)     // KIP-447 (generation, member, instance):
          w.int32(-1).string("").string(null) // the simple consumer
        w.arrayLen(1).string(topic)
        w.array(offsets.toSeq.sortBy(_._1)) { case (p, off) =>
          w.int32(p).int64(off)
          if (w.version >= 2) w.int32(-1) // committed_leader_epoch
          w.string("").tags()   // committed_metadata
        }
        w.tags().tags()
      }
      r.int32()                 // throttle_time_ms
      r.array {
        val name = r.string()
        r.array {
          val pid = r.int32(); val err = r.int16()
          r.tags()
          if (err == 47) throw new IOException(
            s"kafka TxnOffsetCommit error 47 for $name/$pid: producer " +
              "fenced — a newer producer re-registered transactional.id " +
              s"'${transactionalId.get}'")
          if (err != 0) throw new IOException(
            s"kafka TxnOffsetCommit error $err for $name/$pid group '$group'")
        }
        r.tags()
      }
    }

  /** EndTxn v0: commit (true) or abort (false) the open transaction — the
    * coordinator writes the control markers into every added partition.
    * On a single-broker cluster the bootstrap IS the coordinator; a
    * multi-broker dialect would resolve it via FindCoordinator key_type 1
    * first (the group path above shows the shape). */
  def endTxn(commit: Boolean): Unit = synchronized {
    require(txnOpen, "no open transaction to end")
    if (txnPartitions.isEmpty && !txnHasOffsets) {
      // Empty transaction: the coordinator only learns of a txn at the
      // first AddPartitionsToTxn/AddOffsetsToTxn, so an EndTxn here would
      // draw INVALID_TXN_STATE from a real broker. The Java client
      // resolves an empty commit/abort locally the same way. (Staged
      // offsets count as broker-side state: then EndTxn MUST go out.)
      txnOpen = false
      return
    }
    val r = call(bootstrap, "EndTxn", ApiEndTxn, 0, 3) { w =>
      w.string(transactionalId.get).int64(producerId).int16(producerEpoch)
      w.bool(commit).tags()
    }
    r.int32()                   // throttle_time_ms
    val err = r.int16()
    if (err == 90) throw new IOException(
      "kafka EndTxn error 90: producer fenced — a newer producer " +
        s"re-registered transactional.id '${transactionalId.get}' " +
        "(this zombie's open transaction was already aborted broker-side)")
    if (err != 0) throw new IOException(s"kafka EndTxn error $err")
    txnOpen = false
    txnPartitions.clear()
    txnHasOffsets = false
  }

  /** Append `recs` = (key, value, timestampMs) to `topic`/`p` as one
    * RecordBatch v2 (compressed per `codec`), acks=-1 (full ISR — the
    * strongest public durability setting), returning the broker-assigned
    * base offset. An ambiguous failure (request sent, response lost) is
    * retried ONCE on a fresh connection with the IDENTICAL wire batch:
    * with idempotence on, the broker recognizes the (pid, sequence) and
    * acks without re-appending — exactly-once within this session; without
    * it, the retry may duplicate (at-least-once, the default-config
    * librdkafka contract the reference inherits). */
  def produce(p: Int, recs: Seq[(Array[Byte], Array[Byte], Long)],
      codec: Int = 0): Long = synchronized {
    require(recs.nonEmpty, "kafka produce needs at least one record")
    if (transactionalId.isDefined) {
      require(txnOpen,
        "a transactional producer must produce inside beginTxn()/endTxn()")
      if (!txnPartitions.contains(p)) addPartitionToTxn(p)
    }
    ensureProducerId()
    val baseSeq = if (idempotent) seqByPartition.getOrElse(p, 0) else -1
    val recordSet =
      encodeRecordBatchV2(recs, codec, producerId, producerEpoch, baseSeq,
        transactional = transactionalId.isDefined)
    def attempt(): Long = {
      if (prodMeta == null) prodMeta = fetchMeta()
      // the Produce version is negotiated AFTER fetchMeta() forced the
      // preflight, and the envelope is built for it here: a body built
      // before negotiation would be framed as the just-negotiated version.
      // Same inputs, same bytes, so the ambiguous-failure retry resends
      // the IDENTICAL wire batch.
      val produceVersion = pickVersion("Produce", ApiProduce, 3, 9)
      val addr = leaderAddr(prodMeta, p)
      val (_, in, out) = prodConns.getOrElse(addr, {
        val c = open(addr); prodConns += addr -> c; c
      })
      val r = try roundTrip(in, out, ApiProduce, produceVersion) { w =>
        w.string(transactionalId.orNull) // null: non-transactional
        w.int16(-1)             // acks: all in-sync replicas
        w.int32(30000)          // timeout_ms
        w.arrayLen(1).string(topic).arrayLen(1).int32(p)
        w.bytes(recordSet).tags().tags()
        w.tags()
      } catch { case e: IOException =>
        // connection gone (broker bounce / leader move): drop cached state
        // so a retry re-resolves metadata and re-dials
        prodConns.get(addr).foreach(_._1.close()); prodConns -= addr
        prodMeta = null
        throw e
      }
      var base = -1L
      r.array {
        val name = r.string()
        r.array {
          val pid = r.int32(); val err = r.int16()
          val off = r.int64()
          r.int64()             // log_append_time
          if (r.version >= 5) r.int64() // log_start_offset
          if (r.version >= 8) {
            r.array { r.int32(); r.string(); r.tags() } // record_errors
            r.string()          // error_message
          }
          r.tags()
          if (err == 47)        // INVALID_PRODUCER_EPOCH
            throw new IOException("kafka produce error 47 for " +
              s"$name/$pid: producer fenced — a newer producer " +
              s"re-registered transactional.id '${transactionalId.orNull}'")
          if (err != 0)
            throw new IOException(s"kafka produce error $err for $name/$pid")
          if (name == topic && pid == p) base = off
        }
        r.tags()
      }
      if (base < 0)
        throw new IOException(s"kafka produce response missing $topic/$p")
      base
    }
    val base = try attempt() catch {
      // ambiguous only on transport failure (the broker may or may not have
      // appended); a NAMED produce error is a definitive reject — rethrown
      case e: IOException if !Option(e.getMessage).getOrElse("")
          .startsWith("kafka produce error") =>
        attempt()
    }
    if (idempotent) seqByPartition(p) = baseSeq + recs.size
    base
  }

  /** Close the persistent produce connections (sink task teardown). */
  def closeProducer(): Unit = synchronized {
    prodConns.valuesIterator.foreach(_._1.close())
    prodConns = Map.empty
    prodMeta = null
  }

  /** `isolation.level` ≡ the Kafka consumer config (librdkafka defaults to
    * read_committed, so the reference's rdkafka consumer never surfaces
    * aborted transactional data — this client matches): read_committed
    * hides records of aborted transactions and waits behind the last
    * stable offset; read_uncommitted reads everything. Control markers are
    * never surfaced in either mode. */
  private val readCommitted =
    conf.getOrElse("isolation.level", "read_committed") match {
      case "read_committed" => true
      case "read_uncommitted" => false
      case other => throw new IllegalArgumentException(
        s"unknown isolation.level '$other' " +
          "(read_committed, read_uncommitted)")
    }

  override def openFrames(p: Int, start: Long, needKey: Boolean,
      needValue: Boolean): FrameReader = new FrameReader {
    private var sock: Socket = _
    private var sin: DataInputStream = _
    private var sout: DataOutputStream = _
    // scan position: the next offset a Fetch resumes from. With
    // transactions in the log this advances past control markers and
    // aborted spans even when they decode to zero data records.
    private var nextOffset = start
    // decoded records of the current batch, pre-filtered to >= nextOffset
    private var pending: Iterator[(Long, Array[Byte], Array[Byte], Long)] =
      Iterator.empty
    var key: Array[Byte] = _
    var value: Array[Byte] = _
    var tsUs: Long = _
    private var lastOff = -1L
    override def frameOffset: Long = lastOff

    private def ensureConn(): Unit = if (sock == null) {
      val (s, in, out) = open(leaderAddr(fetchMeta(), p))
      sock = s; sin = in; sout = out
    }

    // spark-kafka's failOnDataLoss seam: with consumer.fail.on.data.loss
    // = false, a fetch below the log-start offset (DeleteRecords surgery
    // or retention truncation racing the reader) skips forward to the
    // earliest readable offset and continues — loudly — instead of
    // failing the task. Default TRUE: silent data loss is never the
    // default posture.
    private val failOnDataLoss =
      conf.getOrElse("fail.on.data.loss", "true") != "false"

    private def fetchMore(): Unit = {
      ensureConn()
      maybeReauth(sin, sout)
      val fetched =
        try Some(fetchOnce(hotVersion(ApiFetch)))
        catch {
          // EXACT per-partition error 1 — "fetch error 1 for t/p"; a
          // substring match on "error 1" would also swallow errors
          // 10-19/100+ and misclassify unrelated failures as truncation
          case e: IOException if !failOnDataLoss && e.getMessage != null &&
              e.getMessage.contains("fetch error 1 for") =>
            // OFFSET_OUT_OF_RANGE: confirm it is a truncation gap (the
            // earliest readable offset moved past our cursor), then skip —
            // WITHOUT refetching inline: the caller re-evaluates its
            // bounds first, so a truncation that swallowed the entire
            // remaining planned range ends the read gracefully
            // (readFrameBefore returns false) instead of EOF-crashing on
            // an empty fetch at the high watermark
            val earliest = startOffset(p)
            if (earliest <= nextOffset) throw e
            System.err.println(s"[graft-replay] DATA LOSS on $topic/$p: " +
              s"offsets [$nextOffset, $earliest) were truncated below the " +
              "log-start offset; skipping forward " +
              "(consumer.fail.on.data.loss=false)")
            nextOffset = earliest
            None
        }
      if (fetched.isEmpty) return
      val (recordSet, aborted) = fetched.get
      if (recordSet == null || recordSet.isEmpty)
        throw new EOFException(
          s"kafka fetch returned no data for $topic/$p at offset $nextOffset")
      val (recs, scanPos) = decodeBatchesTxn(recordSet, nextOffset,
        needKey, needValue, aborted, readCommitted)
      pending = recs
      nextOffset = math.max(scanPos, nextOffset)
    }

    // ---- KIP-227 fetch-session state (v7+) ---------------------------------
    // session_id 0 + epoch 0 opens a session on the first fetch; the broker
    // answers with a session id and every later fetch is INCREMENTAL
    // (advancing epoch, delta partition state). A broker that grants no
    // session answers id 0 and every fetch stays a full one. Cached-session
    // errors (70/71 — eviction, stale epoch) reset to a full fetch, the
    // librdkafka/Java-client fallback.
    private var fetchSessionId = 0
    private var fetchSessionEpoch = 0

    /** One Fetch of this cursor's partition from `nextOffset`: pinned v4 or
      * flexible v12, which adds the leader-epoch fields (sent as -1: no
      * epoch tracking), the session fields and log_start_offset. Returns
      * the partition's record set and aborted-transaction list. */
    private def fetchOnce(v: Short): (Array[Byte], Seq[AbortedTxn]) = {
      val epoch = fetchSessionEpoch
      val r = roundTrip(sin, sout, ApiFetch, v) { w =>
        w.int32(-1)             // replica_id
        w.int32(100)            // max_wait_ms
        w.int32(1)              // min_bytes
        w.int32(1 << 22)        // max_bytes (4 MiB)
        w.int8(if (readCommitted) 1 else 0) // isolation_level
        if (w.version >= 7) w.int32(fetchSessionId).int32(epoch)
        w.arrayLen(1).string(topic).arrayLen(1).int32(p)
        if (w.version >= 9) w.int32(-1) // current_leader_epoch
        w.int64(nextOffset)
        if (w.version >= 12) w.int32(-1) // last_fetched_epoch
        if (w.version >= 5) w.int64(-1L) // log_start_offset (consumers: -1)
        w.int32(1 << 22)        // partition_max_bytes
        w.tags().tags()
        if (w.version >= 7) w.arrayLen(0) // forgotten_topics_data
        if (w.version >= 11) w.string("") // rack_id
        w.tags()
      }
      r.int32()                 // throttle_time_ms
      if (r.version >= 7) {
        val topErr = r.int16()
        if (topErr == 70 || topErr == 71) {
          // FETCH_SESSION_ID_NOT_FOUND / INVALID_FETCH_SESSION_EPOCH: the
          // broker evicted (or never had) our session — drain the error
          // frame and retry ONCE as a session-opening full fetch
          r.int32()             // session_id
          if (r.arrayLen() > 0) throw new IOException(
            s"kafka fetch v$v session error $topErr carried topic data")
          if (epoch <= 0)       // the full fetch itself failed: broker bug
            throw new IOException(
              s"kafka fetch v$v session error $topErr on a full fetch")
          fetchSessionId = 0
          fetchSessionEpoch = 0
          return fetchOnce(v)
        }
        if (topErr != 0)
          throw new IOException(s"kafka fetch v$v top-level error $topErr")
        // a granted/kept session advances the epoch; id 0 = no session
        fetchSessionId = r.int32()
        fetchSessionEpoch = if (fetchSessionId == 0) 0 else epoch + 1
      }
      var recordSet: Array[Byte] = null
      var aborted: Seq[AbortedTxn] = Nil
      r.array {
        val name = r.string()
        r.array {
          val pid = r.int32(); val err = r.int16()
          r.int64()             // high_watermark
          r.int64()             // last_stable_offset
          if (r.version >= 5) r.int64() // log_start_offset
          val ab = r.array { val t = AbortedTxn(r.int64(), r.int64()); r.tags(); t }
          if (r.version >= 11) r.int32() // preferred_read_replica
          val bytes = r.bytes()
          r.tags()              // partition (diverging epoch etc. ride here)
          if (err != 0)
            throw new IOException(s"kafka fetch error $err for $name/$pid")
          if (name == topic && pid == p) {
            recordSet = if (bytes == null) Array.emptyByteArray else bytes
            aborted = ab
          }
        }
        r.tags()                // topic
      }
      r.tags()                  // response
      (recordSet, aborted)
    }

    override def readFrame(): Unit = {
      while (!pending.hasNext) fetchMore()
      emit(pending.next())
    }

    override def readFrameBefore(end: Long): Boolean = {
      while (!pending.hasNext) {
        if (nextOffset >= end) return false
        fetchMore()
      }
      val rec = pending.next()
      if (rec._1 >= end) {
        // the tail batch spanned the planned end: stop, leave the rest
        pending = Iterator.empty
        nextOffset = end
        return false
      }
      emit(rec)
      true
    }

    private def emit(rec: (Long, Array[Byte], Array[Byte], Long)): Unit = {
      val (off, k, v, tsMs) = rec
      nextOffset = math.max(nextOffset, off + 1)
      lastOff = off
      key = k; value = v; tsUs = tsMs * 1000L
    }

    override def close(): Unit = if (sock != null) sock.close()
  }
}
