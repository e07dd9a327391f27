package graft.sinks

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.{ServerSocket, Socket, SocketException, SocketTimeoutException}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.zip.CRC32C
import scala.jdk.CollectionConverters._

/** W1 Kafka delivery over the PUBLIC Kafka wire protocol — no client
  * library. The reference links librdkafka (WriterKafka.cpp:59-88) and
  * lets it speak the protocol; this environment ships neither a broker
  * nor kafka-clients jars, so the protocol layer is implemented directly
  * from the published format (KIP-98 record batch v2; the Kafka protocol
  * guide's Produce v3 schema):
  *
  *   - RecordBatch v2: baseOffset/batchLength/leaderEpoch/magic=2,
  *     CRC32C over attributes..end, zigzag-varint records with
  *     key/value/headers;
  *   - ProduceRequest v3 (header v1): transactional_id, acks, timeout,
  *     [topic → [partition → record set]]; ProduceResponse v3 with
  *     trailing throttle_time_ms;
  *   - the DefaultPartitioner's murmur2 key hash
  *     (`(murmur2(key) & 0x7fffffff) % numPartitions`).
  *
  *   - MetadataRequest/Response v1 (api_key 3): broker list + per-
  *     partition leaders, the discovery librdkafka performs on bootstrap.
  *
  * [[KafkaDirectWriter]] produces over a plain socket and confirms
  * delivery from the produce response (≙ dr_msg_cb → confirmMessage,
  * WriterKafka.cpp:90-97). [[KafkaRoutedWriter]] adds the multi-broker
  * layer: Metadata bootstrap, one connection per leader, per-partition
  * routing, and metadata refresh + re-route on NOT_LEADER_FOR_PARTITION
  * or a dead leader connection. [[MockKafkaBroker]] /
  * [[MockKafkaCluster]] accept, CRC-check, and store batches (refusing
  * non-led partitions) so both paths run end-to-end in-process.
  */
object KafkaWire {

  // ---- primitive codecs -------------------------------------------------
  private[sinks] def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)
  private[sinks] def unzigzag(v: Long): Long = (v >>> 1) ^ -(v & 1)

  private[sinks] def writeVarint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = zigzag(v0)
    while ((v & ~0x7fL) != 0L) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write((v & 0x7f).toInt)
  }
  private[sinks] def readVarint(buf: ByteBuffer): Long = {
    var x = 0L; var shift = 0
    var more = true
    while (more) {
      val b = buf.get() & 0xff
      x |= (b & 0x7fL) << shift; shift += 7
      more = (b & 0x80) != 0
    }
    unzigzag(x)
  }

  /** Kafka's murmur2 (DefaultPartitioner): seed 0x9747b28c. */
  def murmur2(data: Array[Byte]): Int = {
    val m = 0x5bd1e995
    val r = 24
    var h = 0x9747b28c ^ data.length
    var i = 0
    while (i + 4 <= data.length) {
      var k = (data(i) & 0xff) | ((data(i + 1) & 0xff) << 8) |
        ((data(i + 2) & 0xff) << 16) | ((data(i + 3) & 0xff) << 24)
      k *= m; k ^= k >>> r; k *= m
      h *= m; h ^= k
      i += 4
    }
    val rem = data.length - i
    if (rem == 3) h ^= (data(i + 2) & 0xff) << 16
    if (rem >= 2) h ^= (data(i + 1) & 0xff) << 8
    if (rem >= 1) { h ^= data(i) & 0xff; h *= m }
    h ^= h >>> 13; h *= m; h ^= h >>> 15
    h
  }

  def partitionFor(key: Array[Byte], numPartitions: Int): Int =
    (murmur2(key) & 0x7fffffff) % numPartitions

  // ---- RecordBatch v2 ---------------------------------------------------
  case class Record(key: Array[Byte], value: Array[Byte])

  /** Encode one record batch (magic 2). `baseTimestamp` is caller-
    * provided so encoding stays deterministic. */
  def encodeBatch(records: Seq[Record], baseOffset: Long = 0L,
      baseTimestamp: Long = 0L): Array[Byte] = {
    val recs = new ByteArrayOutputStream()
    records.zipWithIndex.foreach { case (r, i) =>
      val body = new ByteArrayOutputStream()
      body.write(0) // record attributes
      writeVarint(body, 0L) // timestampDelta
      writeVarint(body, i.toLong) // offsetDelta
      if (r.key == null) writeVarint(body, -1L)
      else { writeVarint(body, r.key.length.toLong); body.write(r.key) }
      if (r.value == null) writeVarint(body, -1L)
      else { writeVarint(body, r.value.length.toLong); body.write(r.value) }
      writeVarint(body, 0L) // header count
      val b = body.toByteArray
      writeVarint(recs, b.length.toLong)
      recs.write(b)
    }
    val recBytes = recs.toByteArray
    // attributes..end — the CRC32C region
    val tail = ByteBuffer.allocate(2 + 4 + 8 + 8 + 8 + 2 + 4 + 4 + recBytes.length)
    tail.putShort(0) // attributes: no compression, CreateTime
    tail.putInt(math.max(0, records.size - 1)) // lastOffsetDelta
    tail.putLong(baseTimestamp)
    tail.putLong(baseTimestamp)
    tail.putLong(-1L) // producerId
    tail.putShort(-1) // producerEpoch
    tail.putInt(-1) // baseSequence
    tail.putInt(records.size)
    tail.put(recBytes)
    val tailBytes = tail.array()
    val crc = new CRC32C
    crc.update(tailBytes)
    val head = ByteBuffer.allocate(8 + 4 + 4 + 1 + 4)
    head.putLong(baseOffset)
    head.putInt(4 + 1 + 4 + tailBytes.length) // batchLength after this field
    head.putInt(-1) // partitionLeaderEpoch
    head.put(2.toByte) // magic
    head.putInt(crc.getValue.toInt)
    head.array() ++ tailBytes
  }

  /** Decode a batch; verifies magic and CRC32C (throws on mismatch). */
  def decodeBatch(bytes: Array[Byte]): (Long, Seq[Record]) = {
    val buf = ByteBuffer.wrap(bytes)
    val baseOffset = buf.getLong
    val batchLength = buf.getInt
    require(batchLength == bytes.length - 12,
      s"batch length $batchLength != ${bytes.length - 12}")
    buf.getInt // leader epoch
    val magic = buf.get()
    require(magic == 2, s"unsupported magic $magic")
    val crcStored = buf.getInt
    val region = java.util.Arrays.copyOfRange(bytes, 8 + 4 + 4 + 1 + 4, bytes.length)
    val crc = new CRC32C
    crc.update(region)
    require(crc.getValue.toInt == crcStored,
      f"record batch CRC mismatch: stored 0x$crcStored%08x computed 0x${crc.getValue.toInt}%08x")
    buf.getShort // attributes
    buf.getInt // lastOffsetDelta
    buf.getLong; buf.getLong // timestamps
    buf.getLong; buf.getShort; buf.getInt // producer id/epoch/seq
    val n = buf.getInt
    val out = (0 until n).map { _ =>
      val len = readVarint(buf).toInt
      val end = buf.position() + len
      buf.get() // attributes
      readVarint(buf) // tsDelta
      readVarint(buf) // offsetDelta
      val kl = readVarint(buf).toInt
      val key = if (kl < 0) null else { val a = new Array[Byte](kl); buf.get(a); a }
      val vl = readVarint(buf).toInt
      val value = if (vl < 0) null else { val a = new Array[Byte](vl); buf.get(a); a }
      val hn = readVarint(buf).toInt
      require(hn == 0, "headers unsupported in this decoder")
      require(buf.position() == end, "record length mismatch")
      Record(key, value)
    }
    (baseOffset, out)
  }

  // ---- Produce v3 request/response -------------------------------------
  private def putString(b: ByteBuffer, s: String): Unit =
    if (s == null) b.putShort(-1)
    else { val x = s.getBytes(UTF_8); b.putShort(x.length.toShort); b.put(x) }
  /** UTF-8 byte length for buffer sizing — String.length counts UTF-16
    * chars and under-sizes for non-ASCII topics/clientIds, overflowing
    * the fixed slack mid-encode. */
  private def utf8Len(s: String): Int =
    if (s == null) 0 else s.getBytes(UTF_8).length
  private def getString(b: ByteBuffer): String = {
    val n = b.getShort
    if (n < 0) null
    else { val a = new Array[Byte](n); b.get(a); new String(a, UTF_8) }
  }

  /** ProduceRequest v3 for one (topic, partition, batch), header v1. */
  def encodeProduce(correlationId: Int, clientId: String, topic: String,
      partition: Int, batch: Array[Byte], acks: Short = -1,
      timeoutMs: Int = 30000): Array[Byte] = {
    val b = ByteBuffer.allocate(batch.length + utf8Len(topic) +
      utf8Len(clientId) + 64)
    b.putShort(0) // api_key PRODUCE
    b.putShort(3) // api_version
    b.putInt(correlationId)
    putString(b, clientId)
    putString(b, null) // transactional_id
    b.putShort(acks)
    b.putInt(timeoutMs)
    b.putInt(1) // topic array
    putString(b, topic)
    b.putInt(1) // partition array
    b.putInt(partition)
    b.putInt(batch.length) // record set as nullable bytes
    b.put(batch)
    java.util.Arrays.copyOf(b.array(), b.position())
  }

  case class ProduceResult(correlationId: Int, topic: String, partition: Int,
      errorCode: Short, baseOffset: Long)

  /** ProduceResponse v3 (single topic/partition, trailing throttle). */
  def encodeProduceResponse(r: ProduceResult): Array[Byte] = {
    val b = ByteBuffer.allocate(utf8Len(r.topic) + 64)
    b.putInt(r.correlationId)
    b.putInt(1)
    putString(b, r.topic)
    b.putInt(1)
    b.putInt(r.partition)
    b.putShort(r.errorCode)
    b.putLong(r.baseOffset)
    b.putLong(-1L) // log_append_time
    b.putInt(0) // throttle_time_ms (trailing in produce responses)
    java.util.Arrays.copyOf(b.array(), b.position())
  }

  def decodeProduceResponse(bytes: Array[Byte]): ProduceResult = {
    val b = ByteBuffer.wrap(bytes)
    val corr = b.getInt
    require(b.getInt == 1, "single-topic response expected")
    val topic = getString(b)
    require(b.getInt == 1, "single-partition response expected")
    val partition = b.getInt
    val err = b.getShort
    val baseOffset = b.getLong
    ProduceResult(corr, topic, partition, err, baseOffset)
  }

  // ---- Metadata v1 request/response ------------------------------------
  // librdkafka bootstraps by asking any broker for cluster metadata, then
  // routes each partition's produce to that partition's leader
  // (/root/reference/src/writer/WriterKafka.cpp:59-88 delegates exactly
  // this to librdkafka). Metadata v1 is the published schema: request =
  // [topics]; response = [brokers(node/host/port/rack)], controller_id,
  // [topics(err/name/internal/[partitions(err/id/leader/replicas/isr)])].
  case class BrokerNode(nodeId: Int, host: String, port: Int)
  case class PartitionMeta(partition: Int, leader: Int)
  case class ClusterMetadata(brokers: Seq[BrokerNode], topic: String,
      partitions: Seq[PartitionMeta]) {
    def leaderFor(partition: Int): Option[BrokerNode] =
      partitions.find(_.partition == partition)
        .flatMap(p => brokers.find(_.nodeId == p.leader))
    def numPartitions: Int = partitions.size
  }

  /** MetadataRequest v1 (header v1) for one topic. */
  def encodeMetadataRequest(correlationId: Int, clientId: String,
      topic: String): Array[Byte] = {
    val b = ByteBuffer.allocate(utf8Len(topic) + utf8Len(clientId) + 32)
    b.putShort(3) // api_key METADATA
    b.putShort(1) // api_version
    b.putInt(correlationId)
    putString(b, clientId)
    b.putInt(1) // topic array
    putString(b, topic)
    java.util.Arrays.copyOf(b.array(), b.position())
  }

  def encodeMetadataResponse(correlationId: Int,
      meta: ClusterMetadata): Array[Byte] = {
    // sized to the actual cluster: a broker row is host + ~16 bytes of
    // ids/lengths; a partition row is err(2) + id/leader(8) + 1-entry
    // replica and isr arrays (8 each) = 26 bytes, padded to 32
    val b = ByteBuffer.allocate(64 + utf8Len(meta.topic) +
      meta.brokers.map(br => utf8Len(br.host) + 20).sum +
      meta.partitions.size * 32)
    b.putInt(correlationId)
    b.putInt(meta.brokers.size)
    meta.brokers.foreach { br =>
      b.putInt(br.nodeId); putString(b, br.host); b.putInt(br.port)
      putString(b, null) // rack
    }
    b.putInt(meta.brokers.headOption.map(_.nodeId).getOrElse(-1)) // controller
    b.putInt(1) // topic array
    b.putShort(0) // topic error_code
    putString(b, meta.topic)
    b.put(0.toByte) // is_internal
    b.putInt(meta.partitions.size)
    meta.partitions.foreach { p =>
      b.putShort(0) // partition error_code
      b.putInt(p.partition)
      b.putInt(p.leader)
      b.putInt(1); b.putInt(p.leader) // replicas
      b.putInt(1); b.putInt(p.leader) // isr
    }
    java.util.Arrays.copyOf(b.array(), b.position())
  }

  def decodeMetadataResponse(bytes: Array[Byte]): (Int, ClusterMetadata) = {
    val b = ByteBuffer.wrap(bytes)
    val corr = b.getInt
    val brokers = (0 until b.getInt).map { _ =>
      val id = b.getInt; val host = getString(b); val port = b.getInt
      getString(b) // rack
      BrokerNode(id, host, port)
    }
    b.getInt // controller_id
    require(b.getInt == 1, "single-topic metadata expected")
    val terr = b.getShort
    require(terr == 0, s"metadata topic error $terr")
    val topic = getString(b)
    b.get() // is_internal
    val parts = (0 until b.getInt).map { _ =>
      val perr = b.getShort
      require(perr == 0, s"metadata partition error $perr")
      val pid = b.getInt
      val leader = b.getInt
      val nr = b.getInt; b.position(b.position() + 4 * nr) // replicas
      val ni = b.getInt; b.position(b.position() + 4 * ni) // isr
      PartitionMeta(pid, leader)
    }
    (corr, ClusterMetadata(brokers, topic, parts))
  }

  /** NOT_LEADER_FOR_PARTITION — the produce error a broker returns when
    * asked for a partition it no longer leads; the signal that triggers a
    * metadata refresh + re-route in librdkafka and [[KafkaRoutedWriter]]. */
  val ErrNotLeader: Short = 6

  /** Frames above this are refused before allocation — a malformed or
    * hostile peer must not be able to drive a multi-GB `new Array`
    * (Kafka's own socket.request.max.bytes default is 100 MB). */
  val MaxFrameBytes: Int = 100 * 1024 * 1024

  private[sinks] def readFrame(in: DataInputStream): Array[Byte] = {
    val n = in.readInt() // Kafka frames are big-endian int32 size prefixed
    if (n < 0 || n > MaxFrameBytes)
      throw new IllegalStateException(s"kafka wire: bad frame length $n")
    val a = new Array[Byte](n)
    in.readFully(a)
    a
  }
  private[sinks] def writeFrame(out: DataOutputStream, b: Array[Byte]): Unit = {
    out.writeInt(b.length)
    out.write(b)
    out.flush()
  }

  @transient private lazy val log =
    org.slf4j.LoggerFactory.getLogger(getClass)

  /** `max-message-mb` split rule (8.writer.adoc: "messages exceeding this
    * size will be split; each split triggers a log warning"): greedily
    * chunk a record sequence so each produced RecordBatch payload stays
    * under `maxBytes`. A single record above the cap still ships alone
    * (the broker enforces its own hard limit); 0 disables splitting. */
  private[sinks] def chunkByBytes(records: Seq[Record],
      maxBytes: Long): Seq[Seq[Record]] = {
    if (maxBytes <= 0 || records.isEmpty) return Seq(records)
    def sz(r: Record): Long =
      (if (r.key == null) 0 else r.key.length).toLong +
        (if (r.value == null) 0 else r.value.length) + 32L // record framing
    val out = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[Record])
    var acc = 61L // RecordBatch v2 header
    records.foreach { r =>
      val s = sz(r)
      if (acc + s > maxBytes && out.last.nonEmpty) {
        out += scala.collection.mutable.ArrayBuffer.empty[Record]
        acc = 61L
      }
      out.last += r
      acc += s
    }
    if (out.length > 1)
      log.warn(s"batch exceeds max message size $maxBytes: " +
        s"split into ${out.length} produce requests")
    out.map(_.toSeq).toSeq
  }
}

/** Minimal producer over the wire protocol: batches one `send` into one
  * RecordBatch v2 + ProduceRequest v3, awaits the response, and reports
  * the assigned base offset. Delivery confirmation = the response (the
  * reference's dr_msg_cb seam). */
final class KafkaDirectWriter(host: String, port: Int, topic: String,
    numPartitions: Int = 1, acks: Short = -1,
    clientId: String = "graft-producer",
    prom: Option[graft.streaming.Prometheus] = None,
    /** `max-message-mb` in bytes (reference default 100 MB): one produce
      * payload stays under this; bigger sends split with a warning. */
    maxMessageBytes: Long = 100L * 1024 * 1024) extends AutoCloseable {
  import KafkaWire._

  private val sock = new Socket(host, port)
  private val in = new DataInputStream(sock.getInputStream)
  private val out = new DataOutputStream(sock.getOutputStream)
  private var correlation = 0

  /** Produce one batch of (key, value) pairs to the key-murmur2
    * partition of the FIRST record (one batch = one partition, the
    * librdkafka queue shape); returns the broker-assigned base offset.
    * Throws on a non-zero error code — the caller's confirm seam. */
  def send(records: Seq[(Array[Byte], Array[Byte])],
      baseTimestamp: Long = 0L): Long = {
    require(records.nonEmpty)
    val partition =
      if (records.head._1 == null) 0
      else partitionFor(records.head._1, numPartitions)
    // max-message-mb: oversized sends split into several produce
    // requests (first chunk's base offset = the send's base offset)
    val chunks = chunkByBytes(
      records.map { case (k, v) => Record(k, v) }, maxMessageBytes)
    var first = -1L
    chunks.foreach { chunk =>
      val batch = encodeBatch(chunk, baseTimestamp = baseTimestamp)
      correlation += 1
      writeFrame(out, encodeProduce(correlation, clientId, topic, partition, batch, acks))
      prom.foreach { p =>
        p.emitMessagesSent(chunk.size.toLong)
        p.emitBytesSent(batch.length.toLong)
      }
      val resp = decodeProduceResponse(readFrame(in))
      require(resp.correlationId == correlation,
        s"correlation mismatch: ${resp.correlationId} != $correlation")
      require(resp.errorCode == 0, s"produce failed: error ${resp.errorCode}")
      // the produce ack is the delivery report (dr_msg_cb → confirmMessage)
      prom.foreach { p =>
        p.emitMessagesConfirmed(chunk.size.toLong)
        p.emitBytesConfirmed(batch.length.toLong)
      }
      if (first < 0) first = resp.baseOffset
    }
    first
  }

  /** Group a mixed-key batch by murmur2 partition and produce one
    * RecordBatch per partition, in ascending partition order (the
    * producer-queue shape librdkafka maintains per partition). */
  def sendPartitioned(records: Seq[(Array[Byte], Array[Byte])],
      baseTimestamp: Long = 0L): Unit =
    records.groupBy { case (k, _) =>
      if (k == null) 0 else partitionFor(k, numPartitions)
    }.toSeq.sortBy(_._1).foreach { case (_, rs) => send(rs, baseTimestamp) }

  def close(): Unit = sock.close()
}

/** In-process broker arm: accepts Produce v3 (CRC-verifies every batch,
  * appends records to an in-memory log, answers with the base offset) and
  * Metadata v1 (reports the cluster's broker list + partition leaders —
  * its own single-node view when standalone). In cluster mode
  * ([[MockKafkaCluster]]) a Produce for a partition this broker does NOT
  * lead is refused with NOT_LEADER_FOR_PARTITION, the real-broker
  * behavior that forces producers to route by leader. */
final class MockKafkaBroker(
    cluster: Option[(MockKafkaCluster, Int)] = None) extends AutoCloseable {
  import KafkaWire._

  /** (topic, partition, key, value) in append order. */
  val log = new ConcurrentLinkedQueue[(String, Int, Array[Byte], Array[Byte])]()
  /** Produce requests served (one per RecordBatch on the wire — the
    * observable for max-message-mb split assertions). */
  val produceRequests = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var running = true
  private val server = new ServerSocket(0, 8,
    java.net.InetAddress.getLoopbackAddress)
  server.setSoTimeout(200)
  def port: Int = server.getLocalPort
  def records: Seq[(String, Int, Array[Byte], Array[Byte])] =
    log.iterator().asScala.toSeq

  private val thread = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        val t = new Thread(() => serve(sock), "graft-mock-kafka-conn")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: SocketTimeoutException =>
        case _: SocketException if !running =>
      }
    }
  }, "graft-mock-kafka")
  thread.setDaemon(true)
  thread.start()

  private def serve(sock: Socket): Unit = {
    val in = new DataInputStream(sock.getInputStream)
    val out = new DataOutputStream(sock.getOutputStream)
    try {
      while (running) {
        val req = ByteBuffer.wrap(readFrame(in))
        val apiKey = req.getShort
        val apiVersion = req.getShort
        val corr = req.getInt
        // client_id (header v1)
        val cidLen = req.getShort
        if (cidLen > 0) req.position(req.position() + cidLen)
        if (apiKey == 3 && apiVersion == 1) {
          require(req.getInt == 1, "single-topic metadata expected")
          val tLen = req.getShort
          val tA = new Array[Byte](tLen); req.get(tA)
          val topic = new String(tA, UTF_8)
          val meta = cluster match {
            case Some((c, _)) => c.metadataFor(topic)
            case None => // standalone single-node view: self leads p0
              ClusterMetadata(Seq(BrokerNode(0, "127.0.0.1", port)), topic,
                Seq(PartitionMeta(0, 0)))
          }
          writeFrame(out, encodeMetadataResponse(corr, meta))
        } else if (apiKey != 0 || apiVersion != 3) {
          // error 35 = UNSUPPORTED_VERSION
          writeFrame(out, encodeProduceResponse(
            ProduceResult(corr, "", 0, 35, -1L)))
        } else {
          val tid = req.getShort // transactional_id
          if (tid > 0) req.position(req.position() + tid)
          req.getShort // acks
          req.getInt // timeout
          req.getInt // topic count (1)
          val tLen = req.getShort
          val tA = new Array[Byte](tLen); req.get(tA)
          val topic = new String(tA, UTF_8)
          req.getInt // partition count (1)
          val partition = req.getInt
          val setLen = req.getInt
          val batch = new Array[Byte](setLen); req.get(batch)
          produceRequests.incrementAndGet()
          val resp =
            if (cluster.exists { case (c, self) =>
                c.leaderOf(partition) != self })
              ProduceResult(corr, topic, partition, ErrNotLeader, -1L)
            else try {
              val (_, recs) = decodeBatch(batch) // CRC + magic verified
              val baseOffset = log.size().toLong
              recs.foreach(r => log.add((topic, partition, r.key, r.value)))
              ProduceResult(corr, topic, partition, 0, baseOffset)
            } catch {
              // 2 = CORRUPT_MESSAGE. Any decode failure — CRC/length
              // require (IAE), truncated varints (BufferUnderflow),
              // negative record lengths (NegativeArraySize) — must
              // answer the producer, not kill the connection thread.
              case _: RuntimeException =>
                ProduceResult(corr, topic, partition, 2, -1L)
            }
          writeFrame(out, encodeProduceResponse(resp))
        }
      }
    } catch {
      case _: java.io.EOFException =>
      case _: SocketException =>
      // unparseable request header/frame (bad lengths, truncation):
      // disconnect, like a real broker dropping an undecodable
      // connection — never an uncaught-exception thread death
      case _: RuntimeException =>
    } finally sock.close()
  }

  def close(): Unit = { running = false; server.close() }
}

/** N broker arms sharing one leadership map: partition p starts on broker
  * p % n; [[reassignLeader]] moves it mid-run (the broker failover /
  * rebalance event). Every arm answers Metadata with the full cluster
  * view, so a producer can bootstrap from ANY broker — the librdkafka
  * contract the reference relies on. */
final class MockKafkaCluster(numBrokers: Int,
    val numPartitions: Int) extends AutoCloseable {
  import KafkaWire._

  private val leaders =
    new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  (0 until numPartitions).foreach(p => leaders.put(p, p % numBrokers))

  val brokers: Seq[MockKafkaBroker] =
    (0 until numBrokers).map(i => new MockKafkaBroker(Some((this, i))))

  def leaderOf(partition: Int): Int =
    Option(leaders.get(partition)).map(_.intValue).getOrElse(-1)
  def reassignLeader(partition: Int, brokerId: Int): Unit = {
    require(brokerId >= 0 && brokerId < numBrokers)
    leaders.put(partition, brokerId)
  }
  def metadataFor(topic: String): ClusterMetadata =
    ClusterMetadata(
      brokers.zipWithIndex.map { case (b, i) =>
        BrokerNode(i, "127.0.0.1", b.port)
      },
      topic,
      (0 until numPartitions).map(p => PartitionMeta(p, leaders.get(p))))

  /** All brokers' logs merged (append order within a broker preserved). */
  def records: Seq[(String, Int, Array[Byte], Array[Byte])] =
    brokers.flatMap(_.records)

  def close(): Unit = brokers.foreach(_.close())
}

/** Metadata-routed producer — the full librdkafka shape the reference
  * gets for free (WriterKafka.cpp:59-88): bootstrap from one broker,
  * discover partition leaders via Metadata v1, keep one connection per
  * leader, route each record batch to its partition's leader, and on
  * NOT_LEADER_FOR_PARTITION (or a dropped leader connection) refresh
  * metadata from any live broker and retry the batch once against the
  * new leader. [[KafkaDirectWriter]] remains the single-broker
  * direct-connect fast path. */
final class KafkaRoutedWriter(bootstrapHost: String, bootstrapPort: Int,
    topic: String, acks: Short = -1,
    clientId: String = "graft-producer",
    prom: Option[graft.streaming.Prometheus] = None,
    /** `max-message-mb` in bytes (reference default 100 MB). */
    maxMessageBytes: Long = 100L * 1024 * 1024) extends AutoCloseable {
  import KafkaWire._

  private final class Conn(val host: String, val port: Int) {
    val sock = new Socket(host, port)
    val in = new DataInputStream(sock.getInputStream)
    val out = new DataOutputStream(sock.getOutputStream)
    def close(): Unit = try sock.close() catch { case _: Throwable => }
  }

  private var correlation = 0
  private val conns = scala.collection.mutable.Map[(String, Int), Conn]()
  private var meta: ClusterMetadata = fetchMetadata(
    Seq(BrokerNode(-1, bootstrapHost, bootstrapPort)))

  def numPartitions: Int = meta.numPartitions
  def metadata: ClusterMetadata = meta

  private def connTo(host: String, port: Int): Conn =
    conns.getOrElseUpdate((host, port), new Conn(host, port))

  private def dropConn(c: Conn): Unit = {
    conns.remove((c.host, c.port)); c.close()
  }

  /** Ask each candidate broker in turn until one answers. */
  private def fetchMetadata(candidates: Seq[BrokerNode]): ClusterMetadata = {
    var last: Throwable = null
    var found: ClusterMetadata = null
    val it = candidates.iterator
    while (found == null && it.hasNext) {
      val br = it.next()
      try {
        val c = connTo(br.host, br.port)
        correlation += 1
        writeFrame(c.out, encodeMetadataRequest(correlation, clientId, topic))
        val (corr, m) = decodeMetadataResponse(readFrame(c.in))
        require(corr == correlation,
          s"correlation mismatch: $corr != $correlation")
        require(m.partitions.nonEmpty, s"topic $topic has no partitions")
        found = m
      } catch {
        // a dead candidate may also have left a poisoned pooled
        // connection - evict it so the produce path doesn't reuse it
        case e: Throwable =>
          conns.remove((br.host, br.port)).foreach(_.close())
          last = e
      }
    }
    if (found == null)
      throw new IllegalStateException(
        s"metadata unavailable from ${candidates.size} broker(s)", last)
    found
  }

  private def refreshMetadata(): Unit = {
    // any live broker can answer; fall back to the bootstrap address
    meta = fetchMetadata(
      meta.brokers :+ BrokerNode(-1, bootstrapHost, bootstrapPort))
  }

  /** Produce one single-partition batch to that partition's leader.
    * Returns the broker-assigned base offset. One leader-change retry:
    * NOT_LEADER / dead connection → refresh metadata → re-route. */
  /** One produce per max-message-mb chunk; returns the first chunk's
    * base offset (the send's base position). */
  private def produceTo(partition: Int,
      records: Seq[Record], baseTimestamp: Long): Long = {
    val offsets = chunkByBytes(records, maxMessageBytes)
      .map(produceChunk(partition, _, baseTimestamp))
    offsets.head
  }

  private def produceChunk(partition: Int,
      records: Seq[Record], baseTimestamp: Long): Long = {
    val batch = encodeBatch(records, baseTimestamp = baseTimestamp)
    // sent counts the chunk once, in confirmed's unit (batch bytes), however
    // many leader retries it takes
    prom.foreach { p =>
      p.emitMessagesSent(records.size.toLong)
      p.emitBytesSent(batch.length.toLong)
    }
    var attempt = 0
    while (true) {
      attempt += 1
      val leader = meta.leaderFor(partition).getOrElse(
        throw new IllegalStateException(s"no leader for p$partition"))
      val c = connTo(leader.host, leader.port)
      val resp =
        try {
          correlation += 1
          writeFrame(c.out, encodeProduce(correlation, clientId, topic,
            partition, batch, acks))
          val r = decodeProduceResponse(readFrame(c.in))
          require(r.correlationId == correlation,
            s"correlation mismatch: ${r.correlationId} != $correlation")
          Some(r)
        } catch {
          case _: java.io.IOException if attempt <= 2 =>
            dropConn(c); None // dead leader: refresh + retry
          case e: java.io.IOException =>
            dropConn(c); throw e
        }
      resp match {
        case Some(r) if r.errorCode == 0 =>
          prom.foreach { p =>
            p.emitMessagesConfirmed(records.size.toLong)
            p.emitBytesConfirmed(batch.length.toLong)
          }
          return r.baseOffset
        case Some(r) if r.errorCode == ErrNotLeader && attempt <= 2 =>
          refreshMetadata()
        case Some(r) =>
          throw new IllegalStateException(
            s"produce failed on p$partition: error ${r.errorCode}")
        case None =>
          refreshMetadata()
      }
    }
    -1L // unreachable
  }

  /** Group a mixed-key batch by murmur2 partition over the DISCOVERED
    * partition count and produce each group to its leader, ascending
    * partition order (librdkafka's per-partition queue shape). Returns
    * (partition → base offset). */
  def sendPartitioned(records: Seq[(Array[Byte], Array[Byte])],
      baseTimestamp: Long = 0L): Map[Int, Long] =
    records.groupBy { case (k, _) =>
      if (k == null) 0 else partitionFor(k, meta.numPartitions)
    }.toSeq.sortBy(_._1).map { case (p, rs) =>
      p -> produceTo(p, rs.map { case (k, v) => Record(k, v) },
        baseTimestamp)
    }.toMap

  def close(): Unit = conns.values.foreach(_.close())
}
