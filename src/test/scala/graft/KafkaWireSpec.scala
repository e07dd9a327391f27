package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sinks.{KafkaDirectWriter, KafkaRoutedWriter, KafkaWire,
  MockKafkaBroker, MockKafkaCluster}
import java.nio.charset.StandardCharsets.UTF_8

/** The W1 Kafka path driven end-to-end over the real wire protocol:
  * RecordBatch v2 encode/decode with CRC32C, murmur2 partitioning
  * pinned to Kafka's published Java-compatibility vectors, Produce v3
  * round trip against the in-process broker, and corrupt-batch
  * rejection. The protocol layer is what the environment's missing
  * broker/client jars previously left unexecuted.
  */
class KafkaWireSpec extends AnyFunSuite {
  import KafkaWire._

  test("murmur2 matches Kafka's Java-compatibility vectors") {
    assert(murmur2("21".getBytes(UTF_8)) == -973932308)
    assert(murmur2("foobar".getBytes(UTF_8)) == -790332482)
    assert(murmur2("a-little-bit-long-string".getBytes(UTF_8)) == -985981536)
    assert(partitionFor("21".getBytes(UTF_8), 8) == 4)
    assert(partitionFor("foobar".getBytes(UTF_8), 8) == 6)
  }

  test("record batch v2 round-trips and CRC32C detects corruption") {
    val recs = Seq(
      Record("k1".getBytes(UTF_8), "v1".getBytes(UTF_8)),
      Record(null, "tombstone-key-null".getBytes(UTF_8)),
      Record("k3".getBytes(UTF_8), null))
    val bytes = encodeBatch(recs, baseOffset = 7L, baseTimestamp = 1234L)
    val (base, got) = decodeBatch(bytes)
    assert(base == 7L && got.size == 3)
    assert(new String(got.head.key, UTF_8) == "k1" &&
      new String(got.head.value, UTF_8) == "v1")
    assert(got(1).key == null && got(2).value == null)
    // flip one payload byte → CRC over attributes..end must fail
    val bad = bytes.clone()
    bad(bad.length - 1) = (bad(bad.length - 1) ^ 0x1).toByte
    val e = intercept[IllegalArgumentException](decodeBatch(bad))
    assert(e.getMessage.contains("CRC"))
  }

  test("producer → broker end-to-end: produce, offsets, partitioning, " +
    "delivery metrics") {
    val broker = new MockKafkaBroker
    val prom = new graft.streaming.Prometheus()
    try {
      val w = new KafkaDirectWriter("127.0.0.1", broker.port, "events",
        numPartitions = 8, prom = Some(prom))
      try {
        val off0 = w.send(Seq(
          ("21".getBytes(UTF_8), "a".getBytes(UTF_8)),
          ("21".getBytes(UTF_8), "b".getBytes(UTF_8))))
        assert(off0 == 0L)
        // mixed keys split into per-partition batches
        w.sendPartitioned(Seq(
          ("21".getBytes(UTF_8), "c".getBytes(UTF_8)),
          ("foobar".getBytes(UTF_8), "d".getBytes(UTF_8))))
        val recs = broker.records
        assert(recs.size == 4)
        assert(recs.forall(_._1 == "events"))
        // partition = (murmur2(key) & 0x7fffffff) % 8
        assert(recs.take(3).forall(_._2 == 4)) // "21" → 4
        assert(recs.last._2 == 6) // "foobar" → 6
        assert(new String(recs.last._4, UTF_8) == "d")
        val r = prom.render()
        assert(r.contains("messages_sent 4") &&
          r.contains("messages_confirmed 4"))
      } finally w.close()

      // a corrupt record set is rejected with CORRUPT_MESSAGE (2)
      val raw2 = new java.net.Socket("127.0.0.1", broker.port)
      try {
        val in = new java.io.DataInputStream(raw2.getInputStream)
        val out = new java.io.DataOutputStream(raw2.getOutputStream)
        val batch = encodeBatch(Seq(Record("k".getBytes(UTF_8),
          "v".getBytes(UTF_8))))
        batch(batch.length - 1) = (batch(batch.length - 1) ^ 0x1).toByte
        val req = encodeProduce(99, "c", "events", 0, batch)
        out.writeInt(req.length); out.write(req); out.flush()
        val n = in.readInt()
        val resp = new Array[Byte](n); in.readFully(resp)
        assert(decodeProduceResponse(resp).errorCode == 2)
      } finally raw2.close()
    } finally broker.close()
  }

  test("max-message-mb: a send over the cap splits into several produce " +
      "requests (8.writer.adoc split rule); all records arrive in order") {
    val broker = new MockKafkaBroker
    try {
      // ~47 bytes/record vs a 160-byte cap → 10 records need > 1 request
      val w = new KafkaDirectWriter("127.0.0.1", broker.port, "events",
        maxMessageBytes = 160L)
      try {
        val recs = (0 until 10).map(i =>
          (s"k$i".getBytes(UTF_8), s"value-$i".getBytes(UTF_8)))
        val base = w.send(recs)
        assert(base == 0L) // first chunk's base offset = the send's base
        assert(broker.produceRequests.get() > 1,
          s"expected a split, got ${broker.produceRequests.get()} request")
        assert(broker.records.map(r => new String(r._4, UTF_8)) ==
          (0 until 10).map(i => s"value-$i"))
        // under the cap: exactly one request
        val before = broker.produceRequests.get()
        val w2 = new KafkaDirectWriter("127.0.0.1", broker.port, "events")
        try w2.send(recs) finally w2.close()
        assert(broker.produceRequests.get() == before + 1)
      } finally w.close()
    } finally broker.close()
  }

  test("malformed wire input: bad frame lengths refuse before allocation, " +
      "corrupt batches answer error 2, broker thread survives") {
    // negative / multi-GB frame length prefixes must throw BEFORE any
    // allocation (the ZMTP Framing discipline applied to the Kafka side)
    def wf(out: java.io.DataOutputStream, b: Array[Byte]): Unit = {
      out.writeInt(b.length); out.write(b); out.flush()
    }
    def rf(in: java.io.DataInputStream): Array[Byte] = {
      val n = in.readInt(); val a = new Array[Byte](n); in.readFully(a); a
    }
    // a poisoned length prefix: the BROKER must refuse it (connection
    // closes — EOF on our next read) instead of allocating gigabytes
    locally {
      val b2 = new MockKafkaBroker()
      try {
        val sock = new java.net.Socket("127.0.0.1", b2.port)
        val out = new java.io.DataOutputStream(sock.getOutputStream)
        val in = new java.io.DataInputStream(sock.getInputStream)
        try {
          out.writeInt(Int.MaxValue); out.write(Array[Byte](1, 2, 3)); out.flush()
          intercept[java.io.IOException] { in.readInt(); () } // broker hung up
        } finally sock.close()
      } finally b2.close()
    }
    // a garbage record batch gets CORRUPT_MESSAGE, and the SAME
    // connection then serves a valid produce (thread not killed)
    val broker = new MockKafkaBroker()
    try {
      val sock = new java.net.Socket("127.0.0.1", broker.port)
      val out = new java.io.DataOutputStream(sock.getOutputStream)
      val in = new java.io.DataInputStream(sock.getInputStream)
      try {
        val garbage = Array.fill[Byte](40)(0x5A)
        wf(out, encodeProduce(1, "c", "t", 0, garbage))
        assert(decodeProduceResponse(rf(in)).errorCode == 2)
        val good = encodeBatch(Seq(Record("k".getBytes, "v".getBytes)))
        wf(out, encodeProduce(2, "c", "t", 0, good))
        assert(decodeProduceResponse(rf(in)).errorCode == 0)
      } finally sock.close()
    } finally broker.close()
  }

  test("batch round-trip property: random records (null keys/values, " +
      "empty, binary) survive encode→decode byte-exact") {
    val rnd = new scala.util.Random(0xBEEF)
    for (trial <- 0 until 50) {
      val recs = (0 until rnd.nextInt(20)).map { _ =>
        def blob(): Array[Byte] =
          if (rnd.nextInt(5) == 0) null
          else Array.fill(rnd.nextInt(200))(rnd.nextInt.toByte)
        Record(blob(), blob())
      }
      val (off, back) = decodeBatch(encodeBatch(recs, baseOffset = trial))
      assert(off == trial)
      assert(back.size == recs.size)
      recs.zip(back).foreach { case (a, b) =>
        assert(java.util.Arrays.equals(a.key, b.key) &&
          java.util.Arrays.equals(a.value, b.value), s"trial $trial")
      }
    }
  }

  test("decode fuzz: random bytes throw decode errors, never escape the " +
      "RuntimeException class the broker handles") {
    val rnd = new scala.util.Random(0xFADE)
    for (_ <- 0 until 300) {
      val junk = Array.fill(rnd.nextInt(120))(rnd.nextInt.toByte)
      try { decodeBatch(junk); () } catch {
        case _: RuntimeException => // IAE/ISE/underflow — handled class
        case e: Throwable => fail(s"unhandled ${e.getClass} for junk batch")
      }
      try { decodeMetadataResponse(junk); () } catch {
        case _: RuntimeException =>
        case e: Throwable => fail(s"unhandled ${e.getClass} for junk metadata")
      }
    }
    // truncation fuzz: every prefix of a VALID batch must also stay in
    // the handled class (the partial-read shape a dying peer produces)
    val good = encodeBatch(Seq(Record("k".getBytes, "v".getBytes)))
    for (n <- 0 until good.length) {
      try { decodeBatch(good.take(n)); () } catch {
        case _: RuntimeException =>
        case e: Throwable => fail(s"unhandled ${e.getClass} at prefix $n")
      }
    }
  }

  test("metadata v1 round-trips and a standalone broker answers it") {
    val meta = ClusterMetadata(
      Seq(BrokerNode(0, "127.0.0.1", 9092), BrokerNode(1, "127.0.0.1", 9093)),
      "t", Seq(PartitionMeta(0, 0), PartitionMeta(1, 1)))
    val (corr, back) = decodeMetadataResponse(encodeMetadataResponse(7, meta))
    assert(corr == 7 && back == meta)
    assert(back.leaderFor(1).map(_.port).contains(9093))
    val broker = new MockKafkaBroker()
    try {
      val w = new KafkaRoutedWriter("127.0.0.1", broker.port, "solo")
      try {
        assert(w.numPartitions == 1)
        w.sendPartitioned(Seq(("k".getBytes, "v".getBytes)))
        assert(broker.records.map(r => new String(r._4)) == Seq("v"))
      } finally w.close()
    } finally broker.close()
  }

  test("routed writer sends each partition to its own leader broker") {
    val cluster = new MockKafkaCluster(numBrokers = 2, numPartitions = 2)
    try {
      // bootstrap from broker 1 — metadata must still reveal broker 0
      val w = new KafkaRoutedWriter(
        "127.0.0.1", cluster.brokers(1).port, "routed")
      try {
        // keys chosen to land on both partitions of the 2-partition topic
        val keys = (0 until 40).map(i => s"key-$i")
        val byPart = keys.groupBy(k =>
          partitionFor(k.getBytes, 2))
        assert(byPart.keySet == Set(0, 1), "fixture must cover both partitions")
        w.sendPartitioned(keys.map(k => (k.getBytes, s"v-$k".getBytes)))
        // every record landed on the broker that LEADS its partition
        val b0 = cluster.brokers(0).records
        val b1 = cluster.brokers(1).records
        assert(b0.nonEmpty && b1.nonEmpty)
        assert(b0.forall(_._2 == 0), "broker 0 must hold only p0")
        assert(b1.forall(_._2 == 1), "broker 1 must hold only p1")
        assert((b0 ++ b1).map(r => new String(r._3)).sorted ==
          keys.sorted.map(identity))
      } finally w.close()
    } finally cluster.close()
  }

  test("routed writer survives a DEAD leader: connection failure → " +
      "metadata refresh from a surviving broker → re-route") {
    val cluster = new MockKafkaCluster(numBrokers = 2, numPartitions = 2)
    try {
      val w = new KafkaRoutedWriter(
        "127.0.0.1", cluster.brokers(0).port, "dead-leader")
      try {
        val k0 = (0 until 40).map(i => s"key-$i")
          .find(k => partitionFor(k.getBytes, 2) == 0).get
        w.sendPartitioned(Seq((k0.getBytes, "warm".getBytes)))
        // broker 0 (p0's leader) dies; p0 moves to broker 1. The writer's
        // pooled connection to broker 0 must fail, metadata must come
        // from the SURVIVING broker, and the batch must land on broker 1.
        cluster.reassignLeader(0, 1)
        cluster.brokers(0).close()
        w.sendPartitioned(Seq((k0.getBytes, "after-death".getBytes)))
        assert(cluster.brokers(1).records.exists(r =>
          r._2 == 0 && new String(r._4) == "after-death"),
          "batch must land on the surviving broker after leader death")
      } finally w.close()
    } finally cluster.close()
  }

  test("routed writer survives a leader change via NOT_LEADER + refresh") {
    val cluster = new MockKafkaCluster(numBrokers = 2, numPartitions = 2)
    try {
      val w = new KafkaRoutedWriter(
        "127.0.0.1", cluster.brokers(0).port, "failover")
      try {
        val k0 = (0 until 40).map(i => s"key-$i")
          .find(k => partitionFor(k.getBytes, 2) == 0).get
        w.sendPartitioned(Seq((k0.getBytes, "before".getBytes)))
        assert(cluster.brokers(0).records.exists(r => new String(r._4) == "before"))
        // p0 moves to broker 1; the stale writer must hit NOT_LEADER on
        // broker 0, refresh metadata, and land the batch on broker 1
        cluster.reassignLeader(0, 1)
        w.sendPartitioned(Seq((k0.getBytes, "after".getBytes)))
        assert(cluster.brokers(1).records.exists(r =>
          r._2 == 0 && new String(r._4) == "after"),
          "post-reassign batch must land on the NEW leader")
        assert(!cluster.brokers(0).records.exists(r =>
          new String(r._4) == "after"),
          "post-reassign batch must NOT land on the old leader")
      } finally w.close()
    } finally cluster.close()
  }

  test("routed writer: sent equals confirmed across a leader reassignment " +
      "(messages and batch bytes, one count per chunk despite retries)") {
    val cluster = new MockKafkaCluster(numBrokers = 2, numPartitions = 2)
    val prom = new graft.streaming.Prometheus()
    def v(name: String): Long = prom.render().linesIterator
      .find(_.startsWith(name + " ")).get.stripPrefix(name + " ").toLong
    try {
      val w = new KafkaRoutedWriter("127.0.0.1", cluster.brokers(0).port,
        "acked", prom = Some(prom))
      try {
        def batch(tag: String) = (0 until 20).map(i =>
          (s"key-$i".getBytes(UTF_8), s"$tag-$i".getBytes(UTF_8)))
        w.sendPartitioned(batch("a"))
        // both partitions change leader: the next send hits NOT_LEADER on
        // each, refreshes metadata and retries on the new leader
        cluster.reassignLeader(0, 1)
        cluster.reassignLeader(1, 0)
        w.sendPartitioned(batch("b"))
        w.sendPartitioned(batch("c"))
      } finally w.close()
      assert(cluster.records.size == 60)
      assert(v("messages_sent") == 60 && v("messages_confirmed") == 60)
      assert(v("bytes_sent") > 0 && v("bytes_sent") == v("bytes_confirmed"))
    } finally cluster.close()
  }
}
