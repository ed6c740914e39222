package graft.sources

import graft.SparkSpec
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

/** The graft-notify DataSourceV2 stream: Pub/Sub-shaped delivery —
  * exactly-once across restarts via checkpointed offsets, ack-on-commit
  * cleanup, and the notification-driven pipeline (payload names the
  * object to process). */
class NotifySourceSpec extends SparkSpec {

  /** Write a message file with an explicit, strictly-increasing mtime
    * (the source orders by (mtime, name); tests must not depend on
    * filesystem timestamp granularity). */
  private def msg(dir: String, name: String, payload: String, mtimeMs: Long): Unit = {
    val p = Paths.get(dir, name)
    Files.writeString(p, payload)
    Files.setLastModifiedTime(p, FileTime.fromMillis(mtimeMs))
  }

  test("delivers each message once across restarts; ack=delete cleans the queue") {
    val q = Files.createTempDirectory("graft_q").toString
    val ckpt = Files.createTempDirectory("graft_qckpt").toString
    val out = Files.createTempDirectory("graft_qout").toString
    msg(q, "m1", "capture_001.pcap.json", 1000000L)
    msg(q, "m2", "capture_002.pcap.json", 1000001L)

    def runOnce(): Unit = {
      val stream = spark.readStream.format("graft-notify")
        .option("ack", "delete").load(q)
      val qq = stream.writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          b.write.mode("overwrite").json(s"$out/batch_id=$id"); ()
        }
        .start()
      qq.awaitTermination(120000)
    }
    runOnce()
    val got1 = spark.read.json(out).select("message_id", "payload").collect()
      .map(r => (r.getAs[String]("message_id"), r.getAs[String]("payload"))).sorted.toSeq
    assert(got1 == Seq("m1" -> "capture_001.pcap.json", "m2" -> "capture_002.pcap.json"))

    // a new message after restart is delivered exactly once; the engine
    // acks (commits) the previous batch on the next incarnation, so the
    // first run's messages are cleaned here (lazy ack, like Kafka
    // offset commits)
    msg(q, "m3", "capture_003.pcap.json", 1000002L)
    runOnce()
    val got2 = spark.read.json(out).select("message_id").collect()
      .map(_.getAs[String]("message_id")).sorted.toSeq
    assert(got2 == Seq("m1", "m2", "m3"))
    assert(!Files.exists(Paths.get(q, "m1")) && !Files.exists(Paths.get(q, "m2")))
  }

  test("AvailableNow drains messages written in the current millisecond") {
    val q = Files.createTempDirectory("graft_nowq").toString
    val ckpt = Files.createTempDirectory("graft_nowckpt").toString
    val out = Files.createTempDirectory("graft_nowout").toString
    // real filesystem mtime = NOW — no backdating, start immediately
    Files.writeString(Paths.get(q, "m1"), "fresh.pcap.json")
    val qq = spark.readStream.format("graft-notify").load(q)
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.write.mode("overwrite").json(s"$out/batch_id=$id"); ()
      }.start()
    qq.awaitTermination(120000)
    val got = spark.read.json(out).select("payload").collect().map(_.getAs[String]("payload"))
    assert(got.toSeq == Seq("fresh.pcap.json"))
  }

  test("admission control: a backlog drains in <=maxMessagesPerTrigger micro-batches") {
    val q = Files.createTempDirectory("graft_bq").toString
    val ckpt = Files.createTempDirectory("graft_bckpt").toString
    val n = 1000
    (0 until n).foreach(i => msg(q, f"m$i%04d", s"payload_$i", 5000000L + i))

    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val seen = scala.collection.mutable.Set.empty[String]
    val qq = spark.readStream.format("graft-notify")
      .option("maxMessagesPerTrigger", 128).load(q)
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = b.select("message_id").collect().map(_.getString(0))
        batchSizes.synchronized { batchSizes += ids.length; seen ++= ids }
        ()
      }.start()
    qq.awaitTermination(300000)

    assert(seen.size == n, s"all $n messages delivered, got ${seen.size}")
    assert(batchSizes.forall(_ <= 128), s"every batch bounded: $batchSizes")
    assert(batchSizes.count(_ > 0) >= n / 128,
      s"backlog split into multiple admission-bounded batches: $batchSizes")
  }

  test("latestOffset never regresses below the committed offset after ack-delete") {
    val q = Files.createTempDirectory("graft_rq").toString
    val ckpt = Files.createTempDirectory("graft_rckpt").toString
    val out = Files.createTempDirectory("graft_rout").toString

    def runOnce(): Unit = {
      val qq = spark.readStream.format("graft-notify")
        .option("ack", "delete").load(q)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          if (!b.isEmpty) b.write.mode("overwrite").json(s"$out/batch_id=$id"); ()
        }.start()
      qq.awaitTermination(120000)
    }

    msg(q, "m1", "first", 6000000L)
    runOnce()
    // ack=delete emptied the queue: a rescan sees nothing — the offset
    // must hold at the committed watermark, not rewind to MinValue
    runOnce()
    // a file backdated BELOW the acked watermark must not be redelivered
    // past the ack point (the watermark is monotonic; mtime ordering is
    // the source's delivery contract)
    msg(q, "m0_backdated", "stale", 5999999L)
    runOnce()
    val delivered = spark.read.json(s"$out/*").select("payload").collect()
      .map(_.getAs[String]("payload")).toSeq
    assert(delivered == Seq("first"), s"backdated file redelivered: $delivered")
  }

  test("one queue listing per micro-batch (plan/commit/report reuse the trigger's snapshot)") {
    val q = Files.createTempDirectory("graft_lq").toString
    val ckpt = Files.createTempDirectory("graft_lckpt").toString
    val n = 300
    (0 until n).foreach(i => msg(q, f"m$i%04d", s"p_$i", 7000000L + i))

    var dataBatches = 0
    NotifySource.listings.set(0)
    val qq = spark.readStream.format("graft-notify")
      .option("maxMessagesPerTrigger", 100).option("ack", "delete").load(q)
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (b.count() > 0) dataBatches += 1; ()
      }.start()
    qq.awaitTermination(120000)
    val listings = NotifySource.listings.get()

    assert(dataBatches == 3, s"300 msgs at limit 100 -> 3 data batches, got $dataBatches")
    // budget: 1 (AvailableNow prepare) + 1 per latestOffset call (one per
    // trigger incl. the final empty confirm) + slack 1. The old
    // list-in-plan+commit+report shape costs >= 3 per batch and fails this.
    assert(listings <= dataBatches + 3,
      s"$listings listings for $dataBatches data batches - listing is not O(1)/trigger")
  }

  test("ack=archive: acked messages move to the archive dir and are never re-admitted") {
    val q = Files.createTempDirectory("graft_aq").toString
    val ckpt = Files.createTempDirectory("graft_ackpt").toString
    val out = Files.createTempDirectory("graft_aout").toString
    msg(q, "m1", "one", 8000000L)
    msg(q, "m2", "two", 8000001L)

    def runOnce(): Unit = {
      val qq = spark.readStream.format("graft-notify")
        .option("ack", "archive").load(q) // default archiveDir = $q/_acked
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          if (!b.isEmpty) b.write.mode("overwrite").json(s"$out/batch_id=$id"); ()
        }.start()
      qq.awaitTermination(120000)
    }
    runOnce() // delivers m1,m2; ack is lazy (fires when the next batch commits)
    msg(q, "m3", "three", 8000002L)
    runOnce() // delivers m3; commits run 1 -> archives m1,m2
    msg(q, "m4", "four", 8000003L)
    // _acked lives INSIDE the queue path: archived m1..m3 must not re-admit
    runOnce() // delivers m4 only; archives m3
    val delivered = spark.read.json(s"$out/*").select("message_id").collect()
      .map(_.getAs[String]("message_id")).sorted.toSeq
    assert(delivered == Seq("m1", "m2", "m3", "m4"), s"redelivery after archive: $delivered")
    assert(Files.exists(Paths.get(q, "_acked", "m1")) &&
           Files.exists(Paths.get(q, "_acked", "m2")) &&
           Files.exists(Paths.get(q, "_acked", "m3")),
      "acked messages archived to the default $queue/_acked dir")
    assert(!Files.exists(Paths.get(q, "m1")) && !Files.exists(Paths.get(q, "m2")))
  }

  test("option keys are case-insensitive (maxmessagespertrigger still bounds batches)") {
    val q = Files.createTempDirectory("graft_ciq").toString
    val ckpt = Files.createTempDirectory("graft_cickpt").toString
    (0 until 6).foreach(i => msg(q, s"m$i", s"p$i", 9000000L + i))
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val qq = spark.readStream.format("graft-notify")
      .option("maxmessagespertrigger", 2).load(q)
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batchSizes.synchronized { batchSizes += b.count() }; ()
      }.start()
    qq.awaitTermination(120000)
    assert(batchSizes.sum == 6 && batchSizes.forall(_ <= 2),
      s"lower-cased option ignored - batches: $batchSizes")
  }

  private val goodPacket =
    """{"_source": {"layers": {
      |"frame": {"frame.number": "1", "frame.time_utc": "Sep  5, 2025 12:34:56.123456000 UTC", "frame.protocols": "eth:ethertype:ip:tcp"},
      |"ip": {"ip.src": "10.0.0.1", "ip.dst": "10.0.0.2", "ip.ttl": "64"},
      |"tcp": {"tcp.srcport": "1234", "tcp.dstport": "80", "tcp.flags": "0x0018"}}}}""".stripMargin.replace("\n", "")

  test("notification-driven pipeline: GET-by-payload, F1 rejects, counts") {
    val q = Files.createTempDirectory("graft_nq").toString
    val data = Files.createTempDirectory("graft_ndata").toString
    val out = Files.createTempDirectory("graft_nout").toString
    val ckpt = Files.createTempDirectory("graft_nckpt").toString
    Files.writeString(Paths.get(data, "capture_a.pcap.json"),
      s"[$goodPacket,$goodPacket]")
    Files.writeString(Paths.get(data, "capture_b.pcap.json"), s"[$goodPacket]")
    msg(q, "m1", "capture_a.pcap.json", 2000000L)
    msg(q, "m2", "capture_b.pcap.json", 2000001L)
    msg(q, "m3", "../evil.pcap.json", 2000002L) // F1: must dead-letter, no retry

    val qq = StreamingPipeline.notifyPipeline(spark, q, data, out, ckpt,
      trigger = Trigger.AvailableNow()).start()
    qq.awaitTermination(120000)

    assert(spark.read.text(s"$out/events").count() == 3)
    val notif = spark.read.json(s"$out/_notifications")
    assert(notif.agg(sum("packets_processed")).head().getLong(0) == 3)
    val dlq = spark.read.json(s"$out/_errors")
    val bad = dlq.filter(col("dlq_reason") === "invalid filename").collect()
    assert(bad.length == 1 && bad(0).getAs[String]("payload") == "../evil.pcap.json")
  }

  test("notifyPipeline batches run at the session's shuffle width: foreachBatch writes no width") {
    val q = Files.createTempDirectory("graft_wq").toString
    val data = Files.createTempDirectory("graft_wdata").toString
    val out = Files.createTempDirectory("graft_wout").toString
    val ckpt = Files.createTempDirectory("graft_wckpt").toString
    Files.writeString(Paths.get(data, "capture_w.pcap.json"), s"[$goodPacket]")
    msg(q, "m1", "capture_w.pcap.json", 2100000L)
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val qq = StreamingPipeline.notifyPipeline(spark, q, data, out, ckpt,
      trigger = Trigger.AvailableNow(),
      failHook = (_, _) => seen.synchronized {
        seen += spark.conf.get("spark.sql.shuffle.partitions")
      }).start()
    qq.awaitTermination(120000)
    assert(spark.read.text(s"$out/events").count() == 1)
    assert(seen.nonEmpty && seen.forall(_ == before),
      s"foreachBatch saw widths $seen, session had $before")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }

  test("notifications naming BINARY pcap/pcapng objects decode in-plan to UDM events") {
    import CaptureBytes._
    val q = Files.createTempDirectory("graft_bpq").toString
    val data = Files.createTempDirectory("graft_bpdata").toString
    val out = Files.createTempDirectory("graft_bpout").toString
    val ckpt = Files.createTempDirectory("graft_bpckpt").toString
    // one classic pcap (8 packets), one pcapng (1 packet), one
    // pre-decoded tshark-JSON capture (1 packet) — a mixed batch
    Files.write(Paths.get(data, "capture_a.pcap"), pcapFile(samplePackets))
    Files.write(Paths.get(data, "capture_b.pcapng"), ngFile(ngShb(), ngIdb(),
      ngEpb(1757075696L * 1000000L + 123456L, samplePackets.head)))
    Files.writeString(Paths.get(data, "capture_c.pcap.json"), s"[$goodPacket]")
    msg(q, "m1", "capture_a.pcap", 4000000L)
    msg(q, "m2", "capture_b.pcapng", 4000001L)
    msg(q, "m3", "capture_c.pcap.json", 4000002L)

    val qq = StreamingPipeline.notifyPipeline(spark, q, data, out, ckpt,
      trigger = Trigger.AvailableNow()).start()
    qq.awaitTermination(120000)

    assert(spark.read.text(s"$out/events").count() == 10) // 8 + 1 + 1
    val notif = spark.read.json(s"$out/_notifications")
    assert(notif.agg(sum("packets_processed")).head().getLong(0) == 10)
    // the decoded stream really went through the classifier: the pcap's
    // DNS/TLS packets appear as typed UDM events
    val events = spark.read.json(s"$out/events")
    assert(events.filter(col("event.metadata.event_type") === "NETWORK_DNS").count() == 2)
    val errs = spark.read.json(s"$out/_errors") // empty sink: schema is batch_id only
    assert(!errs.columns.contains("dlq_reason") ||
      errs.filter(col("dlq_reason") === "row error").count() == 0)
  }

  test("one corrupt binary capture DLQs one message, not the whole batch") {
    import CaptureBytes._
    val q = Files.createTempDirectory("graft_cbq").toString
    val data = Files.createTempDirectory("graft_cbdata").toString
    val out = Files.createTempDirectory("graft_cbout").toString
    val ckpt = Files.createTempDirectory("graft_cbckpt").toString
    Files.write(Paths.get(data, "good.pcap"), pcapFile(samplePackets))
    Files.write(Paths.get(data, "corrupt.pcap"),
      pcapFile(samplePackets).take(40)) // truncated mid-record
    Files.writeString(Paths.get(data, "good.pcap.json"), s"[$goodPacket]")
    msg(q, "m1", "good.pcap", 4100000L)
    msg(q, "m2", "corrupt.pcap", 4100001L)
    msg(q, "m3", "good.pcap.json", 4100002L)

    val qq = StreamingPipeline.notifyPipeline(spark, q, data, out, ckpt,
      trigger = Trigger.AvailableNow()).start()
    qq.awaitTermination(120000) // ONE run: no retry exhaustion needed

    assert(spark.read.text(s"$out/events").count() == 9) // 8 + 1 good packets
    val errs = spark.read.json(s"$out/_errors")
    val rowErrs = errs.filter(col("dlq_reason") === "row error").collect()
    assert(rowErrs.length == 1, s"exactly the corrupt capture dead-letters: ${rowErrs.toSeq}")
    assert(rowErrs(0).getAs[String]("message_id").endsWith("corrupt.pcap"))
    assert(rowErrs(0).getAs[String]("payload").contains("Malformed"))
  }

  test("a payload naming a missing object exhausts the retry budget into the DLQ") {
    val q = Files.createTempDirectory("graft_mq").toString
    val data = Files.createTempDirectory("graft_mdata").toString
    val out = Files.createTempDirectory("graft_mout").toString
    val ckpt = Files.createTempDirectory("graft_mckpt").toString
    msg(q, "m1", "does_not_exist.pcap.json", 3000000L)

    def runOnce(): Boolean =
      try {
        val qq = StreamingPipeline.notifyPipeline(spark, q, data, out, ckpt,
          trigger = Trigger.AvailableNow(), maxAttempts = 2).start()
        qq.awaitTermination(120000); true
      } catch {
        case _: org.apache.spark.sql.streaming.StreamingQueryException => false
      }
    assert(!runOnce()) // read of the missing object throws
    assert(!runOnce()) // budget consumed
    assert(runOnce())  // dead-letter + commit
    val dlq = spark.read.json(s"$out/_errors")
    assert(dlq.filter(col("dlq_reason") === "retry budget exhausted").count() == 1)
  }

  test("a dead-lettered batch leaves its messages only in the DLQ: stale _latency rows are dropped") {
    val q = Files.createTempDirectory("graft_lq").toString
    val data = Files.createTempDirectory("graft_ldata").toString
    val out = Files.createTempDirectory("graft_lout").toString
    val ckpt = Files.createTempDirectory("graft_lckpt").toString
    Files.writeString(Paths.get(data, "capture_l.pcap.json"), s"[$goodPacket]")
    msg(q, "m1", "capture_l.pcap.json", 3100000L)
    // simulate maxAttempts crashed attempts of batch 0, one of which got
    // past the sinks and stamped its latency rows before dying
    val attempts = Paths.get(ckpt, "graft_attempts", "batch-0")
    Files.createDirectories(attempts)
    Seq("attempt-0", "attempt-1").foreach(a => Files.createFile(attempts.resolve(a)))
    Files.createDirectories(Paths.get(out, "_latency/batch_id=0"))
    Files.writeString(Paths.get(out, "_latency/batch_id=0/part-00000-stale.json"),
      """{"source_file":"capture_l.pcap.json","publish_ms":3100000,""" +
        """"commit_ms":3100500,"latency_ms":500}""" + "\n")

    val qq = StreamingPipeline.notifyPipeline(spark, q, data, out, ckpt,
      trigger = Trigger.AvailableNow(), maxAttempts = 2).start()
    qq.awaitTermination(120000)

    val dlq = spark.read.json(s"$out/_errors")
    assert(dlq.filter(col("dlq_reason") === "retry budget exhausted").count() == 1)
    assert(!Files.exists(Paths.get(out, "_latency/batch_id=0")),
      "a dead-lettered batch must not keep latency rows from an earlier attempt")
  }
}
