package graft.streaming

import graft.udm.UdmTransform
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming re-expression of the reference's event-driven
  * pipeline (SURVEY.md §2.1 S1–S6, §2.5 K1–K5, §2.6):
  *
  *  - S1/S2 (ring rotation + closed-file detection): the file source's
  *    visibility semantics — a capture file becomes one micro-batch
  *    unit when it appears; `maxFilesPerTrigger` bounds batch size
  *    (backpressure, the Pub/Sub-queue analog).
  *  - S3 (notification channel): the payload is just the filename
  *    (reference sniffer_entrypoint.sh:192), so file-listing discovery
  *    is semantically identical; the checkpoint's file log IS the
  *    processed-set (F4) with exactly-once tracking.
  *  - K2/K3/K4: `foreachBatch` writes good events as JSONL, routes
  *    error/malformed events to an `_errors` sink (DLQ), and writes
  *    per-file counts to a `_notifications` table (A1/A2 metric lines,
  *    json2udm_cloud.py:344–348) — each sink batch_id-scoped +
  *    overwritten, so batch retries are idempotent.
  *  - K5 (source cleanup): `cleanSource=delete/archive` option.
  *  - At-least-once + idempotent overwrite (reference
  *    processor_app.py:190–193 + deterministic output names) maps to
  *    checkpointed restart + deterministic per-batch output paths; a
  *    poison batch dead-letters after `maxAttempts` tries (the
  *    reference subscription's 5-attempt DLQ policy, main.tf:219–222).
  *
  * At scale: per-file work is embarrassingly parallel (one task per
  * file split); the only stateful query is the windowed metrics stream,
  * whose state is bounded by watermark × label cardinality.
  */
object StreamingPipeline {

  /** Streaming source over a landing directory of tshark-JSON capture
    * files → one row per packet (raw JSON string + source file), split
    * by [[UdmTransform.splitCaptures]]. */
  def readPacketStream(spark: SparkSession, landingDir: String,
                       maxFilesPerTrigger: Int = 16,
                       cleanSource: String = "off",
                       archiveDir: Option[String] = None): DataFrame = {
    var r = spark.readStream
      .option("wholetext", "true")
      .option("pathGlobFilter", "*.json")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("cleanSource", cleanSource)
    archiveDir.foreach(d => r = r.option("sourceArchiveDir", d))
    UdmTransform.splitCaptures(r.text(landingDir))
  }

  /** The transform stage every capture pipeline shares (the streams and
    * the batch run), ending on exactly the columns the sinks read:
    * `source_file`, `udm_json`, `is_error` (the DLQ route) and
    * `product_name` (what [[UdmTransform.perFileCounts]] counts). The
    * pipelines cache this output once per batch, so the raw packet and
    * the event struct are never materialized. This is the planned form,
    * which the batch run uses; the streams run the same definition
    * through [[UdmStage]], planned once per session. */
  def toUdm(packets: DataFrame): DataFrame =
    udmColumns(packets, graft.udm.UdmExpressions.isoMicros(current_timestamp()))

  /** [[toUdm]] with the fallback timestamp as ISO text. */
  private[graft] def udmColumns(packets: DataFrame, fallbackIso: Column): DataFrame = {
    val product = col("event_struct.event.metadata.product_name")
    UdmTransform.transformIso(packets, "raw", fallbackIso).select(col("source_file"),
      col("udm_json"),
      (product.contains("PacketProcessingError") || product.contains("Malformed"))
        .as("is_error"),
      product.as("product_name"))
  }

  /** Wire the full pipeline: landing dir → UDM JSONL + error DLQ +
    * per-file notification/metrics table. Delivery contract:
    * at-least-once batch execution (checkpoint restart re-runs an
    * uncommitted batch) made observably exactly-once by IDEMPOTENT
    * sinks — every sink writes a deterministic `batch_id=N`
    * subdirectory with overwrite semantics, so a retried batch
    * replaces its own partial output instead of appending duplicates
    * (the engine analog of the reference's deterministic-overwrite
    * idempotence, processor_app.py:190–193). Readers see the sink
    * roots as partitioned tables (`batch_id` becomes a column).
    *
    * Retry budget (the reference's 5-delivery-attempts-then-DLQ
    * subscription policy, terraform/main.tf:219–222): each batch's
    * attempt count is tracked under the checkpoint; once a batch has
    * failed `maxAttempts` times, its rows are dead-lettered wholesale
    * to `_errors` and the batch commits — a poison input dead-letters
    * instead of wedging the stream forever.
    *
    * `failHook` runs before the sinks on every normal attempt, on the
    * batch's [[toUdm]] rows — a test seam to inject the processing
    * crashes the retry budget guards (production default is a no-op).
    *
    * Call `.start()` on the result (tests use Trigger.AvailableNow via
    * the `trigger` param). */
  def pipeline(spark: SparkSession, landingDir: String, outDir: String,
               checkpoint: String,
               trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
               maxFilesPerTrigger: Int = 16,
               maxAttempts: Int = 5,
               failHook: (DataFrame, Long) => Unit = (_, _) => ())
      : DataStreamWriter[Row] = {
    UdmStage.stage(spark, UdmStage.TsharkJson) // a stage that cannot run fails here
    microBatches(readPacketStream(spark, landingDir, maxFilesPerTrigger),
        checkpoint, trigger) { b =>
      val udm = UdmStage(spark, UdmStage.TsharkJson, b.df, UdmStage.fallbackNow(spark))
      withRetryBudget(spark, checkpoint, outDir, b.id, maxAttempts) {
        b.write(Sink(s"$outDir/_errors", "json", udm.select(col("source_file"),
          col("udm_json"), lit("retry budget exhausted").as("dlq_reason"))))
      } {
        failHook(udm, b.id)
        writeCapture(b, b.cache(udm), outDir)(identity)
      }
    }
  }

  /** One batch_id-scoped sink of a micro-batch: `rows` overwrite
    * `dir/batch_id=N` in `format` (text, json or parquet). */
  private final case class Sink(dir: String, format: String, rows: DataFrame)

  /** What [[microBatches]] hands a batch body: the batch `df`, its
    * `id`, a cache scope the skeleton releases once the body returns or
    * throws, and the writer of the batch's sinks. */
  private final class MicroBatch(val df: DataFrame, val id: Long) {
    private var cached = List.empty[DataFrame]

    def cache(frame: DataFrame): DataFrame = {
      val c = frame.cache()
      cached ::= c
      c
    }

    /** Write `sinks` concurrently ([[runSinksConcurrently]]), each an
      * overwrite of its own `batch_id=N` dir. */
    def write(sinks: Sink*): Unit =
      runSinksConcurrently(sinks.map(s => () =>
        s.rows.write.mode("overwrite").format(s.format).save(s"${s.dir}/batch_id=$id")))

    def release(): Unit = cached.foreach(_.unpersist())
  }

  /** The one micro-batch skeleton every `foreachBatch` pipeline runs
    * through. Structured Streaming's exactly-once argument (Armbrust et
    * al., SIGMOD 2018) is replay plus an idempotent sink: the
    * checkpoint re-runs an uncommitted batch, and every sink written
    * through [[MicroBatch.write]] overwrites its own `batch_id=N` dir,
    * so a replay replaces its partial output instead of appending to
    * it. The skeleton wires the query (checkpoint, trigger, the default
    * append mode) and releases the batch's caches whatever `body` does;
    * each pipeline passes only its input and its batch body. */
  private def microBatches(input: DataFrame, checkpoint: String, trigger: Trigger)
                          (body: MicroBatch => Unit): DataStreamWriter[Row] =
    input.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        val b = new MicroBatch(df, batchId)
        try body(b) finally b.release()
      }

  /** The JSONL file stream the store pipelines read: an explicit
    * `schema`, at most `maxFilesPerTrigger` new files per micro-batch. */
  private def jsonFiles(spark: SparkSession, schema: StructType, dir: String,
                        maxFilesPerTrigger: Int): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)

  /** Every sink dir a capture batch may write under `outDir`. */
  private val captureSinkDirs = Seq("events", "_errors", "_notifications", "_latency")

  /** K2/K3/K4 for one capture batch, the step [[pipeline]] and
    * [[notifyPipeline]] share: good events as JSONL (`events`), error
    * and malformed events to the `_errors` DLQ, and per-file
    * packet/error counts to `_notifications` (A1/A2), all three from
    * the cached [[UdmStage]] output `udm` and written concurrently. `dlq`
    * maps the error rows `(source_file, udm_json, dlq_reason)` to the
    * stream's own DLQ columns.
    *
    * F5 (the empty-output guard, processor_app.py:165–167) is subsumed:
    * the transform is total (P14: one event per input row,
    * property-tested), so an empty output for a non-empty batch cannot
    * happen, and a failed sink write throws out of the batch, so the
    * checkpoint retries it (up to the retry budget). */
  private def writeCapture(b: MicroBatch, udm: DataFrame, outDir: String)
                          (dlq: DataFrame => DataFrame): Unit =
    b.write(
      Sink(s"$outDir/events", "text", udm.filter(!col("is_error")).select(col("udm_json"))),
      Sink(s"$outDir/_errors", "json", dlq(udm.filter(col("is_error"))
        .select(col("source_file"), col("udm_json"), lit("row error").as("dlq_reason")))),
      Sink(s"$outDir/_notifications", "json", UdmTransform.perFileCounts(udm)))

  /** A manifest store's live rows as batch `batchId` must see them, at
    * the explicit `schema`: the live paths from
    * [[graft.util.StoreManifest.livePathsChecked]] (one listing serves
    * the fresh-checkpoint watermark refusal and the resolution, and the
    * batch's own partition is excluded, so a replay never meets its own
    * rows), or an empty frame while the store has none. An explicit
    * schema rather than footer inference, so an empty path list or a
    * fileless dir reads as empty instead of wedging every retry in
    * UNABLE_TO_INFER_SCHEMA. */
  private def liveStore(spark: SparkSession, dir: String, batchId: Long,
                        schema: StructType): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = graft.util.StoreManifest.livePathsChecked(fs, dir, batchId)
    if (live.nonEmpty) spark.read.schema(schema).parquet(live: _*)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** Take a create-once lock file for a store-rewriting operation
    * (`what` names it in the error): `fs.create(overwrite=false)` fails
    * when the lock exists, and the error reports the lock's age so the
    * operator can tell a crashed run from a running one. Atomic on
    * HDFS; check-then-create (best-effort) on local disk and most
    * object stores. The caller releases the lock. */
  private def acquireLock(fs: org.apache.hadoop.fs.FileSystem,
                          lock: org.apache.hadoop.fs.Path, what: String): Unit = {
    val lockStream =
      try fs.create(lock, false)
      catch {
        case _: java.io.IOException =>
          val age = try {
            (System.currentTimeMillis() -
              fs.getFileStatus(lock).getModificationTime) / 1000
          } catch { case scala.util.control.NonFatal(_) => -1L }
          throw new IllegalStateException(
            s"$what lock $lock already exists (age ${age}s): another " +
              s"$what is running, or a previous one crashed — delete the " +
              s"lock once you are sure no $what is in flight and re-run")
      }
    lockStream.close()
  }

  /** Remove a batch's directory under the named sinks — used by the
    * dead-letter path to clear output left behind by earlier partial
    * attempts of the same batch. */
  private def dropBatchDirs(spark: SparkSession, outDir: String, batchId: Long,
                            sinks: String*): Unit = {
    import org.apache.hadoop.fs.Path
    sinks.foreach { s =>
      val p = new Path(s"$outDir/$s/batch_id=$batchId")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
  }

  /** The retry budget shared by [[pipeline]] and [[notifyPipeline]]:
    * one marker file per try under the checkpoint, recorded BEFORE
    * processing so a mid-batch crash still consumes an attempt. Once a
    * batch has failed `maxAttempts` times it is a poison batch: earlier
    * partial attempts may have committed some sink directories before
    * crashing on a later one (`_latency` included), so every capture
    * sink's batch dir is removed and `deadLetter`
    * writes every row of the batch (the whole "message", like the
    * reference's DLQ topic) — its rows exist ONLY in the DLQ, no
    * double-count on re-drive. Otherwise `body` runs. Either way the
    * markers are dropped once the batch succeeded — without this a
    * long-running stream accumulates one marker dir per batch forever
    * and pays an fs listing per batch. A crash BETWEEN sink success and
    * that cleanup resets the retried batch's budget — harmless: sinks
    * are idempotent overwrite, so the retry converges. */
  private def withRetryBudget(spark: SparkSession, checkpoint: String,
                              outDir: String, batchId: Long, maxAttempts: Int)
                             (deadLetter: => Unit)(body: => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val attemptsDir = new Path(s"$checkpoint/graft_attempts/batch-$batchId")
    val fs = attemptsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val attempt = if (fs.exists(attemptsDir)) fs.listStatus(attemptsDir).length else 0
    fs.mkdirs(attemptsDir)
    fs.create(new Path(attemptsDir, s"attempt-$attempt"), true).close()
    if (attempt >= maxAttempts) {
      dropBatchDirs(spark, outDir, batchId, captureSinkDirs: _*)
      deadLetter
    } else body
    fs.delete(attemptsDir, true)
  }

  /** Batch-scoped stateful shuffle width for a PURE-streaming drain:
    * a stateful streaming query's shuffle width is FIXED at first
    * start (baked into the checkpoint's offset metadata), so the
    * session default (sized for corpus-scale batch jobs) pins
    * numShufflePartitions state-store instances per stateful operator
    * per micro-batch — pure per-batch fixed cost (store load/commit +
    * task schedule) once the batch volume is bounded by
    * `maxFilesPerTrigger`. The width derives from the ADMISSION UNIT,
    * never the machine: a 100 TB deployment runs a large
    * maxFilesPerTrigger and keeps wide state, and a low-core bench box
    * computes the same width. Measured r18 (sf0.1 events, local[32],
    * 16 files at maxFilesPerTrigger=2, AvailableNow, best-of-2):
    * rollingDistinctPipeline drain 58.3 → 10.5 s, noveltyPipeline
    * 24.8 → 7.4 s at width 32 → 8; quotaLimitPipeline (RocksDB)
    * 25.2 → 8.1 s. The r19 round probed the remaining floor
    * (tools/provider_width_probe.scala, same layout): width 8 → 2 is a
    * further 1.2–1.8× on every CLASSIC stateful drain (rolling_distinct
    * 15.3 → 9.0, novelty 8.3 → 4.5, hll 5.5 → 3.8, session 6.3 → 4.3,
    * anomaly 4.7 → 3.9) — their per-batch fixed cost is linear in
    * state-store instances all the way down, so the floor is the
    * MINIMUM parallelism (2), not a knee. transformWithState drains
    * are the OPPOSITE — see `floor` in the body. Results are
    * width-independent — keys hash-partition identically at any width,
    * watermarks are global, and monitoring counters are row/group
    * counts (oracle-rechecked at 3 SFs for the drain-executing
    * registry queries, r18 and again r19).
    *
    * `body` must contain the `.start()` (the conf is read at query
    * start); the previous width is restored after `body` returns —
    * drains are serial per session. This is the ONLY writer of the
    * width; foreachBatch bodies write none: a batch-derived plan runs
    * under the query's cloned session, which never sees a later write
    * to `spark`, and AQE sizes batch-local shuffles from measured map
    * output (tools/fb_width_probe.scala). */
  def withStreamShuffleWidth[A](spark: SparkSession,
                                maxFilesPerTrigger: Int,
                                floor: Int = 2)(body: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    // floor 2 for the CLASSIC stateful operators (windowed agg / dedup
    // / session / FMGWS): a partial aggregate runs BEFORE their
    // stateful exchange, so only GROUPS reach the state store and
    // instance count is everything. transformWithState drains pass
    // floor 8 — TWS runs its handler PER ROW (nothing pre-aggregates
    // ahead of its exchange), so state work needs parallel width: at
    // floor 2 the full-bench quota drain regressed 5.1 → 7.9–9.0 s and
    // scd2 4.2 → 6.4–6.9 across two runs (r19), while the classic
    // drains improved 1.2–1.8×.
    spark.conf.set("spark.sql.shuffle.partitions",
      math.max(floor, maxFilesPerTrigger).toString)
    try body
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** RocksDB state-store provider + changelog checkpointing for the
    * scope of `body` (save/set/restore — the conf is read at query
    * start, so `body` must contain the `.start()`). ONE definition for
    * the transformWithState operators, which REQUIRE the RocksDB
    * provider; changelog checkpointing rides along (r18: the default
    * RocksDB commit uploads a FULL snapshot per store per batch;
    * changelog commits the per-batch delta — quota drain 8.1 → 5.7 s
    * at width 8).
    *
    * Deliberately NOT applied to the classic stateful operators
    * (window aggregates / dedup / session / FMGWS): the r19 probe
    * (tools/provider_width_probe.scala, sf0.1 drains, local[32],
    * best-of-2) measured RocksDB+changelog MIXED against the
    * HDFS-backed default on a local-disk checkpoint — rolling_distinct
    * 11.4 → 14.0 s (worse), novelty 13.4 → 12.2, hll 6.6 → 5.3,
    * session 5.8 → 5.3, anomaly 5.3 → 4.5 — while the shuffle-width
    * floor dominated everything (see [[withStreamShuffleWidth]]). On
    * local disk the HDFS provider is an in-memory map plus small local
    * delta files, so RocksDB's native I/O only breaks even; the
    * object-store-checkpoint argument for changelog mode at 100 TB
    * stands, but it is a deployment conf, not a library default this
    * bench can justify. State CONTENTS are provider-independent (the
    * changelog replays to the same store); only commit mechanics
    * change. */
  def withRocksDbStateStore[A](spark: SparkSession)(body: => A): A = {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val changelogKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val oldProvider = spark.conf.getOption(providerKey)
    val oldChangelog = spark.conf.getOption(changelogKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(changelogKey, "true")
    try body finally {
      oldProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
      oldChangelog match {
        case Some(v) => spark.conf.set(changelogKey, v)
        case None => spark.conf.unset(changelogKey)
      }
    }
  }

  /** The transformWithState operators' shared precondition: they need
    * multi-column-family state, which only the RocksDB provider has
    * (see [[withRocksDbStateStore]]). Checked fail-loud when the
    * operator is BUILT, naming the operator, instead of at the first
    * batch. */
  private def requireRocksDbProvider(spark: SparkSession, operator: String): Unit = {
    val provider = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass").getOrElse("")
    require(provider.contains("RocksDB"),
      s"$operator: transformWithState requires " +
        "spark.sql.streaming.stateStore.providerClass=" +
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  }

  /** Run independent batch-scoped sink writes CONCURRENTLY (guide §2.6
    * thread-pool overlap): each thunk on its own thread, awaiting ALL
    * before returning or rethrowing — an in-flight write must never
    * race the caller's cleanup/retry path, so the first failure is
    * rethrown only after every sink has finished or failed. Callers
    * may only pass sinks whose RELATIVE order is contract-free: each a
    * batch_id-scoped overwrite, so any crash leaves some subset of
    * batch dirs that the replayed batch overwrites wholesale (the
    * at-least-once contract is per-sink idempotence, never
    * inter-sink ordering — the one order-bearing write, the notify
    * pipeline's `_latency` stamp, stays strictly AFTER this call).
    *
    * The contract holds under interruption too (a query stop interrupts
    * the micro-batch thread): the outstanding sinks are cancelled, the
    * call waits until every sink thread has returned, re-sets the
    * interrupt flag and only then rethrows. */
  private[graft] def runSinksConcurrently(sinks: Seq[() => Unit]): Unit =
    if (sinks.sizeIs <= 1) sinks.foreach(_())
    else {
      import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}
      val pool = Executors.newFixedThreadPool(sinks.size)
      try {
        val futures = sinks.map { s =>
          pool.submit(new Callable[Unit] { def call(): Unit = s() })
        }
        val failures =
          try futures.flatMap { f =>
            try { f.get(); None }
            catch { case e: ExecutionException => Some(e.getCause) }
          } catch {
            case e: InterruptedException =>
              futures.foreach(_.cancel(true))
              pool.shutdown()
              var done = false
              while (!done)
                try done = pool.awaitTermination(1, TimeUnit.SECONDS)
                catch { case _: InterruptedException => () }
              Thread.currentThread().interrupt()
              throw e
          }
        failures.foreach(e => throw e)
      } finally pool.shutdown()
    }

  /** The reference's ACTUAL delivery architecture — push notification →
    * GET object → process (processor_app.py:108–179) — using the
    * [[graft.sources.NotifySource]] custom DataSourceV2 stream as the
    * subscription: each queue message's payload names a capture file
    * under `dataDir`; per micro-batch the named files are batch-read
    * and run through the same UDM transform and batch_id-scoped
    * idempotent sinks as [[pipeline]]. Payloads naming BINARY captures
    * (`*.pcap` / `*.pcapng`) are decoded in-plan by the native
    * [[graft.sources.PcapParser]] — the reference's
    * download → tshark → transform chain as ONE streaming plan;
    * payloads naming pre-decoded `*.json` captures read as wholetext. Semantics carried over from the
    * reference subscription:
    *  - at-least-once delivery + ack-on-commit (the source redelivers
    *    an uncommitted batch on restart; `ack=delete|archive` cleans
    *    acked messages);
    *  - retry budget: a batch that keeps failing (e.g. a payload naming
    *    a missing object — the read throws — or any poison input)
    *    dead-letters its MESSAGES after `maxAttempts` (main.tf:219–222)
    *    and the stream moves on;
    *  - F1 filename validation: empty or '/'-containing payloads are
    *    rejected straight to the DLQ with no retry
    *    (processor_app.py:131–133);
    *  - A3 per-file latency: each successful batch writes
    *    `_latency/batch_id=N` rows (source_file, publish_ms,
    *    commit_ms, latency_ms) — the reference's per-file
    *    PROCESSING_DURATION_SECONDS log (processor_app.py:174–176)
    *    as a queryable table (oracled p95 in `a3_file_latency`).
    * The per-batch `collect()` is of notification payloads only —
    * messages, never data — and `maxMessagesPerTrigger` (source
    * admission control, the subscription's flow-control analog) bounds
    * the batch's message count, so a 10M-message backlog drains as
    * ⌈N/max⌉ micro-batches instead of one unbounded batch: driver
    * memory stays O(max), and a poison message dead-letters one
    * bounded batch, not the whole backlog. */
  def notifyPipeline(spark: SparkSession, queueDir: String, dataDir: String,
                     outDir: String, checkpoint: String,
                     trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
                     maxAttempts: Int = 5,
                     ack: String = "off",
                     maxMessagesPerTrigger: Int = 1024,
                     failHook: (DataFrame, Long) => Unit = (_, _) => ())
      : DataStreamWriter[Row] = {
    // a stage that cannot run fails here, not at the first batch
    Seq(UdmStage.Pcap, UdmStage.TsharkJson).foreach(UdmStage.stage(spark, _))
    val notifications = spark.readStream.format("graft-notify")
      .option("ack", ack)
      .option("maxMessagesPerTrigger", maxMessagesPerTrigger)
      .load(queueDir)
    microBatches(notifications, checkpoint, trigger) { b =>
      withRetryBudget(spark, checkpoint, outDir, b.id, maxAttempts) {
        b.write(Sink(s"$outDir/_errors", "json", b.df.select(col("message_id"),
          col("payload"), lit("retry budget exhausted").as("dlq_reason"))))
      } {
        failHook(b.df, b.id)
        val msgs = b.df.select("message_id", "payload", "publish_ms").collect()
          .map(r => (r.getString(0), r.getString(1).trim, r.getLong(2)))
        val (valid, invalid) = msgs.partition { case (_, f, _) =>
          // F1 (processor_app.py:131–133) + directory traversal: "."
          // or ".." would make $dataDir/$f a DIRECTORY read (Python's
          // open() raises there; a silent dir scan would ingest
          // foreign files)
          f.nonEmpty && !f.contains("/") && f != "." && f != ".."
        }
        // built only when a name is invalid, at an explicit schema: no
        // encoder is derived per batch
        def dlqInvalid = spark.createDataFrame(
          java.util.Arrays.asList(invalid.map { case (m, f, _) =>
            Row(m, f, "invalid filename") }: _*), notifyDlqSchema)
        if (valid.nonEmpty) {
          // the reference's full processor path: a payload naming a
          // BINARY capture runs download → decode → transform in this
          // batch's plan (tshark hop, processor_app.py:144–163 — here
          // the native parser inside the scan partitions); payloads
          // naming pre-decoded *.json captures keep the wholetext path
          val (pcapNames, jsonNames) = valid.partition { case (_, f, _) =>
            f.endsWith(".pcap") || f.endsWith(".pcapng")
          }
          val fallbackIso = UdmStage.fallbackNow(spark)
          val parts = Seq(
            if (jsonNames.isEmpty) None else Some(UdmStage(spark, UdmStage.TsharkJson,
              UdmTransform.splitCaptures(spark.read.option("wholetext", "true")
                .text(jsonNames.map { case (_, f, _) => s"$dataDir/$f" }: _*)),
              fallbackIso)),
            if (pcapNames.isEmpty) None else Some(UdmStage(spark, UdmStage.Pcap,
              // contained: ONE corrupt capture DLQs one message (via
              // the P14 Malformed path), never the whole batch; the
              // decode runs inside the prepared stage
              graft.sources.PcapDecode.captureFiles(spark,
                pcapNames.map { case (_, f, _) => s"$dataDir/$f" }.toSeq),
              fallbackIso))
          ).flatten
          // the JSON branch carries packet text and the native pcap
          // branch binary captures: each runs through its own prepared
          // stage, and the two event sets union. Concurrent first
          // readers of the unmaterialized cache dedup per block
          // (BlockManager write locks), so the decode still runs once.
          val udm = b.cache(parts.reduce(_ unionByName _))
          writeCapture(b, udm, outDir) { errors =>
            val dlq = errors.select(col("source_file").as("message_id"),
              col("udm_json").as("payload"), col("dlq_reason"))
            if (invalid.isEmpty) dlq else dlq.unionByName(dlqInvalid)
          }
          // A3: per-file ingest→commit latency, the reference's
          // PROCESSING_DURATION_SECONDS metric per processed file
          // (processor_app.py:174–176) — publish_ms is the queue
          // message's ingest stamp, commit is now: strictly after the
          // capture sinks, which writeCapture awaits, so commit_ms
          // postdates the data sink. Batch-scoped overwrite like every
          // other sink: replayed attempts re-measure, never
          // double-count. The rows are computed ON THE DRIVER from
          // the already-collected message list, so this sink is a
          // direct JSONL file write — spending a Spark job (plan +
          // 1 task + commit protocol) to ship ≤maxMessagesPerTrigger
          // driver-local rows was pure per-batch fixed cost.
          // spark.read.json reads the dir identically.
          val commitMs = System.currentTimeMillis()
          dropBatchDirs(spark, outDir, b.id, "_latency")
          // Hadoop FS, not java.nio: outDir may be hdfs://s3a://
          // (every other sink resolves through the same FS — a
          // local-only write would silently split the output
          // across filesystems)
          val latPath = new org.apache.hadoop.fs.Path(
            s"$outDir/_latency/batch_id=${b.id}/part-00000.json")
          val latFs = latPath.getFileSystem(
            spark.sparkContext.hadoopConfiguration)
          val latOs = latFs.create(latPath, true)
          try latOs.write(valid.map { case (_, f, pub) =>
            s"""{"source_file":${jsonQuote(f)},"publish_ms":$pub,""" +
              s""""commit_ms":$commitMs,"latency_ms":${commitMs - pub}}"""
          }.mkString("", "\n", "\n").getBytes("UTF-8"))
          finally latOs.close()
        } else if (invalid.nonEmpty)
          b.write(Sink(s"$outDir/_errors", "json", dlqInvalid))
      }
    }
  }

  /** The columns of [[notifyPipeline]]'s `_errors` rows. */
  private val notifyDlqSchema = StructType(Seq("message_id", "payload", "dlq_reason")
    .map(StructField(_, StringType)))

  /** Read schema of the document streams ([[admissionPipeline]],
    * [[bloomAdmissionPipeline]]): JSONL doc_id, text, lang, source. */
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true),
    StructField("source", StringType, nullable = true)))

  /** Read schema of the embedding streams ([[semanticAdmissionPipeline]],
    * [[indexMaintenancePipeline]]): JSONL vec_id, label, embedding. */
  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("label", LongType, nullable = true),
    StructField("embedding", ArrayType(DoubleType), nullable = true)))

  /** Continuous corpus admission — the streaming form of
    * [[graft.analytics.Dedup.admitNewDocuments]]: a training corpus
    * that grows continuously while staying near-dup-free. Incoming
    * document files (JSONL: doc_id, text, lang, source) land in
    * `incomingDir`; each micro-batch
    *  1. drops documents whose MinHash-LSH bands collide with the
    *     PERSISTED signature store (`sigDir` — read per batch, appended
    *     per batch; the corpus TEXT is never re-scanned),
    *  2. collapses intra-batch near-dup groups to their min-doc_id
    *     representative (candidate pairs + connected components —
    *     batch-sized work, not corpus-sized),
    *  3. writes admitted docs and their signatures under
    *     batch_id-scoped overwrite dirs — idempotent on retry, so the
    *     at-least-once batch execution is observably exactly-once and
    *     the store never double-counts a replayed batch.
    * At 100 TB the signature store is (numHashes × 8 B)-per-doc —
    * orders of magnitude under corpus bytes — and the per-batch work is
    * bounded by the batch; nothing here re-touches corpus text.
    *
    * `prepare` is the intake-cleaning hook — applied to each batch
    * BEFORE fingerprinting, so cleaning feeds dedup (the real-intake
    * composition: e.g. `Cleaning.fixEncoding` then
    * [[graft.analytics.Cleaning.normalizeText]] makes a re-crawled
    * mojibake copy of an admitted page fingerprint-identical and
    * REJECTED, where the raw bytes would sneak it in as "novel").
    * Contract: narrow (batch-bounded work), schema-preserving on
    * (doc_id, text, lang, source), deterministic — a replayed batch
    * must prepare to the same rows. */
  def admissionPipeline(spark: SparkSession, incomingDir: String, sigDir: String,
                        outDir: String, checkpoint: String,
                        trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
                        maxFilesPerTrigger: Int = 16,
                        shingleK: Int = 3, numHashes: Int = 8,
                        rowsPerBand: Int = 4,
                        failHook: (DataFrame, Long) => Unit = (_, _) => (),
                        prepare: DataFrame => DataFrame = identity)
      : DataStreamWriter[Row] = {
    import graft.analytics.Dedup
    // the store leaves' read schema: batch_id never appears (live
    // partitions are resolved through the manifest and read as leaf dirs)
    val sigSchema = StructType(
      StructField("doc_id", LongType) +:
        (0 until numHashes).map(i => StructField(s"h$i", StringType)))
    microBatches(jsonFiles(spark, docSchema, incomingDir, maxFilesPerTrigger),
        checkpoint, trigger) { b =>
      // live partitions resolve through the store MANIFEST (segments
      // + unfolded batch dirs) so compaction can run concurrently —
      // a REPLAYED batch (crash after the sink writes, before the
      // checkpoint commit) must not see its own persisted signatures
      // (it would band-collide every one of its docs with itself and
      // overwrite the batch dirs with empty: permanent loss), so its
      // own partition is excluded at PATH level; the fold never
      // covers the newest partition, so replayed rows can never hide
      // inside a segment.
      val corpusSig = liveStore(spark, sigDir, b.id, sigSchema)
      // ONE signature pass per batch (the shingle+hash stage dominates
      // at scale — see Dedup.writeSignatures); admission, intra-batch
      // pairs, and the persisted store all derive from it. The batch
      // itself is cached too: it is admission-bounded, and both the
      // signature pass and the doc sink pull it — uncached each
      // re-reads the source files
      val cachedBatch = b.cache(prepare(b.df))
      val sig = b.cache(Dedup.minhashSignatures(cachedBatch, shingleK, numHashes))
      val corpusBands = Dedup.bandTable(corpusSig, numHashes, rowsPerBand)
        .select("bk")
      // the STORE side must never shuffle (r19): the old
      // batch-left_semi-store SMJ re-shuffled the whole store's
      // band table every micro-batch — per-batch cost GROWING with
      // store size. The batch side is bounded by the admission
      // unit (maxFilesPerTrigger), i.e. broadcast-safe by
      // construction: inner-BHJ the store scan against a hash of
      // the batch's band keys, then distinct(doc_id) — row-set ≡
      // the left_semi (exists) semantics, both sides already
      // null-band-free (bandTable drops null keys).
      val batchBands = Dedup.bandTable(sig, numHashes, rowsPerBand)
        .select("doc_id", "bk")
      val dupIds = corpusBands
        .join(broadcast(batchBands), Seq("bk"))
        .select("doc_id").distinct()
      // cached: the store-read + double-band-join plan above it is
      // the batch's second-heaviest stage and THREE consumers pull
      // it (intra-batch pairs, the cluster keep-set, the sig sink);
      // uncached it re-executed per action.
      // dupIds is ≤ batch-sized — broadcast the anti-join build
      // side (2 fewer exchanges per batch; left_anti builds right)
      val survivorSig = b.cache(sig.join(broadcast(dupIds), Seq("doc_id"), "left_anti"))
      // survivorSig is cached and batch-bounded, so the planner
      // broadcasts the band self-join here without a hint
      val pairs = Dedup.candidatePairsFromSignatures(
        survivorSig, numHashes, rowsPerBand).select("doc_a", "doc_b")
      // micro-batch pair tables are usually tiny (tens of pairs
      // per thousand docs), so clustersFromPairs labels them on
      // the driver; its size gate keeps the distributed loop for
      // genuinely large batches. keep is batch-bounded (≤ one
      // doc_id per batch doc) — eagerly checkpointed so the two
      // sink writes below consume materialized ids instead of
      // re-running the cluster plan each
      val keep = Dedup.clustersFromPairs(survivorSig.select("doc_id"), pairs)
        .filter(col("doc_id") === col("cluster_id")).select("doc_id")
        .localCheckpoint(true)
      // both sinks consume the MATERIALIZED keep set and the
      // already-hot caches; order between them was never
      // contract-bearing (spec: replay from a half-written batch)
      b.write(
        Sink(outDir, "parquet", cachedBatch.join(keep, Seq("doc_id"), "left_semi")),
        Sink(sigDir, "parquet", sig.join(keep, Seq("doc_id"), "left_semi")))
      failHook(b.df, b.id) // test seam: crash AFTER sinks, BEFORE commit
    }
  }

  /** Exact-dedup streaming admission over a PERSISTED Bloom sketch —
    * the zero-shuffle scale form of [[admissionPipeline]] for EXACT
    * duplicates ([[graft.analytics.Dedup.bloomAdmit]] made
    * continuous): corpus state is ONE broadcast-sized sketch per
    * batch, not a per-doc signature store, and the admission filter
    * never joins or shuffles corpus-sized data.
    *
    * Replay discipline — the signature store's batch_id EXCLUSION
    * expressed as sketch VERSIONING: batch N reads the newest
    * `sketch_v{id}` with id < N, so a REPLAYED batch (crash after the
    * sinks, before the checkpoint commit) reads exactly the pre-batch
    * sketch and can never reject its own insertions (the silent-loss
    * hazard). The admitted set is a pure function of (pre-batch
    * sketch, batch) — Bloom bits are order-independent ORs — so a
    * replay rewrites byte-identical content into the same
    * batch_id-scoped dir and sketch version. After a successful
    * batch, versions older than N−1 are pruned: steady-state storage
    * is ≤ 2 sketches.
    *
    * Guarantees: no false negatives across batches AND restarts; a
    * novel doc is falsely rejected with probability ≈ `fpp`
    * (conservative for corpus hygiene — chain the exact
    * [[admissionPipeline]] where FP loss matters). `expectedItems`
    * must cover the corpus LIFETIME cardinality — the sketch never
    * resizes (~1.2 B/item at 1 % fpp). Null-text docs carry a null
    * fingerprint and are admitted untouched (the shingle-less
    * convention). Intra-batch exact dups collapse to min doc_id. */
  def bloomAdmissionPipeline(spark: SparkSession, incomingDir: String,
                             sketchDir: String, outDir: String,
                             checkpoint: String,
                             trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
                             maxFilesPerTrigger: Int = 16,
                             expectedItems: Long = 1000000L,
                             fpp: Double = 0.01,
                             failHook: (DataFrame, Long) => Unit = (_, _) => ())
      : DataStreamWriter[Row] = {
    require(expectedItems > 0 && fpp > 0 && fpp < 1,
      s"bad sketch params: expectedItems=$expectedItems fpp=$fpp")
    microBatches(jsonFiles(spark, docSchema, incomingDir, maxFilesPerTrigger),
        checkpoint, trigger) { b =>
      import org.apache.hadoop.fs.Path
      import org.apache.spark.util.sketch.BloomFilter
      val dir = new Path(sketchDir)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(dir)
      val VerName = "sketch_v(\\d+)".r
      def versions(): Seq[Long] = fs.listStatus(dir).toSeq
        .flatMap(_.getPath.getName match {
          case VerName(v) => Some(v.toLong)
          case _ => None
        })
      // A version numbered ABOVE the current batch can only come from
      // a mismatched checkpoint/sketchDir pairing (e.g. the checkpoint
      // was wiped, restarting batchId at 0, while stale sketch_v* from
      // the prior incarnation survive). Left alone they would silently
      // become the "newest version < batchId" once batchId catches up,
      // merging obsolete membership and over-rejecting novel docs —
      // fail loud instead, like the bitSize require below. A version
      // EQUAL to batchId is legitimate (crash-replay after the sketch
      // write, before the commit) and is overwritten via tmp+rename.
      val seen = versions()
      require(seen.forall(_ <= b.id),
        s"sketch dir $sketchDir has versions ${seen.filter(_ > b.id).sorted.mkString(",")} " +
          s"ahead of batch ${b.id}: checkpoint and sketch directory are from " +
          "different incarnations — restore the matching checkpoint, or delete " +
          "the sketch directory to rebuild membership from scratch")
      val prevId = seen.filter(_ < b.id).sorted.lastOption
      val prev: Option[BloomFilter] = prevId.map { v =>
        val in = fs.open(new Path(dir, s"sketch_v$v"))
        try BloomFilter.readFrom(in) finally in.close()
      }
      val withFp = b.df.withColumn("__f",
        md5(regexp_replace(lower(col("text")), "[^a-z0-9]", "")))
      val pastSketch = prev match {
        case Some(bf) =>
          val bc = spark.sparkContext.broadcast(bf)
          val mc = udf((s: String) => s != null && bc.value.mightContain(s))
          withFp.filter(!mc(col("__f")))
        case None => withFp
      }
      // intra-batch exact collapse (batch-bounded groupBy); null
      // fingerprints bypass it and are admitted as-is
      val rep = pastSketch.filter(col("__f").isNotNull)
        .groupBy("__f").agg(min("doc_id").as("doc_id")).select("doc_id")
      val admitted = b.cache(pastSketch
        .join(rep, Seq("doc_id"), "left_semi")
        .unionByName(pastSketch.filter(col("__f").isNull)))
      b.write(Sink(outDir, "parquet", admitted.drop("__f")))
      // Spark's stat.bloomFilter NPEs on an EMPTY input (its
      // internal aggregate yields null bytes) — empty batches
      // (e.g. the trailing AvailableNow commit batch) carry the
      // previous sketch forward unchanged
      val fps = admitted.filter(col("__f").isNotNull).select("__f")
      val merged =
        if (fps.isEmpty) prev.getOrElse(BloomFilter.create(expectedItems, fpp))
        else {
          val batchBf = fps.stat.bloomFilter("__f", expectedItems, fpp)
          prev match {
            case Some(p) =>
              // fail LOUD with the cause: restarting with different
              // (expectedItems, fpp) changes the bit size and the
              // merge throws IncompatibleMergeException on every
              // retry of every batch — a permanent wedge whose
              // remedy (keep the original params, or wipe sketchDir
              // and accept re-admission of history) the operator
              // must choose explicitly
              require(p.bitSize() == batchBf.bitSize(),
                s"persisted sketch (bitSize=${p.bitSize()}) is incompatible " +
                  s"with expectedItems=$expectedItems fpp=$fpp " +
                  s"(bitSize=${batchBf.bitSize()}): the sketch never resizes — " +
                  "restart with the original parameters, or delete the sketch " +
                  "directory to rebuild membership from scratch")
              p.mergeInPlace(batchBf); p
            case None => batchBf
          }
        }
      // tmp + rename: the version either exists complete or not at
      // all — a half-written sketch must never be readable, and a
      // silently failed rename would let later batches re-admit
      // this batch's duplicates from an older version
      graft.util.StoreManifest.publishFile(fs,
          new Path(dir, s".sketch_v${b.id}.tmp"),
          new Path(dir, s"sketch_v${b.id}"))(merged.writeTo)
      failHook(b.df, b.id) // test seam: crash AFTER sinks, BEFORE commit
      versions().filter(_ < b.id - 1).foreach(v =>
        fs.delete(new Path(dir, s"sketch_v$v"), false))
    }
  }

  /** Continuous SEMANTIC admission — the third gate at the admission
    * seam ([[admissionPipeline]] = lexical near-dup MinHash store,
    * [[bloomAdmissionPipeline]] = exact Bloom sketch; this = embedding
    * near-dup over a persisted SRP-bucket store). Incoming vector
    * files (JSONL: vec_id, label, embedding: double array) land in
    * `incomingDir`; each micro-batch
    *  1. buckets incoming embeddings
    *     ([[graft.analytics.Similarity.srpBucket]], deterministic),
    *  2. reads ONLY the store slice sharing the batch's buckets (the
    *     ≤batch-sized distinct-bucket list is collected and pushed as
    *     an `In(bucket, …)` parquet filter — per-batch store IO is
    *     bucket-sliced, never a full store scan),
    *  3. decides admission with the batch core
    *     [[graft.analytics.Dedup.semanticAdmit]]: rejected iff an
    *     admitted store vector OR a smaller-vec_id batch-mate in the
    *     same bucket sits at cosine ≥ `tau` (exact verify on
    *     batch × candidate, never corpus),
    *  4. writes admitted rows and their (vec_id, bucket, vec) store
    *     records under batch_id-scoped overwrite dirs.
    * Replay discipline is [[admissionPipeline]]'s batch_id EXCLUSION:
    * a replayed batch filters its own partition out of the store read,
    * so it computes against exactly the pre-batch store and rewrites
    * byte-identical content (admission is a pure function of
    * (pre-batch store, batch) — SRP, cosine and the greedy are all
    * deterministic).
    *
    * State budget at 100 TB: the store holds (8 + 8 + 8·dim) B per
    * admitted vector — the full-precision vector is REQUIRED (the
    * exact-cosine verify is what keeps false rejections at zero among
    * colliding candidates); at dim=64 that is ~528 B/vector, ~0.5 TB
    * per 10⁹ admitted vectors, and the per-batch read slice is the
    * batch's bucket cover, not the store. Recall follows the SRP
    * contract on [[graft.analytics.Dedup.semanticAdmit]]: exact and
    * positive-scaled duplicates ALWAYS collide; angle-θ near-dups
    * collide with probability (1 − θ/π)^nBits. Null-embedding rows are
    * admitted untouched and never stored (the shingle-less
    * convention). `dim` is part of the store's identity — changing it
    * (or `nBits`) against an existing store mis-buckets silently, so
    * both are pinned in a `_params` file and checked fail-loud. */
  def semanticAdmissionPipeline(spark: SparkSession, incomingDir: String,
                                storeDir: String, outDir: String,
                                checkpoint: String,
                                trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
                                maxFilesPerTrigger: Int = 16,
                                tau: Double = 0.9, nBits: Int = 8,
                                dim: Int = 64,
                                failHook: (DataFrame, Long) => Unit = (_, _) => ())
      : DataStreamWriter[Row] = {
    import graft.analytics.{Dedup, Similarity}
    require(tau > 0 && tau <= 1, s"tau must be in (0,1]: $tau")
    // leaf-dir read schema: batch_id never appears (live partitions
    // resolve through the store manifest)
    val storeSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("bucket", LongType),
      StructField("vec", ArrayType(DoubleType))))
    microBatches(jsonFiles(spark, vecSchema, incomingDir, maxFilesPerTrigger),
        checkpoint, trigger) { b =>
      import org.apache.hadoop.fs.Path
      val storePath = new Path(storeDir)
      val fs = storePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // (nBits, dim, tau-independent) bucketing params are the
      // store's identity: drifting them mis-buckets every lookup
      // with zero errors surfaced — pin on first write, verify after
      val paramsFile = new Path(storeDir + "_params")
      val wantParams = s"nBits=$nBits dim=$dim"
      if (fs.exists(paramsFile)) {
        val got = graft.util.StoreManifest.readPin(fs, paramsFile)
        require(got == wantParams,
          s"semantic store $storeDir was built with ($got) but this " +
            s"pipeline runs ($wantParams): bucketing params are the " +
            "store's identity — restart with the original parameters, " +
            "or delete the store to rebuild membership from scratch")
      } else {
        // pin BEFORE the first store write (a crash between a sink
        // write and a later pin would leave store rows whose params
        // the next, possibly drifted, incarnation could not check)
        // and ATOMICALLY via tmp+rename (the Bloom-sketch publish
        // pattern): a crash mid-write must never leave a truncated
        // pin that bricks every restart with a garbage mismatch
        graft.util.StoreManifest.publishPin(fs, paramsFile, wantParams)
      }
      val cachedBatch = b.cache(b.df)
      // the batch's bucket cover — bounded by batch rows; pushed
      // into the store scan as an In() filter (never a full scan)
      val batchBuckets = cachedBatch
        .filter(col("embedding").isNotNull)
        .select(Similarity.srpBucket(col("embedding"), dim, nBits)
          .as("bucket"))
        .distinct().collect().map(_.getLong(0)).toSeq
      // replay exclusion at PATH level (admissionPipeline's rationale
      // — the fold never covers the newest partition)
      val store = liveStore(spark, storeDir, b.id, storeSchema)
        .filter(col("bucket").isInCollection(
          if (batchBuckets.isEmpty) Seq(-1L) else batchBuckets))
        .select("bucket", "vec")
      // eagerly materialized: both sinks consume the decision —
      // uncheckpointed, each would re-run the store join
      val admitted = Dedup.semanticAdmit(store, cachedBatch, tau, nBits,
          Some(dim))
        .filter(col("admitted")).select("vec_id", "bucket")
        .localCheckpoint(true)
      // both sinks consume the CHECKPOINTED decision + the hot
      // cache; a crash leaving either dir alone replays wholesale
      // (spec: half-written replay)
      b.write(
        Sink(outDir, "parquet",
          cachedBatch.join(admitted.select("vec_id"), Seq("vec_id"), "left_semi")),
        Sink(storeDir, "parquet", cachedBatch.filter(col("embedding").isNotNull)
          .select(col("vec_id"), col("embedding").as("vec"))
          .join(admitted, Seq("vec_id"))
          .select(col("vec_id"), col("bucket"), col("vec"))))
      failHook(b.df, b.id) // test seam: crash AFTER sinks, BEFORE commit
    }
  }

  /** Continuous ANN INDEX MAINTENANCE — the streaming wrapper
    * [[graft.analytics.Similarity.ivfPqAppend]]'s own scaladoc
    * demands (append-mode parquet is NOT replay-idempotent: a replayed
    * micro-batch would append duplicate code rows, and duplicate codes
    * are not harmless — a vector appearing twice can displace a
    * genuine top-k result). New embedding files (JSONL: vec_id, label,
    * embedding) land in `incomingDir`; each micro-batch encodes them
    * against the FROZEN model (`indexDir`'s cells + codebook —
    * train-once-search-many: maintenance never retrains; retrain with
    * writeIvfPq when [[graft.analytics.Similarity
    * .ivfPqReconstructionStats]] decays) and OVERWRITES
    * `deltaDir/batch_id=N` — a replayed batch rewrites byte-identical
    * content (the encode is a pure function of (model, batch)).
    * Search reads [[graft.analytics.Similarity.maintainedCodes]] =
    * base ∪ delta, plan-identical to the base search.
    *
    * State budget at 100 TB: NONE — no stateful operators; the index
    * delta IS the state and it is idempotent per batch by
    * construction. Per-batch cost is one narrow literal-matrix encode
    * pass + a (4 + m)-bytes-per-vector write; the base index is never
    * read in the hot loop (cells + codebook are model-sized, reread
    * per batch to honor an out-of-band retrain). */
  def indexMaintenancePipeline(spark: SparkSession, incomingDir: String,
                               indexDir: String, deltaDir: String,
                               checkpoint: String,
                               trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
                               maxFilesPerTrigger: Int = 16,
                               failHook: (DataFrame, Long) => Unit = (_, _) => ())
      : DataStreamWriter[Row] =
    microBatches(jsonFiles(spark, vecSchema, incomingDir, maxFilesPerTrigger),
        checkpoint, trigger) { b =>
      // EMPTY batch: skip the delta write AND the pin transition — a
      // zero-row batch_id partition would flip deltaHasCodes true
      // permanently, wedging a later legitimate retrain against data
      // that does not exist (replaying the skip is trivially
      // idempotent: nothing was written either time). NOT a `return`:
      // a return inside this lambda would throw NonLocalReturnControl
      // at runtime (the enclosing method has long since returned).
      if (!b.df.isEmpty) {
        import org.apache.hadoop.fs.Path
        // ONE model collect per batch: id + encoder share it (two
        // separate collects would read the model parquet twice per
        // batch — the round-7 admission fixed-cost lesson)
        val (modelId, encode) = graft.analytics.Similarity.ivfPqFrozenEncoder(
          spark.read.parquet(s"$indexDir/cells"),
          spark.read.parquet(s"$indexDir/codebook"))
        // the MODEL is the delta's identity (the semantic store's
        // _params discipline): pin its content id before the first
        // write, verify every batch — encoding against a retrained
        // index would mix two codebooks' bytes in one delta with
        // zero errors surfaced until search returns garbage
        val pinPath = new Path(deltaDir + "_model_id")
        val fs = pinPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // "has codes" = at least one published batch partition
        // holding a COMMITTED parquet data file — the guard BOTH pin
        // transitions need: a pin may only be written (or replaced)
        // while the delta holds NO codes. Stamping a pre-existing
        // unpinned delta would launder the very mismatch the pin
        // detects; refusing to replace an ORPHAN pin (batch 0
        // crashed between pin and first write) would wedge a
        // legitimate retrain against data that doesn't exist. The
        // "holds codes" = EXACTLY what a reader would resolve
        // (manifested segments ∪ committed batch dirs) — the pin
        // gate and maintainedCodes must never disagree about
        // whether rows exist, or a retrain-mismatch could be
        // laundered by re-stamping the pin over live-but-unseen
        // codes (a crashed write's `_temporary`-only dir still
        // counts as nothing)
        def deltaHasCodes: Boolean =
          graft.util.StoreManifest.livePaths(fs, deltaDir).nonEmpty
        val pinOk = if (fs.exists(pinPath)) {
          val got = graft.util.StoreManifest.readPin(fs, pinPath)
          require(got == modelId || !deltaHasCodes,
            s"delta $deltaDir is pinned to model $got but $indexDir now " +
              s"holds model $modelId (retrained?): appending would mix " +
              "codebooks in one delta — discard the delta (and this " +
              "checkpoint) to maintain the new model, or restore the old " +
              "index")
          got == modelId
        } else {
          require(!deltaHasCodes,
            s"delta $deltaDir holds code partitions but no model-id pin: " +
              "their producing model cannot be proven — discard the delta " +
              "(and this checkpoint), or restore its pin file")
          false
        }
        // empty delta: (re)pin atomically, tmp+rename, BEFORE the
        // first write of this incarnation
        if (!pinOk) graft.util.StoreManifest.publishPin(fs, pinPath, modelId)
        // fresh-checkpoint hazard (admissionPipeline's rationale): a
        // restarted-id batch at or below the delta's folded watermark
        // would write reader-invisible codes — refuse loudly
        graft.util.StoreManifest.requireBatchAboveFold(fs, deltaDir, b.id)
        b.write(Sink(deltaDir, "parquet", encode(b.df)))
        failHook(b.df, b.id) // test seam: crash AFTER sink, BEFORE commit
      }
    }

  /** Compact a batch_id-partitioned STORE — the one small-files
    * maintenance op for every parquet store the continuous pipelines
    * write: [[admissionPipeline]]'s signatures,
    * [[semanticAdmissionPipeline]]'s vectors and
    * [[indexMaintenancePipeline]]'s codes delta. A 10 s trigger writes
    * 8,640 partitions per DAY into each, and every reader (each
    * admission micro-batch, each [[graft.analytics.Similarity
    * .maintainedCodes]] search) re-lists and re-plans over all of them:
    * read cost grows with LIFETIME batches, not store rows. The Bloom
    * store is one sketch file per version and self-prunes; the delta's
    * model-id pin is never touched.
    *
    * Folds every committed partition below the newest into one segment
    * via the MANIFEST protocol ([[graft.util.StoreManifest]]) — LIVE-safe
    * by construction, so it may run concurrently with the pipeline and
    * with searches:
    *
    *  1. Under the `.compact_lock` (create-if-absent; atomic on HDFS,
    *     best-effort on local/object stores; released in finally —
    *     only a hard process kill strands it), sweep everything the
    *     PREVIOUS manifest swap retired ([[graft.util.StoreManifest
    *     .sweepStale]]). Deferring each fold's deletions to the NEXT
    *     fold's entry is the whole trick: a reader that resolved the
    *     pre-swap manifest keeps every file it planned until one full
    *     maintenance cycle later.
    *  2. covered = committed batch partitions with coveredMax < id <
    *     max(ids) — the NEWEST partition is always excluded, so a
    *     crash-replay of the in-flight micro-batch (always the newest)
    *     still lands on its own partition and its rows can never hide
    *     inside a segment.
    *  3. The union of (current segments ∪ covered) is written to a new
    *     `seg-<token>` dir. Readers never discover segments by listing
    *     — only manifested names are read — so the unmanifested dir is
    *     invisible; a crash here leaves garbage the next entry sweeps.
    *  4. Manifest generation gen+1 is published naming ONLY the new
    *     segment, coveredMax advanced (one atomic create-once file —
    *     [[graft.util.StoreManifest.publish]]). Readers switch
    *     atomically; nothing is deleted.
    *
    * Duplicate-INtolerant by construction: the fold product replaces
    * its inputs in one manifest swap, so a reader never sees a row
    * twice — what the codes delta requires (a duplicate CODE row
    * displaces a genuine top-k result) and the admission stores
    * tolerate. The pre-manifest protocols (offline-only; the
    * duplication-based store fold and the journaled directory swap of
    * the delta) are retired: a store carrying a pending
    * `.compact_journal` from a crashed pre-manifest run must complete
    * that fold with the release that wrote it (refused below). Returns
    * (live units before, after) where a unit is a segment or an
    * unfolded batch partition; no-op when there are fewer than two
    * units to merge below the newest batch. `outputFiles` sizes the
    * segment (1 at test scale, more when the store outgrows one
    * object); `failAt` is a test seam ("swept" / "segment_published" /
    * "manifest_swapped"). */
  def compactAdmissionStore(spark: SparkSession, storeDir: String,
                            outputFiles: Int = 1,
                            failAt: String => Unit = _ => ()): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    import graft.util.StoreManifest
    require(outputFiles >= 1, s"outputFiles must be >= 1: $outputFiles")
    val root = new Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"store $storeDir does not exist")
    // a pending PRE-manifest journal means a legacy fold crashed
    // mid-swap: its dot-temp holds the ONLY complete copy of the
    // covered rows, and the sweep below would delete it — refuse
    // before taking the lock
    require(!fs.exists(new Path(root, ".compact_journal")),
      s"$storeDir carries a pending pre-manifest compaction journal: its " +
        "covered originals may be partially deleted and the only complete " +
        "copy of those rows is the journaled temp — complete the fold with " +
        "the release that wrote the journal before compacting here")
    val lock = new Path(root, ".compact_lock")
    acquireLock(fs, lock, "compaction")
    try {
      StoreManifest.sweepStale(fs, root)
      failAt("swept")
      val listing = fs.listStatus(root).toSeq
      val m = StoreManifest.currentFrom(fs, root, listing)
      val batchIds = StoreManifest.committedBatchDirs(fs, listing)
        .map(_._1).filter(_ > m.coveredMax)
      val liveBefore = m.segments.size + batchIds.size
      val newestId = if (batchIds.nonEmpty) batchIds.max else Long.MinValue
      val covered = batchIds.filter(_ < newestId)
      val foldInputs = m.segments.map(s => s"$storeDir/$s") ++
        covered.map(id => s"$storeDir/batch_id=$id")
      if (foldInputs.size < 2) return (liveBefore, liveBefore)
      val token = java.util.UUID.randomUUID().toString.take(8)
      val segName = s"seg-$token"
      // leaf dirs are read directly (no batch_id column is inferred and
      // the fold product carries none)
      spark.read.parquet(foldInputs: _*)
        .coalesce(outputFiles)
        .write.mode("overwrite").parquet(s"$storeDir/$segName")
      require(fs.exists(new Path(s"$storeDir/$segName/_SUCCESS")),
        s"fold segment $segName carries no _SUCCESS marker")
      failAt("segment_published")
      val newCoveredMax = if (covered.nonEmpty) covered.max else m.coveredMax
      StoreManifest.publish(fs, root,
        StoreManifest(m.gen + 1, newCoveredMax, Seq(segName)))
      failAt("manifest_swapped")
      (liveBefore, 1 + batchIds.count(_ > newCoveredMax))
    } finally fs.delete(lock, false)
  }

  /** First-class RETRAIN of the maintained IVF-PQ index — the
    * sanctioned path out of the model-id pin's deliberate dead end
    * (the pipeline and [[graft.analytics.Similarity.maintainedCodes]]
    * refuse a retrained model against a live delta; previously the
    * only recovery was a manual "discard the delta and checkpoint").
    * Trains a NEW model + codes over `embeddings` — the CURRENT
    * source-of-truth corpus, which MUST cover base ∪ delta ∪ every
    * vector still sitting in `incomingDir` (the caller materializes
    * that union; embeddings are the system of record, the index is
    * derived) — then rotates atomically-by-journal:
    *
    *  1. new cells/codebook/codes are written to a dot-suffixed temp
    *     index dir and stamped `.complete`;
    *  2. a journal is published (tmp+rename) — from here the rotation
    *     WILL complete, on this run or on the resume a re-run performs;
    *  3. the old pin is deleted FIRST (while the old delta still
    *     exists, `maintainedCodes` now REFUSES loudly rather than ever
    *     pairing old codes with any model), then the delta dir, then
    *     the incoming files (all represented in the new base — leaving
    *     them would replay into duplicate codes against the new model),
    *     then the old checkpoint (EXPLICITLY invalidated: its offsets
    *     describe files that no longer exist, and a replayed batch
    *     would re-encode vectors the new base already holds);
    *  4. the index dirs swap (old → aside, temp → live, aside deleted)
    *     and the NEW model id is pinned (tmp+rename) onto the
    *     now-empty delta, so the restarted pipeline's first batch
    *     starts pinned;
    *  5. the journal is deleted.
    *
    * Run OFFLINE: pipeline stopped and ingestion quiesced (a file
    * landing in `incomingDir` after the `embeddings` snapshot was
    * taken would be swept without ever being indexed). After a crash,
    * RE-RUN this op before restarting the pipeline — the journal
    * resumes the rotation idempotently (every step is a delete or an
    * existence-guarded rename). Returns the new model id. */
  def reindexMaintained(spark: SparkSession, embeddings: DataFrame,
                        indexDir: String, deltaDir: String,
                        incomingDir: String, checkpoint: String,
                        nCells: Int = 8, m: Int = 16, ksub: Int = 32,
                        rounds: Int = 3,
                        failAt: String => Unit = _ => ()): String = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // exclusive lock (the compactAdmissionStore discipline): the
    // orphan sweep below would otherwise delete a CONCURRENT run's
    // in-flight temp — run B sweeping run A's trained-but-unjournaled
    // index turns a race into rotating an EMPTY index dir live. The
    // finally clause releases the lock even on exception; only a hard
    // process KILL strands it, and the error below says when deleting
    // it by hand is safe. NOTE fs.create(overwrite=false) is truly
    // atomic on HDFS; on ChecksumFileSystem (local) and most object
    // stores it is check-then-create, so mutual exclusion is
    // best-effort there — same caveat as both `.compact_lock`s.
    val lock = new Path(indexDir + ".reindex_lock")
    acquireLock(fs, lock, "reindex")
    // ALSO hold the delta's .compact_lock while the rotation runs: the
    // LIVE-safe compactAdmissionStore may be scheduled
    // independently, and a fold mid-flight while this rotation deletes
    // the delta dir would resurrect covered rows from its segment (or
    // crash half-published). Same create-if-absent discipline; the
    // rotation deleting deltaDir deletes the held lock with it — the
    // finally tolerates that.
    val deltaLock = new Path(deltaDir + "/.compact_lock")
    if (fs.exists(new Path(deltaDir))) {
      val dls =
        try fs.create(deltaLock, false)
        catch {
          case _: java.io.IOException =>
            fs.delete(lock, false)
            throw new IllegalStateException(
              s"delta compaction lock $deltaLock is held: a compaction is " +
                "running (or crashed) on the delta this reindex would " +
                "retire — wait for it or clear the lock, then re-run")
        }
      dls.close()
    }
    try {
    val journal = new Path(indexDir + ".reindex_journal")
    val token =
      if (fs.exists(journal)) {
        // resume a crashed rotation: the journaled temp was complete
        // before the journal was published
        graft.util.StoreManifest.readPin(fs, journal)
      } else {
        // no journal: any `.reindex_*` sibling is an orphan of a crash
        // BEFORE its journal published (mid-train, or between the
        // .complete stamp and the journal rename) — a full-size index
        // copy each; sweep them or every failed retrain strands one
        // permanently (the retired delta fold's unjournaled-temp sweep,
        // applied here)
        val parent = new Path(indexDir).getParent
        val baseName = new Path(indexDir).getName
        if (parent != null && fs.exists(parent))
          fs.listStatus(parent)
            .filter(st => st.isDirectory &&
              st.getPath.getName.startsWith(baseName + ".reindex_"))
            .foreach(st => fs.delete(st.getPath, true))
        val t = java.util.UUID.randomUUID().toString.take(8)
        val tmp = indexDir + s".reindex_$t"
        graft.analytics.Similarity.writeIvfPq(embeddings, tmp,
          nCells, m, ksub, rounds)
        fs.create(new Path(tmp, ".complete"), true).close()
        failAt("trained")
        graft.util.StoreManifest.publishPin(fs, journal, t)
        failAt("journaled")
        t
      }
    val tmp = new Path(indexDir + s".reindex_$token")
    val idxPath = new Path(indexDir)
    val aside = new Path(indexDir + s".reindex_old_$token")
    if (fs.exists(tmp)) {
      require(fs.exists(new Path(tmp, ".complete")),
        s"journaled temp index $tmp lacks its .complete marker — journals " +
          "are only published after a complete train; refusing to guess")
      fs.delete(new Path(deltaDir + "_model_id"), false)
      failAt("pin_deleted")
      fs.delete(new Path(deltaDir), true)
      failAt("delta_deleted")
      // sweep incoming: every vector there is in the new base; leaving
      // the files would make a fresh checkpoint replay them into
      // duplicate codes
      val inPath = new Path(incomingDir)
      if (fs.exists(inPath))
        fs.listStatus(inPath).filter(_.isFile)
          .foreach(f => fs.delete(f.getPath, false))
      failAt("incoming_swept")
      fs.delete(new Path(checkpoint), true)
      failAt("checkpoint_deleted")
      if (fs.exists(idxPath))
        require(fs.rename(idxPath, aside), s"failed to move $idxPath aside")
      failAt("old_moved")
      require(fs.rename(tmp, idxPath), s"failed to swap $tmp -> $idxPath")
      failAt("swapped")
      fs.delete(aside, true)
    } else {
      // temp already swapped in: only post-swap cleanup can be pending
      require(fs.exists(idxPath),
        s"corrupt reindex state: neither $tmp nor $idxPath exists")
      fs.delete(aside, true)
      // pre-swap deletes are idempotent — redo them (a pin deleted here
      // can only be a new pin written just before a crash; it is
      // rewritten below over the empty delta, a legal transition)
      fs.delete(new Path(deltaDir + "_model_id"), false)
      fs.delete(new Path(deltaDir), true)
      val inPath = new Path(incomingDir)
      if (fs.exists(inPath))
        fs.listStatus(inPath).filter(_.isFile)
          .foreach(f => fs.delete(f.getPath, false))
      fs.delete(new Path(checkpoint), true)
    }
    val newId = graft.analytics.Similarity.ivfPqModelId(
      spark.read.parquet(s"$indexDir/cells"),
      spark.read.parquet(s"$indexDir/codebook"))
    graft.util.StoreManifest.publishPin(fs, new Path(deltaDir + "_model_id"), newId)
    failAt("pinned")
    fs.delete(journal, false)
    newId
    } finally {
      fs.delete(deltaLock, false) // gone already if the delta was retired
      fs.delete(lock, false)
    }
  }

  /** A4/A5/A7 — streaming windowed metrics over a timestamped event
    * stream: tumbling 60 s counts per label with a watermark bounding
    * state (the reference's ALIGN_RATE dashboards; SURVEY §2.4). */
  def windowedCounts(events: DataFrame, tsCol: String, labelCol: String,
                     window_ : String = "60 seconds",
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col(labelCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col(labelCol), col("n"))

  /** Streaming TRENDING TOKENS — per event-time window, the top-k
    * tokens of the documents that arrived in it (the live "what is the
    * crawl ingesting right now" panel; spam/bot bursts surface as a
    * token owning a window). Two stages with a clean state story:
    *
    *  1. the STREAMING stage is a watermarked tumbling-window
    *     (window, token) count — Spark's windowed-agg state, evicted
    *     as the watermark passes (state ≈ in-horizon windows × active
    *     vocab; for a truly unbounded vocab use
    *     [[trendingTokensSketch]] — the Misra-Gries sketch held as
    *     flatMapGroupsWithState state, O(sketchK) per open window);
    *  2. append mode hands foreachBatch ONLY windows the watermark has
    *     CLOSED, so the per-window top-k rank inside the batch is
    *     batch-local work over finalized counts (a ranking window over
    *     a bounded batch, not the corpus), written batch_id-scoped for
    *     idempotent replays — the repo's streaming-sink discipline.
    *
    * Output rows per closed window: (window_start, window_end, rk,
    * token, n), rk ≤ k by (n DESC, token ASC) — deterministic. */
  def trendingTokensPipeline(spark: SparkSession, incomingDir: String,
                             outDir: String, checkpoint: String,
                             trigger: Trigger =
                               Trigger.ProcessingTime("10 seconds"),
                             maxFilesPerTrigger: Int = 16,
                             window_ : String = "60 seconds",
                             watermark: String = "0 seconds",
                             k: Int = 10)
      : DataStreamWriter[Row] = {
    require(k >= 1, s"k must be >= 1: $k")
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = true),
      StructField("ts", TimestampType, nullable = false)))
    val counts = jsonFiles(spark, docSchema, incomingDir, maxFilesPerTrigger)
      .withWatermark("ts", watermark)
      .select(col("ts"),
        explode(graft.analytics.TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy(window(col("ts"), window_), col("token"))
      .agg(count(lit(1)).cast("long").as("n"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("token"), col("n"))
    microBatches(counts, checkpoint, trigger) { b =>
      import org.apache.spark.sql.expressions.Window
      b.write(Sink(outDir, "parquet", b.df.withColumn("rk",
          row_number().over(Window.partitionBy("window_start", "window_end")
            .orderBy(col("n").desc, col("token"))))
        .filter(col("rk") <= k)
        .select(col("window_start"), col("window_end"),
          col("rk").cast("long").as("rk"), col("token"), col("n"))))
    }
  }

  /** BOUNDED-STATE trending tokens — the unbounded-vocabulary variant
    * [[trendingTokensPipeline]]'s scaladoc promises: per event-time
    * tumbling window, a Misra-Gries(`sketchK`) sketch held as
    * `flatMapGroupsWithState` state (the batch path's
    * [[graft.analytics.CorpusOps.mgAddAll]] counter merge — O(sketchK)
    * memory per OPEN window regardless of vocabulary), emitted as the
    * top-`topK` when the watermark closes the window (event-time
    * timeout). Counts are MG LOWER BOUNDS (a surviving counter
    * undercounts by ≤ N_window/(sketchK+1)) — the price of bounded
    * state; any token above that support is guaranteed present. Late
    * rows whose window the watermark already passed are dropped, never
    * resurrect state.
    *
    * THROUGHPUT (the 100 TB shape): the stateful operator groups on
    * window-start alone, so naively every token occurrence of the
    * current window would shuffle into ONE task per trigger — a
    * single-core ceiling. Instead each input partition first reduces
    * its slice to a BATCH-LOCAL MG(sketchK) sketch per window (narrow
    * `mapPartitions`, no shuffle — the streaming twin of
    * [[graft.analytics.CorpusOps.mgSketch]]'s treeAggregate), and the
    * stateful task merges those partials as (token, count) pairs via
    * the same mergeable [[graft.analytics.CorpusOps.mgAddAll]] core.
    * Per trigger the funnel now carries ≤ partitions·(sketchK+1) pairs
    * per window — independent of stream rate and vocabulary — and the
    * merged estimate keeps the identical N_window/(sketchK+1) bound
    * (Agarwal et al., "Mergeable Summaries": per-partial decrement
    * mass sums to ≤ ΣN_p/(k+1) = N/(k+1)).
    *
    * Output (append, on window close): (window_start, rk, token,
    * est_count), rk by (est_count DESC, token ASC). */
  def trendingTokensSketch(docs: DataFrame, tsCol: String, textCol: String,
                           windowSeconds: Long, sketchK: Int, topK: Int,
                           watermarkDelay: String = "0 seconds"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    require(windowSeconds >= 1, s"windowSeconds must be >= 1: $windowSeconds")
    require(sketchK >= topK && topK >= 1,
      s"need sketchK >= topK >= 1: sketchK=$sketchK topK=$topK")
    val spark = docs.sparkSession
    import spark.implicits._
    val windowMs = windowSeconds * 1000L
    val typed = docs
      .select(col(tsCol).as("ts"),
        explode(graft.analytics.TextAnalysis.tokens(col(textCol))).as("token"))
      .as[(java.sql.Timestamp, String)]
    val add = graft.analytics.CorpusOps.mgAddAll(sketchK) _
    // batch-local pre-sketch: one MG(sketchK) per (partition, window),
    // narrow — only the ≤ sketchK+1 surviving (token, count) pairs per
    // partition shuffle to the per-window state task. Elements feed the
    // sketch one at a time so it stays ≤ sketchK+1 entries THROUGHOUT
    // (a bulk add would hold the partition's whole distinct vocabulary
    // before trimming). Each sketch row carries the MAX raw event time
    // it absorbed: the analyzer needs a watermark-tagged column to
    // reach the stateful operator (mapPartitions strips column
    // metadata, so the watermark is applied AFTER the pre-sketch), and
    // the per-batch global max survives into some sketch row — the
    // watermark advances exactly as it would on the raw stream.
    val pre = typed.mapPartitions { it =>
      val perWindow = scala.collection.mutable.HashMap
        .empty[Long, (Array[Long], scala.collection.mutable.HashMap[String, Long])]
      it.foreach { case (ts, tok) =>
        val t = ts.getTime
        val w = (t / windowMs) * windowMs
        val (maxTs, m) = perWindow.getOrElseUpdate(w,
          (Array(Long.MinValue), scala.collection.mutable.HashMap.empty))
        if (t > maxTs(0)) maxTs(0) = t
        add(m, Iterator.single(tok -> 1L))
      }
      perWindow.iterator.flatMap { case (w, (maxTs, m)) =>
        m.iterator.map { case (tok, c) =>
          (new java.sql.Timestamp(maxTs(0)), w, tok, c)
        }
      }
    }
    pre.toDF("ts", "wstart", "token", "cnt")
      .withWatermark("ts", watermarkDelay)
      .as[(java.sql.Timestamp, Long, String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Map[String, Long],
        (java.sql.Timestamp, Long, String, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (wstart: Long, rows: Iterator[(java.sql.Timestamp, Long, String, Long)],
         state: GroupState[Map[String, Long]]) =>
          if (state.hasTimedOut) {
            val sketch = state.get
            state.remove()
            sketch.toSeq.sortBy { case (t, c) => (-c, t) }.take(topK)
              .zipWithIndex.iterator.map { case ((t, c), i) =>
                (new java.sql.Timestamp(wstart), (i + 1).toLong, t, c)
              }
          } else {
            val windowEnd = wstart + windowMs
            if (windowEnd <= state.getCurrentWatermarkMs()) {
              // straggler for an already-closed window: watermark
              // semantics say drop — never re-open emitted state
              Iterator.empty
            } else {
              val m = scala.collection.mutable.HashMap.empty[String, Long]
              if (state.exists) m ++= state.get
              // merge the per-partition partials pair-at-a-time — the
              // mergeable-summaries combine; state stays ≤ sketchK+1
              rows.foreach { case (_, _, t, c) =>
                add(m, Iterator.single(t -> c)) }
              state.update(m.toMap)
              state.setTimeoutTimestamp(windowEnd)
              Iterator.empty
            }
          }
      }
      .toDF("window_start", "rk", "token", "est_count")
  }

  /** Streaming volume-anomaly alerts — the live twin of
    * [[graft.metrics.Metrics.ewmaDailyAnomalies]]: per label, each
    * CLOSED event-time tumbling window's count is compared to the
    * truncated-EWMA baseline of the `lookback` PREVIOUSLY CLOSED
    * windows (weights (1−α)^(i−1), same [[graft.metrics.Metrics
    * .ewmaWeights]] ladder as the batch op), and an alert row is
    * emitted when the 4-dp-rounded ratio leaves [loRatio, hiRatio].
    * Warm-up windows (history < lookback) emit nothing — the batch
    * twin's rn > lookback gate. Windows with zero events never
    * existed: the baseline is over OBSERVED windows (row semantics,
    * not calendar), again matching the batch twin.
    *
    * State per label: the open-window count map (bounded by windows in
    * flight inside the watermark horizon) + the last `lookback` closed
    * (window, count) pairs — O(lookback) forever, label-cardinality
    * many keys. Stragglers for a window the watermark already closed
    * are DROPPED, never re-open emitted state (the repo's watermark
    * discipline).
    *
    * THROUGHPUT (100 TB shape, the trendingTokensSketch lesson applied
    * from day one): events pre-aggregate BATCH-LOCALLY to
    * (label, window, count) partials in a narrow `mapPartitions` —
    * the stateful task per label merges ≤ partitions·windows partial
    * counts per trigger, never raw events; counts are algebraic, so
    * the merge is exact (no sketch bound needed here).
    *
    * Output (append, on window close, once history is warm):
    * (window_start, label, n, ewma 4 dp, ratio 4 dp, is_anomaly). */
  def anomalyAlerts(events: DataFrame, tsCol: String, labelCol: String,
                    windowSeconds: Long, alpha: Double = 0.5,
                    lookback: Int = 7, hiRatio: Double = 1.5,
                    loRatio: Double = 0.6667,
                    watermarkDelay: String = "0 seconds"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    require(windowSeconds >= 1, s"windowSeconds must be >= 1: $windowSeconds")
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1): $alpha")
    require(lookback >= 1, s"lookback must be >= 1: $lookback")
    require(loRatio < hiRatio, s"loRatio $loRatio must be < hiRatio $hiRatio")
    val spark = events.sparkSession
    import spark.implicits._
    val weights = graft.metrics.Metrics.ewmaWeights(alpha, lookback)
    val wsum = weights.sum
    foldClosedWindows[(java.sql.Timestamp, String, Long, Double, Double,
      Boolean)](events, tsCol, labelCol, windowSeconds, lookback,
      watermarkDelay) { (label, w, n, hist) =>
      if (hist.size >= lookback) {
        // hist is most-recent-first; fixed left fold like the
        // batch twin's expression tree
        val ewma = weights.zip(hist.take(lookback))
          .map { case (wt, (_, c)) => wt * c }
          .foldLeft(0.0)(_ + _) / wsum
        val ratio = round4(n / ewma)
        Seq((new java.sql.Timestamp(w), label, n, round4(ewma),
          ratio, ratio >= hiRatio || ratio <= loRatio))
      } else Seq.empty
    }
      // the label column keeps the CALLER'S name — a hard-coded
      // "event_type" would silently mislabel any other label column
      .toDF("window_start", labelCol, "n", "ewma", "ratio", "is_anomaly")
  }

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Shared closed-window fold behind [[anomalyAlerts]] and
    * [[holtCapacityAlerts]]: batch-local pre-count to (label, window,
    * count) partials in a narrow `mapPartitions` (each partial carries
    * the max raw event time it absorbed so the post-mapPartitions
    * watermark advances exactly as on the raw stream — the
    * trendingTokensSketch pattern), then one flatMapGroupsWithState
    * per label holding (open-window count map, last `keep` CLOSED
    * (window, count) pairs most-recent-first) — O(keep) state per
    * label forever. Stragglers for a window the watermark already
    * closed are DROPPED, never re-open emitted state. `emit(label,
    * wstart, n, histBefore)` runs per closing window in window order
    * with the history as it stood BEFORE this window; the fold then
    * prepends (wstart, n) and truncates to `keep`. Null-ts rows have
    * no window position and are excluded HERE (the quota/funnel
    * null-ts contract — a null Timestamp would NPE in the pre-count's
    * `ts.getTime` and kill the query). */
  private def foldClosedWindows[T](
      events: DataFrame, tsCol: String, labelCol: String,
      windowSeconds: Long, keep: Int, watermarkDelay: String)(
      emit: (String, Long, Long, Seq[(Long, Long)]) => Seq[T])(
      implicit enc: org.apache.spark.sql.Encoder[T])
      : org.apache.spark.sql.Dataset[T] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val windowMs = windowSeconds * 1000L
    val typed = events.filter(col(tsCol).isNotNull)
      .select(col(tsCol).as("ts"), col(labelCol).as("label"))
      .as[(java.sql.Timestamp, String)]
    val pre = typed.mapPartitions { it =>
      val acc = scala.collection.mutable.HashMap
        .empty[(String, Long), Array[Long]]
      it.foreach { case (ts, label) =>
        val t = ts.getTime
        val a = acc.getOrElseUpdate((label, (t / windowMs) * windowMs),
          Array(Long.MinValue, 0L))
        if (t > a(0)) a(0) = t
        a(1) += 1
      }
      acc.iterator.map { case ((label, w), a) =>
        (new java.sql.Timestamp(a(0)), label, w, a(1)) }
    }
    pre.toDF("ts", "label", "wstart", "cnt")
      .withWatermark("ts", watermarkDelay)
      .as[(java.sql.Timestamp, String, Long, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[(Map[Long, Long], Seq[(Long, Long)]), T](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (label, rows, state) =>
          val wm = state.getCurrentWatermarkMs()
          var (open, hist) = if (state.exists) state.get
            else (Map.empty[Long, Long], Seq.empty[(Long, Long)])
          if (!state.hasTimedOut) rows.foreach { case (_, _, w, c) =>
            // stragglers for an already-closed window are dropped
            if (w + windowMs > wm)
              open = open.updated(w, open.getOrElse(w, 0L) + c)
          }
          val (toClose, stillOpen) =
            open.partition { case (w, _) => w + windowMs <= wm }
          val out = toClose.toSeq.sortBy(_._1).flatMap { case (w, n) =>
            val e = emit(label, w, n, hist)
            hist = ((w, n) +: hist).take(keep)
            e
          }
          state.update((stillOpen, hist))
          if (stillOpen.nonEmpty)
            state.setTimeoutTimestamp(stillOpen.keys.min + windowMs)
          out.iterator
      }
  }

  /** Holt TREND-AWARE capacity alerts — the live "will the next
    * windows breach capacity" panel, the forecasting close of the
    * [[anomalyAlerts]] loop: on each CLOSED event-time window, fit
    * Holt level+trend over the label's last `lookback` closed windows
    * (the just-closed one included — the forecast uses everything up
    * to now) via the [[graft.metrics.Metrics.holtWeights]] closed-form
    * dot products — the same O(lookback) closed-window state as the
    * EWMA scorer, no recursion — and emit one row per horizon
    * h = 1..`horizons` with `breach = forecast >= capacity`.
    *
    * Same row semantics as [[anomalyAlerts]]: the series is the label's
    * OBSERVED closed windows (a zero-traffic window never existed);
    * for gap-free traffic this is calendar Holt (the batch
    * [[graft.metrics.Metrics.holtForecast]] is the calendar-semantic,
    * zero-filled audit of the same weights — spec-pinned shared math).
    * Warm-up (history < lookback) emits nothing. Determinism: fixed
    * left-fold dot products over exact-dyadic weights — the batch
    * op's expression-tree order.
    *
    * Output (append, on window close, once warm): (window_start,
    * `labelCol`, n, horizon, level 4 dp, trend 4 dp, forecast 4 dp,
    * breach = ROUNDED forecast >= capacity — the flag never
    * contradicts the printed value). Null-ts rows are excluded by the
    * shared fold. */
  def holtCapacityAlerts(events: DataFrame, tsCol: String, labelCol: String,
                         windowSeconds: Long, capacity: Double,
                         lookback: Int = 14, horizons: Int = 3,
                         alpha: Double = 0.5, beta: Double = 0.5,
                         watermarkDelay: String = "0 seconds"): DataFrame = {
    require(windowSeconds >= 1, s"windowSeconds must be >= 1: $windowSeconds")
    require(horizons >= 1, s"horizons must be >= 1: $horizons")
    require(capacity > 0, s"capacity must be positive: $capacity")
    val (lw, tw) = graft.metrics.Metrics.holtWeights(alpha, beta, lookback)
    val spark = events.sparkSession
    import spark.implicits._
    foldClosedWindows[(java.sql.Timestamp, String, Long, Long, Double,
      Double, Double, Boolean)](events, tsCol, labelCol, windowSeconds,
      lookback - 1, watermarkDelay) { (label, w, n, hist) =>
      val series = ((w, n) +: hist).take(lookback)
      if (series.size >= lookback) {
        // series is most-recent-first; y1..yL are oldest-first
        val ys = series.reverseIterator.map(_._2.toDouble).toIndexedSeq
        def dot(ws: Seq[Double]): Double =
          ws.zip(ys).map { case (wt, y) => wt * y }.foldLeft(0.0)(_ + _)
        val (lev, tr) = (dot(lw), dot(tw))
        (1 to horizons).map { h =>
          // breach is decided on the ROUNDED forecast — the value the
          // row actually reports (the anomalyAlerts rounded-ratio rule:
          // flag and printed number must never contradict each other)
          val f = round4(lev + h * tr)
          (new java.sql.Timestamp(w), label, n, h.toLong, round4(lev),
            round4(tr), f, f >= capacity)
        }
      } else Seq.empty
    }
      .toDF("window_start", labelCol, "n", "horizon", "level", "trend",
        "forecast", "breach")
  }

  /** Streaming deduplication — at-least-once upstream delivery (the
    * reference's Pub/Sub redelivery, processor_app.py:190–193) becomes
    * exactly-once per event id downstream: duplicates arriving within
    * the watermark horizon are dropped, and state is evicted as the
    * watermark advances (bounded memory — the 100 TB requirement; a
    * plain `dropDuplicates` would grow state forever). A duplicate
    * arriving after its key's state was evicted re-emits, by design —
    * size `watermarkDelay` to the source's real duplicate window.
    * Deterministic oracled batch twin:
    * [[graft.metrics.Metrics.firstTouch]] (survivor = min
    * (ts, event_id), a function of the data, where the stream's is
    * first-arrival — identical when fed in event-time order,
    * spec-pinned via [[noveltyPipeline]]). */
  def dedupStream(events: DataFrame, idCols: Seq[String], tsCol: String,
                  watermarkDelay: String = "10 minutes"): DataFrame = {
    require(idCols.nonEmpty, "dedupStream needs at least one id column")
    events
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(idCols)
  }

  /** A7 (true absence detection) — the reference's "no heartbeat for
    * 15 min per sniffer_id" alert (terraform/main.tf:583–622) as
    * arbitrary stateful streaming: per label, keep the last-seen event
    * time and an event-time timeout; when the watermark passes
    * last_seen + threshold with no new events, emit one alert and drop
    * the state. Unlike the sliding-window approximation, this fires on
    * true silence (no row needed to trigger it) and carries O(1) state
    * per label. */
  def absenceAlerts(events: DataFrame, labelCol: String, tsCol: String,
                    thresholdSecs: Long,
                    watermarkDelay: String = "0 seconds"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .withWatermark(tsCol, watermarkDelay)
      .select(col(labelCol).cast("string").as("label"), col(tsCol).as("ts"))
      .as[(String, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, java.sql.Timestamp, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (label: String, rows: Iterator[(String, java.sql.Timestamp)],
         state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            val lastSeen = state.get
            state.remove()
            Iterator((label, new java.sql.Timestamp(lastSeen),
              (state.getCurrentWatermarkMs() - lastSeen) / 1000))
          } else {
            val maxTs = rows.map(_._2.getTime).max
            val last = if (state.exists) math.max(state.get, maxTs) else maxTs
            state.update(last)
            state.setTimeoutTimestamp(last + thresholdSecs * 1000)
            Iterator.empty
          }
      }
      .toDF("label", "last_seen", "silent_for_secs")
  }

  /** Streaming per-user session summaries via the NATIVE
    * `session_window` — the streaming twin of
    * [[graft.metrics.Metrics.sessionWindowSummaries]] (same
    * expression, same semantics: sessions merge while events arrive
    * within `gapSeconds`; session_end = last event + gap). Append
    * mode: a session row is emitted EXACTLY ONCE, when the watermark
    * passes its end — the whole point of using the native operator
    * over islands arithmetic is that this streaming state merge
    * (including out-of-order events joining or MERGING two open
    * sessions) comes built in.
    *
    * State per key is one open session interval + count — O(1) per
    * (user, open session); watermark eviction bounds total state by
    * the number of users active inside the lateness horizon.
    *
    * Output (append, on close): (user_id, session_start, session_end,
    * n_events). */
  def sessionSummaryPipeline(events: DataFrame, tsCol: String,
                             userCol: String, gapSeconds: Long,
                             watermarkDelay: String = "0 seconds")
      : DataFrame = {
    require(gapSeconds >= 1, s"gapSeconds must be >= 1: $gapSeconds")
    events
      .filter(col(userCol).isNotNull)
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), s"$gapSeconds seconds"),
        col(userCol))
      .agg(count(lit(1)).cast("long").as("n_events"))
      .select(col(userCol).as("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))
  }

  /** Watermark-bounded STREAM–STREAM interval join — the one
    * first-class Structured Streaming join family: two live event
    * streams correlated on a key within an event-time horizon
    * (`r_ts ∈ [l_ts, l_ts + horizonSeconds]`, both bounds inclusive).
    * The reference's processor consumes exactly this shape — two
    * correlated inbound streams, Pub/Sub notifications + the GCS
    * objects they announce (processor_app.py:108–147); this is the
    * general operator (click→purchase attribution, notify→object
    * pairing, alert→ack matching).
    *
    * BOTH sides are watermarked and the join condition bounds the
    * event-time distance in BOTH directions, so Spark derives state
    * eviction for each side: a left row is dropped once the watermark
    * passes `l_ts + horizon`, a right row once it passes `r_ts` —
    * state is bounded by (rows inside horizon+delay) per side, never
    * the stream history. Inner join, append mode: a pair is emitted
    * exactly once, when both rows have arrived.
    *
    * `joinType` extends the family to the OUTER variants (left_outer /
    * right_outer / full_outer): an unmatched row emits null-padded
    * (null partner ts + lag_s) — but only once the watermark proves no
    * partner can still arrive (left: watermark past `l_ts + horizon`;
    * right: past `r_ts`), so outer results trail the watermark by the
    * horizon. This is the timeout detector of the reference's shape —
    * "a notification whose object never arrived" — as the same
    * operator.
    *
    * Works identically on BATCH frames (`withWatermark` is a no-op in
    * batch; the plan is a plain equi-join on the key with the range
    * residual — SMJ/SHJ, never a cartesian), which is how the
    * oracle-checked twin (`interval_join_attribution`) runs the SAME
    * code the stream runs.
    *
    * Input contract: both frames carry `keyCol` (null keys dropped —
    * a null never equi-matches anyway, shedding them early keeps them
    * out of join state) and an event-time timestamp column. Other
    * columns pass through prefixed `l_` / `r_`; callers must avoid
    * pre-prefixed names that would collide.
    *
    * Output: (join_key, l_ts, r_ts, lag_s [exact integer seconds,
    * floor], l_<cols>..., r_<cols>...). */
  def intervalJoinPipeline(left: DataFrame, leftTsCol: String,
                           right: DataFrame, rightTsCol: String,
                           keyCol: String, horizonSeconds: Long,
                           watermarkDelay: String = "0 seconds",
                           joinType: String = "inner")
      : DataFrame = {
    require(horizonSeconds >= 1,
      s"intervalJoinPipeline: horizonSeconds must be >= 1: $horizonSeconds")
    require(Set("inner", "left_outer", "right_outer", "full_outer")
        .contains(joinType),
      s"intervalJoinPipeline: unsupported joinType: $joinType")
    def side(df: DataFrame, tsCol: String, p: String): DataFrame = {
      val others = df.columns.filter(c => c != keyCol && c != tsCol)
      val clash = others.filter(c => c.startsWith("l_") || c.startsWith("r_"))
      require(clash.isEmpty,
        s"intervalJoinPipeline: pre-prefixed columns would collide: ${clash.mkString(",")}")
      df.filter(col(keyCol).isNotNull)
        .select(col(keyCol).as(p + "key") +: col(tsCol).as(p + "ts") +:
          others.map(c => col(c).as(p + c)): _*)
        .withWatermark(p + "ts", watermarkDelay)
    }
    val l = side(left, leftTsCol, "l_")
    val r = side(right, rightTsCol, "r_")
    val lOthers = l.columns.filter(c => c != "l_key" && c != "l_ts")
    val rOthers = r.columns.filter(c => c != "r_key" && c != "r_ts")
    l.join(r,
        col("l_key") === col("r_key") &&
          col("r_ts") >= col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr(s"INTERVAL $horizonSeconds SECONDS"),
        joinType)
      // coalesce: outer variants null the unmatched side's key
      .select(coalesce(col("l_key"), col("r_key")).as("join_key") +:
        col("l_ts") +: col("r_ts") +:
        expr("(unix_micros(r_ts) - unix_micros(l_ts)) DIV 1000000")
          .as("lag_s") +:
        (lOthers ++ rOthers).map(col): _*)
  }

  /** CHAINED stateful streaming — novelty rate as [[dedupStream]]
    * (dedup-within-watermark) feeding a time-window aggregate in ONE
    * query (TWO stateful operators; Spark 4 propagates the watermark
    * through the dedup into the window, so closed windows still emit
    * exactly once in append mode): "how many NEVER-BEFORE-SEEN
    * `keyCols` combinations appeared per bucket per label" — the live
    * growth/recency panel. The oracled batch twin is
    * [[graft.metrics.Metrics.noveltyHourly]] (firstTouch → hour-bucket
    * count, `events_novelty_hourly`); fed in event-time order the
    * stream's first-arrival survivor IS firstTouch's (ts, event_id)
    * minimum and the chain agrees exactly (spec-pinned — `window()`
    * buckets align to the epoch, so a 3600 s window start IS the hour
    * truncation). Duplicates re-admitted after their dedup state was
    * evicted (the [[dedupStream]] contract) would count again — size
    * `watermarkDelay` to the source's duplicate horizon.
    *
    * State shape: dedup state bounded by keys-per-watermark-window
    * ([[dedupStream]]); window state one count per open
    * (bucket, label) cell.
    *
    * Output (append, closed buckets only): (bucket_start, `labelCol`,
    * n_new). */
  def noveltyPipeline(events: DataFrame, tsCol: String, keyCols: Seq[String],
                      labelCol: String, windowSeconds: Long = 3600,
                      watermarkDelay: String = "0 seconds"): DataFrame = {
    require(windowSeconds >= 1, s"windowSeconds must be >= 1: $windowSeconds")
    require(!keyCols.contains(tsCol),
      s"noveltyPipeline: event-time column $tsCol cannot be a dedup key")
    dedupStream(events, keyCols, tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), s"$windowSeconds seconds"),
        col(labelCol))
      .agg(count(lit(1)).cast("long").as("n_new"))
      .select(col("window.start").as("bucket_start"), col(labelCol),
        col("n_new"))
  }

  /** EXACT sliding-window distinct users, live — the streaming twin of
    * [[graft.metrics.Metrics.rollingDistinctUsers]] ("7-day active
    * users per label" on a dashboard, no approximation). Streaming
    * cannot run `count(DISTINCT)` per window, and the batch
    * contribution-interval transform needs the NEXT appearance
    * (future) — so the live plan makes the distinctness STRUCTURAL:
    * assign each event to its `windowDays` containing sliding windows
    * (`window(ts, "7 days", "1 day")` — the expand is bounded by w),
    * aggregate once at (window, label, user) grain (a user's repeats
    * inside a window collapse into ONE cell — this aggregate IS the
    * dedup, and its state lives exactly until the watermark closes the
    * window), then count cells at (window, label) grain. Three chained
    * stateful operators in ONE query (Spark 4 propagates the
    * watermark through each: dedup → agg → agg — one step past
    * [[noveltyPipeline]]'s two): an upfront
    * [[dedupStream]] at (label, user, day) grain trims event-grain
    * volume BEFORE the w-way expand (best-effort: a duplicate
    * re-admitted after dedup-state eviction lands in the same
    * (window, label, user) cell and changes nothing — exactness never
    * depends on the trim).
    *
    * Closed windows emit once (append); `end_day` = the window's last
    * covered day, matching the batch operator's end-day convention.
    * CONTRACT vs the batch twin: this panel reports EVERY sliding
    * window a user appeared in — including end days where the label
    * itself saw no fresh traffic (a live "active users" panel has a
    * value every day); the batch operator restricts to observed
    * traffic days. Restricted to those days the two agree EXACTLY
    * (spec-pinned). In batch mode the same function runs the same
    * expand + two aggregates (watermark is a no-op, the pre-trim is
    * skipped — the first aggregate already dedups) and is oracled as
    * `rolling_distinct_windows`.
    *
    * State shape: day-grain dedup state within the watermark horizon;
    * first-agg state = one empty-payload cell per (open window, label,
    * active user); second-agg state = one counter per (open window,
    * label). ≤ w+1 windows are open per label at any watermark. */
  def rollingDistinctPipeline(events: DataFrame, windowDays: Int = 7,
                              watermarkDelay: String = "0 seconds"): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1: $windowDays")
    val prepped = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("event_type"), col("user_id"), col("ts"))
    val trimmed =
      if (prepped.isStreaming)
        dedupStream(prepped.withColumn("__day", to_date(col("ts"))),
          Seq("event_type", "user_id", "__day"), "ts", watermarkDelay)
      else prepped
    trimmed
      .groupBy(window(col("ts"), s"$windowDays days", "1 day"),
        col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("__hits"))
      .groupBy(col("window"), col("event_type"))
      .agg(count(lit(1)).cast("long").as("n_distinct_users"))
      .select(date_sub(to_date(col("window.end")), 1).as("end_day"),
        col("event_type"), col("n_distinct_users"))
  }

  /** BOUNDED-STATE live rolling distinct — the streaming form of
    * [[graft.metrics.Metrics.rollingDistinctUsersHll]] and the 100 TB
    * answer to [[rollingDistinctPipeline]]'s state bill: the exact
    * plan's first aggregate holds one cell per (open window, label,
    * ACTIVE USER) — the irreducible exact-answer membership set — while
    * this plan holds ONE ~2^lgConfigK-byte Datasketches HLL sketch per
    * (open window, label): ≤ (w+1) × labels × 4 KiB at lgConfigK=12,
    * independent of user cardinality and stream rate.
    *
    * The whole operator is ONE stateful sliding-window aggregate —
    * `hll_sketch_agg(user_id)` under `window(ts, "w days", "1 day")`.
    * No dedup stage exists because none is needed: HLL insertion is
    * IDEMPOTENT (a repeated user re-sets the same register), so
    * repeats collapse inside the sketch where the exact plan needed a
    * (window, label, user) cell to collapse them structurally. Closed
    * windows emit once (append); `end_day` = the window's last covered
    * day, the panel's established convention.
    *
    * Estimate quality: ±1.04/√2^lgConfigK relative error (≈1.6% at
    * lgConfigK=12); below the sketch's dense threshold HLL runs in
    * sparse mode and is EXACT — at the fixture SFs the stream agrees
    * with the exact twin verbatim (spec-pinned); at production
    * cardinalities the 5% audit tolerance is ≳3σ. In batch mode the
    * SAME function runs the same expand + sketch aggregate (watermark
    * no-op) and is oracled as `rolling_distinct_hll_windows` via the
    * exact-join audit. Output (append): (end_day DATE, event_type,
    * n_distinct_approx BIGINT). */
  def rollingDistinctHllPipeline(events: DataFrame, windowDays: Int = 7,
                                 lgConfigK: Int = 12,
                                 watermarkDelay: String = "0 seconds")
      : DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1: $windowDays")
    require(lgConfigK >= 4 && lgConfigK <= 21,
      s"lgConfigK must be in [4,21]: $lgConfigK")
    val prepped = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("event_type"), col("user_id"), col("ts"))
    val src =
      if (prepped.isStreaming) prepped.withWatermark("ts", watermarkDelay)
      else prepped
    src
      .groupBy(window(col("ts"), s"$windowDays days", "1 day"),
        col("event_type"))
      .agg(expr(s"hll_sketch_estimate(hll_sketch_agg(user_id, $lgConfigK))")
        .cast("long").as("n_distinct_approx"))
      .select(date_sub(to_date(col("window.end")), 1).as("end_day"),
        col("event_type"), col("n_distinct_approx"))
  }

  /** Streaming HARD quota limiter — the live twin of
    * [[graft.metrics.Metrics.quotaEnforce]], built on Spark 4's
    * `transformWithState` (the arbitrary-state API that supersedes
    * flatMapGroupsWithState: typed state variables, first-class
    * event-time timers, RocksDB-backed): admit the first `cap` events
    * per (event_type, event-time window), reject the rest — the
    * billing/abuse cap where "about N" (md5-coin sampling) is not
    * enough.
    *
    * State/parallelism shape (the 100 TB funnel rule): the stateful
    * key is (event_type, window_start) — windows spread one type's
    * stream across tasks over time — and state per key is ONE counter
    * (`ValueState[Long]`), evicted by an event-time TIMER at window
    * end. An exact cap must see candidate rows per key in one place
    * (inherent to exactness; [[graft.metrics.Metrics.rateLimitSample]]
    * stays the fully-parallel probabilistic alternative), so each
    * input partition first keeps only its `cap` EARLIEST (ts, id)
    * rows per key in a narrow mapPartitions heap — a pruned row had
    * `cap` earlier rows in its own partition, so it can never be among
    * the first `cap` globally; the shuffle then carries
    * ≤ partitions × cap rows per key per trigger, independent of
    * stream rate.
    *
    * Admission is (ts, id)-ordered WITHIN each micro-batch and
    * count-cumulative across batches, so the stream agrees with the
    * batch twin exactly when micro-batches arrive in event-time order
    * (the admissionPipeline caveat class). Stragglers for windows the
    * watermark has closed are dropped — never re-admitted against
    * evicted state. The watermark is taken from the SURVIVING rows'
    * own event times (pruned rows advance it at most one window later
    * — state lives ≤ 2 windows instead of 1, still bounded).
    *
    * REQUIRES the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass` =
    * `...state.RocksDBStateStoreProvider`) — transformWithState needs
    * multi-column-family state; checked fail-loud at construction for
    * streaming inputs.
    *
    * `initialCounts` WARM-STARTS the counters from a batch backfill
    * (columns: event_type, window_start_s, admitted) via
    * `StatefulProcessorWithInitialState` — the mid-window
    * deployment/migration story: enforcement starts at the backfilled
    * count instead of re-admitting `cap` fresh rows per already-spent
    * window. Initial state applies on a FRESH checkpoint's first
    * batch only (Spark's contract); warm windows still evict by the
    * same window-end timer.
    *
    * Output (append): (event_type, window_start_s, event_id,
    * admit_seq) — admitted rows only, `admit_seq` the 1-based
    * admission rank within its window. */
  def quotaLimitPipeline(events: DataFrame, windowSeconds: Long, cap: Int,
                         watermarkDelay: String = "0 seconds",
                         initialCounts: Option[DataFrame] = None)
      : DataFrame = {
    require(windowSeconds >= 1, s"windowSeconds must be >= 1: $windowSeconds")
    require(cap >= 1, s"cap must be >= 1: $cap")
    val spark = events.sparkSession
    if (events.isStreaming) requireRocksDbProvider(spark, "quotaLimitPipeline")
    import spark.implicits._
    val winUs = windowSeconds * 1000000L
    val typed = events
      // null ts would NPE in the pre-trim's ts.toInstant (it runs
      // BEFORE withWatermark); batch twin Metrics.quotaEnforce
      // applies the same exclusion — the twins agree input-for-input
      .filter(col("event_type").isNotNull && col("event_id").isNotNull &&
        col("ts").isNotNull)
      .select(col("event_type"), col("ts"), col("event_id"))
      .as[(String, java.sql.Timestamp, Long)]
    // narrow per-partition pre-trim: cap earliest (us, id) per key —
    // a bounded max-heap per (type, window) seen this partition/batch
    val pre = typed.mapPartitions { it =>
      val heaps = scala.collection.mutable.HashMap
        .empty[(String, Long), scala.collection.mutable.PriorityQueue[(Long, Long)]]
      it.foreach { case (t, ts, id) =>
        val inst = ts.toInstant
        val us = inst.getEpochSecond * 1000000L + inst.getNano / 1000L
        val w = Math.floorDiv(us, winUs) * windowSeconds
        val h = heaps.getOrElseUpdate((t, w),
          scala.collection.mutable.PriorityQueue.empty[(Long, Long)])
        if (h.size < cap) h.enqueue((us, id))
        else if (us < h.head._1 || (us == h.head._1 && id < h.head._2)) {
          h.dequeue(); h.enqueue((us, id))
        }
      }
      heaps.iterator.flatMap { case ((t, w), h) =>
        h.iterator.map { case (us, id) => (t, w, us, id) }
      }
    }
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val grouped = pre.toDF("event_type", "window_start_s", "__us", "event_id")
      .withColumn("ts", expr("timestamp_micros(__us)"))
      .withWatermark("ts", watermarkDelay)
      .as[(String, Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(r => (r._1, r._2))
    val proc = new QuotaStateProcessor(windowSeconds, cap)
    (initialCounts match {
      case Some(init) =>
        val initGrouped = init
          .select(col("event_type"), col("window_start_s").cast("long"),
            col("admitted").cast("long"))
          .as[(String, Long, Long)]
          .groupByKey(r => (r._1, r._2))
        grouped.transformWithState(proc,
          TimeMode.EventTime(), OutputMode.Append(), initGrouped)
      case None =>
        grouped.transformWithState(proc,
          TimeMode.EventTime(), OutputMode.Append())
    }).toDF("event_type", "window_start_s", "event_id", "admit_seq")
  }

  /** transformWithState processor for [[quotaLimitPipeline]]: one
    * `ValueState[Long]` admission counter per (event_type, window),
    * cleaned by an event-time timer at window end (by which point the
    * watermark guarantees no row for the window survives upstream).
    * Extends the WithInitialState variant so a batch backfill can
    * warm-start the counters (a plain transformWithState call accepts
    * it unchanged — the base class is StatefulProcessor). */
  private final class QuotaStateProcessor(windowSeconds: Long, cap: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        (String, Long), (String, Long, Long, Long, java.sql.Timestamp),
        (String, Long, Long, Long), (String, Long, Long)] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
      TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var admitted: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      admitted = getHandle.getValueState[Long]("admitted",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(
        key: (String, Long),
        rows: Iterator[(String, Long, Long, Long, java.sql.Timestamp)],
        timerValues: TimerValues): Iterator[(String, Long, Long, Long)] = {
      val windowEndMs = (key._2 + windowSeconds) * 1000L
      // straggler for a closed window: state is (or is about to be)
      // evicted — admitting would exceed the cap on replayed history
      if (windowEndMs <= timerValues.getCurrentWatermarkInMs()) Iterator.empty
      else {
        getHandle.registerTimer(windowEndMs)
        var c = if (admitted.exists()) admitted.get() else 0L
        val out = Seq.newBuilder[(String, Long, Long, Long)]
        rows.toArray.sortBy(r => (r._3, r._4)).foreach { case (t, w, _, id, _) =>
          if (c < cap) { c += 1; out += ((t, w, id, c)) }
        }
        admitted.update(c)
        out.result().iterator
      }
    }
    override def handleExpiredTimer(
        key: (String, Long), timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo)
        : Iterator[(String, Long, Long, Long)] = {
      admitted.clear()
      Iterator.empty
    }
    override def handleInitialState(
        key: (String, Long), initialState: (String, Long, Long),
        timerValues: TimerValues): Unit = {
      admitted.update(math.max(0L, initialState._3))
      // warm windows evict by the same window-end timer; if the
      // watermark is already past, it fires on the next batch
      getHandle.registerTimer((key._2 + windowSeconds) * 1000L)
    }
  }

  /** Streaming funnel — the EXACT live twin of
    * [[graft.metrics.Metrics.funnelSteps]] (earliest-anchor greedy:
    * t₁ = the user's first step-1 event ever, tᵢ₊₁ = first step-(i+1)
    * event in (tᵢ, tᵢ+gap]), via the buffer-until-watermark pattern on
    * `transformWithState`: per user, candidate step events are held in
    * a `ListState` until the watermark proves the funnel's full
    * horizon (t₁ + (k−1)·gap) has closed — at that point every event
    * that can influence the fold has arrived, so one in-memory pass of
    * the batch algorithm over the buffer is EXACT, not approximate.
    * An event-time timer fires the fold; a new (earlier) candidate
    * anchor re-registers an earlier timer, and stale later timers
    * no-op against cleared state.
    *
    * State bound per user: the anchor (`ValueState[Long]`), a done
    * flag (one boolean, kept so a post-resolution step-1 event cannot
    * restart a funnel the batch twin would not restart), and the
    * buffered step-≥2 events — prunable above t₁+(k−1)·gap (the
    * anchor only moves EARLIER, so nothing beyond the current horizon
    * can ever enter a future fold) and naturally bounded below by the
    * watermark: O(events in horizon + allowed lateness), the
    * stream–stream join bound, never the user's history. ANCHORLESS
    * users (step-≥2 events but no step-1 yet) have no fold timer, so
    * they register a probe timer at their newest buffered time — when
    * it fires, every buffered event at or before the watermark is
    * dead (a future anchor would have to be older still) and is
    * dropped; no key's buffer outlives the watermark horizon.
    *
    * The watermark advances on STEP-TYPE traffic (the type filter
    * pushes below any earlier watermark node — a non-step "heartbeat"
    * row cannot advance it; feed the unfiltered stream a step-typed
    * tick if quiet funnels must close promptly). Agreement with the
    * batch twin is exact for data within the watermark allowance;
    * stragglers past it are dropped (the documented streaming caveat
    * class). Requires the RocksDB state store provider
    * (transformWithState).
    *
    * Output (append, one row per user with ≥1 step-1 event, emitted
    * once at horizon close): (user_id, t1_us..tk_us nullable BIGINT,
    * steps_completed) — the batch twin's exact schema. */
  def funnelPipeline(events: DataFrame, steps: Seq[String],
                     maxGapSeconds: Long,
                     watermarkDelay: String = "0 seconds"): DataFrame = {
    require(steps.size >= 2, s"a funnel needs >= 2 steps: $steps")
    require(steps.distinct.size == steps.size,
      s"funnel steps must be distinct: $steps")
    require(maxGapSeconds > 0, s"maxGapSeconds must be positive: $maxGapSeconds")
    val spark = events.sparkSession
    if (events.isStreaming) requireRocksDbProvider(spark, "funnelPipeline")
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val k = steps.size
    val stepIdx = steps.zipWithIndex.toMap
    val typed = events
      .select(col("user_id"), col("ts"), col("event_type"))
      // null ts would NPE in the processor's ts.toInstant; the batch
      // twin ignores null-ts events too (min over null __us) — same
      // no-op semantics on both sides
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isin(steps.map(lit): _*))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, java.sql.Timestamp, String)]
    typed
      .groupByKey(_._1)
      .transformWithState(
        new FunnelStateProcessor(stepIdx, k, maxGapSeconds * 1000000L),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "__ts", "steps_completed")
      .select(col("user_id") +:
        (1 to k).map(i => when(element_at(col("__ts"), i) === -1L, lit(null))
          .otherwise(element_at(col("__ts"), i)).cast("long")
          .as(s"t${i}_us")) :+
        col("steps_completed"): _*)
  }

  /** transformWithState processor for [[funnelPipeline]]: ValueState
    * anchor + ListState buffer + done flag; the event-time timer at
    * t₁+(k−1)·gap runs the exact greedy fold. */
  private final class FunnelStateProcessor(stepIdx: Map[String, Int], k: Int,
                                           gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp, String), (Long, Seq[Long], Long)] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState,
      OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var anchor: ValueState[Long] = _
    @transient private var buf: ListState[(Int, Long)] = _
    @transient private var done: ValueState[Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      anchor = getHandle.getValueState[Long]("anchor",
        Encoders.scalaLong, TTLConfig.NONE)
      buf = getHandle.getListState[(Int, Long)]("buf",
        Encoders.product[(Int, Long)], TTLConfig.NONE)
      done = getHandle.getValueState[Boolean]("done",
        Encoders.scalaBoolean, TTLConfig.NONE)
    }
    private def horizonMs(t1Us: Long): Long =
      (t1Us + (k - 1).toLong * gapUs) / 1000L + 1L // +1: strictly past
    override def handleInputRows(
        key: Long, rows: Iterator[(Long, java.sql.Timestamp, String)],
        timerValues: TimerValues): Iterator[(Long, Seq[Long], Long)] = {
      if (done.exists()) Iterator.empty
      else {
        var a = if (anchor.exists()) anchor.get() else Long.MaxValue
        val a0 = a
        var maxBufUs = Long.MinValue
        rows.foreach { case (_, ts, tpe) =>
          val inst = ts.toInstant
          val us = inst.getEpochSecond * 1000000L + inst.getNano / 1000L
          stepIdx(tpe) match {
            case 0 => if (us < a) a = us
            case i =>
              // prunable above the CURRENT horizon: the anchor only
              // moves earlier, so this event can never enter a fold
              if (a == Long.MaxValue || us <= a + (k - 1).toLong * gapUs) {
                buf.appendValue((i, us))
                if (us > maxBufUs) maxBufUs = us
              }
          }
        }
        if (a < a0) {
          anchor.update(a)
          getHandle.registerTimer(horizonMs(a))
        } else if (a == Long.MaxValue && maxBufUs > Long.MinValue) {
          // ANCHORLESS user: no fold timer exists, so buffered events
          // would live forever. A future anchor must carry an event
          // time above the watermark, and fold membership needs
          // us > t₁ — so once the watermark passes a buffered event it
          // is dead. Probe at the newest buffered time: by then every
          // currently-buffered event is ≤ the watermark and the probe
          // clears them (fresh events re-register later probes).
          getHandle.registerTimer(maxBufUs / 1000L + 1L)
        }
        Iterator.empty
      }
    }
    override def handleExpiredTimer(
        key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Seq[Long], Long)] = {
      // stale timer after resolution: the anchor only moves EARLIER,
      // so of several registered timers the earliest is the true
      // horizon; it resolves first and later ones no-op here
      if (done.exists()) Iterator.empty
      else if (!anchor.exists()) {
        // anchorless probe: everything buffered at or before the
        // watermark can never join a future fold (its t₁ would have to
        // be even older) — drop it; newer arrivals re-probe later
        val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
        val survivors = buf.get().filter(_._2 > wmUs).toArray
        if (survivors.isEmpty) buf.clear() else buf.put(survivors)
        Iterator.empty
      } else {
        val t1 = anchor.get()
        val pending = buf.get().toArray.sortBy(e => (e._2, e._1))
        val ts = Array.fill(k)(-1L)
        ts(0) = t1
        for (i <- 1 until k) {
          if (ts(i - 1) >= 0) {
            val prev = ts(i - 1)
            val hit = pending.find { case (s, us) =>
              s == i && us > prev && us <= prev + gapUs }
            hit.foreach { case (_, us) => ts(i) = us }
          }
        }
        anchor.clear(); buf.clear(); done.update(true)
        val completed = ts.count(_ >= 0).toLong
        Iterator.single((key, ts.toSeq, completed))
      }
    }
  }

  /** Streaming SCD2 dimension maintenance — the live twin of
    * [[graft.metrics.Metrics.scd2Intervals]] (the third
    * `transformWithState` operator, same buffer-until-watermark
    * discipline as [[funnelPipeline]]): per user, collapse the
    * event-type run history into slowly-changing-dimension versions
    * and emit each version EXACTLY when it provably closes — the
    * watermark has passed the successor run's first event, so no
    * late arrival can reorder, extend or split anything at or below
    * it (TWS drops rows at-or-under the watermark before the
    * processor, so every buffered event above the watermark is the
    * complete final history once the watermark passes it).
    *
    * Exactness: arrivals buffer in `ListState`; on every input batch
    * and timer fire the processor drains the buffered events at or
    * below the CURRENT watermark in the batch twin's total order
    * (ts, event_id) into the open-run `ValueState`, emitting a closed
    * version whenever the type changes (null-safe: a run of null
    * types is one run, and the first run opens version 1 regardless
    * of type). The OPEN version is never emitted (its valid_to is
    * unknown — append semantics; the batch twin reports it with a
    * null valid_to, which is exactly the row a restart backfill
    * recomputes). Fed in event-time order the emitted rows are the
    * batch twin's closed-version rows, field for field (spec-pinned).
    *
    * State shape: one O(1) open-run record per user + the buffer of
    * events inside the watermark horizon (bounded by the user's
    * traffic within `watermarkDelay` — the funnel bound); timers
    * re-register at the earliest still-buffered event.
    *
    * Output (append): (user_id, version 1-based, event_type,
    * valid_from, valid_to, n_events) — the batch twin's closed-row
    * schema. Null users/ts excluded (no identity / no position). */
  def scd2Pipeline(events: DataFrame,
                   watermarkDelay: String = "0 seconds"): DataFrame = {
    val spark = events.sparkSession
    require(events.isStreaming,
      "scd2Pipeline is the STREAMING twin — use Metrics.scd2Intervals in batch")
    requireRocksDbProvider(spark, "scd2Pipeline")
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val typed = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .withWatermark("ts", watermarkDelay)
      .as[(Long, java.sql.Timestamp, Long, String)]
    typed
      .groupByKey(_._1)
      .transformWithState(new Scd2StateProcessor,
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "version", "__tn", "__tp", "__from_us", "__to_us",
        "n_events")
      .select(col("user_id"), col("version"),
        when(col("__tn"), lit(null).cast("string"))
          .otherwise(col("__tp")).as("event_type"),
        expr("timestamp_micros(__from_us)").as("valid_from"),
        expr("timestamp_micros(__to_us)").as("valid_to"),
        col("n_events"))
  }

  /** Shared timer discipline for the buffer-until-watermark processors
    * (SCD2, as-of): keep EXACTLY the wanted pending event-time timer
    * per key, deleting superseded ones — the 323d1de fix (stale timers
    * accumulated per key and fired as no-op drains), in ONE place so
    * the next timer-semantics change cannot silently miss a copy.
    * listTimers() is a cheap keyed range scan of 0–1 entries here. */
  private trait TimerReconcile {
    self: org.apache.spark.sql.streaming.StatefulProcessor[_, _, _] =>
    protected def reconcileTimer(want: Option[Long]): Unit = {
      val pending = getHandle.listTimers().toArray
      want match {
        case Some(w) =>
          if (pending.contains(w))
            pending.filter(_ != w).foreach(getHandle.deleteTimer)
          else {
            pending.foreach(getHandle.deleteTimer)
            getHandle.registerTimer(w)
          }
        case None => pending.foreach(getHandle.deleteTimer)
      }
    }
  }

  /** transformWithState processor for [[scd2Pipeline]]: ListState
    * event buffer + ValueState open run; drains buffered events at or
    * below the watermark in (ts, event_id) order, closing a version on
    * every type change. Null types ride as an explicit flag (an
    * encoder-null string field and "no type" must not collide). */
  private final class Scd2StateProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp, Long, String),
        (Long, Long, Boolean, String, Long, Long, Long)]
      with TimerReconcile {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState,
      OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    // buffered event: (tsUs, event_id, typeIsNull, type-or-"")
    @transient private var buf: ListState[(Long, Long, Boolean, String)] = _
    // open run: (version, typeIsNull, type-or-"", validFromUs, nEvents)
    @transient private var run: ValueState[(Long, Boolean, String, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[(Long, Long, Boolean, String)]("buf",
        Encoders.product[(Long, Long, Boolean, String)], TTLConfig.NONE)
      run = getHandle.getValueState[(Long, Boolean, String, Long, Long)](
        "run", Encoders.product[(Long, Boolean, String, Long, Long)],
        TTLConfig.NONE)
    }
    private def drain(key: Long, wmMs: Long)
        : Iterator[(Long, Long, Boolean, String, Long, Long, Long)] = {
      val wmUs = wmMs * 1000L
      val all = buf.get().toArray
      if (all.isEmpty) return Iterator.empty
      val (ready, rest) = all.partition(_._1 <= wmUs)
      if (rest.isEmpty) buf.clear() else buf.put(rest)
      // exactly ONE pending timer per key = the earliest still-buffered
      // event's drain time (TimerReconcile)
      reconcileTimer(
        if (rest.nonEmpty) Some(rest.map(_._1).min / 1000L + 1L) else None)
      if (ready.isEmpty) return Iterator.empty
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Boolean, String, Long, Long, Long)]
      var st = if (run.exists()) Option(run.get()) else None
      ready.sortBy(e => (e._1, e._2)).foreach { case (us, _, tn, tp) =>
        st match {
          case Some((v, rtn, rt, from, n)) if rtn == tn && (tn || rt == tp) =>
            st = Some((v, rtn, rt, from, n + 1)) // same run, null-safe
          case Some((v, rtn, rt, from, n)) =>
            out += ((key, v, rtn, rt, from, us, n)) // version closes
            st = Some((v + 1, tn, tp, us, 1L))
          case None =>
            st = Some((1L, tn, tp, us, 1L)) // first run opens version 1
        }
      }
      run.update(st.get)
      out.iterator
    }
    override def handleInputRows(
        key: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, String)],
        timerValues: TimerValues)
        : Iterator[(Long, Long, Boolean, String, Long, Long, Long)] = {
      rows.foreach { case (_, ts, id, tpe) =>
        val inst = ts.toInstant
        val us = inst.getEpochSecond * 1000000L + inst.getNano / 1000L
        buf.appendValue((us, id, tpe == null, if (tpe == null) "" else tpe))
      }
      drain(key, timerValues.getCurrentWatermarkInMs())
    }
    override def handleExpiredTimer(
        key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo)
        : Iterator[(Long, Long, Boolean, String, Long, Long, Long)] =
      drain(key, timerValues.getCurrentWatermarkInMs())
  }

  /** Streaming merge_asof — the live twin of
    * [[graft.util.SparkUtil.mergeAsOf]] (backward direction): enrich a
    * probe stream with the nearest at-or-before reference row per key,
    * the feature join a live training-data pipeline runs against
    * slowly-arriving reference data (prices, model versions, dimension
    * snapshots). Spark has no native stream–stream AS-OF join (the
    * interval join needs a bounded horizon on BOTH sides; as-of wants
    * "latest ≤ t" at ANY distance) — the fourth `transformWithState`
    * operator closes that gap.
    *
    * Correctness window: a probe at time t emits exactly when the
    * union watermark passes t — TWS drops any later input at-or-under
    * the watermark before the processor, so at that moment every
    * reference ≤ t has arrived and the backward match is FINAL
    * (exactly-once per probe; unmatched probes emit null-padded, the
    * batch twin's left-join semantics).
    *
    * State per key is the as-of insight, not a horizon buffer: all
    * references at or below the watermark COMPACT to one record — the
    * latest (max ts, then max id) — because any older reference can
    * never again be the backward match for a future probe (every
    * future probe has t > watermark ≥ the compacted ref's ts, and a
    * closer candidate exists). So state = O(1) compacted ref + the
    * refs/probes still above the watermark (bounded by per-key traffic
    * within the watermark delay — the funnel/SCD2 bound). Tolerance is
    * applied per candidate at emit, exactly the batch rule.
    *
    * The O(1) is PER KEY: the compacted record lives as long as the
    * key does (semantically required — a probe may arrive years after
    * the key's last reference and the backward match must still be
    * it), so total state grows with LIFETIME distinct keys. That is
    * the right contract for entity keys (users, devices, symbols) and
    * it is the DEFAULT (`keyTtl = None`). For provably-retiring key
    * spaces (session ids), `keyTtl = Some(duration)` opts into an
    * EVENT-TIME TTL measured from the compacted reference's OWN
    * timestamp: a probe matches only when `probeTs − refTs ≤ keyTtl`
    * (on top of `toleranceSeconds` — the effective match window is the
    * min of the two), and an event-time timer DELETES the reference
    * once the watermark passes refTs + ttl, so state is really
    * retired for keys that never return. Denominating in the rows' own
    * event times is deliberate, twice over: a processing-time TTL
    * expires spuriously on checkpoint replays and backfills, and even
    * a watermark-stamped TTL makes a buffered probe's verdict depend
    * on how large the watermark jump that drained it happened to be —
    * per-row event time keeps the emitted rows a pure function of the
    * data under ANY micro-batch division. The trade stays explicit: a
    * probe arriving more than `keyTtl` after the key's last reference
    * emits UNMATCHED even though a semantically-correct backward match
    * once existed — size the TTL well past the key space's retirement
    * age (keyTtl is toleranceSeconds PLUS state deletion; use
    * tolerance alone when state growth is acceptable).
    *
    * Tie rules are the batch twin's, verbatim: an exactly-simultaneous
    * reference matches (refs fold before probes at equal ts), among
    * equal-ts references the max id wins. Fed watermark-safely the
    * emitted rows equal `mergeAsOf(…, "backward", tol)` field for
    * field (spec-pinned; also measured 202/202 on a real two-file-
    * stream drain at sf0.001 with zero lateness).
    *
    * `watermarkDelay` has NO default — deliberately, unlike the
    * single-stream pipelines: size it to the INTER-STREAM skew, not
    * just each stream's own lateness. The union watermark advances
    * with the faster source, so a ref/probe arriving a batch behind
    * the other stream is dropped as late (correct streaming semantics
    * — the `_monitoring` sink's rows_dropped_by_watermark counter and
    * [[watermarkSkewAlerts]] are the alert for exactly this; measured:
    * two 8-file streams drained 2 files/trigger with 0 s delay dropped
    * ~8% of probes to skew). An implicit "0 seconds" here silently
    * lost data even when each stream was individually in-order, so the
    * zero must be typed by the caller who can see their sources.
    *
    * Output (append): (user_id, event_id, ts, asof_event_id,
    * asof_lag_us) — nulls when no reference within tolerance. Null
    * users/ts excluded on both streams. */
  def asofPipeline(probe: DataFrame, ref: DataFrame,
                   watermarkDelay: String,
                   toleranceSeconds: Long = -1L,
                   keyTtl: Option[java.time.Duration] = None): DataFrame = {
    val spark = probe.sparkSession
    require(probe.isStreaming && ref.isStreaming,
      "asofPipeline is the STREAMING twin — use SparkUtil.mergeAsOf in batch")
    require(toleranceSeconds == -1L || toleranceSeconds > 0,
      s"toleranceSeconds must be positive or -1 (unbounded): $toleranceSeconds")
    requireRocksDbProvider(spark, "asofPipeline")
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val tolUs =
      if (toleranceSeconds == -1L) Long.MaxValue
      else toleranceSeconds * 1000000L
    def side(df: DataFrame, tag: Int) = df
      .select(col("user_id"), col("ts"), lit(tag).as("tag"), col("event_id"))
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
    // one union stream, ONE watermark over the combined event time
    // (per-side watermarks + union would take the min anyway; a single
    // column keeps the policy visible)
    val u = side(probe, 1).unionByName(side(ref, 0))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, java.sql.Timestamp, Int, Long)]
    u.groupByKey(_._1)
      .transformWithState(new AsofStateProcessor(tolUs, keyTtl),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "event_id", "__ts_us", "__matched", "__rid", "__lag")
      .select(col("user_id"), col("event_id"),
        expr("timestamp_micros(__ts_us)").as("ts"),
        when(col("__matched"), col("__rid")).as("asof_event_id"),
        when(col("__matched"), col("__lag")).as("asof_lag_us"))
  }

  /** transformWithState processor for [[asofPipeline]]: ValueState
    * compacted latest-ref + ListState ref/probe buffers above the
    * watermark; drains both buffers at or below the watermark in
    * (ts, tag ref-first, id) order — the batch twin's sort — folding
    * refs into the compacted record and emitting each ready probe
    * against it. Exactly one pending timer per key at the earliest
    * still-buffered probe (the SCD2 listTimers reconcile). */
  private final class AsofStateProcessor(tolUs: Long,
                                         keyTtl: Option[java.time.Duration] = None)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp, Int, Long),
        (Long, Long, Long, Boolean, Long, Long)]
      with TimerReconcile {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState,
      OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var lastRef: ValueState[(Long, Long)] = _ // (tsUs, id)
    @transient private var refBuf: ListState[(Long, Long)] = _   // (tsUs, id)
    @transient private var probeBuf: ListState[(Long, Long)] = _ // (tsUs, id)
    // keyTtl (see asofPipeline's contract) is measured from the
    // compacted reference's OWN event time — no clock and no watermark
    // stamp enters the MATCH decision, so emitted rows stay a pure
    // function of the data under any micro-batch division (a
    // watermark-stamped variant made a buffered probe's verdict depend
    // on how large the watermark jump that drained it happened to be).
    // The watermark only drives the PHYSICAL deletion, which is
    // unobservable: state clears once wm > refTs + ttl, and any probe
    // admitted after that has ts > wm > refTs + ttl — already
    // unmatched by the per-probe rule.
    private val ttlUs: Long =
      keyTtl.map(d => math.min(d.toMillis, Long.MaxValue / 2000L) * 1000L)
        .getOrElse(Long.MaxValue)
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      lastRef = getHandle.getValueState[(Long, Long)]("lastRef",
        Encoders.product[(Long, Long)], TTLConfig.NONE)
      refBuf = getHandle.getListState[(Long, Long)]("refBuf",
        Encoders.product[(Long, Long)], TTLConfig.NONE)
      probeBuf = getHandle.getListState[(Long, Long)]("probeBuf",
        Encoders.product[(Long, Long)], TTLConfig.NONE)
    }
    private def drain(key: Long, wmMs: Long)
        : Iterator[(Long, Long, Long, Boolean, Long, Long)] = {
      val wmUs = wmMs * 1000L
      val refs = refBuf.get().toArray
      val (refReady, refRest) = refs.partition(_._1 <= wmUs)
      if (refRest.length != refs.length) {
        if (refRest.isEmpty) refBuf.clear() else refBuf.put(refRest)
      }
      val probes = probeBuf.get().toArray
      val (pReady, pRest) = probes.partition(_._1 <= wmUs)
      if (pRest.length != probes.length) {
        if (pRest.isEmpty) probeBuf.clear() else probeBuf.put(pRest)
      }
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Boolean, Long, Long)]
      val hadReady = refReady.nonEmpty || pReady.nonEmpty
      if (hadReady) {
        var last = if (lastRef.exists()) Option(lastRef.get()) else None
        // the batch twin's total order: ts asc, ref (tag 0) before
        // probe at equal ts, id asc (the max-id equal-ts ref folds
        // last)
        val events = (refReady.map(r => (r._1, 0, r._2)) ++
          pReady.map(p => (p._1, 1, p._2))).sortBy(identity)
        events.foreach {
          case (ts, 0, id) =>
            last = last match {
              case Some((lts, lid)) if lts > ts || (lts == ts && lid >= id) => last
              case _ => Some((ts, id))
            }
          case (ts, _, id) =>
            last match {
              // per-probe visibility: within tolerance AND within the
              // key TTL of the reference's own event time — both are
              // pure functions of the two rows, never of the watermark
              case Some((rts, rid)) if ts - rts <= tolUs && ts - rts <= ttlUs =>
                out += ((key, id, ts, true, rid, ts - rts))
              case _ =>
                out += ((key, id, ts, false, 0L, 0L))
            }
        }
        last.foreach(lastRef.update)
      }
      // PHYSICAL retirement, strictly AFTER the fold (a ready probe in
      // this very drain may still be within ttl of a ref the watermark
      // has outrun): unobservable, see the ttlUs note
      if (keyTtl.isDefined && lastRef.exists() &&
          wmUs - lastRef.get()._1 > ttlUs) lastRef.clear()
      reconcilePostDrain(pRest, refRest)
      if (hadReady) out.iterator else Iterator.empty
    }
    /** One pending timer per key, reflecting the POST-drain state:
      * the earliest still-buffered PROBE; else the earliest
      * still-buffered REF (without this fallback a key whose traffic
      * ends would strand its above-watermark refs forever — the
      * round-14 self-review leak); else, under `keyTtl`, the ref's
      * RETIREMENT time (refTs + ttl — the timer that makes expiry
      * actually DELETE state for keys that never return, instead of
      * masking it until a read that never comes). */
    private def reconcilePostDrain(pRest: Array[(Long, Long)],
                                   refRest: Array[(Long, Long)]): Unit =
      reconcileTimer(
        if (pRest.nonEmpty) Some(pRest.map(_._1).min / 1000L + 1L)
        else if (refRest.nonEmpty) Some(refRest.map(_._1).min / 1000L + 1L)
        else if (keyTtl.isDefined && lastRef.exists())
          Some(lastRef.get()._1 / 1000L + keyTtl.get.toMillis + 1L)
        else None)
    override def handleInputRows(
        key: Long, rows: Iterator[(Long, java.sql.Timestamp, Int, Long)],
        timerValues: TimerValues)
        : Iterator[(Long, Long, Long, Boolean, Long, Long)] = {
      rows.foreach { case (_, ts, tag, id) =>
        val inst = ts.toInstant
        val us = inst.getEpochSecond * 1000000L + inst.getNano / 1000L
        if (tag == 0) refBuf.appendValue((us, id))
        else probeBuf.appendValue((us, id))
      }
      drain(key, timerValues.getCurrentWatermarkInMs())
    }
    override def handleExpiredTimer(
        key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo)
        : Iterator[(Long, Long, Long, Boolean, Long, Long)] =
      drain(key, timerValues.getCurrentWatermarkInMs())
  }

  private def jsonQuote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** ENGINE-metrics monitoring sink — the reference dashboard's
    * operational widgets (terraform/dashboards/
    * main_operational_dashboard.json; log-based metrics
    * terraform/main.tf:238–311) cover DATA health; what they cannot see
    * is the ENGINE: state growth, watermark lag, and late-row loss are
    * invisible until they become wrong answers. This listener writes,
    * for every (query, micro-batch), ONE JSONL row with the per-trigger
    * engine counters a 100 TB dashboard alerts on:
    *
    *  - `rows_dropped_by_watermark` — silent-data-loss counter: late
    *    rows an operator DISCARDED (the alert is "should be ~0; a step
    *    means the delay is too tight for the source's lateness").
    *    Measured AT the stateful operator: for aggregations Spark's
    *    partial (map-side) aggregate runs first, so N late input rows
    *    landing in the same group count as ONE dropped row — a
    *    late-GROUP counter, never an undercount of zero. The
    *    late-input filter also lags eviction by one micro-batch
    *    (measured: a late row arriving in the batch IMMEDIATELY after
    *    the watermark-advancing data is admitted, updates state, and
    *    is evicted at that batch's close with dropped = 0; from the
    *    second batch on it is filtered and counted) — so the counter
    *    is a steady-state lateness signal, not an exactly-once audit
    *    of the boundary batch;
    *  - `state_rows` / `state_bytes` — stateful-operator footprint
    *    (the alert: unbounded growth means an eviction bug, cf. the
    *    documented per-operator state budgets in SCALE.md);
    *  - `batch_duration_ms`, `num_input_rows` — throughput/backlog
    *    (duration approaching the trigger interval = falling behind);
    *  - `watermark` — end-to-end event-time progress.
    *
    * The `_latency` sink discipline (notifyPipeline): rows are
    * driver-local, so this is a direct Hadoop-FS JSONL write (no Spark
    * job), one file per (query, batch) at a DETERMINISTIC path —
    * `dir/_monitoring/<queryName>/batch_<id>.json`, overwritten on
    * replay so a restarted run never double-counts a batch.
    * [[monitoringTable]] reads the directory back as a DataFrame.
    *
    * Scoped to `queryName` (set `.queryName(...)` on the stream):
    * listeners on a shared session see EVERY query's progress — an
    * unscoped sink would interleave foreign batches. Returns the
    * listener; callers running bounded drains should
    * `spark.streams.removeListener` it when done. Listener events are
    * delivered asynchronously AFTER batch commit — a reader that needs
    * batch N's row must poll for the file, not assume it exists the
    * instant `awaitTermination` returns.
    *
    * A failed row WRITE (disk full, permissions) would otherwise be
    * swallowed by Spark's listener bus — a hole in the very record
    * built to catch silent loss — so the listener counts write
    * failures ([[MonitoringListener.writeFailures]]) for the operator
    * of the monitoring job to alert on, in addition to the stderr
    * trace the bus logs. */
  def attachMonitoring(spark: SparkSession, dir: String,
                       queryName: String): MonitoringListener = {
    val listener = new MonitoringListener(
      spark.sparkContext.hadoopConfiguration, dir, queryName)
    spark.streams.addListener(listener)
    listener
  }

  /** The [[attachMonitoring]] listener — see there for the contract. */
  final class MonitoringListener(
      hconf: org.apache.hadoop.conf.Configuration,
      dir: String, queryName: String)
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    private val failures = new java.util.concurrent.atomic.AtomicLong(0L)
    /** Rows that could not be written — nonzero means the monitoring
      * record has gaps and must not be trusted as complete. */
    def writeFailures: Long = failures.get()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.name != null && p.name == queryName) {
        val so = p.stateOperators
        def sumL(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
          if (so == null) 0L else so.map(f).sum
        val wm = Option(p.eventTime)
          .flatMap(m => Option(m.get("watermark"))).getOrElse("")
        val row =
          s"""{"query_name":${jsonQuote(p.name)},"query_id":"${p.id}",""" +
            s""""run_id":"${p.runId}","batch_id":${p.batchId},""" +
            s""""ts":${jsonQuote(p.timestamp)},""" +
            s""""batch_duration_ms":${p.batchDuration},""" +
            s""""num_input_rows":${p.numInputRows},""" +
            s""""state_rows":${sumL(_.numRowsTotal)},""" +
            s""""state_rows_updated":${sumL(_.numRowsUpdated)},""" +
            s""""state_bytes":${sumL(_.memoryUsedBytes)},""" +
            s""""rows_dropped_by_watermark":${sumL(_.numRowsDroppedByWatermark)},""" +
            s""""watermark":${jsonQuote(wm)}}"""
        try {
          val path = new org.apache.hadoop.fs.Path(
            s"$dir/_monitoring/$queryName/batch_${p.batchId}.json")
          val fs = path.getFileSystem(hconf)
          val os = fs.create(path, true)
          try os.write((row + "\n").getBytes("UTF-8")) finally os.close()
        } catch {
          case scala.util.control.NonFatal(e2) =>
            failures.incrementAndGet()
            System.err.println(
              s"[graft-monitoring] row write FAILED for $queryName " +
                s"batch ${p.batchId}: ${e2.getMessage}")
        }
      }
    }
  }

  /** Read the [[attachMonitoring]] sink back as a table — one row per
    * (query, micro-batch). Fails loud if the query never progressed. */
  def monitoringTable(spark: SparkSession, dir: String,
                      queryName: String): DataFrame = {
    val d = new org.apache.hadoop.fs.Path(s"$dir/_monitoring/$queryName")
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(d) && fs.listStatus(d).nonEmpty,
      s"no monitoring rows for query '$queryName' under $dir")
    spark.read.json(fs.listStatus(d).map(_.getPath.toString).toSeq: _*)
  }

  /** Watermark-SKEW alert policy over the [[attachMonitoring]] sink —
    * the engine alerting on ITSELF (the reference's alert-policy shape,
    * terraform/main.tf:583–622, pointed at the engine counters instead
    * of data-health metrics). The round-14 as-of incident is the
    * motivating failure: a 0 s watermark delay on a two-stream union
    * silently dropped ~8% of probes to inter-stream skew, visible ONLY
    * as a step in `rows_dropped_by_watermark`. This panel reads the
    * monitoring table and flags, per query, how many input-carrying
    * batches breached `ratioThreshold` (dropped/input), alerting when
    * at least `kBatches` did — k-of-n debouncing, so one straggler file
    * does not page anyone but sustained skew does.
    *
    * Pure batch function over the (tiny: one row per query × batch)
    * monitoring table — run it on a schedule or after a drain. Batches
    * with zero input rows carry no lateness evidence and are excluded
    * from both denominators. Output: one row per query_name —
    * (query_name, n_input_batches, n_breach_batches, rows_in,
    * rows_dropped_late, alert), ordered by query_name. */
  def watermarkSkewAlerts(monitoring: DataFrame,
                          ratioThreshold: Double = 0.05,
                          kBatches: Int = 2): DataFrame = {
    require(ratioThreshold >= 0, s"ratioThreshold must be >= 0: $ratioThreshold")
    require(kBatches >= 1, s"kBatches must be >= 1: $kBatches")
    monitoring
      .filter(col("num_input_rows") > 0)
      .select(col("query_name"), col("num_input_rows"),
        col("rows_dropped_by_watermark"),
        (col("rows_dropped_by_watermark").cast("double") >
          lit(ratioThreshold) * col("num_input_rows").cast("double"))
          .as("__breach"))
      .groupBy("query_name")
      .agg(count(lit(1)).cast("long").as("n_input_batches"),
        sum(when(col("__breach"), 1L).otherwise(0L)).cast("long")
          .as("n_breach_batches"),
        sum("num_input_rows").cast("long").as("rows_in"),
        sum("rows_dropped_by_watermark").cast("long").as("rows_dropped_late"))
      .withColumn("alert", col("n_breach_batches") >= kBatches)
      .orderBy("query_name")
  }

  /** BACKLOG alert policy over the [[attachMonitoring]] sink — the
    * second of the three signals the monitoring scaladoc names
    * (`batch_duration_ms` approaching the trigger interval = falling
    * behind; [[watermarkSkewAlerts]] covers lateness,
    * [[stateGrowthAlerts]] covers eviction bugs). Flags, per query,
    * how many batches ran longer than `slowMs` (choose ≈0.8× the
    * trigger interval), alerting at `kBatches` or more — the k-of-n
    * debouncing discipline, so one GC pause does not page but a
    * falling-behind stream does. Pure batch function over the tiny
    * monitoring table. Output: (query_name, n_batches,
    * n_slow_batches, max_duration_ms, alert), ordered. */
  def backlogAlerts(monitoring: DataFrame, slowMs: Long,
                    kBatches: Int = 2): DataFrame = {
    require(slowMs > 0, s"slowMs must be > 0: $slowMs")
    require(kBatches >= 1, s"kBatches must be >= 1: $kBatches")
    monitoring.groupBy("query_name")
      .agg(count(lit(1)).cast("long").as("n_batches"),
        sum(when(col("batch_duration_ms") > slowMs, 1L).otherwise(0L))
          .as("n_slow_batches"),
        max(col("batch_duration_ms")).cast("long").as("max_duration_ms"))
      .select(col("query_name"), col("n_batches"), col("n_slow_batches"),
        col("max_duration_ms"),
        (col("n_slow_batches") >= kBatches).as("alert"))
      .orderBy("query_name")
  }

  /** STATE-GROWTH alert policy over the [[attachMonitoring]] sink —
    * the eviction-bug detector (every stateful operator in this repo
    * documents a bounded state budget; `state_bytes` growing on EVERY
    * recent batch means something is not evicting): flags a query when
    * its state bytes strictly increased across each of the last
    * `kBatches` batch-to-batch transitions. Strictly-monotone-tail
    * (not net growth) so a legitimately filling window does not page
    * once it plateaus, but unbounded growth always does. Queries with
    * ≤ kBatches batches carry no verdict-strength evidence and read
    * false. Output: (query_name, n_batches, last_state_bytes,
    * n_tail_growth, alert), ordered. */
  def stateGrowthAlerts(monitoring: DataFrame,
                        kBatches: Int = 3): DataFrame = {
    require(kBatches >= 1, s"kBatches must be >= 1: $kBatches")
    import org.apache.spark.sql.expressions.Window
    val byBatch = Window.partitionBy("query_name").orderBy("batch_id")
    val fromEnd = Window.partitionBy("query_name")
      .orderBy(col("batch_id").desc)
    monitoring.select(col("query_name"), col("batch_id"), col("state_bytes"))
      .withColumn("__d",
        col("state_bytes") - lag("state_bytes", 1).over(byBatch))
      .withColumn("__rk", row_number().over(fromEnd))
      .groupBy("query_name")
      .agg(count(lit(1)).cast("long").as("n_batches"),
        max(when(col("__rk") === 1, col("state_bytes"))).cast("long")
          .as("last_state_bytes"),
        sum(when(col("__rk") <= kBatches && col("__d") > 0, 1L)
          .otherwise(0L)).as("n_tail_growth"))
      .select(col("query_name"), col("n_batches"), col("last_state_bytes"),
        col("n_tail_growth"),
        (col("n_tail_growth") === kBatches.toLong).as("alert"))
      .orderBy("query_name")
  }

  /** One scheduled tick of the maintained-index DRIFT MONITOR into the
    * `_monitoring` sink — [[graft.analytics.Similarity
    * .maintainedReconDrift]] is a batch op an operator must remember
    * to run; this emits its one-row verdict as a JSONL row next to the
    * engine counters (the [[attachMonitoring]] discipline), so
    * `needs_reindex` PAGES through the same [[monitoringTable]] /
    * alert-policy path instead of waiting to be queried. Run it on a
    * caller-chosen cadence (cron next to the compaction schedule).
    *
    * Segments read through the same pin-checked manifest resolution as
    * search ([[graft.analytics.Similarity.maintainedDeltaCodes]]) —
    * live-safe against a concurrent fold; an absent/empty delta
    * measures base-only (n_delta 0, the defined ok reading).
    * `embeddings` must cover both segments' vec_ids (the reindex
    * contract's source-of-truth corpus). Row:
    * (query_name, tick, model_id, n_base, n_delta, base_ok, delta_ok,
    * needs_reindex) at `dir/_monitoring/<queryName>/tick_<n>.json` —
    * n = one past the highest existing tick, so rows append and
    * [[monitoringTable]] reads the history back. Returns
    * `needs_reindex`. */
  def driftMonitorTick(spark: SparkSession, embeddings: DataFrame,
                       indexDir: String, deltaDir: String, dir: String,
                       queryName: String = "maintained_drift",
                       minCos: Double = 0.5,
                       maxDrop: Double = 0.1): Boolean = {
    import graft.analytics.Similarity
    val cells = spark.read.parquet(s"$indexDir/cells")
    val codebook = spark.read.parquet(s"$indexDir/codebook")
    val base = spark.read.parquet(s"$indexDir/codes")
    val delta = Similarity.maintainedDeltaCodes(spark, indexDir, deltaDir)
      .getOrElse(base.limit(0))
    val r = Similarity.maintainedReconDrift(embeddings, cells, codebook,
      base, delta, minCos, maxDrop).head()
    val modelId = Similarity.ivfPqModelId(cells, codebook)
    val qdir = new org.apache.hadoop.fs.Path(s"$dir/_monitoring/$queryName")
    val fs = qdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val Tick = "tick_(\\d+)\\.json".r
    val next =
      if (!fs.exists(qdir)) 0L
      else fs.listStatus(qdir).flatMap(_.getPath.getName match {
        case Tick(n) => Some(n.toLong)
        case _ => None
      }).foldLeft(-1L)(math.max) + 1L
    val needsReindex = r.getBoolean(4)
    def row(tick: Long): String =
      s"""{"query_name":${jsonQuote(queryName)},"tick":$tick,""" +
        s""""model_id":${jsonQuote(modelId)},""" +
        s""""n_base":${r.getLong(0)},"n_delta":${r.getLong(1)},""" +
        s""""base_ok":${r.getBoolean(2)},"delta_ok":${r.getBoolean(3)},""" +
        s""""needs_reindex":$needsReindex}"""
    // CREATE-ONCE per tick (overwrite=false + advance-on-collision):
    // two overlapping cron fires computing the same `next` must land
    // as TWO history rows — an overwrite could silently replace a
    // needs_reindex=true page with the quieter verdict
    var tick = next
    var os: org.apache.hadoop.fs.FSDataOutputStream = null
    while (os == null) {
      // ONLY an already-exists collision advances the tick — a genuine
      // write failure (disk full, permissions, missing parent) must
      // propagate, not strand up to 1000 empty tick files and a
      // misleading error. The local FS throws plain
      // IOException("...already exists") rather than the typed
      // FileAlreadyExistsException (the round-17 gotcha), and message
      // phrasing varies by backend — so a collision is CONFIRMED by
      // fs.exists on the path itself, never by message sniffing (a
      // "parent path does not exist" failure also contains "exist").
      val tickPath = new org.apache.hadoop.fs.Path(qdir, s"tick_$tick.json")
      try os = fs.create(tickPath, false)
      catch {
        case e: java.io.IOException
            if e.isInstanceOf[org.apache.hadoop.fs.FileAlreadyExistsException] ||
              fs.exists(tickPath) =>
          tick += 1
          require(tick - next < 1000,
            s"could not allocate a tick file under $qdir after 1000 collisions")
      }
    }
    try os.write((row(tick) + "\n").getBytes("UTF-8")) finally os.close()
    needsReindex
  }

  /** Bounded forged-skew drain for the `stream_skew_alerts` oracle
    * gate: the [[monitoringDemoPanel]] fixture extended with a FOURTH
    * file that lands two more late-window rows, so TWO consecutive
    * batches breach a 0.5 drop ratio and the k=2 alert FIRES — the
    * deterministic end-to-end of [[watermarkSkewAlerts]] over a real
    * drain's monitoring rows. Batch sequence (maxFilesPerTrigger=1,
    * mtimes spaced >1 s): b0 = 6 on-time rows; b1 = 4 rows at 01:00
    * (advances the watermark); b2 = 2 late-distinct-window rows + 1
    * on-time (ratio 2/3 > 0.5 — breach); b3 = same shape (breach).
    * The late rows sit far below EITHER candidate filter watermark
    * (00:04 from b0 per the one-batch filter lag, 00:59 from b1), so
    * the dropped counts are lag-robust: 0, 0, 2, 2 exactly. */
  def skewAlertDemoPanel(spark: SparkSession): DataFrame =
    forgedLatenessDrain(spark, "graft_skew_demo", forgedLateFiles :+ Seq(
        s"""{"ts":"${demoT0}0:30.000Z","label":"a"}""",
        s"""{"ts":"${demoT0}1:30.000Z","label":"a"}""",
        """{"ts":"2024-01-01T01:02:00.000Z","label":"b"}""")) { m =>
      watermarkSkewAlerts(m, ratioThreshold = 0.5, kBatches = 2)
    }

  /** Bounded end-to-end demonstration of [[attachMonitoring]] for the
    * oracle gate (`stream_monitoring_panel`): a watermarked windowed
    * count drains a 3-file fixture whose third file carries two rows
    * FORGED LATE (below the watermark the second file advanced), then
    * the `_monitoring` table is summarized into a deterministic panel:
    * exact input-batch/row/dropped-row counts plus tolerance booleans
    * for the wall-clock-valued columns (the a3_file_latency pattern).
    * `maxFilesPerTrigger=1` + AvailableNow + mtimes spaced >1 s make
    * the batch sequence deterministic: batch 0 = file 0 (6 rows, max
    * event time 00:05), batch 1 = file 1 (4 rows at 01:00), batch 2 =
    * file 2 (2 rows at 00:02 and 00:03 — DISTINCT 60 s windows, both
    * below batch 2's late-input-filter watermark 00:04, the
    * batch-0-derived value per the one-batch filter lag — plus 1
    * on-time row) → rows_dropped_by_watermark = 2 exactly (the
    * counter is post-partial-agg, so the late rows must land in
    * distinct groups to count separately — see [[attachMonitoring]]). */
  def monitoringDemoPanel(spark: SparkSession): DataFrame =
    forgedLatenessDrain(spark, "graft_monitoring_demo", forgedLateFiles) { m =>
      m.agg(
        sum(when(col("num_input_rows") > 0, 1L).otherwise(0L))
          .cast("long").as("n_input_batches"),
        sum("num_input_rows").cast("long").as("rows_in"),
        sum("rows_dropped_by_watermark").cast("long").as("rows_dropped_late"),
        (max("state_rows") > 0).as("saw_state"),
        (max("state_bytes") > 0).as("saw_state_bytes"),
        (min("batch_duration_ms") >= 0 &&
          max("batch_duration_ms") < 600000L).as("durations_ok"),
        (max("watermark") >= "2024-01-01T00:59:00.000Z")
          .as("watermark_advanced"))
    }

  private val demoT0 = "2024-01-01T00:0"

  /** The [[monitoringDemoPanel]] fixture, one JSONL file per entry. */
  private val forgedLateFiles = Seq(
    // file 0: 6 on-time rows, 00:00..00:05
    (0 to 5).map(m => s"""{"ts":"${demoT0}$m:00.000Z","label":"a"}"""),
    // file 1: 4 rows at 01:00 — advances the watermark to 00:59
    (0 until 4).map(i => s"""{"ts":"2024-01-01T01:00:0$i.000Z","label":"b"}"""),
    // file 2: 2 late rows in DISTINCT windows (00:02 and 00:03,
    // both < watermark 00:59) + 1 on-time
    Seq(s"""{"ts":"${demoT0}2:01.000Z","label":"a"}""",
      s"""{"ts":"${demoT0}3:02.000Z","label":"a"}""",
      """{"ts":"2024-01-01T01:01:00.000Z","label":"b"}"""))

  /** The drain behind the two demo panels: writes `files` (JSONL rows of
    * ts, label) into a temp dir, drains a 60 s watermarked windowed
    * count over them one file per micro-batch under the query name
    * `name`, waits for one `_monitoring` row per file, and returns
    * `summarize` of the monitoring table — materialized eagerly, so the
    * temp dir (parquet sink + checkpoint + state store + monitoring
    * rows, re-created on every Verify/sweep run) is deleted before
    * returning; a lazy DataFrame over the files would leak one dir per
    * build. */
  private def forgedLatenessDrain(spark: SparkSession, name: String,
                                  files: Seq[Seq[String]])(
      summarize: DataFrame => DataFrame): DataFrame = {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory(name)
    val (in, out, ckpt) = (s"$base/in", s"$base/out", s"$base/ckpt")
    Files.createDirectories(Paths.get(in))
    files.zipWithIndex.foreach { case (lines, i) =>
      val f = Paths.get(in, f"f$i%02d.json")
      Files.write(f, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      // file-source batch order follows mtime: space >1 s apart (the
      // micro-batch-coalescing trap) and strictly increasing
      f.toFile.setLastModified(1700000000000L + i * 2000L)
    }
    val schema = StructType(Seq(StructField("ts", TimestampType),
      StructField("label", StringType)))
    val counts = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .withWatermark("ts", "60 seconds")
      .groupBy(window(col("ts"), "60 seconds"), col("label")).count()
    val listener = attachMonitoring(spark, base.toString, name)
    try {
      // batch-scoped stateful width (see withStreamShuffleWidth):
      // 1-file micro-batches over a 13- or 16-row fixture; the exact
      // counts (input batches / rows / watermark drops) are
      // width-neutral — watermarks are global and drop counters count
      // post-partial-agg GROUPS, fixed by the fixture's file split
      withStreamShuffleWidth(spark, 1) {
        val q = counts.writeStream.queryName(name)
          .option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow())
          .format("parquet").start(out)
        require(q.awaitTermination(300000), s"$name drain timed out")
      }
      // listener delivery is async post-commit: poll for every input
      // batch's row (plus however many no-data batches Spark ran) —
      // and FAIL LOUD on timeout or dropped writes, never summarize a
      // partial record (it would surface as a baffling oracle
      // data-mismatch instead of this error)
      val monDir = new org.apache.hadoop.fs.Path(s"$base/_monitoring/$name")
      val fs = monDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val deadline = System.currentTimeMillis() + 60000
      while ((!fs.exists(monDir) || fs.listStatus(monDir).length < files.length) &&
             System.currentTimeMillis() < deadline) Thread.sleep(200)
      require(listener.writeFailures == 0,
        s"monitoring listener dropped ${listener.writeFailures} row writes")
      require(fs.exists(monDir) && fs.listStatus(monDir).length >= files.length,
        "monitoring rows incomplete after 60 s — listener lagging or writes lost")
      val panel = summarize(monitoringTable(spark, base.toString, name))
      val rows = panel.collect().toSeq
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), panel.schema)
    } finally {
      spark.streams.removeListener(listener)
      val basePath = new org.apache.hadoop.fs.Path(base.toString)
      basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(basePath, true)
    }
  }
}
