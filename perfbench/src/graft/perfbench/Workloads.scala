package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import graft.streaming.StreamingPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Int,
                val tasks: TaskListener, val progress: ProgressListener) {
  var tracer = new Tracer(false, "")
  /** Output-check results, by check name. */
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  /** Per-layer figures of the traced units, by metric name. */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Workload-specific figures reported beside the contract metrics. */
  val detail = mutable.LinkedHashMap.empty[String, Double]

  def check(name: String, ok: Boolean, why: => String = ""): Boolean = {
    checks(name) = checks.getOrElse(name, true) && ok
    if (!ok) System.err.println(s"[perfbench] check $name failed: $why")
    ok
  }

  private var dirs = 0
  /** A fresh directory under the run's work dir. */
  def dir(name: String): Path = {
    dirs += 1
    Files.createDirectories(work.resolve(f"$name-$dirs%03d"))
  }
}

/** One unit of measured work: its wall time, the work items it landed
  * (packets, events or queries), one latency per item in ms, the
  * attempted/failed item counts, and the process CPU time it took (set
  * by the measuring loop). */
final case class UnitResult(wallS: Double, work: Long, latMs: Seq[Double],
                            attempted: Int, failed: Int, cpuS: Double = 0.0)

trait Workload {
  /** Synthesizes the inputs from the seed; repeatable. */
  def synth(): Unit
  /** Runs the workload once unmeasured and checks its outputs. */
  def warm(): Unit
  /** How many units an untraced run of `seconds` measures: fixed per
    * workload, so that every run does the same work. */
  def units(seconds: Double): Int
  /** Runs one unit of the measured loop, sized to `seconds` where the
    * unit is a time window. */
  def unit(seconds: Double): UnitResult
  /** Direct calls into single layers; traced runs only. */
  def layerProbes(): Unit = ()
  /** Folds the traced units' listener data into `ctx.layer`. */
  def summarize(tracedUnits: Int): Unit
}

object Util {
  def nowMs(): Long = System.currentTimeMillis()

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest whole percentile with at least ten samples above it;
    * 50 when there are too few samples for any higher one. */
  def tailPercentile(n: Int): Int =
    (99 to 50 by -1).find(p => n - math.ceil(n * p / 100.0).toInt >= 10).getOrElse(50)

  def lines(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
      .toSeq.sortBy(_.toString)
      .flatMap(p => new String(Files.readAllBytes(p), UTF_8).split("\n").toSeq)
      .filter(_.nonEmpty)

  def jLong(line: String, k: String): Option[Long] =
    ("\"" + k + "\":(-?[0-9]+)").r.findFirstMatchIn(line).map(_.group(1).toLong)
  def jStr(line: String, k: String): Option[String] =
    ("\"" + k + "\":\"((?:[^\"\\\\]|\\\\.)*)\"").r.findFirstMatchIn(line).map(_.group(1))

  /** Writes `content` to `target` through a temp file in `staging` and
    * an atomic rename, so a reader polling the directory never sees a
    * half-written file. */
  def publish(target: Path, content: String, staging: Path): Unit = {
    val tmp = staging.resolve(target.getFileName.toString + ".tmp")
    Files.write(tmp, content.getBytes(UTF_8))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Awaits a drain; a query still running at the deadline is stopped
    * and reported as not finished. */
  def await(q: StreamingQuery, timeoutMs: Long): Boolean =
    try q.awaitTermination(timeoutMs) && q.exception.isEmpty
    catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] query ${q.name} failed: ${e.getMessage}"); false
    }
    finally if (q.isActive) q.stop()
}

/** Streaming-layer read-out shared by the three streaming workloads. */
object StreamLayer {
  import Util._

  /** Adds each trigger of `q` as a span under span `parent`, and its
    * phases under the trigger. Phases are laid out in execution order:
    * latestOffset, walCommit, getBatch, queryPlanning, addBatch,
    * commitOffsets; what the phases leave of the trigger is its self
    * time. */
  def addSpans(ctx: Ctx, parent: Int, ps: Seq[StreamingQueryProgress]): Unit =
    if (ctx.tracer.on) ps.foreach { p =>
      val s0 = ctx.tracer.nsAt(Trace.startMs(p))
      val trig = Trace.phase(p, "triggerExecution") * 1000000L
      val id = ctx.tracer.add(parent, "streaming.trigger", "streaming", s0, s0 + trig)
      var t = s0
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
        "commitOffsets").foreach { k =>
        val d = Trace.phase(p, k) * 1000000L
        if (d > 0) ctx.tracer.add(id, s"streaming.$k", "streaming", t, t + d)
        t += d
      }
    }

  /** Trigger-phase and job/task figures over every progress report of
    * `qs`. */
  def phases(ctx: Ctx, qs: Seq[StreamingQuery], units: Int): Unit = {
    val ps = qs.flatMap(q => ctx.progress.of(q).map(q.id.toString -> _))
    val n = math.max(1, ps.size).toDouble
    def mean(k: String) = ps.map(x => Trace.phase(x._2, k).toDouble).sum / n
    ctx.layer("streaming.batches") = ps.size.toDouble / math.max(1, units)
    ctx.layer("streaming.trigger_ms_p50") =
      median(ps.map(x => Trace.phase(x._2, "triggerExecution").toDouble))
    ctx.layer("streaming.add_batch_ms") = mean("addBatch")
    ctx.layer("streaming.latest_offset_ms") = mean("latestOffset")
    ctx.layer("streaming.query_planning_ms") = mean("queryPlanning")
    ctx.layer("streaming.wal_commit_ms") = mean("walCommit")
    ctx.layer("streaming.commit_offsets_ms") = mean("commitOffsets")
    ctx.tasks.settle()
    val c = ps.map { case (qid, p) => ctx.tasks.sum(s"stream:$qid:${p.batchId}") }
    ctx.layer("streaming.jobs_per_batch") = c.map(_.jobs).sum / n
    ctx.layer("streaming.tasks_per_batch") = c.map(_.tasks).sum / n
  }
}

/** Output check and latency read-out of the `notifyPipeline`
  * workloads: every file's packets land as events or `_errors` rows,
  * `_notifications` agrees per file, and exactly one `_latency` row is
  * written per file. Returns each committed file's commit ms; when the
  * check fails no file is vouched for. */
object NotifyOutput {
  import Util._

  def read(ctx: Ctx, label: String, out: Path, pkts: Map[String, Int]): Map[String, Long] = {
    val events = lines(out.resolve("events")).size
    val errors = lines(out.resolve("_errors")).size
    val notes = lines(out.resolve("_notifications")).flatMap { l =>
      for (f <- jStr(l, "file"); p <- jLong(l, "packets_processed");
           e <- jLong(l, "packet_errors"))
        yield (f.substring(f.lastIndexOf('/') + 1), p, e)
    }
    val lat = lines(out.resolve("_latency")).flatMap { l =>
      for (f <- jStr(l, "source_file"); c <- jLong(l, "commit_ms")) yield (f, c)
    }
    val sent = pkts.values.sum.toLong
    val ok = Seq(
      ctx.check(s"$label.events_plus_errors_eq_sent", events + errors == sent,
        s"${events + errors} rows for $sent packets"),
      ctx.check(s"$label.notifications_match",
        notes.map(_._1).sorted == pkts.keys.toSeq.sorted &&
          notes.forall { case (f, p, _) => pkts(f) == p } &&
          notes.map(_._3).sum == errors,
        s"${notes.size} rows, ${notes.map(_._2).sum} packets"),
      ctx.check(s"$label.one_latency_row_per_file",
        lat.map(_._1).sorted == pkts.keys.toSeq.sorted,
        s"${lat.size} rows for ${pkts.size} files"))
    if (ok.forall(identity)) lat.toMap else Map.empty
  }
}

/** UDM transform timed directly over cached raw packet rows. */
object TransformProbe {
  /** `expectedErrors`: the error events the input holds by construction. */
  def run(ctx: Ctx, raw: DataFrame, expectedErrors: Long): Unit = {
    val t0 = System.nanoTime()
    val r = ctx.tracer.span("udm.transform", "udm") {
      StreamingPipeline.toUdm(raw)
        .agg(count(lit(1)), sum(when(col("is_error"), 1L).otherwise(0L))).head()
    }
    ctx.layer("udm.transform_s") = (System.nanoTime() - t0) / 1e9
    val (rows, errors) = (r.getLong(0), r.getLong(1))
    ctx.layer("udm.error_event_ratio") = errors.toDouble / math.max(1L, rows)
    ctx.check("udm.error_events_as_synthesized", errors == expectedErrors,
      s"$errors of $rows, expected $expectedErrors")
  }
}

/** `pcap_backlog` — closed drain: a backlog of seeded classic pcaps is
  * queued before start, then drained by `notifyPipeline` (AvailableNow,
  * 16 messages per trigger, native decoder). One unit is one drain. */
final class PcapBacklog(ctx: Ctx, files: Int, pktsPerFile: Int) extends Workload {
  import Util._
  private val label = "pcap_backlog"
  private var data: Path = _
  private def name(i: Int) = f"cap_$i%03d.pcap"
  private val pkts = (0 until files).map(i => name(i) -> pktsPerFile).toMap
  private val traced = mutable.ArrayBuffer.empty[StreamingQuery]
  private var listings = 0L

  def synth(): Unit = {
    data = ctx.dir(s"$label-data")
    (0 until files).foreach { i =>
      Files.write(data.resolve(name(i)),
        graft.sources.CaptureBytes.syntheticPcap(pktsPerFile, ctx.seed * 1000 + i))
    }
  }

  private def drain(): UnitResult = {
    val d = ctx.dir("pcap-drain")
    val queue = Files.createDirectories(d.resolve("queue"))
    (0 until files).foreach(i =>
      Files.write(queue.resolve(f"msg_$i%03d"), name(i).getBytes(UTF_8)))
    val out = d.resolve("out")
    val l0 = graft.sources.NotifySource.listings.get()
    val t0 = nowMs()
    val (q, finished) = ctx.tracer.span("notify_query", "streaming") {
      val q = StreamingPipeline.notifyPipeline(ctx.spark, queue.toString, data.toString,
        out.toString, d.resolve("ckpt").toString, trigger = Trigger.AvailableNow(),
        maxMessagesPerTrigger = 16).start()
      (q, await(q, 120000))
    }
    val querySpan = ctx.tracer.lastClosed
    val wall = (nowMs() - t0) / 1000.0
    ctx.check(s"$label.drain_finished", finished)
    val commits = if (finished) NotifyOutput.read(ctx, label, out, pkts)
      else Map.empty[String, Long]
    if (ctx.tracer.on) {
      traced += q
      listings += graft.sources.NotifySource.listings.get() - l0
      StreamLayer.addSpans(ctx, querySpan, ctx.progress.of(q))
    }
    UnitResult(wall, commits.keys.toSeq.map(pkts).sum.toLong,
      commits.values.map(c => (c - t0).toDouble).toSeq, files, files - commits.size)
  }

  /** One whole drain: the first after start runs a third slower than
    * the ones after it while the JIT catches up. */
  def warm(): Unit = drain()

  /** A drain takes 4–6 s at local[2]. */
  def units(seconds: Double): Int = math.max(1, math.round(seconds / 5.0).toInt)

  def unit(seconds: Double): UnitResult =
    ctx.tracer.span(s"$label.drain", "bench")(drain())

  def summarize(units: Int): Unit = {
    StreamLayer.phases(ctx, traced.toSeq, units)
    ctx.layer("sources.queue_listings_per_batch") =
      listings.toDouble / math.max(1, traced.map(q => ctx.progress.of(q).size).sum)
    ctx.layer("streaming.queue_wait_ms_p50") = median(traced.toSeq.flatMap { q =>
      val ps = ctx.progress.of(q).filter(_.numInputRows > 0)
      // every file was due when the drain started; it waits until the
      // trigger that takes it starts
      val t0 = ps.headOption.map(Trace.startMs).getOrElse(0L)
      ps.flatMap(p => Seq.fill(p.numInputRows.toInt)((Trace.startMs(p) - t0).toDouble))
    })
  }

  override def layerProbes(): Unit = {
    val paths = (0 until files).map(i => data.resolve(name(i)).toString)
    val t0 = System.nanoTime()
    val decoded = ctx.tracer.span("sources.decode", "sources") {
      val df = graft.sources.PcapDecode.decodePathsContained(ctx.spark, paths).cache()
      df.count()
      df
    }
    val decodeS = (System.nanoTime() - t0) / 1e9
    ctx.layer("sources.decode_s") = decodeS
    ctx.layer("sources.decode_pkts_per_s") = files.toLong * pktsPerFile / decodeS
    TransformProbe.run(ctx, decoded, expectedErrors = 0)
    decoded.unpersist()
  }
}

/** `notify_trickle` — open loop: a generator thread, apart from the
  * query, publishes small pre-decoded tshark-JSON captures at a fixed
  * rate while `notifyPipeline` runs with a short processing-time
  * trigger. One unit is one publishing window; each file's latency runs
  * from the time it was due, so a stall also counts against the files
  * queued behind it. The unit's wall and work are those of its full
  * triggers: their summed duration and the packets they took. */
final class NotifyTrickle(ctx: Ctx, ratePerS: Double, maxSeconds: Double,
                          pktsPerFile: Int, triggerMs: Int) extends Workload {
  import Util._
  private var data: Path = _
  private val pkts = mutable.Map.empty[String, Int]
  private var next = 0
  /** Generator lag, ms behind schedule, per published file. */
  private val lagMs = mutable.ArrayBuffer.empty[Double]
  /** Trigger start minus due time, per file of the traced windows. */
  private val queueWait = mutable.ArrayBuffer.empty[Double]
  private val traced = mutable.ArrayBuffer.empty[StreamingQuery]
  private var listings = 0L
  private val warmSeconds = 4.0
  private var errorEvents = 0L

  def synth(): Unit = {
    data = ctx.dir("trickle-data")
    pkts.clear()
    next = 0
    // enough files for the warm-up plus the measured windows
    val files = math.ceil((warmSeconds + maxSeconds) * ratePerS).toInt + 4
    val raw = graft.udm.SynthPackets.fromEvents(
        Data.events(ctx.spark, files.toLong * pktsPerFile, ctx.seed))
      .orderBy("event_id").select("raw").collect().map(_.getString(0))
    errorEvents = Data.events(ctx.spark, files.toLong * pktsPerFile, ctx.seed)
      .where(col("event_type") === "error").count()
    raw.grouped(pktsPerFile).zipWithIndex.foreach { case (chunk, i) =>
      val f = f"trk_$i%05d.json"
      Files.write(data.resolve(f), chunk.mkString("[", ",", "]").getBytes(UTF_8))
      pkts(f) = chunk.length
    }
  }

  private def window(secs: Double): UnitResult = {
    val d = ctx.dir("trickle-window")
    val (queue, staging) = (Files.createDirectories(d.resolve("queue")),
      Files.createDirectories(d.resolve("staging")))
    val out = d.resolve("out")
    val n = math.max(1, math.round(secs * ratePerS).toInt)
    val names = (next until next + n).map(i => f"trk_$i%05d.json")
    require(names.forall(pkts.contains), "trickle inputs exhausted")
    next += n
    val l0 = graft.sources.NotifySource.listings.get()
    val start = nowMs() + 100
    val due = names.indices.map(i => start + math.round(i * 1000.0 / ratePerS))
    val q = ctx.tracer.span("notify_query", "streaming") {
      val q = StreamingPipeline.notifyPipeline(ctx.spark, queue.toString, data.toString,
        out.toString, d.resolve("ckpt").toString,
        trigger = Trigger.ProcessingTime(s"$triggerMs milliseconds")).start()
      val gen = new Thread(() => names.indices.foreach { i =>
        val wait = due(i) - nowMs()
        if (wait > 0) Thread.sleep(wait)
        publish(queue.resolve(f"msg_$i%05d"), names(i), staging)
        lagMs.synchronized(lagMs += (nowMs() - due(i)).toDouble)
      }, "perfbench-generator")
      gen.start()
      gen.join()
      // let the query catch up (bounded): every published file committed
      val latDir = out.resolve("_latency")
      val deadline = nowMs() + 30000
      while (lines(latDir).size < n && nowMs() < deadline && q.isActive) Thread.sleep(25)
      q.stop()
      q
    }
    val querySpan = ctx.tracer.lastClosed
    ctx.check("notify_trickle.query_healthy", q.exception.isEmpty,
      q.exception.map(_.getMessage).getOrElse(""))
    val pk = names.map(f => f -> pkts(f)).toMap
    val commits = NotifyOutput.read(ctx, "notify_trickle", out, pk)
    val dueOf = names.zip(due).toMap
    if (ctx.tracer.on) {
      traced += q
      listings += graft.sources.NotifySource.listings.get() - l0
      val ps = ctx.progress.of(q)
      StreamLayer.addSpans(ctx, querySpan, ps)
      // a file waits from its due time until the first trigger that
      // starts after it was published
      val starts = ps.filter(_.numInputRows > 0).map(Trace.startMs)
      names.foreach(f => starts.find(_ >= dueOf(f))
        .foreach(s => queueWait += (s - dueOf(f)).toDouble))
    }
    // an open loop's delivered rate is the offered rate; what the
    // pipeline sustains shows as packets per second of trigger time, over
    // the full triggers (the first and last of a window take part loads)
    val loaded = ctx.progress.of(q).filter(_.numInputRows > 0)
    val full = if (loaded.size > 2) loaded.drop(1).dropRight(1) else loaded
    UnitResult(full.map(p => Trace.phase(p, "triggerExecution")).sum / 1000.0,
      if (commits.size == n) full.map(_.numInputRows).sum * pktsPerFile else 0L,
      commits.toSeq.map { case (f, c) => (c - dueOf(f)).toDouble }, n, n - commits.size)
  }

  def warm(): Unit = window(warmSeconds)

  def units(seconds: Double): Int = 1

  def unit(seconds: Double): UnitResult =
    ctx.tracer.span("notify_trickle.window", "bench")(window(seconds))

  def summarize(units: Int): Unit = {
    StreamLayer.phases(ctx, traced.toSeq, units)
    val batches = traced.map(q => ctx.progress.of(q).size).sum
    ctx.layer("sources.queue_listings_per_batch") = listings.toDouble / math.max(1, batches)
    ctx.layer("streaming.queue_wait_ms_p50") = median(queueWait.toSeq)
  }

  def generatorLag: Seq[Double] = lagMs.synchronized(lagMs.toList)

  override def layerProbes(): Unit = {
    val raw = ctx.spark.read.option("wholetext", "true").text(data.toString)
      .select(explode(from_json(col("value"), ArrayType(StringType))).as("raw")).cache()
    raw.count()
    // SynthPackets turns every `error` event into a malformed packet
    TransformProbe.run(ctx, raw, expectedErrors = errorEvents)
    raw.unpersist()
  }
}

/** `events_stateful` — closed drain through state: the seeded events,
  * written in ts order as JSONL files, drained at 2 files per trigger
  * into a noop sink, first by `anomalyAlerts` (classic state, width
  * floor 2) and then by `quotaLimitPipeline` (transformWithState on
  * RocksDB, width floor 8). One unit is the two drains. */
final class EventsStateful(ctx: Ctx, nEvents: Int, files: Int) extends Workload {
  import Util._
  private val perTrigger = 2
  private var in: Path = _
  /** (epoch ms, event type, event id), in file order. */
  private var rows: Array[(Long, String, Long)] = _
  private val traced = mutable.ArrayBuffer.empty[(String, StreamingQuery)]
  private val schema = StructType(Seq(StructField("ts", TimestampType),
    StructField("event_type", StringType), StructField("event_id", LongType)))

  def synth(): Unit = {
    in = ctx.dir("stateful-in")
    val got = Data.events(ctx.spark, nEvents, ctx.seed)
      .select(date_trunc("millisecond", col("ts")).as("ts"), col("event_type"),
        col("event_id"))
      .orderBy("ts", "event_id")
      .select(to_json(struct(col("ts"), col("event_type"), col("event_id"))),
        unix_millis(col("ts")), col("event_type"), col("event_id"))
      .collect()
    rows = got.map(r => (r.getLong(1), r.getString(2), r.getLong(3)))
    val per = math.ceil(got.length.toDouble / files).toInt
    got.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      val p = in.resolve(f"part_$i%03d.jsonl")
      Files.write(p, chunk.map(_.getString(0)).mkString("", "\n", "\n").getBytes(UTF_8))
      // the file source takes files oldest first
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 1000L))
    }
  }

  private def drain(label: String, floor: Int, sink: String)
                   (xform: DataFrame => DataFrame): (Double, StreamingQuery) = {
    val d = ctx.dir(s"stateful-$label")
    StreamingPipeline.withStreamShuffleWidth(ctx.spark, perTrigger, floor) {
      val stream = ctx.spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", perTrigger).json(in.toString)
      val w = xform(stream).writeStream.outputMode("append")
        .option("checkpointLocation", d.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
      val t0 = System.nanoTime()
      val q = (if (sink == "noop") w.format("noop")
        else w.format("memory").queryName(sink)).start()
      val finished = await(q, 120000)
      ctx.check(s"events_stateful.${label}_drain_finished", finished)
      ((System.nanoTime() - t0) / 1e9, q)
    }
  }

  private def anomaly(sink: String) = drain("anomaly", 2, sink)(df =>
    StreamingPipeline.anomalyAlerts(df, "ts", "event_type", windowSeconds = 3600))

  private def quota(sink: String) =
    StreamingPipeline.withRocksDbStateStore(ctx.spark) {
      drain("quota", 8, sink)(df =>
        StreamingPipeline.quotaLimitPipeline(df, windowSeconds = 60, cap = 3))
    }

  /** Hourly EWMA alerts recomputed in plain Scala: per type, every
    * hour window closed by the final watermark (the largest event time)
    * whose type has at least 7 earlier windows. */
  private def expectedAnomalies: Set[(Long, String, Long, Double, Double, Boolean)] = {
    val hour = 3600000L
    val wm = rows.map(_._1).max
    val weights = graft.metrics.Metrics.ewmaWeights(0.5, 7)
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    rows.groupBy(_._2).toSeq.flatMap { case (t, rs) =>
      val wins = rs.groupBy(r => r._1 / hour * hour).view.mapValues(_.length.toLong)
        .toSeq.sortBy(_._1).filter { case (w, _) => w + hour <= wm }
      wins.indices.drop(7).map { i =>
        val (w, n) = wins(i)
        val hist = (1 to 7).map(k => wins(i - k)._2)
        val ewma = weights.zip(hist).map { case (a, b) => a * b }
          .foldLeft(0.0)(_ + _) / weights.sum
        val ratio = r4(n / ewma)
        (w, t, n, r4(ewma), ratio, ratio >= 1.5 || ratio <= 0.6667)
      }
    }.toSet
  }

  /** First 3 events per (type, minute) by (ts, id), recomputed. */
  private def expectedQuota: Set[(String, Long, Long, Long)] =
    rows.groupBy(r => (r._2, Math.floorDiv(r._1, 60000L) * 60)).toSeq.flatMap {
      case ((t, w), rs) => rs.sortBy(r => (r._1, r._3)).take(3).zipWithIndex
        .map { case (r, i) => (t, w, r._3, i + 1L) }
    }.toSet

  /** Both drains into memory sinks whose rows are checked against the
    * recomputations, then one unmeasured unit: a JVM's second unit still
    * ran up to a fifth slower than its third. */
  def warm(): Unit = {
    val tag = s"perfbench_${ctx.seed}_${System.nanoTime()}"
    anomaly(s"${tag}_anomaly")
    val gotA = ctx.spark.table(s"${tag}_anomaly").collect().map(r =>
      (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getBoolean(5))).toSeq
    val wantA = expectedAnomalies
    ctx.check("events_stateful.anomaly_matches_recomputation",
      gotA.size == wantA.size && gotA.toSet == wantA,
      s"${gotA.size} rows, expected ${wantA.size}")
    quota(s"${tag}_quota")
    val gotQ = ctx.spark.table(s"${tag}_quota").collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val wantQ = expectedQuota
    ctx.check("events_stateful.quota_matches_batch_first3",
      gotQ.size == wantQ.size && gotQ.toSet == wantQ,
      s"${gotQ.size} rows, expected ${wantQ.size}")
    unit(0)
  }

  /** The two drains take 6–7 s at local[2] on a quiet box, two thirds
    * of it the quota drain; at least three, so that the reported figure
    * is a median that one slow unit does not move. */
  def units(seconds: Double): Int = math.max(3, math.round(seconds / 7.0).toInt)

  /** Latency of each file in one drain: from the drain's start to the
    * end of the trigger that processed it. */
  private def fileLatencies(q: StreamingQuery, t0Ms: Long): Seq[Double] =
    ctx.progress.of(q).filter(_.numInputRows > 0)
      .take(math.ceil(files.toDouble / perTrigger).toInt)
      .flatMap { p =>
        val end = Trace.startMs(p) + Trace.phase(p, "triggerExecution")
        Seq.fill(perTrigger)((end - t0Ms).toDouble)
      }.take(files)

  def unit(seconds: Double): UnitResult = {
    def one(label: String)(run: => (Double, StreamingQuery)): (Double, Seq[Double]) =
      ctx.tracer.span(s"events_stateful.${label}_drain", "streaming") {
        val t0 = nowMs()
        val (s, q) = run
        ctx.detail(s"${label}_drain_s") = s
        if (ctx.tracer.on) {
          traced += label -> q
          StreamLayer.addSpans(ctx, ctx.tracer.current, ctx.progress.of(q))
        }
        (s, fileLatencies(q, t0))
      }
    val (a, la) = one("anomaly")(anomaly("noop"))
    val (b, lb) = one("quota")(quota("noop"))
    // a file's latency through the stateful stage is the sum of its
    // latencies in the two drains, which run one after the other
    val lat = la.zip(lb).map { case (x, y) => x + y }
    UnitResult(a + b, if (lat.size == files) rows.length.toLong else 0L, lat, files,
      files - lat.size)
  }

  def summarize(units: Int): Unit = {
    StreamLayer.phases(ctx, traced.map(_._2).toSeq, units)
    val ops = traced.toSeq.flatMap { case (_, q) =>
      ctx.progress.of(q).flatMap(_.stateOperators.toSeq) }
    val per = math.max(1, units).toDouble
    ctx.layer("streaming.state_commit_ms") = ops.map(_.commitTimeMs).sum / per
    ctx.layer("streaming.state_update_ms") = ops.map(_.allUpdatesTimeMs).sum / per
    ctx.layer("streaming.state_removal_ms") = ops.map(_.allRemovalsTimeMs).sum / per
    ctx.layer("streaming.state_instances") =
      if (ops.isEmpty) 0 else ops.map(_.numStateStoreInstances).max.toDouble
    val last = traced.toSeq.map { case (_, q) =>
      ctx.progress.of(q).lastOption.map(_.stateOperators.toSeq).getOrElse(Nil) }
    ctx.layer("streaming.state_rows_total") = last.flatten.map(_.numRowsTotal).sum / per
    ctx.layer("streaming.state_memory_bytes") = last.flatten.map(_.memoryUsedBytes).sum / per
    ctx.layer("streaming.rows_dropped_by_watermark") =
      ops.map(_.numRowsDroppedByWatermark).sum / per
    def drainS(label: String) = median(traced.toSeq.filter(_._1 == label).map { case (_, q) =>
      ctx.progress.of(q).map(p => Trace.phase(p, "triggerExecution")).sum / 1000.0 })
    ctx.layer("streaming.anomaly_drain_s") = drainS("anomaly")
    ctx.layer("streaming.quota_drain_s") = drainS("quota")
  }
}

/** `analytics_mix` — closed loop, one client: the registry batch queries
  * over fixed seeded tables into a noop sink, in an order the seed
  * permutes. One unit is one pass over the mix. */
final class AnalyticsMix(ctx: Ctx, sf: Double, val names: Seq[String],
                         expected: Map[String, (Long, Long)]) extends Workload {
  import Util._
  private var dir: Path = _
  private var passes = 0
  /** Per-query (rows, checksum) of the warm-up pass. */
  val digests = mutable.LinkedHashMap.empty[String, (Long, Long)]
  private val tracedTimes = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  /** The tables are fixed — the seed orders the queries, not the data —
    * so every run checks against the same recorded digests. */
  def synth(): Unit = {
    dir = ctx.dir("mix-tables")
    Data.writeTables(ctx.spark, dir.toString, sf, seed = 42)
  }

  /** Row count and an order-independent checksum: the sum of one hash
    * per row, doubles rounded to 6 places first so that summation order
    * inside an aggregate cannot move it. */
  private def digest(df: DataFrame): (Long, Long) = {
    def norm(c: org.apache.spark.sql.Column, t: DataType): org.apache.spark.sql.Column =
      t match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6)
        case _: DecimalType => round(c, 6)
        case ArrayType(DoubleType | FloatType, _) =>
          transform(c, x => round(x.cast(DoubleType), 6))
        case _: StructType | _: MapType | _: ArrayType => to_json(c)
        case _ => c
      }
    val hashed = df.select(xxhash64(lit(0) +: df.schema.fields.toSeq.map(f =>
      norm(col(s"`${f.name}`"), f.dataType)): _*).as("h"))
    val r = hashed.agg(count(lit(1)), sum(pmod(col("h"), lit(1L << 40)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def build(name: String): DataFrame =
    graft.queries.Registry.queries(name)(ctx.spark, dir.toString)

  def warm(): Unit = names.foreach { n =>
    try {
      val d = digest(build(n))
      digests(n) = d
      if (expected.nonEmpty)
        ctx.check(s"analytics_mix.$n", expected.get(n).contains(d),
          s"got $d, recorded ${expected.get(n)}")
    } catch { case NonFatal(e) =>
      ctx.check(s"analytics_mix.$n", ok = false, e.getMessage)
    }
  }

  /** A warm pass takes 3–4 s at local[2]. */
  def units(seconds: Double): Int = math.max(1, math.round(seconds / 3.3).toInt)

  def unit(seconds: Double): UnitResult = {
    passes += 1
    val order = new scala.util.Random(ctx.seed * 7919L + passes).shuffle(names)
    val t0 = System.nanoTime()
    val lat = ctx.tracer.span("analytics_mix.pass", "queries") {
      order.flatMap { n =>
        ctx.spark.sparkContext.setJobGroup(s"mix:$n", n)
        val q0 = System.nanoTime()
        try {
          ctx.tracer.span(s"queries.$n", "queries") {
            build(n).write.format("noop").mode("overwrite").save()
          }
          val ms = (System.nanoTime() - q0) / 1e6
          if (ctx.tracer.on) tracedTimes.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += ms
          Some(ms)
        } catch { case NonFatal(e) =>
          System.err.println(s"[perfbench] query $n failed: ${e.getMessage}")
          None
        } finally ctx.spark.sparkContext.clearJobGroup()
      }
    }
    UnitResult((System.nanoTime() - t0) / 1e9, lat.size.toLong, lat, names.size,
      names.size - lat.size)
  }

  def summarize(units: Int): Unit = {
    names.foreach(n => ctx.layer(s"queries.${n}_s") =
      median(tracedTimes.getOrElse(n, mutable.ArrayBuffer.empty[Double]).toSeq) / 1000.0)
    ctx.tasks.settle()
    val g = ctx.tasks.sum("group:mix:")
    val per = math.max(1, units).toDouble
    ctx.layer("analytics.tasks") = g.tasks / per
    ctx.layer("analytics.task_cpu_ms") = g.cpuNs / 1e6 / per
    ctx.layer("analytics.shuffle_write_bytes") = g.shuffleWriteBytes / per
    ctx.layer("analytics.spill_bytes") = g.spillBytes / per
  }
}
