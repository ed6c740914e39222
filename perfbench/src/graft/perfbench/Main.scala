package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Benchmark process: sets up one workload, measures it for the given
  * seconds and writes one result object (JSON) to `--result`.
  *
  * Untraced (`--trace 0`): every unit is measured with tracing off and
  * the end-to-end metrics come from those units. Traced (`--trace 1`):
  * half of the units run untraced first, then as many traced under the
  * listeners and spans; the per-layer metrics come
  * from the traced half and `trace_overhead_ratio` is the median traced
  * unit wall over the median untraced one. */
object Main {
  /** Spark `local[N]`: two task slots leave the JIT, the collector and
    * the driver threads a core of their own; on a shared 4-CPU box this
    * cut the run-to-run spread of `events_stateful` from about 9% to 3%
    * for 18% less speed. */
  val cpus: Int = math.min(2, Runtime.getRuntime.availableProcessors)

  /** `notify_trickle` files per second: about half of what `local[4]`
    * sustains (latency stayed flat at 10 files/s and grew through the
    * window at 20). */
  val trickleRate = 6.0

  /** Scale factor of the `analytics_mix` tables. */
  val mixSf = 0.01

  /** The registry queries of `analytics_mix`, one or more per module the
    * other workloads leave out: `udm` (UDM transform over synthesized
    * packets), `metrics`, the relational operators of `analytics`, and
    * the codegen'd minhash of `functions` under `analytics.Dedup`. */
  val mixQueries: Seq[String] = Seq("udm_classify_pipeline", "metrics_column_profile",
    "q3_shipping_priority", "dedup_clusters")

  /** Every per-layer metric, in report order; a traced run reports 0 for
    * a layer its workload does not exercise. */
  val perLayer: Seq[String] = Seq(
    "sources.decode_s", "sources.decode_pkts_per_s", "sources.queue_listings_per_batch",
    "udm.transform_s", "udm.error_event_ratio",
    "streaming.batches", "streaming.trigger_ms_p50", "streaming.add_batch_ms",
    "streaming.latest_offset_ms", "streaming.query_planning_ms", "streaming.wal_commit_ms",
    "streaming.commit_offsets_ms", "streaming.jobs_per_batch", "streaming.tasks_per_batch",
    "streaming.queue_wait_ms_p50",
    "streaming.state_commit_ms", "streaming.state_update_ms", "streaming.state_removal_ms",
    "streaming.state_instances", "streaming.state_rows_total", "streaming.state_memory_bytes",
    "streaming.rows_dropped_by_watermark", "streaming.anomaly_drain_s",
    "streaming.quota_drain_s") ++
    mixQueries.map(q => s"queries.${q}_s") ++ Seq(
    "analytics.tasks", "analytics.task_cpu_ms", "analytics.shuffle_write_bytes",
    "analytics.spill_bytes",
    "self.bench_s", "self.streaming_s", "self.sources_s", "self.udm_s", "self.queries_s",
    "trace.wall_s", "trace.self_sum_s",
    "jvm.gc_ms", "trace_overhead_ratio")

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Peak resident set of this process (VmHWM), MB. */
  private def peakRssMb(): Double =
    try {
      val l = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
        .find(_.startsWith("VmHWM:")).get
      l.replaceAll("[^0-9]", "").toLong / 1024.0
    } catch { case _: Exception =>
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString

  private def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").get
    val seed = arg(args, "--seed").get.toInt
    val seconds = arg(args, "--seconds").get.toDouble
    val traced = arg(args, "--trace").contains("1")
    val work = Paths.get(arg(args, "--work").get)
    val result = Paths.get(arg(args, "--result").get)
    val expectedMix = arg(args, "--mix-expected").map(Paths.get(_))
    val recordMix = arg(args, "--mix-record").map(Paths.get(_))
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val progress = new ProgressListener
    spark.streams.addListener(progress)
    val tasks = new TaskListener
    val ctx = new Ctx(spark, work, seed, tasks, progress)

    val w: Workload = workload match {
      case "pcap_backlog" => new PcapBacklog(ctx, files = 32, pktsPerFile = 1000)
      case "notify_trickle" => new NotifyTrickle(ctx, trickleRate, maxSeconds = seconds,
        pktsPerFile = 50, triggerMs = 3000)
      case "events_stateful" => new EventsStateful(ctx, nEvents = 40000, files = 4)
      case "analytics_mix" =>
        // recording replaces the digests, so it checks against none
        val exp = if (recordMix.isDefined) Map.empty[String, (Long, Long)]
          else expectedMix.filter(Files.exists(_)).map(Expected.read).getOrElse(Map.empty)
        new AnalyticsMix(ctx, mixSf, mixQueries, exp)
      case other => sys.error(s"unknown workload $other")
    }

    // set-up: session start once, input synthesis three times (median),
    // then the unmeasured, output-checked warm-up unit
    val synthS = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); w.synth(); (System.nanoTime() - t0) / 1e9
    }
    val warmS = { val t0 = System.nanoTime(); w.warm(); (System.nanoTime() - t0) / 1e9 }
    val setupS = sessionS + Util.median(synthS) + warmS
    (w, recordMix) match {
      case (m: AnalyticsMix, Some(p)) => Expected.write(p, mixSf, m.digests)
      case _ =>
    }

    // measured loop: a fixed number of units, so that every run does the
    // same work; a traced run splits them between its two halves
    val n = w.units(seconds)
    def loop(k: Int, budget: Double): Seq[UnitResult] = (1 to k).map { _ =>
      val c0 = cpuNs()
      val u = w.unit(budget)
      u.copy(cpuS = (cpuNs() - c0) / 1e9)
    }
    val cpu0 = cpuNs(); val gc0 = gcMs(); val wall0 = System.nanoTime()
    val (units, tracedUnits) =
      if (!traced) (loop(n, seconds), Seq.empty[UnitResult])
      else {
        val half = math.max(1, n / 2)
        val plain = loop(half, seconds / 2)
        spark.sparkContext.addSparkListener(tasks)
        ctx.tracer = new Tracer(true, s"$workload-$seed")
        val t = ctx.tracer.span("measure", "bench")(loop(half, seconds / 2))
        (plain, t)
      }
    val measureS = (System.nanoTime() - wall0) / 1e9
    val cpuShare = (cpuNs() - cpu0) / 1e9 / (measureS * cpus)
    val gcDelta = gcMs() - gc0

    if (traced) {
      val tr = ctx.tracer
      val rootSpan = tr.all.find(_.name == "measure").get
      val self = tr.selfTimes
      val under = tr.all.filter(s => s.id == rootSpan.id || isUnder(tr.all, s, rootSpan.id))
      Seq("bench", "streaming", "sources", "udm", "queries").foreach { l =>
        ctx.layer(s"self.${l}_s") = under.filter(_.layer == l).map(s => self(s.id)).sum / 1e9
      }
      ctx.layer("trace.wall_s") = rootSpan.durNs / 1e9
      ctx.layer("trace.self_sum_s") = under.map(s => self(s.id)).sum / 1e9
      w.summarize(tracedUnits.size)
      w.layerProbes()
      ctx.layer("jvm.gc_ms") = gcDelta.toDouble
      ctx.layer("trace_overhead_ratio") =
        Util.median(tracedUnits.map(_.wallS)) / Util.median(units.map(_.wallS))
      Files.write(work.resolve("trace.json"), tr.toJson.getBytes(UTF_8))
    }

    val all = units ++ tracedUnits
    val lat = units.flatMap(_.latMs)
    val tailP = Util.tailPercentile(lat.size)
    // the median unit: one unit slowed by a late JIT compile or a burst
    // of load on the box does not move it
    val throughput = Util.median(units.map(u => u.work / u.wallS))
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    val correct = failed == 0 && ctx.checks.values.forall(identity)
    // CPU time, not wall time, is what the end-to-end figure charges:
    // the hypervisor of a shared host takes CPU from the guest in bursts
    // lasting minutes, which moves a drain's wall time several times as
    // much as its CPU time (perfbench/results/steady.json)
    val cpuPerItem = Util.median(units.filter(_.work > 0).map(u => u.cpuS * 1000 / u.work))
    val endToEnd = Seq(
      "cpu_ms_per_item" -> cpuPerItem,
      "peak_rss_mb" -> peakRssMb(),
      "setup_s" -> setupS)
    val metrics = if (traced) perLayer.map(k => k -> ctx.layer.getOrElse(k, 0.0))
      else endToEnd

    // the wall-time figures, generic and under the names of the
    // workload's own metrics
    val walls = units.map(_.wallS)
    val named: Seq[(String, Double)] = Seq(
      "throughput_per_s" -> throughput,
      "latency_p50_ms" -> Util.median(lat),
      "latency_tail_ms" -> Util.quantile(lat, tailP / 100.0)) ++ (workload match {
      case "pcap_backlog" => Seq("pkts_per_s" -> throughput)
      case "notify_trickle" => Seq("file_latency_p50_ms" -> Util.median(lat),
        "file_latency_tail_ms" -> Util.quantile(lat, tailP / 100.0))
      case "events_stateful" => Seq("events_per_s" -> throughput)
      case _ => Seq("mix_s" -> Util.median(walls))
    })
    val lag = w match {
      case t: NotifyTrickle => t.generatorLag
      case _ => Nil
    }
    val fields = mutable.LinkedHashMap[String, String](
      "correct" -> correct.toString,
      "cpus" -> cpus.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> obj(metrics.map { case (k, v) => k -> num(v) }),
      "named" -> obj((named ++ Seq("failed_ratio" -> failed.toDouble / math.max(1, attempted)))
        .map { case (k, v) => k -> num(v) }),
      "tail_percentile" -> tailP.toString,
      "latency_samples" -> lat.size.toString,
      "units" -> (if (traced) tracedUnits else units).size.toString,
      "unit_wall_s" -> units.map(u => num(u.wallS)).mkString("[", ",", "]"),
      "setup_parts_s" -> obj(Seq("session" -> num(sessionS),
        "synth_median" -> num(Util.median(synthS)), "warm" -> num(warmS))),
      "checks" -> obj(ctx.checks.map { case (k, v) => k -> v.toString }),
      "detail" -> obj(ctx.detail.map { case (k, v) => k -> num(v) }),
      "isolation" -> obj(Seq(
        "load_avg_start" -> num(loadStart),
        "load_avg_end" -> num(os.getSystemLoadAverage),
        "cpu_share" -> num(cpuShare),
        "generator_lag_ms_p50" -> num(Util.median(lag)),
        "generator_lag_ms_max" -> num(if (lag.isEmpty) 0.0 else lag.max))))
    Files.write(result, obj(fields).getBytes(UTF_8))
    spark.stop()
  }

  private def isUnder(all: Seq[Span], s: Span, root: Int): Boolean = {
    val byId = all.map(x => x.id -> x).toMap
    var p = s.parent
    while (p != -1 && p != root) p = byId.get(p).map(_.parent).getOrElse(-1)
    p == root
  }
}

/** The recorded per-query digests of `analytics_mix`: a small JSON file
  * `{"sf": .., "queries": {"name": [rows, checksum], ..}}`. */
object Expected {
  def read(p: Path): Map[String, (Long, Long)] = {
    val s = new String(Files.readAllBytes(p), UTF_8)
    "\"([a-z0-9_]+)\":\\s*\\[(-?[0-9]+),\\s*(-?[0-9]+)\\]".r.findAllMatchIn(s)
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toLong)).toMap
  }

  def write(p: Path, sf: Double, d: collection.Map[String, (Long, Long)]): Unit =
    Files.write(p, (s"""{"sf": $sf, "data_seed": 42, "queries": {\n""" +
      d.map { case (k, (r, c)) => s"""  "$k": [$r, $c]""" }.mkString(",\n") +
      "\n}}\n").getBytes(UTF_8))
}
