package graft

import graft.queries.Registry
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Benchmark main: runs the headline (bench-flagged) queries on
  * SPARK_GRAFT_SF_DIR, forcing full materialization through a noop sink
  * (a bare `.count()` lets Catalyst prune most of the work), and prints
  * one JSON metrics line.
  *
  * Timing protocol — interleaved min-of-N: the full query list is run
  * ROUNDS times in round-robin order (A,B,C,…,A,B,C,…) and each entry
  * reports the minimum across rounds. Back-to-back repeats of one query
  * are hostage to any ambient-load spike that spans both runs (the
  * observed 2.7× txt_token_stats swing between driver rounds); with
  * interleaving a spike lands on ONE round's pass through the suite and
  * the other rounds still yield a clean sample for every query. */
object Bench {
  /** Isolation evidence, embedded in every published JSON line so a
    * contended run is self-evidencing instead of circumstantial (the
    * r6→r7 uniform ~1.1–1.6× inflation on untouched queries could only
    * be argued, not shown):
    *  - `load_avg_start` — the 1-min system load BEFORE any Spark work:
    *    ambient load; on an idle box this is ≪ core count.
    *  - `load_avg_end` — same at exit; includes the bench's own threads
    *    (≈ concurrent task slots), so alone it proves little, but a
    *    value far above the core count means someone else ran too.
    *  - `cpu_share` — this JVM's CPU seconds ÷ (wall × cores): the
    *    discriminator. External contention steals cycles from the
    *    bench, so a run whose share drops well below its usual band
    *    (with the same query set) was contended even if the thief
    *    exited before the end-of-run load sample. */
  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  private def processCpuSecs(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1e9
      case _ => -1.0
    }

  /** `"git_head":…,"dirty":…` of the git checkout in the working
    * directory (nulls outside one), so a record names the code it
    * measured. */
  private def gitStamp(): String = {
    def git(args: String*): Option[String] = try {
      val p = new ProcessBuilder(("git" +: args): _*).redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
      if (p.waitFor() == 0) Some(out) else None
    } catch { case NonFatal(_) => None }
    git("rev-parse", "HEAD") match {
      case Some(head) => s""""git_head":"$head","dirty":${git("status", "--porcelain").forall(_.nonEmpty)}"""
      case None => """"git_head":null,"dirty":null"""
    }
  }

  def main(args: Array[String]): Unit = {
    val loadStart = loadAvg()
    val stamp = gitStamp()
    val wallStart = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val rounds = sys.env.getOrElse("SPARK_GRAFT_BENCH_ROUNDS", "3").toInt
    require(rounds >= 1, s"SPARK_GRAFT_BENCH_ROUNDS must be >= 1: $rounds")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // fatal JVM errors (OOM, LinkageError) must kill the process, not be
    // recorded as a "failed" entry while the run limps on in a corrupted
    // JVM — catch NonFatal only, everywhere
    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      try Registry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // warm the JVM/codegen once with the cheapest query
    runOnce("a1_counts_by_type")
    val names = Registry.benchNames
    val best = scala.collection.mutable.LinkedHashMap[String, Double](
      names.map(_ -> -1.0): _*)
    for (_ <- 0 until rounds; name <- names) {
      val t = runOnce(name)
      if (t >= 0 && (best(name) < 0 || t < best(name))) best(name) = t
    }
    val results = best.toSeq

    import graft.streaming.StreamingPipeline
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

    // ONE harness for every streaming drain. Each drain is stateful
    // (queue/store/checkpoint/sink), so each of its two attempts runs in
    // fresh dirs under `<base>/<attempt>`: every (subdir -> JSONL rows)
    // input is written there as ~nFiles chunk files, then the clock
    // starts, `start(dir)` builds and starts the query over that dir,
    // and the drain is timed to termination. A 600 s timeout or a
    // NonFatal error is a FAILURE (-1 + stderr naming the entry), never
    // a datapoint; the entry reports the min of the two attempts.
    def drain(label: String, inputs: Seq[(String, Array[String])], nFiles: Int)
             (start: String => StreamingQuery): Double = {
      val base = Files.createTempDirectory(s"graft_bench_$label")
      def once(attempt: Int): Double = {
        val dir = s"$base/$attempt"
        val files = for ((sub, rows) <- inputs;
                         (chunk, i) <- rows.grouped(math.max(1, rows.length / nFiles)).zipWithIndex)
          yield (Paths.get(dir, sub, f"part_$i%03d.jsonl"), chunk)
        // mtimes strictly increasing and 2 s apart: the file source orders
        // its batches by mtime, so every attempt of every run splits the
        // input into the same batches (equal mtimes leave the order to
        // the listing, and with it, e.g., which near-duplicate an
        // admission drain keeps)
        val mtime0 = System.currentTimeMillis() - 2000L * (files.length + 1)
        files.zipWithIndex.foreach { case ((f, chunk), k) =>
          Files.createDirectories(f.getParent)
          Files.writeString(f, chunk.mkString("\n"))
          f.toFile.setLastModified(mtime0 + 2000L * k)
        }
        val t0 = System.nanoTime()
        try {
          val q = start(dir)
          if (q.awaitTermination(600000)) (System.nanoTime() - t0) / 1e9
          else {
            q.stop()
            System.err.println(s"[bench] $label timed out")
            -1.0
          }
        } catch { case NonFatal(e) =>
          System.err.println(s"[bench] $label failed: ${e.getMessage}")
          -1.0
        }
      }
      val a = once(0)
      if (a < 0) a else { val b = once(1); if (b < 0) a else math.min(a, b) }
    }

    // setup failures (e.g. an unreadable sf dir) must still yield the
    // JSON line with the entry in "failed", not a dead process
    def setup[A](label: String, failed: A)(body: => A): A =
      try body catch { case NonFatal(e) =>
        System.err.println(s"[bench] $label setup failed: ${e.getMessage}")
        failed
      }

    def events(where: String, cols: String*): Array[String] =
      Registry.table(spark, sfDir, "events").where(where)
        .selectExpr(cols: _*).orderBy("ts").toJSON.collect()

    // notifyPipeline AvailableNow drain over one queue message per
    // capture file (the files are written once, outside the clock)
    def streamDrain(label: String, base: java.nio.file.Path,
                    files: Seq[(String, Array[Byte])]): Double = {
      val data = s"$base/$label-data"
      Files.createDirectories(Paths.get(data))
      files.foreach { case (n, bytes) => Files.write(Paths.get(data, n), bytes) }
      drain(label, Seq("q" -> files.map(_._1).toArray), files.length) { dir =>
        StreamingPipeline.notifyPipeline(spark, s"$dir/q", data, s"$dir/out",
          s"$dir/ckpt", trigger = Trigger.AvailableNow(),
          maxMessagesPerTrigger = 16).start()
      }
    }

    // flagship streaming numbers: the notifyPipeline AvailableNow drain
    // (notification queue → GET → transform → 3 idempotent sinks),
    // admission-bounded at 16 messages/batch. TWO entries — the JSON
    // path and the native-binary-decode path are different workloads
    // (r4's mixed entry made the pkts/s incomparable across rounds).
    // File synthesis is setup, not measured.
    val perFile = 1000
    val (jsonSecs, jsonPkts, binSecs, binPkts) = setup("stream", (-1.0, 0, -1.0, 0)) {
      val nJson = 24
      val nPcap = 8
      val base = Files.createTempDirectory("graft_bench_stream")
      val raw = graft.udm.SynthPackets.fromEvents(
          Registry.table(spark, sfDir, "events").limit(nJson * perFile))
        .select("raw").collect().map(_.getString(0))
      val jsonMsgs = raw.grouped(perFile).zipWithIndex.map { case (chunk, i) =>
        f"cap_$i%03d.json" -> chunk.mkString("[", ",", "]").getBytes("UTF-8")
      }.toSeq
      val pcapMsgs = (0 until nPcap).map { i =>
        f"bin_$i%03d.pcap" ->
          graft.sources.CaptureBytes.syntheticPcap(perFile, seed = i)
      }
      (streamDrain("stream_json", base, jsonMsgs), raw.length,
        streamDrain("stream_binary", base, pcapMsgs), nPcap * perFile)
    }

    // admissionPipeline AvailableNow drain of docsJson in nFiles chunks
    def admissionDrain(label: String, docsJson: Array[String],
                       nFiles: Int, maxFilesPerTrigger: Int): Double =
      drain(label, Seq("in" -> docsJson), nFiles) { dir =>
        StreamingPipeline.admissionPipeline(spark, s"$dir/in", s"$dir/sig",
          s"$dir/out", s"$dir/ckpt", trigger = Trigger.AvailableNow(),
          maxFilesPerTrigger = maxFilesPerTrigger).start()
      }

    // continuous corpus admission (MinHash-LSH against the persisted
    // signature store, per micro-batch): docs/s over an AvailableNow
    // drain of several micro-batches — the spec proves semantics, this
    // entry tracks throughput
    val (admSecs, admDocs) = setup("admission_stream", (-1.0, 0)) {
      val docs = Registry.table(spark, sfDir, "documents")
        .selectExpr("doc_id", "text", "lang", "source").toJSON.collect()
      (admissionDrain("admission_stream", docs, nFiles = 16,
        maxFilesPerTrigger = 4), docs.length)
    }

    // amortization datapoint: ONE big micro-batch (4× the corpus,
    // texts made distinct by deterministic word-order variants so the
    // collision subgraph stays realistic) against the ~5 s/batch fixed
    // cost (per-batch MinHash + signature-store read + CC rounds + 3
    // sinks) the 1,250-doc batches above cannot amortize. Reported
    // separately as admission_stream_big / admission_big_docs_per_sec.
    val (admBigSecs, admBigDocs) = setup("admission_stream_big", (-1.0, 0)) {
      val d0 = Registry.table(spark, sfDir, "documents")
        .selectExpr("doc_id", "text", "lang", "source")
      // variant id stride = max(doc_id)+1, not count(): sparse or
      // gapped ids must not collide across variants inside the batch
      val stride = d0.agg(org.apache.spark.sql.functions.max("doc_id")).head() match {
        case r if r.isNullAt(0) => 1L
        case r => r.getLong(0) + 1
      }
      val bigDocs = Seq(
        "text",
        "concat_ws(' ', reverse(split(text, ' ')))",
        "concat_ws(' ', array_sort(split(text, ' ')))",
        "concat_ws(' ', reverse(array_sort(split(text, ' '))))")
        .zipWithIndex.map { case (t, i) =>
          d0.selectExpr(s"doc_id + ${i * stride} AS doc_id", s"$t AS text",
            "lang", "source")
        }.reduce(_ unionByName _).toJSON.collect()
      (admissionDrain("admission_stream_big", bigDocs, nFiles = 8,
        maxFilesPerTrigger = 32), bigDocs.length) // whole corpus, ONE batch
    }

    def embeddingRows(embT: DataFrame, idOffset: Long = 0L): Array[String] =
      embT.selectExpr(s"vec_id + $idOffset AS vec_id",
          "CAST(label AS BIGINT) AS label",
          "transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding")
        .toJSON.collect()

    // continuous SEMANTIC admission (SRP-bucket store + exact-cosine
    // verify per micro-batch, r15): vectors/s over an AvailableNow
    // drain of several micro-batches
    val (semSecs, semVecs) = setup("semantic_admission_stream", (-1.0, 0)) {
      val embT = Registry.table(spark, sfDir, "embeddings")
      val dim = graft.analytics.Similarity.embeddingDim(embT)
      val vecs = embeddingRows(embT)
      (drain("semantic_admission_stream", Seq("in" -> vecs), 16) { dir =>
        StreamingPipeline.semanticAdmissionPipeline(spark, s"$dir/in",
          s"$dir/store", s"$dir/out", s"$dir/ckpt",
          trigger = Trigger.AvailableNow(),
          maxFilesPerTrigger = 4, tau = 0.9, nBits = 8, dim = dim).start()
      }, vecs.length)
    }

    // continuous ANN index maintenance (frozen-model delta encode,
    // r15 second wave): vectors/s over an AvailableNow drain of the
    // whole embeddings table. The index TRAIN sits OUTSIDE the timed
    // window — train-once-search-many; the steady-state per-batch
    // encode + delta write is the cost being priced.
    val (idxmSecs, idxmVecs) = setup("index_maintenance_stream", (-1.0, 0)) {
      val embT = Registry.table(spark, sfDir, "embeddings")
      val vecs = embeddingRows(embT)
      val idx = s"${Files.createTempDirectory("graft_bench_index_maint")}/index"
      graft.analytics.Similarity.writeIvfPq(embT, idx,
        nCells = 8, m = 16, ksub = 32, rounds = 3)
      (drain("index_maintenance_stream", Seq("in" -> vecs), 16) { dir =>
        StreamingPipeline.indexMaintenancePipeline(spark, s"$dir/in", idx,
          s"$dir/delta", s"$dir/ckpt", trigger = Trigger.AvailableNow(),
          maxFilesPerTrigger = 4).start()
      }, vecs.length)
    }

    // maintained-search cost vs delta LIFETIME batches — the datapoint
    // behind compactMaintainedDelta: search must be flat in store ROWS,
    // not in lifetime batch count (every maintainedCodes query re-lists
    // the delta). 16 single-file micro-batches build a 16-partition
    // delta; the IDENTICAL ivfPqTopK probe is timed (best-of-2) over it
    // before and after the atomic-swap fold (16 partitions → 2).
    val (msPreSecs, msDuringSecs, msPostSecs) =
        setup("maintained_search", (-1.0, -1.0, -1.0)) {
      val embT = Registry.table(spark, sfDir, "embeddings")
      val vecs = embeddingRows(embT, idOffset = 8000000L)
      val base = Files.createTempDirectory("graft_bench_maint_compact")
      val idx = s"$base/index"
      graft.analytics.Similarity.writeIvfPq(embT, idx,
        nCells = 8, m = 16, ksub = 32, rounds = 3)
      val (in, delta, ckpt) = (s"$base/in", s"$base/delta", s"$base/ckpt")
      Files.createDirectories(Paths.get(in))
      vecs.grouped(math.max(1, vecs.length / 16)).zipWithIndex.foreach {
        case (chunk, i) =>
          val f = Paths.get(in, f"vecs_$i%03d.jsonl")
          Files.writeString(f, chunk.mkString("\n"))
          f.toFile.setLastModified(1700000000000L + i * 2000L)
      }
      val q = StreamingPipeline.indexMaintenancePipeline(
        spark, in, idx, delta, ckpt,
        trigger = Trigger.AvailableNow(),
        maxFilesPerTrigger = 1).start()
      require(q.awaitTermination(600000), "maintenance drain timed out")
      def searchOnce(): Double = {
        val t0 = System.nanoTime()
        graft.analytics.Similarity.ivfPqTopK(embT,
          spark.read.parquet(s"$idx/cells"),
          spark.read.parquet(s"$idx/codebook"),
          graft.analytics.Similarity.maintainedCodes(spark, idx, delta),
          Seq(0L, 1L, 2L, 3L, 4L), 10, nProbe = 4).count()
        (System.nanoTime() - t0) / 1e9
      }
      val pre = math.min(searchOnce(), searchOnce())
      // the probe DURING a live fold — the manifest protocol's claim:
      // search runs unbroken (and roughly flat) while compaction
      // publishes its segment and swaps the manifest concurrently
      @volatile var compactErr: Throwable = null
      val folder = new Thread(() =>
        try StreamingPipeline.compactMaintainedDelta(spark, delta)
        catch { case e: Throwable => compactErr = e })
      folder.start()
      val during = searchOnce()
      folder.join()
      if (compactErr != null) throw compactErr
      // second maintenance entry sweeps the retired partitions, so the
      // "compacted" probe measures the steady state
      StreamingPipeline.compactMaintainedDelta(spark, delta)
      val post = math.min(searchOnce(), searchOnce())
      (pre, during, post)
    }

    // streaming twins with DataFrame→DataFrame shape (anomalyAlerts,
    // trendingTokensSketch): file-source AvailableNow drain through a
    // noop sink. Inputs are written in ts order so the watermark (and
    // therefore window closure + state eviction) advances with the
    // batch sequence exactly as in production; throughput = rows/s.
    // `schema` is a DDL string. Every twin runs under a batch-scoped
    // stateful shuffle width derived from the drain's admission unit
    // (maxFilesPerTrigger), never the core count — floor 2 for classic
    // stateful ops, 8 for transformWithState drains (per-ROW handlers
    // need parallel width): see StreamingPipeline.withStreamShuffleWidth
    // for the measured per-batch fixed-cost evidence.
    def twinDrain(label: String, rows: Array[String], schema: String,
                  nFiles: Int, maxFilesPerTrigger: Int,
                  widthFloor: Int = 2)(xform: DataFrame => DataFrame): Double =
      StreamingPipeline.withStreamShuffleWidth(spark, maxFilesPerTrigger, widthFloor) {
        drain(label, Seq("in" -> rows), nFiles) { dir =>
          val stream = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", maxFilesPerTrigger).json(s"$dir/in")
          xform(stream).writeStream.format("noop")
            .outputMode("append").option("checkpointLocation", s"$dir/ckpt")
            .trigger(Trigger.AvailableNow())
            .start()
        }
      }

    // streaming EWMA anomaly twin: per-label windowed counts →
    // flatMapGroupsWithState baseline/ratio labels over closed windows
    val (anomSecs, anomEvents) = setup("anomaly_stream", (-1.0, 0)) {
      val rows = events("event_type IS NOT NULL", "ts", "event_type AS label")
      (twinDrain("anomaly_stream", rows, "ts TIMESTAMP, label STRING",
        nFiles = 16, maxFilesPerTrigger = 2) { df =>
        StreamingPipeline.anomalyAlerts(df, "ts", "label", windowSeconds = 3600)
      }, rows.length)
    }

    // trend-aware Holt capacity alerts over the same closed-window
    // fold (per-label level+trend dot products, horizons emitted)
    val (holtSecs, holtEvents) = setup("holt_alert_stream", (-1.0, 0)) {
      val rows = events("event_type IS NOT NULL", "ts", "event_type AS label")
      (twinDrain("holt_alert_stream", rows, "ts TIMESTAMP, label STRING",
        nFiles = 16, maxFilesPerTrigger = 2) { df =>
        StreamingPipeline.holtCapacityAlerts(
          df, "ts", "label", windowSeconds = 3600, capacity = 1000.0,
          lookback = 7)
      }, rows.length)
    }

    // streaming MG-sketch trending-tokens twin: token explode →
    // batch-local MG(sketchK) pre-sketch → per-window sketch state;
    // synthetic ts spreads the corpus over 10 closed 60 s windows
    val (trendSecs, trendDocs) = setup("trending_stream_sketch", (-1.0, 0)) {
      val rows = Registry.table(spark, sfDir, "documents")
        .where("text IS NOT NULL")
        .selectExpr("timestamp_seconds(1700000000 + doc_id % 600) AS ts",
          "text")
        .orderBy("ts", "text").toJSON.collect()
      (twinDrain("trending_stream_sketch", rows, "ts TIMESTAMP, text STRING",
        nFiles = 8, maxFilesPerTrigger = 2) { df =>
        StreamingPipeline.trendingTokensSketch(
          df, "ts", "text", windowSeconds = 60, sketchK = 30, topK = 10)
      }, rows.length)
    }

    // native session_window streaming twin: per-user session state
    // merge + watermark-close emission
    val (sessSecs, sessEvents) = setup("session_stream", (-1.0, 0)) {
      val rows = events("user_id IS NOT NULL", "ts", "user_id")
      (twinDrain("session_stream", rows, "ts TIMESTAMP, user_id BIGINT",
        nFiles = 16, maxFilesPerTrigger = 2) { df =>
        StreamingPipeline.sessionSummaryPipeline(
          df, "ts", "user_id", gapSeconds = 1800)
      }, rows.length)
    }

    // two correlated file streams (left, right), each in 8 chunks,
    // drained by one query under a width derived from the ONE mft that
    // also feeds the source option (so the two cannot silently diverge)
    def pairDrain(label: String, left: Array[String], right: Array[String],
                  schema: String, widthFloor: Int = 2)
                 (join: (DataFrame, DataFrame) => DataFrame): Double = {
      val mft = 2
      StreamingPipeline.withStreamShuffleWidth(spark, mft, widthFloor) {
        drain(label, Seq("l" -> left, "r" -> right), 8) { dir =>
          def src(sub: String) = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", mft).json(s"$dir/$sub")
          join(src("l"), src("r")).writeStream.format("noop")
            .outputMode("append").option("checkpointLocation", s"$dir/ckpt")
            .trigger(Trigger.AvailableNow())
            .start()
        }
      }
    }

    // stream–stream interval join twin: clicks ⋈ purchases on user_id
    // within 6 h — TWO correlated file streams (the processor's
    // notification+object shape), both watermarked, state bounded by
    // the horizon; throughput = (left+right rows)/s drained. The
    // two-sided state is keyed on user_id — width-neutral results.
    val (ijSecs, ijEvents) = setup("interval_join_stream", (-1.0, 0)) {
      def rowsOf(kind: String) = events(
        s"user_id IS NOT NULL AND event_type = '$kind'", "ts", "user_id", "event_id")
      val (lRows, rRows) = (rowsOf("click"), rowsOf("purchase"))
      (pairDrain("interval_join_stream", lRows, rRows,
        "ts TIMESTAMP, user_id BIGINT, event_id BIGINT") { (l, r) =>
        StreamingPipeline.intervalJoinPipeline(l, "ts", r, "ts", "user_id", 6L * 3600L)
      }, lRows.length + rRows.length)
    }

    // transformWithState hard-quota drain: first-N per (type, minute
    // window); RocksDB provider (+ changelog checkpointing) required by
    // the operator — set for the drain, restored after
    val (quotaSecs, quotaEvents) = setup("quota_stream", (-1.0, 0)) {
      StreamingPipeline.withRocksDbStateStore(spark) {
        val rows = events("event_type IS NOT NULL AND event_id IS NOT NULL",
          "ts", "event_type", "event_id")
        (twinDrain("quota_stream", rows,
          "ts TIMESTAMP, event_type STRING, event_id BIGINT",
          nFiles = 16, maxFilesPerTrigger = 2, widthFloor = 8) { df =>
          StreamingPipeline.quotaLimitPipeline(df, windowSeconds = 60, cap = 3)
        }, rows.length)
      }
    }

    // transformWithState streaming funnel drain (view→click→purchase,
    // 2-day gap — the batch funnel_steps parameters); RocksDB required
    val (funSecs, funEvents) = setup("funnel_stream", (-1.0, 0)) {
      StreamingPipeline.withRocksDbStateStore(spark) {
        val rows = events("user_id IS NOT NULL AND " +
          "event_type IN ('view','click','purchase')", "user_id", "ts", "event_type")
        (twinDrain("funnel_stream", rows,
          "user_id BIGINT, ts TIMESTAMP, event_type STRING",
          nFiles = 16, maxFilesPerTrigger = 2, widthFloor = 8) { df =>
          StreamingPipeline.funnelPipeline(
            df, Seq("view", "click", "purchase"), 2L * 86400L)
        }, rows.length)
      }
    }

    // chained stateful drain: dedup-within-watermark -> windowed count
    // in ONE streaming plan (two stateful operators, watermark
    // propagated through the dedup); 1 h delay keeps real dedup state
    val (novSecs, novEvents) = setup("novelty_stream", (-1.0, 0)) {
      val rows = events("user_id IS NOT NULL AND event_type IS NOT NULL",
        "ts", "user_id", "event_type")
      (twinDrain("novelty_stream", rows,
        "ts TIMESTAMP, user_id BIGINT, event_type STRING",
        nFiles = 16, maxFilesPerTrigger = 2) { df =>
        StreamingPipeline.noveltyPipeline(
          df, "ts", Seq("user_id", "event_type"), "event_type",
          windowSeconds = 3600, watermarkDelay = "1 hour")
      }, rows.length)
    }

    // transformWithState SCD2 drain: buffer-until-watermark version
    // builder per user; RocksDB required by the operator
    val (scd2Secs, scd2Events) = setup("scd2_stream", (-1.0, 0)) {
      StreamingPipeline.withRocksDbStateStore(spark) {
        val rows = events("user_id IS NOT NULL AND ts IS NOT NULL",
          "user_id", "ts", "event_id", "event_type")
        (twinDrain("scd2_stream", rows,
          "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING",
          nFiles = 16, maxFilesPerTrigger = 2, widthFloor = 8) { df =>
          StreamingPipeline.scd2Pipeline(df)
        }, rows.length)
      }
    }

    // transformWithState as-of join drain: purchases enriched with the
    // nearest at-or-before view per user (1-day tolerance) — TWO
    // correlated file streams, O(1) compacted ref state per key;
    // RocksDB required by the operator
    val (asofSecs, asofEvents) = setup("asof_stream", (-1.0, 0)) {
      StreamingPipeline.withRocksDbStateStore(spark) {
        def rowsOf(kind: String) = events(
          s"user_id IS NOT NULL AND ts IS NOT NULL AND event_type = '$kind'",
          "ts", "user_id", "event_id")
        val (pRows, rRows) = (rowsOf("purchase"), rowsOf("view"))
        (pairDrain("asof_stream", pRows, rRows,
          "ts TIMESTAMP, user_id BIGINT, event_id BIGINT", widthFloor = 8) { (p, r) =>
          StreamingPipeline.asofPipeline(p, r, watermarkDelay = "6 hours",
            toleranceSeconds = 86400L)
        }, pRows.length + rRows.length)
      }
    }

    // THREE chained stateful operators: day-grain dedup -> sliding
    // 7d/1d window expand + (window,label,user) agg (the structural
    // dedup) -> (window,label) count
    val (rdSecs, rdEvents) = setup("rolling_distinct_stream", (-1.0, 0)) {
      val rows = events("user_id IS NOT NULL AND ts IS NOT NULL",
        "ts", "user_id", "event_type")
      (twinDrain("rolling_distinct_stream", rows,
        "ts TIMESTAMP, user_id BIGINT, event_type STRING",
        nFiles = 16, maxFilesPerTrigger = 2) { df =>
        StreamingPipeline.rollingDistinctPipeline(
          df, windowDays = 7, watermarkDelay = "1 hour")
      }, rows.length)
    }

    // the bounded-state twin of the drain above: ONE stateful
    // hll_sketch_agg under the sliding window (state = 4 KiB per open
    // (window, label) cell vs the exact chain's per-user membership) —
    // the 100 TB dashboard runs THIS; the delta vs
    // rolling_distinct_stream is the price of exactness
    val (rdHllSecs, rdHllEvents) = setup("rolling_distinct_hll_stream", (-1.0, 0)) {
      val rows = events("user_id IS NOT NULL AND ts IS NOT NULL",
        "ts", "user_id", "event_type")
      (twinDrain("rolling_distinct_hll_stream", rows,
        "ts TIMESTAMP, user_id BIGINT, event_type STRING",
        nFiles = 16, maxFilesPerTrigger = 2) { df =>
        StreamingPipeline.rollingDistinctHllPipeline(
          df, windowDays = 7, watermarkDelay = "1 hour")
      }, rows.length)
    }

    val all = results ++ Seq("stream_json" -> jsonSecs,
      "stream_binary" -> binSecs, "admission_stream" -> admSecs,
      "admission_stream_big" -> admBigSecs,
      "anomaly_stream" -> anomSecs,
      "holt_alert_stream" -> holtSecs,
      "trending_stream_sketch" -> trendSecs,
      "session_stream" -> sessSecs,
      "interval_join_stream" -> ijSecs,
      "quota_stream" -> quotaSecs,
      "funnel_stream" -> funSecs,
      "novelty_stream" -> novSecs,
      "rolling_distinct_stream" -> rdSecs,
      "rolling_distinct_hll_stream" -> rdHllSecs,
      "scd2_stream" -> scd2Secs,
      "asof_stream" -> asofSecs,
      "semantic_admission_stream" -> semSecs,
      "index_maintenance_stream" -> idxmSecs,
      "maintained_search_delta16" -> msPreSecs,
      "maintained_search_live_compact" -> msDuringSecs,
      "maintained_search_compacted" -> msPostSecs)
    val qs = all.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // failures are UNMISTAKABLE: named in "failed", never silently
    // shrinking the total (a failed query records -1 in "queries" too)
    val failed = all.filter(_._2 < 0).map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val total = all.map(_._2).filter(_ >= 0).sum
    def rate(n: Int, secs: Double): Double = if (secs > 0) n / secs else -1.0
    val line = f"""{"metric":"total","value":$total%.3f,"unit":"sec","rounds":$rounds,"failed":$failed,"queries":$qs,"stream_json_pkts_per_sec":${rate(jsonPkts, jsonSecs)}%.0f,"stream_binary_pkts_per_sec":${rate(binPkts, binSecs)}%.0f,"admission_docs_per_sec":${rate(admDocs, admSecs)}%.0f,"admission_big_docs_per_sec":${rate(admBigDocs, admBigSecs)}%.0f,"anomaly_events_per_sec":${rate(anomEvents, anomSecs)}%.0f,"holt_alert_events_per_sec":${rate(holtEvents, holtSecs)}%.0f,"trending_docs_per_sec":${rate(trendDocs, trendSecs)}%.0f,"session_events_per_sec":${rate(sessEvents, sessSecs)}%.0f,"interval_join_events_per_sec":${rate(ijEvents, ijSecs)}%.0f,"quota_events_per_sec":${rate(quotaEvents, quotaSecs)}%.0f,"funnel_events_per_sec":${rate(funEvents, funSecs)}%.0f,"novelty_events_per_sec":${rate(novEvents, novSecs)}%.0f,"rolling_distinct_events_per_sec":${rate(rdEvents, rdSecs)}%.0f,"rolling_distinct_hll_events_per_sec":${rate(rdHllEvents, rdHllSecs)}%.0f,"scd2_events_per_sec":${rate(scd2Events, scd2Secs)}%.0f,"asof_events_per_sec":${rate(asofEvents, asofSecs)}%.0f,"semantic_admission_vecs_per_sec":${rate(semVecs, semSecs)}%.0f,"index_maintenance_vecs_per_sec":${rate(idxmVecs, idxmSecs)}%.0f,"load_avg_start":$loadStart%.2f,"load_avg_end":${loadAvg()}%.2f,"cpu_share":${
      val cpu = processCpuSecs()
      val wall = (System.nanoTime() - wallStart) / 1e9
      if (cpu < 0) -1.0
      else cpu / (wall * Runtime.getRuntime.availableProcessors())
    }%.3f,"sf":"$sfDir","cpus":$cpus,$stamp}"""
    println(line)
    // the printed one-line contract stays; ALSO persist it to a file
    // named by the CPU count, so a log-tail capture that truncates the
    // (large) line can never lose the round's per-query evidence and a
    // run at one width never overwrites another width's record — a
    // write failure must not fail a bench that already succeeded
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", s"bench_c$cpus.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] $out write failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
