// Does the UDM projection compile a new class every micro-batch?
// Runs UdmTransform.transform over the same cached, decoded packets for
// PROBE_ROUNDS rounds in each of two modes and prints, per round, the
// Janino compile count (org.apache.spark.metrics.source.CodegenMetrics),
// the process CPU seconds (every JVM thread: tasks, JIT, GC) and wall:
//  - "now":   fallback = current_timestamp(), as in every pipeline; each
//             action binds a new timestamp literal, like each micro-batch;
//  - "fixed": fallback = one timestamp literal for every round.
// If the timestamp reaches the generated source, "now" compiles once per
// round and "fixed" never does after its first round.
// First it prints, per whole-stage-codegen stage of the transform, the
// bytecode size of the stage's largest generated method: HotSpot never
// JIT-compiles a method over 8,000 bytes (-XX:HugeMethodLimit), so a
// larger one runs interpreted for the life of the JVM.
// Last, it compares what one capture micro-batch costs the driver on
// the two paths over the same PROBE_FILES synthetic pcaps of
// PROBE_FILE_PACKETS packets each, for PROBE_BATCHES rounds:
//  - "planned":  StreamingPipeline.toUdm(PcapDecode.decodePathsContained(..)),
//                the whole capture->UDM stage built, analyzed, planned and
//                code-generated per batch (what the batch run does);
//  - "prepared": the stage prepared once per session (UdmStage, reached
//                by reflection: it is private to the library), and per
//                batch only the binaryFile scan and the frame over the
//                stage's rows.
// Per stage it prints the generated source's characters (the stage body
// as CodeGenerator compiles it) and the task-binary bytes (the frame's
// RDD as the closure serializer writes it, uncompressed); per round the
// driver thread's CPU ms of build+analysis, planning and code generation
// (the prepared path's codegen column also holds its scan's execute()).
//   PROBE_PACKETS=16000 PROBE_ROUNDS=8 PROBE_FILES=16 PROBE_FILE_PACKETS=1000 PROBE_BATCHES=12 \
//   /opt/spark/bin/spark-shell --master local[2] \
//     --conf spark.ui.enabled=false --conf spark.ui.showConsoleProgress=false \
//     --conf spark.sql.session.timeZone=UTC \
//     --driver-class-path target/scala-2.13/classes -i tools/udm_codegen_probe.scala
// ASCII-only on purpose.
try {
  import org.apache.spark.metrics.source.CodegenMetrics
  import org.apache.spark.sql.functions._
  import spark.implicits._
  val nPackets = sys.env.getOrElse("PROBE_PACKETS", "16000").toInt
  val rounds = sys.env.getOrElse("PROBE_ROUNDS", "8").toInt
  val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  val packets = graft.sources.PcapParser
    .decodeFile(graft.sources.CaptureBytes.syntheticPcap(nPackets, seed = 31))
    .toDF("raw").withColumn("source_file", lit("probe.pcap"))
    .repartition(spark.sparkContext.defaultParallelism).cache()
  println(s"[probe] decoded ${packets.count()} packets")
  // AQE off while planning: an adaptive plan has no codegen stages before it runs
  val aqe = spark.conf.get("spark.sql.adaptive.enabled")
  spark.conf.set("spark.sql.adaptive.enabled", "false")
  val plan = graft.udm.UdmTransform.transform(packets, "raw").queryExecution.executedPlan
  spark.conf.set("spark.sql.adaptive.enabled", aqe)
  for (((_, _, stats), i) <- org.apache.spark.sql.execution.debug.codegenStringSeq(plan).zipWithIndex)
    println(s"[probe] codegen stage ${i + 1} max_method_bytes=${stats.maxMethodCodeSize}")
  val fixed = lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
  for ((mode, fallback) <- Seq("now" -> current_timestamp(), "fixed" -> fixed);
       r <- 1 to rounds) {
    val c0 = compiles(); val cpu0 = os.getProcessCpuTime; val t0 = System.nanoTime()
    graft.udm.UdmTransform.transform(packets, "raw", fallback)
      .agg(count(lit(1)), sum(length(col("udm_json")))).head()
    val cpu = (os.getProcessCpuTime - cpu0) / 1e9
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"[probe] mode=$mode round=$r compiles=${compiles() - c0} " +
      f"cpu_s=$cpu%.2f wall_s=$wall%.2f")
  }
  packets.unpersist()

  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.execution.WholeStageCodegenExec
  val nFiles = sys.env.getOrElse("PROBE_FILES", "16").toInt
  val filePackets = sys.env.getOrElse("PROBE_FILE_PACKETS", "1000").toInt
  val batches = sys.env.getOrElse("PROBE_BATCHES", "12").toInt
  val dir = java.nio.file.Files.createTempDirectory("udm_probe")
  val paths = (0 until nFiles).map { i =>
    java.nio.file.Files.write(dir.resolve(f"cap_$i%03d.pcap"),
      graft.sources.CaptureBytes.syntheticPcap(filePackets, seed = 100 + i)).toString
  }
  val threads = java.lang.management.ManagementFactory.getThreadMXBean
  def cpuMs[A](body: => A): (A, Double) = {
    val c0 = threads.getCurrentThreadCpuTime
    val a = body
    (a, (threads.getCurrentThreadCpuTime - c0) / 1e6)
  }
  def stages(df: DataFrame): Seq[WholeStageCodegenExec] =
    df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
  def taskBytes(df: DataFrame): Int = org.apache.spark.SparkEnv.get.closureSerializer
    .newInstance().serialize(df.queryExecution.toRdd).limit()
  val udmStage = Class.forName("graft.streaming.UdmStage$").getField("MODULE$").get(null)
  val pcapKind = Class.forName("graft.streaming.UdmStage$Pcap$").getField("MODULE$").get(null)
  def method(name: String) = udmStage.getClass.getMethods.find(_.getName == name).get
  def scan(): DataFrame = spark.read.format("binaryFile").load(paths: _*).select(col("path"), col("content"))
  def prepared(input: DataFrame): DataFrame = method("apply").invoke(udmStage, spark, pcapKind,
    input, method("fallbackNow").invoke(udmStage, spark)).asInstanceOf[DataFrame]
  val (_, prepMs) = cpuMs(method("stage").invoke(udmStage, spark, pcapKind))
  println(f"[probe] prepared stage: prepare cpu_ms=$prepMs%.0f (once per session and conf)")
  // one batch: (frame, build+analysis ms, planning ms, codegen ms)
  def batch(mode: String): (DataFrame, Double, Double, Double) = mode match {
    case "planned" =>
      val (df, build) = cpuMs {
        val d = graft.streaming.StreamingPipeline.toUdm(
          graft.sources.PcapDecode.decodePathsContained(spark, paths))
        d.queryExecution.analyzed; d
      }
      val (_, plan) = cpuMs(df.queryExecution.executedPlan)
      val (_, gen) = cpuMs(stages(df).foreach(_.doCodeGen()))
      (df, build, plan, gen)
    case "prepared" =>
      val (input, build1) = cpuMs { val d = scan(); d.queryExecution.analyzed; d }
      val (_, plan1) = cpuMs(input.queryExecution.executedPlan)
      val (df, gen1) = cpuMs(prepared(input))
      val (_, build2) = cpuMs(df.queryExecution.analyzed)
      val (_, plan2) = cpuMs(df.queryExecution.executedPlan)
      val (_, gen2) = cpuMs(stages(df).foreach(_.doCodeGen()))
      (df, build1 + build2, plan1 + plan2, gen1 + gen2)
  }
  for (mode <- Seq("planned", "prepared")) {
    val (df, _, _, _) = batch(mode)
    def chars(label: String, ws: Seq[WholeStageCodegenExec]): Seq[String] =
      ws.map(w => s"$label=${w.doCodeGen()._2.body.length}")
    val srcs = if (mode == "planned") chars("stage", stages(df))
      else chars("scan", stages(scan())) ++ chars("frame", stages(df)) :+ ("stage=" + method("stage")
        .invoke(udmStage, spark, pcapKind).asInstanceOf[org.apache.spark.sql.graftbridge.StageBridge.Stage]
        .source.body.length)
    val out = df.agg(count(lit(1)), sum(length(col("udm_json")))).head()
    println(s"[probe] mode=$mode source_chars ${srcs.mkString(" ")} " +
      s"task_binary_bytes=${taskBytes(df)} rows=${out.getLong(0)} json_chars=${out.getLong(1)}")
    val rounds = (1 to batches).map { r =>
      val (_, build, plan, gen) = batch(mode)
      println(f"[probe] mode=$mode batch=$r build_analysis_ms=$build%.1f planning_ms=$plan%.1f codegen_ms=$gen%.1f")
      (build, plan, gen)
    }.drop(1)
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    println(f"[probe] mode=$mode median(batches 2..$batches) build_analysis_ms=${median(rounds.map(_._1))}%.1f " +
      f"planning_ms=${median(rounds.map(_._2))}%.1f codegen_ms=${median(rounds.map(_._3))}%.1f")
  }
} catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }
sys.exit(0)
