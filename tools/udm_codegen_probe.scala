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
//   PROBE_PACKETS=16000 PROBE_ROUNDS=8 \
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
} catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }
sys.exit(0)
