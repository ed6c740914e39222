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
