// Admission drain probe: runs the admission_stream shape of graft.Bench
// (the PROBE_SF documents as JSONL in 16 files, StreamingPipeline
// .admissionPipeline with maxFilesPerTrigger 4, AvailableNow) for
// PROBE_ROUNDS fresh drains in one JVM, and prints per drain:
//  - cpu_s: process CPU seconds (every JVM thread: tasks, JIT, GC);
//  - the admitted doc count and doc_id sum, and the signature-store
//    row count (equal across drains and builds = the same admitted set);
//  - per operator class, how many the drain's executed plans held
//    (joins and exchanges, counted through AQE query stages by a
//    QueryExecutionListener; it is registered before the query starts,
//    so the stream's cloned session carries it).
// Compare the printed lines between two builds to see whether a change
// to the admission body moves its joins, its exchanges or its CPU.
//   PROBE_SF=<testdata>/sf0.1 PROBE_ROUNDS=4 \
//   $SPARK_HOME/bin/spark-shell --master local[2] \
//     --conf spark.ui.enabled=false --conf spark.ui.showConsoleProgress=false \
//     --conf spark.sql.session.timeZone=UTC \
//     --conf spark.sql.shuffle.partitions=2 \
//     --conf spark.sql.autoBroadcastJoinThreshold=67108864 \
//     --driver-class-path target/scala-2.13/classes -i tools/admission_join_probe.scala
// ASCII-only on purpose.
try {
  import java.nio.file.{Files, Paths}
  import org.apache.spark.sql.execution.QueryExecution
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.streaming.Trigger
  import org.apache.spark.sql.util.QueryExecutionListener
  val sf = sys.env.getOrElse("PROBE_SF",
    sys.error("PROBE_SF must name a testdata scale-factor dir holding documents.parquet"))
  val rounds = sys.env.getOrElse("PROBE_ROUNDS", "4").toInt
  val nFiles = 16
  val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  val counted = Set("BroadcastHashJoinExec", "SortMergeJoinExec",
    "ShuffledHashJoinExec", "BroadcastNestedLoopJoinExec",
    "BroadcastExchangeExec", "ShuffleExchangeExec")
  val ops = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  val events = new java.util.concurrent.atomic.AtomicLong(0)
  object Walk extends AdaptiveSparkPlanHelper
  val listener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      Walk.collect(qe.executedPlan) {
        case p if counted(p.getClass.getSimpleName) => p.getClass.getSimpleName
      }.foreach(n => ops.merge(n, 1, _ + _))
      events.incrementAndGet(); ()
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  spark.listenerManager.register(listener)
  // listener delivery is async: wait until no event arrived for 2 s
  def quiesce(): Unit = {
    var prev = -1L
    while (events.get() != prev) { prev = events.get(); Thread.sleep(2000) }
  }
  val docs = spark.read.parquet(s"$sf/documents.parquet")
    .selectExpr("doc_id", "text", "lang", "source").toJSON.collect()
  val base = Files.createTempDirectory("graft_admission_probe")
  for (r <- 1 to rounds) {
    val dir = s"$base/$r"
    Files.createDirectories(Paths.get(dir, "in"))
    // mtimes strictly increasing and >1 s apart: the file source orders
    // its batches by mtime, so every drain sees the same batches and
    // admits the same docs (equal mtimes leave the order to the listing)
    val mtime0 = System.currentTimeMillis() - 2000L * (nFiles + 1)
    docs.grouped(math.max(1, docs.length / nFiles)).zipWithIndex.foreach {
      case (chunk, i) =>
        val f = Paths.get(dir, "in", f"part_$i%03d.jsonl")
        Files.writeString(f, chunk.mkString("\n"))
        f.toFile.setLastModified(mtime0 + 2000L * i)
    }
    quiesce(); ops.clear()
    val cpu0 = os.getProcessCpuTime; val t0 = System.nanoTime()
    val q = graft.streaming.StreamingPipeline.admissionPipeline(spark, s"$dir/in",
      s"$dir/sig", s"$dir/out", s"$dir/ckpt", trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger = 4).start()
    require(q.awaitTermination(600000), s"round $r: admission drain timed out")
    val cpu = (os.getProcessCpuTime - cpu0) / 1e9
    val wall = (System.nanoTime() - t0) / 1e9
    quiesce()
    val opsLine = counted.toSeq.sorted.map(n => s"$n=${ops.getOrDefault(n, 0)}").mkString(" ")
    val out = spark.read.parquet(s"$dir/out").agg(count(lit(1)), sum("doc_id")).head()
    val sigRows = spark.read.parquet(s"$dir/sig").count()
    println(f"[probe] round=$r cpu_s=$cpu%.2f wall_s=$wall%.2f admitted=${out.getLong(0)} " +
      s"id_sum=${out.getLong(1)} sig_rows=$sigRows $opsLine")
  }
  spark.listenerManager.unregister(listener)
  val basePath = new org.apache.hadoop.fs.Path(base.toString)
  basePath.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(basePath, true)
} catch { case e: Throwable => e.printStackTrace(); sys.exit(1) }
sys.exit(0)
