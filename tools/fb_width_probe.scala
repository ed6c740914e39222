// Which session runs a foreachBatch body's plans, and at what shuffle
// width, with and without the old per-batch width override.
//
// Two bodies, both a groupBy over one micro-batch's worth of rows:
//  - notify-shaped: the DataFrame is built from the OUTER session's
//    spark.read (as notifyPipeline reads the files a message names);
//  - admission-shaped: the DataFrame is built from `batch` (as the
//    admission pipelines derive their signatures).
// Each runs in two modes:
//  - override: the outer session's spark.sql.shuffle.partitions is set
//    to max(8, unit) for the body and restored after it (what notify,
//    admission, semantic and index maintenance did per batch);
//  - none: nothing is written.
// For every (mode, body, batch) it prints the session the plan belongs
// to (outer / batch), that session's AQE flag, and the exchange
// partition counts before AQE (initial plan) and after it (final plan:
// AQE shuffle reads, else query stages).
//
// Usage (ASCII only: spark-shell -i chokes on UTF-8 under the C locale):
//   FB_PROBE_AQE=true /opt/spark/bin/spark-shell --master local[4] \
//     --conf spark.ui.enabled=false \
//     --conf spark.sql.shuffle.partitions=32 -i tools/fb_width_probe.scala
// FB_PROBE_AQE (default true) sets spark.sql.adaptive.enabled on the
// outer session before any query starts.
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.streaming.Trigger

val W = "spark.sql.shuffle.partitions"
val aqe = sys.env.getOrElse("FB_PROBE_AQE", "true")
spark.conf.set("spark.sql.adaptive.enabled", aqe)
spark.sparkContext.setLogLevel("ERROR")
val unit = 16 // the admission unit: messages or files per trigger
val base = java.nio.file.Files.createTempDirectory("fb_width_probe")
val in = s"$base/in"
java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
(0 until 2 * unit).foreach { f =>
  java.nio.file.Files.writeString(java.nio.file.Paths.get(in, f"part_$f%03d.jsonl"),
    (0 until 50).map(i => s"""{"k":${(f * 50 + i) % 37},"v":"r$f-$i"}""").mkString("\n"))
}
val schema = "k BIGINT, v STRING"

// runs the plan itself, so an adaptive plan is read after it finished
def exchangeWidths(df: DataFrame): (Seq[Int], Seq[Int]) = {
  val plan = df.queryExecution.executedPlan
  plan.executeCollect()
  plan match {
    case a: AdaptiveSparkPlanExec =>
      val pre = a.initialPlan.collect { case s: ShuffleExchangeExec => s.numPartitions }
      val fin: SparkPlan = a.finalPhysicalPlan
      val reads = fin.collect { case r: AQEShuffleReadExec => r.partitionSpecs.size }
      val post = if (reads.nonEmpty) reads
        else fin.collect { case s: ShuffleQueryStageExec => s.shuffle.numPartitions }
      (pre, post)
    case p =>
      val w = p.collect { case s: ShuffleExchangeExec => s.numPartitions }
      (w, w)
  }
}

println(s"outer width=${spark.conf.get(W)} aqe=$aqe unit=$unit")
println("mode      body       batch session aqe   outer_width pre_aqe post_aqe")
for (mode <- Seq("override", "none")) {
  val q = spark.readStream.schema(schema)
    .option("maxFilesPerTrigger", unit).json(in)
    .writeStream.option("checkpointLocation", s"$base/ckpt_$mode")
    .trigger(Trigger.AvailableNow())
    .foreachBatch { (batch: DataFrame, id: Long) =>
      val prev = spark.conf.get(W)
      if (mode == "override") spark.conf.set(W, math.max(8, unit).toString)
      try {
        val bodies = Seq(
          "notify" -> spark.read.schema(schema).json(in).groupBy("k").count(),
          "admission" -> batch.groupBy("k").count())
        for ((name, df) <- bodies) {
          val sess =
            if (df.sparkSession eq spark) "outer"
            else if (df.sparkSession eq batch.sparkSession) "batch" else "other"
          val (pre, post) = exchangeWidths(df)
          println(f"$mode%-9s $name%-10s $id%5d $sess%-7s " +
            f"${df.sparkSession.conf.get("spark.sql.adaptive.enabled")}%-5s " +
            f"${spark.conf.get(W)}%11s ${pre.mkString(",")}%7s ${post.mkString(",")}%8s")
        }
      } finally spark.conf.set(W, prev)
      ()
    }.start()
  q.awaitTermination()
}
sys.exit(0)
