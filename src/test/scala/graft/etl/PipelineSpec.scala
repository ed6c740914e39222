package graft.etl

import graft.SparkSpec
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Paths}

/** End-to-end batch + streaming pipeline semantics: error routing (K4),
  * per-file notifications (K3/A1/A2), exactly-once file processing
  * across restarts (S2/F4), golden array writer (K1). */
class PipelineSpec extends SparkSpec {

  private val goodPacket =
    """{"_source": {"layers": {
      |"frame": {"frame.number": "1", "frame.time_utc": "Sep  5, 2025 12:34:56.123456000 UTC", "frame.protocols": "eth:ethertype:ip:tcp"},
      |"ip": {"ip.src": "10.0.0.1", "ip.dst": "10.0.0.2", "ip.ttl": "64"},
      |"tcp": {"tcp.srcport": "1234", "tcp.dstport": "80", "tcp.flags": "0x0018"}}}}""".stripMargin.replace("\n", "")

  private val errorPacket =
    """{"_source": {"layers": {
      |"frame": {"frame.number": "2", "frame.time_utc": "x"},
      |"tcp": {"tcp.srcport": "bad_port", "tcp.dstport": "80"}}}}""".stripMargin.replace("\n", "")

  private def mkCapture(dir: String, name: String, packets: String*): Unit =
    Files.writeString(Paths.get(dir, name), packets.mkString("[", ",", "]"))

  test("streaming corpus admission: persisted bands reject cross-batch dups, intra-batch dups collapse") {
    val in = Files.createTempDirectory("graft_adm_in").toString
    val base = Files.createTempDirectory("graft_adm").toString
    val (sig, out, ckpt) = (s"$base/sigs", s"$base/out", s"$base/ckpt")
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s"}"""
    def runOnce(): Unit = {
      val q = StreamingPipeline.admissionPipeline(spark, in, sig, out, ckpt,
        trigger = Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    val dupText = "the quick brown fox jumps over the lazy dog today"
    // batch 1: intra-batch exact dup (2 of 1) collapses to min doc_id
    Files.writeString(Paths.get(in, "b1.jsonl"),
      doc(1L, dupText) + "\n" + doc(2L, dupText) + "\n" +
        doc(5L, "an entirely separate document about streaming admission"))
    runOnce()
    // batch 2 (new incarnation): 3 collides with the PERSISTED corpus
    // bands (text never re-scanned); 4 is novel
    Files.writeString(Paths.get(in, "b2.jsonl"),
      doc(3L, dupText) + "\n" +
        doc(4L, "completely different content about spark engines at scale"))
    runOnce()
    val admitted = spark.read.parquet(out).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(admitted == Seq(1L, 4L, 5L), s"admitted: $admitted")
    // replay incarnation with nothing new: no duplicate admissions
    runOnce()
    val again = spark.read.parquet(out).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(again == Seq(1L, 4L, 5L))
    // the signature store carries exactly the admitted docs
    val sigs = spark.read.parquet(sig).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(sigs == Seq(1L, 4L, 5L))

    // TRUE batch replay: crash AFTER the doc+signature writes but
    // BEFORE the checkpoint commit — the replayed batch must not
    // band-collide with its own persisted signatures (that would admit
    // nothing and overwrite both dirs with empty: silent loss)
    Files.writeString(Paths.get(in, "b3.jsonl"),
      doc(6L, "a sixth document that nothing else resembles at all"))
    val crashed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = StreamingPipeline.admissionPipeline(spark, in, sig, out, ckpt,
        trigger = Trigger.AvailableNow(),
        failHook = (_, _) => throw new RuntimeException("crash before commit")).start()
      q.awaitTermination(120000)
    }
    assert(crashed.getMessage.contains("crash before commit") ||
      crashed.getCause.getMessage.contains("crash before commit"))
    runOnce() // replay without the hook
    val afterReplay = spark.read.parquet(out).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(afterReplay == Seq(1L, 4L, 5L, 6L), s"replay lost/duped docs: $afterReplay")
    val sigsReplay = spark.read.parquet(sig).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(sigsReplay == Seq(1L, 4L, 5L, 6L))
  }

  test("admission concurrent sinks: replay from a HALF-written batch (either sink dir missing) converges") {
    // The two admission sinks are overlapped (r19, guide 2.6), so a
    // crash can now leave EITHER batch dir written without the other —
    // a window the serial order never exposed on the sig side. Forge
    // both windows: crash batch 1 after its sinks (failHook), erase
    // one of its two dirs, replay, and require the exact clean-run
    // state. The store read excludes the replayed batch's own
    // partition at PATH level, so the surviving half must never
    // band-collide the batch with itself.
    for (missing <- Seq("docs", "sigs")) {
      val in = Files.createTempDirectory(s"graft_half_in_$missing").toString
      val base = Files.createTempDirectory(s"graft_half_$missing").toString
      val (sig, out, ckpt) = (s"$base/sigs", s"$base/out", s"$base/ckpt")
      def doc(id: Long, text: String) =
        s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s"}"""
      def runOnce(hook: (org.apache.spark.sql.DataFrame, Long) => Unit = (_, _) => ()): Unit = {
        val q = StreamingPipeline.admissionPipeline(spark, in, sig, out, ckpt,
          trigger = Trigger.AvailableNow(), failHook = hook).start()
        q.awaitTermination(120000)
      }
      Files.writeString(Paths.get(in, "b1.jsonl"),
        doc(1L, "the first document about half written batch windows") + "\n" +
          doc(2L, "a second unrelated document mentioning spark checkpoints"))
      runOnce()
      Files.writeString(Paths.get(in, "b2.jsonl"),
        doc(3L, "a third novel document that resembles nothing admitted before"))
      val crashed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        runOnce(hook = (_, _) => throw new RuntimeException("crash before commit"))
      }
      assert(crashed.getMessage.contains("crash before commit") ||
        crashed.getCause.getMessage.contains("crash before commit"))
      // forge the mid-crash window: exactly one of batch 1's sink dirs
      // survives (under serial sinks only the sig dir could be the
      // missing one; under concurrent sinks either can)
      val victim = if (missing == "docs") s"$out/batch_id=1" else s"$sig/batch_id=1"
      val vPath = new org.apache.hadoop.fs.Path(victim)
      val fs = vPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(vPath), s"expected $victim from the crashed attempt")
      fs.delete(vPath, true)
      runOnce()
      val admitted = spark.read.parquet(out).select("doc_id").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(admitted == Seq(1L, 2L, 3L),
        s"[$missing missing] replay diverged: $admitted")
      val sigs = spark.read.parquet(sig).select("doc_id").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(sigs == Seq(1L, 2L, 3L),
        s"[$missing missing] sig store diverged: $sigs")
    }
  }

  test("admission batches run at the session's shuffle width: foreachBatch writes no width") {
    val in = Files.createTempDirectory("graft_adm_width_in").toString
    val base = Files.createTempDirectory("graft_adm_width").toString
    Files.writeString(Paths.get(in, "b1.jsonl"),
      """{"doc_id":1,"text":"a document read under the session width","lang":"en","source":"s"}""")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = StreamingPipeline.admissionPipeline(spark, in, s"$base/sigs",
      s"$base/out", s"$base/ckpt", trigger = Trigger.AvailableNow(),
      failHook = (_, _) => seen.synchronized {
        seen += spark.conf.get("spark.sql.shuffle.partitions")
      }).start()
    q.awaitTermination(120000)
    assert(seen.nonEmpty && seen.forall(_ == before),
      s"foreachBatch saw widths $seen, session had $before")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }

  test("runSinksConcurrently: an interrupted caller awaits every sink and no write lands after it returns") {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
    import java.util.concurrent.atomic.AtomicInteger
    val started = new CountDownLatch(2)
    val returned = new AtomicInteger(0)
    val writes = new ConcurrentLinkedQueue[Long]()
    // one sink is mid-write (uninterruptible busy work) when the caller
    // is interrupted, the other is still waiting (interruptible)
    val busy: () => Unit = () =>
      try {
        started.countDown()
        val end = System.nanoTime() + 500L * 1000000L
        while (System.nanoTime() < end) {}
        writes.add(System.nanoTime())
      } finally returned.incrementAndGet()
    val waiting: () => Unit = () =>
      try {
        started.countDown()
        Thread.sleep(5000)
        writes.add(System.nanoTime())
      } finally returned.incrementAndGet()
    @volatile var thrown: Throwable = null
    @volatile var returnedAt = 0L
    @volatile var sinksReturned = -1
    @volatile var flagSet = false
    val caller = new Thread(() => {
      try StreamingPipeline.runSinksConcurrently(Seq(busy, waiting))
      catch { case t: Throwable => thrown = t }
      returnedAt = System.nanoTime()
      sinksReturned = returned.get()
      flagSet = Thread.currentThread().isInterrupted
    })
    caller.start()
    started.await()
    caller.interrupt()
    caller.join(30000)
    assert(!caller.isAlive)
    assert(thrown.isInstanceOf[InterruptedException], s"rethrown: $thrown")
    assert(sinksReturned == 2, s"$sinksReturned of 2 sink thunks had returned")
    assert(flagSet, "interrupt flag re-set before the rethrow")
    Thread.sleep(1000) // past the busy sink's window
    val ws = writes.toArray.toSeq.map(_.asInstanceOf[Long])
    assert(ws.size == 1, s"the in-flight write completes, the waiting one is cancelled: $ws")
    assert(ws.forall(_ <= returnedAt), "a sink write landed after the call returned")
  }

  test("admission prepare hook: mojibake re-crawl rejected under fixEncoding intake, admitted raw") {
    import org.apache.spark.sql.DataFrame
    val clean = (0 until 12).map(i => s"café$i word$i").mkString(" ")
    val broken = clean.replace("é", "Ã©") // every word mojibaked
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s"}"""
    def runPair(prepare: DataFrame => DataFrame): Seq[Long] = {
      val in = Files.createTempDirectory("graft_prep_in").toString
      val base = Files.createTempDirectory("graft_prep").toString
      def runOnce(): Unit = {
        val q = StreamingPipeline.admissionPipeline(spark, in, s"$base/sig",
          s"$base/out", s"$base/ckpt", trigger = Trigger.AvailableNow(),
          prepare = prepare).start()
        q.awaitTermination(120000)
      }
      Files.writeString(Paths.get(in, "b1.jsonl"), doc(1L, clean))
      runOnce()
      Files.writeString(Paths.get(in, "b2.jsonl"), doc(2L, broken))
      runOnce()
      spark.read.parquet(s"$base/out").select("doc_id").collect()
        .map(_.getLong(0)).sorted.toSeq
    }
    // raw intake: the mojibake copy's shingles all differ -> "novel"
    assert(runPair(identity) == Seq(1L, 2L))
    // cleaning feeds dedup: repair makes it fingerprint-identical -> rejected
    assert(runPair(graft.analytics.Cleaning.fixEncoding) == Seq(1L))
  }

  test("bloom admission: sketch rejects cross-batch dups, versioned replay is loss-free") {
    val in = Files.createTempDirectory("graft_badm_in").toString
    val base = Files.createTempDirectory("graft_badm").toString
    val (sk, out, ckpt) = (s"$base/sketch", s"$base/out", s"$base/ckpt")
    def doc(id: Long, text: String) =
      s"""{"doc_id":$id,"text":"$text","lang":"en","source":"s"}"""
    def runOnce(hook: (org.apache.spark.sql.DataFrame, Long) => Unit = (_, _) => ()): Unit = {
      val q = StreamingPipeline.bloomAdmissionPipeline(spark, in, sk, out, ckpt,
        trigger = Trigger.AvailableNow(), expectedItems = 1000, fpp = 1e-6,
        failHook = hook).start()
      q.awaitTermination(120000)
    }
    val dupText = "the quick brown fox jumps over the lazy dog today"
    // batch 1: intra-batch exact dup collapses to min doc_id; novel kept
    Files.writeString(Paths.get(in, "b1.jsonl"),
      doc(1L, dupText) + "\n" + doc(2L, dupText) + "\n" +
        doc(5L, "an entirely separate document about bloom admission"))
    runOnce()
    // batch 2: 3 hits the PERSISTED sketch (punctuation-normalized
    // dup); 4 is novel
    Files.writeString(Paths.get(in, "b2.jsonl"),
      doc(3L, "The quick brown fox, jumps over the lazy dog -- today!") + "\n" +
        doc(4L, "completely different content about spark engines at scale"))
    runOnce()
    val admitted = spark.read.parquet(out).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(admitted == Seq(1L, 4L, 5L), s"admitted: $admitted")
    // steady-state sketch storage: at most 2 versions retained
    val skFiles = new java.io.File(sk).list().filter(_.startsWith("sketch_v"))
    assert(skFiles.length <= 2, s"sketch versions: ${skFiles.toSeq}")

    // TRUE replay: crash AFTER doc+sketch writes, BEFORE the commit —
    // the replayed batch must read the PRE-batch sketch (version
    // exclusion), not its own, or it would reject everything it wrote
    Files.writeString(Paths.get(in, "b3.jsonl"),
      doc(6L, "a sixth document that nothing else resembles at all"))
    val crashed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce(hook = (_, _) => throw new RuntimeException("crash before commit"))
    }
    assert(crashed.getMessage.contains("crash before commit") ||
      crashed.getCause.getMessage.contains("crash before commit"))
    runOnce()
    val afterReplay = spark.read.parquet(out).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(afterReplay == Seq(1L, 4L, 5L, 6L), s"replay lost/duped docs: $afterReplay")
    // and the final sketch still rejects everything admitted so far
    Files.writeString(Paths.get(in, "b4.jsonl"),
      doc(7L, dupText) + "\n" +
        doc(8L, "a sixth document that nothing else resembles at all"))
    runOnce()
    val end = spark.read.parquet(out).select("doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(end == Seq(1L, 4L, 5L, 6L), s"post-replay sketch leaked dups: $end")

    // restarting with different sketch params must fail LOUD with the
    // cause, not wedge on an opaque IncompatibleMergeException
    Files.writeString(Paths.get(in, "b5.jsonl"),
      doc(9L, "params drift probe document"))
    val wedged = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = StreamingPipeline.bloomAdmissionPipeline(spark, in, sk, out, ckpt,
        trigger = Trigger.AvailableNow(), expectedItems = 50000, fpp = 1e-6).start()
      q.awaitTermination(120000)
    }
    val msg = wedged.getMessage +
      Option(wedged.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("incompatible") && msg.contains("sketch"),
      s"wrong failure: $msg")

    // wiped checkpoint + retained sketchDir = mismatched incarnations:
    // batchId restarts at 0 while sketch_v3/v4 survive — must fail LOUD
    // up front, not silently merge the obsolete membership once batchId
    // catches up to the stale version numbers
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val mismatched = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce()
    }
    val mmsg = mismatched.getMessage +
      Option(mismatched.getCause).map(_.getMessage).getOrElse("")
    assert(mmsg.contains("incarnation"), s"wrong failure: $mmsg")
  }

  test("semantic admission: persisted SRP store rejects cross-batch embedding dups, replay is loss-free, params pinned") {
    val in = Files.createTempDirectory("graft_sadm_in").toString
    val base = Files.createTempDirectory("graft_sadm").toString
    val (st, out, ckpt) = (s"$base/store", s"$base/out", s"$base/ckpt")
    def vec(id: Long, e: Seq[Double]) =
      s"""{"vec_id":$id,"label":0,"embedding":[${e.mkString(",")}]}"""
    def runOnce(hook: (org.apache.spark.sql.DataFrame, Long) => Unit = (_, _) => (),
                dim: Int = 4): Unit = {
      val q = StreamingPipeline.semanticAdmissionPipeline(spark, in, st, out,
        ckpt, trigger = Trigger.AvailableNow(), tau = 0.9, nBits = 4,
        dim = dim, failHook = hook).start()
      q.awaitTermination(120000)
    }
    def admittedIds(): Seq[Long] = spark.read.parquet(out)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val v1 = Seq(1.0, 0.0, 0.0, 0.0)
    // batch 1: 2 is a ×3-scaled copy of 1 (same SRP bucket — scale
    // invariant — cosine 1) → intra-batch greedy keeps the smaller id;
    // 5 is orthogonal (admitted); 7 has a null embedding (admitted
    // untouched, never stored)
    Files.writeString(Paths.get(in, "b1.jsonl"),
      vec(1L, v1) + "\n" + vec(2L, v1.map(_ * 3)) + "\n" +
        vec(5L, Seq(0.0, 1.0, 0.0, 0.0)) + "\n" +
        """{"vec_id":7,"label":0,"embedding":null}""")
    runOnce()
    assert(admittedIds() == Seq(1L, 5L, 7L))
    val stored = spark.read.parquet(st).select("vec_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(stored == Seq(1L, 5L), s"store must hold only scoreable admits: $stored")
    // batch 2: 10 collides with the PERSISTED store (scaled copy of 1,
    // corpus embeddings never re-read beyond the bucket slice); 11 novel
    Files.writeString(Paths.get(in, "b2.jsonl"),
      vec(10L, v1.map(_ * 2)) + "\n" + vec(11L, Seq(0.0, 0.0, 1.0, 0.0)))
    runOnce()
    assert(admittedIds() == Seq(1L, 5L, 7L, 11L))
    // TRUE replay: crash AFTER both sinks, BEFORE the checkpoint commit
    // — the replayed batch must exclude its own store partition (else
    // it self-rejects and overwrites the dirs with empty: silent loss)
    Files.writeString(Paths.get(in, "b3.jsonl"),
      vec(20L, Seq(0.0, 0.0, 0.0, 1.0)))
    val crashed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce(hook = (_, _) => throw new RuntimeException("crash before commit"))
    }
    assert(crashed.getMessage.contains("crash before commit") ||
      crashed.getCause.getMessage.contains("crash before commit"))
    // forge the HALF-written window of the r19 concurrent sinks: only
    // the store dir survived the crash (the out dir did not) — the
    // replay must still converge to the clean-run state (its own store
    // partition is excluded at PATH level, so the surviving half can
    // never make the batch self-reject)
    val halfVictim = new org.apache.hadoop.fs.Path(s"$out/batch_id=2")
    val halfFs = halfVictim.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(halfFs.exists(halfVictim), "expected the crashed attempt's out dir")
    halfFs.delete(halfVictim, true)
    runOnce()
    assert(admittedIds() == Seq(1L, 5L, 7L, 11L, 20L),
      s"replay lost/duped vectors: ${admittedIds()}")
    // and the replayed store still rejects an old dup
    Files.writeString(Paths.get(in, "b4.jsonl"),
      vec(30L, v1.map(_ * 5)))
    runOnce()
    assert(admittedIds() == Seq(1L, 5L, 7L, 11L, 20L))
    // bucketing params are the store's identity: a restart with a
    // different dim must fail LOUD, not silently mis-bucket
    Files.writeString(Paths.get(in, "b5.jsonl"),
      vec(40L, Seq(0.5, 0.5, 0.0, 0.0)))
    val wedged = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce(dim = 8)
    }
    val msg = wedged.getMessage +
      Option(wedged.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("store's identity"), s"wrong failure: $msg")
  }

  test("index maintenance: frozen-model delta encode agrees with the batch twin, replay is idempotent, maintained search finds appends") {
    import graft.analytics.Similarity
    val in = Files.createTempDirectory("graft_idxm_in").toString
    val base = Files.createTempDirectory("graft_idxm").toString
    val (idx, delta, ckpt) = (s"$base/index", s"$base/delta", s"$base/ckpt")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    Similarity.writeIvfPq(emb, idx, nCells = 4, m = 4, ksub = 8, rounds = 2)
    val nBase = spark.read.parquet(s"$idx/codes").count()
    def newVecs(lo: Long, hi: Long) = emb
      .filter(col("vec_id") >= lo && col("vec_id") < hi)
      .withColumn("vec_id", col("vec_id") + 6000000L)
    def toJsonl(df: org.apache.spark.sql.DataFrame): String = df
      .selectExpr("vec_id", "CAST(label AS BIGINT) AS label",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding")
      .toJSON.collect().mkString("\n")
    def runOnce(hook: (org.apache.spark.sql.DataFrame, Long) => Unit = (_, _) => ()): Unit = {
      val q = StreamingPipeline.indexMaintenancePipeline(spark, in, idx, delta,
        ckpt, trigger = Trigger.AvailableNow(), maxFilesPerTrigger = 1,
        failHook = hook).start()
      q.awaitTermination(120000)
    }
    // two micro-batches (file mtimes must differ >1 s or they coalesce)
    val f1 = Paths.get(in, "b1.jsonl"); Files.writeString(f1, toJsonl(newVecs(0, 5)))
    f1.toFile.setLastModified(1700000000000L)
    val f2 = Paths.get(in, "b2.jsonl"); Files.writeString(f2, toJsonl(newVecs(5, 10)))
    f2.toFile.setLastModified(1700000002000L)
    runOnce()
    val deltaDf = spark.read.parquet(delta)
    assert(deltaDf.count() == 10)
    assert(deltaDf.select("batch_id").distinct().count() == 2,
      "two files at distinct mtimes must form two batch partitions")
    // batch-twin agreement: the frozen-model encode of the same vectors
    // produces identical (cell, codes) field-for-field
    val twin = Similarity.ivfPqEncodeFrozen(newVecs(0, 10),
        spark.read.parquet(s"$idx/cells"), spark.read.parquet(s"$idx/codebook"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(2), r.getSeq[Byte](3).toSeq)).toMap
    deltaDf.collect().foreach { r =>
      assert(twin(r.getLong(0)) == (r.getInt(2), r.getSeq[Byte](3).toSeq),
        s"stream/batch encode diverge for ${r.getLong(0)}")
    }
    // TRUE replay: crash AFTER the delta write, BEFORE the commit —
    // the overwrite makes the rerun byte-identical, never duplicated
    val f3 = Paths.get(in, "b3.jsonl"); Files.writeString(f3, toJsonl(newVecs(10, 15)))
    f3.toFile.setLastModified(1700000004000L)
    val crashed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce(hook = (_, _) => throw new RuntimeException("crash before commit"))
    }
    assert(crashed.getMessage.contains("crash before commit") ||
      crashed.getCause.getMessage.contains("crash before commit"))
    runOnce()
    val maintained = Similarity.maintainedCodes(spark, idx, delta)
    assert(maintained.count() == nBase + 15, "replay duplicated or lost codes")
    val appended = maintained.filter(col("vec_id") >= 6000000L)
    assert(appended.select("vec_id").distinct().count() == 15)
    // maintained search: an appended exact copy surfaces in its
    // original's top-3 (the batch ivfPqAppend spec's property, now
    // through the stream path over base ∪ delta)
    val found = Similarity.ivfPqTopK(emb,
        spark.read.parquet(s"$idx/cells"),
        spark.read.parquet(s"$idx/codebook"), maintained,
        Seq(0L, 1L, 2L), 3, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    (0L until 3L).foreach { i =>
      assert(found.contains((i, i + 6000000L)),
        s"appended copy of $i missing from maintained top-3")
    }
  }

  test("index maintenance refuses a retrained model: the delta's model-id pin fails loud") {
    import graft.analytics.Similarity
    val in = Files.createTempDirectory("graft_idxr_in").toString
    val base = Files.createTempDirectory("graft_idxr").toString
    val (idx, delta, ckpt) = (s"$base/index", s"$base/delta", s"$base/ckpt")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    Similarity.writeIvfPq(emb, idx, nCells = 4, m = 4, ksub = 8, rounds = 1)
    Files.writeString(Paths.get(in, "b1.jsonl"),
      emb.filter(col("vec_id") < 3)
        .selectExpr("vec_id + 7000000 AS vec_id",
          "CAST(label AS BIGINT) AS label",
          "transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding")
        .toJSON.collect().mkString("\n"))
    def runOnce(): Unit = {
      val q = StreamingPipeline.indexMaintenancePipeline(spark, in, idx, delta,
        ckpt, trigger = Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    runOnce()
    assert(Similarity.maintainedCodes(spark, idx, delta).count() > 0)
    // out-of-band RETRAIN with different geometry: the delta's codes
    // now decode through the wrong codebook — every consumer must
    // refuse, not return silently wrong distances
    Similarity.writeIvfPq(emb, idx, nCells = 2, m = 2, ksub = 4, rounds = 1)
    val readErr = intercept[IllegalArgumentException] {
      Similarity.maintainedCodes(spark, idx, delta)
    }
    assert(readErr.getMessage.contains("retrained"), readErr.getMessage)
    Files.writeString(Paths.get(in, "b2.jsonl"),
      emb.filter(col("vec_id") === 5)
        .selectExpr("vec_id + 7000000 AS vec_id",
          "CAST(label AS BIGINT) AS label",
          "transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding")
        .toJSON.collect().mkString("\n"))
    val pipeErr = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce()
    }
    val msg = pipeErr.getMessage +
      Option(pipeErr.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("pinned to model"), s"wrong failure: $msg")
    // ORPHAN pin: the operator discards the delta (as the error says)
    // but the stale pin survives — with NO code partitions present the
    // pipeline must RE-pin to the current model and proceed, not wedge
    // a legitimate retrain against data that no longer exists
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(delta))
    runOnce()
    assert(Similarity.maintainedCodes(spark, idx, delta).count() > 0,
      "re-pinned delta must serve the maintained union again")
    // UNPINNED pre-existing codes: stamping them with the CURRENT
    // model would launder the exact mismatch the pin detects — refuse
    new java.io.File(delta + "_model_id").delete()
    Files.writeString(Paths.get(in, "b3.jsonl"),
      emb.filter(col("vec_id") === 7)
        .selectExpr("vec_id + 7000000 AS vec_id",
          "CAST(label AS BIGINT) AS label",
          "transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding")
        .toJSON.collect().mkString("\n"))
    val unpinned = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce()
    }
    val umsg = unpinned.getMessage +
      Option(unpinned.getCause).map(_.getMessage).getOrElse("")
    assert(umsg.contains("no model-id pin"), s"wrong failure: $umsg")
  }

  test("compactAdmissionStore: manifest fold preserves membership, deferred deletion, admission unchanged") {
    val in = Files.createTempDirectory("graft_cadm_in").toString
    val base = Files.createTempDirectory("graft_cadm").toString
    val (st, out, ckpt) = (s"$base/store", s"$base/out", s"$base/ckpt")
    def vec(id: Long, e: Seq[Double]) =
      s"""{"vec_id":$id,"label":0,"embedding":[${e.mkString(",")}]}"""
    def runOnce(): Unit = {
      val q = StreamingPipeline.semanticAdmissionPipeline(spark, in, st, out,
        ckpt, trigger = Trigger.AvailableNow(), maxFilesPerTrigger = 1,
        tau = 0.9, nBits = 4, dim = 4).start()
      q.awaitTermination(120000)
    }
    def axis(i: Int) = Seq.tabulate(4)(d => if (d == i % 4) 1.0 + i / 4 else 0.0)
    // four batches, one novel vector each → four store partitions
    (0 until 4).foreach { i =>
      val f = Paths.get(in, s"b$i.jsonl")
      Files.writeString(f, vec(i.toLong, axis(i)))
      f.toFile.setLastModified(1700000000000L + i * 2000L)
    }
    runOnce()
    val fs = new org.apache.hadoop.fs.Path(st)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def batchDirsOnDisk(): Seq[Long] = new java.io.File(st).list().toSeq
      .filter(_.startsWith("batch_id=")).map(_.stripPrefix("batch_id=").toLong)
      .sorted
    // the manifest-resolved LIVE view — what the pipeline reads
    def liveRows(): Set[(Long, Long)] = {
      val paths = graft.util.StoreManifest.livePaths(fs, st)
      if (paths.isEmpty) Set.empty
      else spark.read.parquet(paths: _*).select("vec_id", "bucket")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val before = liveRows()
    assert(batchDirsOnDisk().size >= 3, s"need >=3 partitions: ${batchDirsOnDisk()}")
    val maxId = batchDirsOnDisk().max
    val (nb, na) = StreamingPipeline.compactAdmissionStore(spark, st)
    assert(na == 2 && nb >= 3, s"expected fold to 2 live units: $nb -> $na")
    assert(liveRows() == before, "the fold must preserve membership exactly")
    // DEFERRED DELETION: the covered originals are still on disk (a
    // reader that resolved the pre-fold manifest keeps its file list
    // until the NEXT maintenance entry) but no longer live
    assert(batchDirsOnDisk().max == maxId)
    assert(batchDirsOnDisk().size >= 3,
      "covered originals must survive until the next maintenance entry")
    // admission continuity over the compacted store: an old dup (scaled
    // copy of batch-0's vector) must still be rejected, a novel admitted
    Files.writeString(Paths.get(in, "b5.jsonl"),
      vec(50L, axis(0).map(_ * 2)) + "\n" +
        vec(51L, Seq(0.5, 0.5, 0.5, 0.5)))
    runOnce()
    val admitted = spark.read.parquet(out).select("vec_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(admitted == Seq(0L, 1L, 2L, 3L, 51L), s"admitted: $admitted")
    // a resurrected COVERED partition (the crash-window state of the old
    // protocol) is invisible through the manifest: verdicts unchanged
    val dupDir = Paths.get(st, "batch_id=0")
    val srcFile = new java.io.File(s"$st/batch_id=${maxId - 1}").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.copy(srcFile.toPath, dupDir.resolve("resurrected-dup.parquet"))
    Files.writeString(Paths.get(in, "b6.jsonl"),
      vec(60L, axis(1).map(_ * 3)) + "\n" +
        vec(61L, Seq(-0.5, 0.5, -0.5, 0.5)))
    runOnce()
    val admitted2 = spark.read.parquet(out).select("vec_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(admitted2 == Seq(0L, 1L, 2L, 3L, 51L, 61L),
      s"resurrected covered rows changed verdicts: $admitted2")
    val afterB6 = liveRows()
    // the NEXT maintenance entry sweeps everything the last swap retired
    // (covered originals incl. the resurrected file, superseded segment,
    // old manifest generations) and folds the post-fold batches in
    val (nb2, na2) = StreamingPipeline.compactAdmissionStore(spark, st)
    assert(na2 == 2, s"re-fold must converge to 2 live units: $nb2 -> $na2")
    assert(liveRows() == afterB6, "membership preserved across re-fold")
    assert(!batchDirsOnDisk().exists(_ < maxId),
      s"retired partitions must be swept at the next entry: ${batchDirsOnDisk()}")
    // no-op when only [segment, newest] remain
    val again = StreamingPipeline.compactAdmissionStore(spark, st)
    assert(again == ((2, 2)), s"expected no-op: $again")
    // concurrent-run exclusion: a held lock fails LOUD (two interleaved
    // folds could sweep each other's in-flight segment)
    Files.writeString(Paths.get(st, ".compact_lock"), "")
    Files.writeString(Paths.get(in, "b7.jsonl"), vec(70L, Seq(0.1, 0.9, 0.2, 0.1)))
    runOnce()
    val locked = intercept[IllegalStateException] {
      StreamingPipeline.compactAdmissionStore(spark, st)
    }
    assert(locked.getMessage.contains("lock"), locked.getMessage)
    Files.delete(Paths.get(st, ".compact_lock"))
    // a crashed fold's unmanifested segment is swept at entry
    val stale = Paths.get(st, "seg-deadbeef")
    Files.createDirectories(stale)
    Files.writeString(stale.resolve("junk.parquet"), "not parquet")
    val (_, naf) = StreamingPipeline.compactAdmissionStore(spark, st)
    assert(naf == 2 && !Files.exists(stale),
      s"stale unmanifested segment must be swept: exists=${Files.exists(stale)}")
    // the lock is released after a successful run
    assert(!Files.exists(Paths.get(st, ".compact_lock")))
  }

  test("compactMaintainedDelta: atomic-swap fold, codes exactly preserved, search identical, crash re-converges, replay safe") {
    import graft.analytics.Similarity
    val in = Files.createTempDirectory("graft_cmd_in").toString
    val base = Files.createTempDirectory("graft_cmd").toString
    val (idx, delta, ckpt) = (s"$base/index", s"$base/delta", s"$base/ckpt")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    Similarity.writeIvfPq(emb, idx, nCells = 4, m = 4, ksub = 8, rounds = 1)
    def toJsonl(lo: Long, hi: Long): String = emb
      .filter(col("vec_id") >= lo && col("vec_id") < hi)
      .selectExpr("vec_id + 6000000 AS vec_id",
        "CAST(label AS BIGINT) AS label",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding")
      .toJSON.collect().mkString("\n")
    def runOnce(hook: (org.apache.spark.sql.DataFrame, Long) => Unit =
                  (_, _) => ()): Unit = {
      val q = StreamingPipeline.indexMaintenancePipeline(spark, in, idx, delta,
        ckpt, trigger = Trigger.AvailableNow(), maxFilesPerTrigger = 1,
        failHook = hook).start()
      q.awaitTermination(120000)
    }
    var nextFile = 0
    def addBatches(ranges: (Long, Long)*): Unit = ranges.foreach { case (lo, hi) =>
      val f = Paths.get(in, f"b$nextFile%03d.jsonl")
      Files.writeString(f, toJsonl(lo, hi))
      f.toFile.setLastModified(1700000000000L + nextFile * 2000L)
      nextFile += 1
    }
    def partDirs(): Seq[String] = new java.io.File(delta).list().toSeq
      .filter(_.startsWith("batch_id=")).sorted
    def codesSet(): Set[(Long, Int, Seq[Byte])] =
      Similarity.maintainedCodes(spark, idx, delta).collect()
        .map(r => (r.getLong(0), r.getInt(2), r.getSeq[Byte](3).toSeq)).toSet
    def searchSet(): Set[(Long, Long, Long)] =
      Similarity.ivfPqTopK(emb, spark.read.parquet(s"$idx/cells"),
          spark.read.parquet(s"$idx/codebook"),
          Similarity.maintainedCodes(spark, idx, delta),
          Seq(0L, 1L, 2L), 3, nProbe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    addBatches((0L, 3L), (3L, 6L), (6L, 9L), (9L, 12L))
    runOnce()
    assert(partDirs().size == 4, s"need 4 partitions: ${partDirs()}")
    val before = codesSet()
    val searchBefore = searchSet()
    // LIVE-safety, part 1: a frame resolved BEFORE the fold must still
    // collect correctly AFTER it (deferred deletion keeps its files)
    val preFoldFrame = Similarity.maintainedCodes(spark, idx, delta)
    // crash AFTER the segment publishes, BEFORE the manifest swap: the
    // unmanifested segment is reader-invisible — view unchanged
    val c1 = intercept[RuntimeException] {
      StreamingPipeline.compactAdmissionStore(spark, delta,
        failAt = s => if (s == "segment_published") throw new RuntimeException("crash1"))
    }
    assert(c1.getMessage == "crash1")
    assert(codesSet() == before, "pre-swap crash must leave the view unchanged")
    // LIVE-safety, part 2: the full fold with a READER AT EVERY SEAM —
    // the deterministic interleaving of a concurrent search with every
    // step of the protocol; each must see the identical code set
    val seams = scala.collection.mutable.Buffer[String]()
    StreamingPipeline.compactAdmissionStore(spark, delta, failAt = { s =>
      seams += s
      assert(codesSet() == before, s"concurrent reader at seam $s diverged")
    })
    assert(seams.toSeq == Seq("swept", "segment_published", "manifest_swapped"),
      s"unexpected seams: $seams")
    assert(codesSet() == before, "fold must preserve codes EXACTLY (no dup, no loss)")
    assert(searchSet() == searchBefore, "search must be identical over the folded delta")
    // deferred deletion: the pre-fold frame's resolved files survive
    assert(preFoldFrame.count() == before.size.toLong,
      "a frame resolved before the fold must still collect after it")
    assert(partDirs().size == 4,
      "covered originals must survive until the next maintenance entry")
    // grow again; the next entry sweeps the retired partitions and folds
    addBatches((12L, 15L), (15L, 18L))
    runOnce()
    val full = codesSet()
    assert(full.size == before.size + 6)
    val (nb2, na2) = StreamingPipeline.compactAdmissionStore(spark, delta)
    assert(na2 == 2, s"re-fold must converge to [segment, newest]: $nb2 -> $na2")
    assert(codesSet() == full, "re-fold must preserve the exact set")
    // the FIRST fold's covered partitions (0..2) were swept at this
    // entry; THIS fold's covered (3, 4) stay until the next one
    assert(partDirs().forall(_.stripPrefix("batch_id=").toLong >= 3),
      s"retired partitions must be swept at the next entry: ${partDirs()}")
    // replay safety: the newest batch is EXCLUDED from the fold, so a
    // crash-replay of it (overwrite) still lands on its own partition
    addBatches((18L, 21L))
    val crashed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce(hook = (_, _) => throw new RuntimeException("crash before commit"))
    }
    assert(crashed.getMessage.contains("crash before commit") ||
      crashed.getCause.getMessage.contains("crash before commit"))
    runOnce()
    assert(codesSet().size == full.size + 3, "replay duplicated or lost codes")
    // the model-id pin was never touched
    assert(Files.exists(Paths.get(delta + "_model_id")))
    // a third fold converges again (3 → 2), then [segment, newest] is a
    // no-op (the newest is never folded; one segment has no merge partner)
    val afterReplay = codesSet()
    assert(StreamingPipeline.compactAdmissionStore(spark, delta) == ((3, 2)))
    assert(codesSet() == afterReplay)
    val noop = StreamingPipeline.compactAdmissionStore(spark, delta)
    assert(noop == ((2, 2)), s"expected no-op: $noop")
    assert(!Files.exists(Paths.get(delta, ".compact_lock")))
    // a pending PRE-MANIFEST journal refuses loudly (its covered
    // originals may be half-deleted; only the old release can finish it)
    Files.writeString(Paths.get(delta, ".compact_journal"), "tok\n1\n0 1\n")
    val legacy = intercept[IllegalArgumentException] {
      StreamingPipeline.compactAdmissionStore(spark, delta)
    }
    assert(legacy.getMessage.contains("pre-manifest"), legacy.getMessage)
    Files.delete(Paths.get(delta, ".compact_journal"))
    // FRESH-CHECKPOINT refusal: a new checkpoint restarts batch ids at
    // 0 — at or below the folded watermark, its writes would be
    // reader-invisible and swept; the pipeline must refuse loudly
    val hfs = new org.apache.hadoop.fs.Path(ckpt)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    val fresh = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runOnce()
    }
    val fmsg = fresh.getMessage +
      Option(fresh.getCause).map(_.getMessage).getOrElse("")
    assert(fmsg.contains("folded watermark"), s"wrong failure: $fmsg")
  }

  test("reindexMaintained: atomic retrain rotation, crash re-converges at both seams, pipeline restarts pinned") {
    import graft.analytics.Similarity
    val in = Files.createTempDirectory("graft_ridx_in").toString
    val base = Files.createTempDirectory("graft_ridx").toString
    val (idx, delta, ckpt) = (s"$base/index", s"$base/delta", s"$base/ckpt")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    Similarity.writeIvfPq(emb, idx, nCells = 4, m = 4, ksub = 8, rounds = 1)
    def newVecs(lo: Long, hi: Long, offset: Long) = emb
      .filter(col("vec_id") >= lo && col("vec_id") < hi)
      .withColumn("vec_id", col("vec_id") + offset)
    def runOnce(): Unit = {
      val q = StreamingPipeline.indexMaintenancePipeline(spark, in, idx, delta,
        ckpt, trigger = Trigger.AvailableNow(), maxFilesPerTrigger = 1).start()
      q.awaitTermination(120000)
    }
    val f1 = Paths.get(in, "b1.jsonl")
    Files.writeString(f1, newVecs(0, 6, 6000000L)
      .selectExpr("vec_id", "CAST(label AS BIGINT) AS label",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding")
      .toJSON.collect().mkString("\n"))
    runOnce()
    assert(spark.read.parquet(delta).count() == 6)
    val fullEmb = emb.unionByName(newVecs(0, 6, 6000000L))
    val nFull = fullEmb.filter(col("embedding").isNotNull).count()
    // crash mid-rotation: pin + delta already gone, index not yet swapped
    val c1 = intercept[RuntimeException] {
      StreamingPipeline.reindexMaintained(spark, fullEmb, idx, delta, in, ckpt,
        nCells = 4, m = 4, ksub = 8, rounds = 1,
        failAt = s => if (s == "delta_deleted") throw new RuntimeException("boom1"))
    }
    assert(c1.getMessage == "boom1")
    assert(Files.exists(Paths.get(idx + ".reindex_journal")),
      "crashed rotation must leave its journal")
    // re-run RESUMES the journaled rotation (no retrain — the journal
    // path never calls writeIvfPq)
    val newId = StreamingPipeline.reindexMaintained(spark, fullEmb, idx, delta,
      in, ckpt, nCells = 4, m = 4, ksub = 8, rounds = 1)
    assert(newId == Similarity.ivfPqModelId(
      spark.read.parquet(s"$idx/cells"), spark.read.parquet(s"$idx/codebook")))
    assert(!Files.exists(Paths.get(idx + ".reindex_journal")))
    // rotated state: new base holds EVERY vector exactly once, the delta
    // and checkpoint are gone, incoming is swept, the NEW pin is stamped
    val maintained = Similarity.maintainedCodes(spark, idx, delta)
    assert(maintained.count() == nFull, "new base must hold base ∪ delta, once")
    assert(maintained.filter(col("vec_id") >= 6000000L).count() == 6)
    assert(!Files.exists(Paths.get(delta)))
    assert(!Files.exists(Paths.get(ckpt)))
    assert(new java.io.File(in).listFiles().forall(_.isDirectory),
      "incoming files must be swept (they are in the new base)")
    assert(Files.readString(Paths.get(delta + "_model_id")).trim == newId)
    // search continuity: an appended copy still surfaces in its
    // original's top-3 — now served from the NEW base, no delta
    val found = Similarity.ivfPqTopK(fullEmb,
        spark.read.parquet(s"$idx/cells"),
        spark.read.parquet(s"$idx/codebook"), maintained,
        Seq(0L, 1L, 2L), 3, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    (0L until 3L).foreach { i =>
      assert(found.contains((i, i + 6000000L)),
        s"copy of $i missing from post-retrain top-3")
    }
    // the restarted pipeline accepts the stamped pin and encodes new
    // vectors against the NEW model
    val f2 = Paths.get(in, "b2.jsonl")
    Files.writeString(f2, newVecs(8, 10, 7000000L)
      .selectExpr("vec_id", "CAST(label AS BIGINT) AS label",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding")
      .toJSON.collect().mkString("\n"))
    runOnce()
    assert(Similarity.maintainedCodes(spark, idx, delta).count() == nFull + 2)
    // second crash seam: AFTER the index swap (temp gone), before the
    // journal clears — the resume's else-branch
    val fullEmb2 = fullEmb.unionByName(newVecs(8, 10, 7000000L))
    val c2 = intercept[RuntimeException] {
      StreamingPipeline.reindexMaintained(spark, fullEmb2, idx, delta, in, ckpt,
        nCells = 4, m = 4, ksub = 8, rounds = 1,
        failAt = s => if (s == "swapped") throw new RuntimeException("boom2"))
    }
    assert(c2.getMessage == "boom2")
    val newId2 = StreamingPipeline.reindexMaintained(spark, fullEmb2, idx, delta,
      in, ckpt, nCells = 4, m = 4, ksub = 8, rounds = 1)
    assert(Similarity.maintainedCodes(spark, idx, delta).count() ==
      fullEmb2.filter(col("embedding").isNotNull).count())
    assert(Files.readString(Paths.get(delta + "_model_id")).trim == newId2)
    assert(new java.io.File(base).list().toSeq
      .forall(n => !n.startsWith("index.reindex_")),
      "no temp/aside/journal residue after a completed rotation")
    // ORPHAN sweep (round-16 review finding): a crash BEFORE the
    // journal publishes strands a full-size trained temp index with
    // nothing referencing it — the next run must sweep it, not let
    // every failed retrain leak one index copy forever
    val c3 = intercept[RuntimeException] {
      StreamingPipeline.reindexMaintained(spark, fullEmb2, idx, delta, in, ckpt,
        nCells = 4, m = 4, ksub = 8, rounds = 1,
        failAt = s => if (s == "trained") throw new RuntimeException("boom3"))
    }
    assert(c3.getMessage == "boom3")
    assert(new java.io.File(base).list().exists(_.startsWith("index.reindex_")),
      "the crashed run should have left an unjournaled temp")
    StreamingPipeline.reindexMaintained(spark, fullEmb2, idx, delta, in, ckpt,
      nCells = 4, m = 4, ksub = 8, rounds = 1)
    assert(new java.io.File(base).list().toSeq
      .forall(n => !n.startsWith("index.reindex_")),
      "unjournaled orphan temps must be swept at the next run's entry")
    // concurrent-run exclusion (round-16 second review pass): the
    // orphan sweep is only safe under the lock — a held lock must
    // refuse loud, and a completed run must have released it
    Files.writeString(Paths.get(idx + ".reindex_lock"), "")
    val locked = intercept[IllegalStateException] {
      StreamingPipeline.reindexMaintained(spark, fullEmb2, idx, delta, in, ckpt,
        nCells = 4, m = 4, ksub = 8, rounds = 1)
    }
    assert(locked.getMessage.contains("lock"), locked.getMessage)
    Files.delete(Paths.get(idx + ".reindex_lock"))
    StreamingPipeline.reindexMaintained(spark, fullEmb2, idx, delta, in, ckpt,
      nCells = 4, m = 4, ksub = 8, rounds = 1)
    assert(!Files.exists(Paths.get(idx + ".reindex_lock")),
      "the lock must be released after a successful run")
    // a live-scheduled delta COMPACTION must exclude the rotation (the
    // rotation deletes the delta dir a concurrent fold is mid-publish
    // into) — reindex refuses while the delta's .compact_lock is held
    Files.createDirectories(Paths.get(delta))
    Files.writeString(Paths.get(delta, ".compact_lock"), "")
    val foldLocked = intercept[IllegalStateException] {
      StreamingPipeline.reindexMaintained(spark, fullEmb2, idx, delta, in, ckpt,
        nCells = 4, m = 4, ksub = 8, rounds = 1)
    }
    assert(foldLocked.getMessage.contains("compaction lock"),
      foldLocked.getMessage)
    assert(!Files.exists(Paths.get(idx + ".reindex_lock")),
      "a refused run must not strand its own reindex lock")
    Files.delete(Paths.get(delta, ".compact_lock"))
  }

  test("driftMonitorTick: pages needs_reindex into the _monitoring sink, ticks append, read-back shape") {
    import graft.analytics.Similarity
    val in = Files.createTempDirectory("graft_drift_in").toString
    val base = Files.createTempDirectory("graft_drift").toString
    val (idx, delta, ckpt) = (s"$base/index", s"$base/delta", s"$base/ckpt")
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    Similarity.writeIvfPq(emb, idx, nCells = 4, m = 4, ksub = 8, rounds = 1)
    // planted drift: +2.0 on dim 0 (the maintainedReconDrift spec's
    // fixture — measured base ~0.435 vs drifted ~0.324 on this small
    // model, so minCos 0.4 separates the segments)
    val drifted = emb.filter(col("embedding").isNotNull)
      .select((col("vec_id") + 6000000L).as("vec_id"), col("label"),
        expr("transform(embedding, (x, i) -> CAST(x AS DOUBLE) + " +
          "CASE WHEN i = 0 THEN 2.0D ELSE 0.0D END)").as("embedding"))
    val f = Paths.get(in, "b1.jsonl")
    Files.writeString(f, drifted.toJSON.collect().mkString("\n"))
    val q = StreamingPipeline.indexMaintenancePipeline(spark, in, idx, delta,
      ckpt, trigger = Trigger.AvailableNow(), maxFilesPerTrigger = 1).start()
    q.awaitTermination(120000)
    val truth = emb.unionByName(drifted) // source-of-truth corpus
    // tick 0: the drifted delta trips the flag and the verdict lands in
    // the monitoring sink
    val fired = StreamingPipeline.driftMonitorTick(spark, truth, idx, delta,
      base.toString, minCos = 0.4, maxDrop = 0.2)
    assert(fired, "planted drift must page")
    // tick 1: thresholds nothing can breach — appends, reads false
    val quiet = StreamingPipeline.driftMonitorTick(spark, truth, idx, delta,
      base.toString, minCos = 0.0, maxDrop = 10.0)
    assert(!quiet)
    val mon = StreamingPipeline.monitoringTable(spark, base.toString,
      "maintained_drift").orderBy("tick")
    val rows = mon.select("tick", "query_name", "model_id", "n_base",
      "n_delta", "base_ok", "delta_ok", "needs_reindex").collect()
    assert(rows.length == 2, s"expected 2 ticks: ${rows.length}")
    val nDelta = drifted.count()
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == i.toLong && r.getString(1) == "maintained_drift")
      assert(r.getString(2).length == 32, "model_id must be the md5 pin")
      assert(r.getLong(3) > 0 && r.getLong(4) == nDelta, s"counts: $r")
    }
    assert(rows(0).getBoolean(7) && !rows(1).getBoolean(7))
    // agreement with the batch op it wraps
    val direct = Similarity.maintainedReconDrift(truth,
      spark.read.parquet(s"$idx/cells"), spark.read.parquet(s"$idx/codebook"),
      spark.read.parquet(s"$idx/codes"),
      Similarity.maintainedDeltaCodes(spark, idx, delta).get,
      minCos = 0.4, maxDrop = 0.2).head()
    assert(direct.getBoolean(4) == rows(0).getBoolean(7),
      "tick verdict must equal the batch op's")
  }

  test("batch pipeline routes errors, writes events, counts per file") {
    val in = Files.createTempDirectory("graft_in").toString
    val out = Files.createTempDirectory("graft_out").toString
    mkCapture(in, "capture_001.pcap.json", goodPacket, goodPacket, errorPacket)
    mkCapture(in, "capture_002.pcap.json", goodPacket)
    Files.writeString(Paths.get(in, "capture_003.pcap.json"), "corrupt bytes")

    val counts = BatchPipeline.run(spark, in, out).orderBy("file").collect()
    assert(counts.length == 3)
    assert(counts.map(_.getLong(1)).sum == 5) // every packet accounted for
    val events = spark.read.text(s"$out/events").count()
    val errors = spark.read.json(s"$out/_errors").count()
    assert(events == 3 && errors == 2) // 3 good, 1 int-error + 1 malformed
  }

  test("one capture dir through batch, file stream and notify: same per-file rows, events and DLQ count") {
    import org.apache.spark.sql.DataFrame
    val in = Files.createTempDirectory("graft_xin").toString
    val q = Files.createTempDirectory("graft_xq").toString
    val base = Files.createTempDirectory("graft_xout").toString
    mkCapture(in, "capture_001.pcap.json", goodPacket, errorPacket)
    mkCapture(in, "capture_002.pcap.json", goodPacket)
    Files.writeString(Paths.get(in, "capture_003.pcap.json"), "corrupt bytes")
    // message files with strictly increasing mtimes (the notify source
    // orders by (mtime, name))
    Seq("capture_001.pcap.json", "capture_002.pcap.json", "capture_003.pcap.json")
      .zipWithIndex.foreach { case (f, i) =>
        val m = Paths.get(q, s"m$i")
        Files.writeString(m, f)
        Files.setLastModifiedTime(m,
          java.nio.file.attribute.FileTime.fromMillis(3000000L + i))
      }

    val batchCounts = BatchPipeline.run(spark, in, s"$base/batch")
    StreamingPipeline.pipeline(spark, in, s"$base/stream", s"$base/stream_ckpt",
      trigger = Trigger.AvailableNow()).start().awaitTermination(120000)
    StreamingPipeline.notifyPipeline(spark, q, in, s"$base/notify", s"$base/notify_ckpt",
      trigger = Trigger.AvailableNow()).start().awaitTermination(120000)

    def rows(counts: DataFrame): Seq[(String, Long, Long)] =
      counts.select("file", "packets_processed", "packet_errors").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    def events(out: String): Seq[String] =
      spark.read.text(s"$out/events").collect().map(_.getString(0)).toSeq.sorted
    val batchRows = rows(batchCounts)
    val batchEvents = events(s"$base/batch")
    assert(batchRows.map { case (f, n, e) => (f.replaceAll("^.*/", ""), n, e) } == Seq(
      ("capture_001.pcap.json", 2L, 1L), ("capture_002.pcap.json", 1L, 0L),
      ("capture_003.pcap.json", 1L, 0L)))
    assert(batchEvents.length == 2)
    Seq("stream", "notify").foreach { p =>
      assert(rows(spark.read.json(s"$base/$p/_notifications")) == batchRows,
        s"$p per-file rows differ from the batch run's")
      assert(events(s"$base/$p") == batchEvents, s"$p events differ from the batch run's")
    }
    Seq("batch", "stream", "notify").foreach { p =>
      assert(spark.read.json(s"$base/$p/_errors").count() == 2,
        s"$p must dead-letter the int-error and the malformed event")
    }
    // each capture path keeps its own DLQ columns (batch_id is the
    // streams' partition column, not a written one)
    Seq("batch" -> Set("source_file", "udm_json"),
      "stream" -> Set("source_file", "udm_json", "dlq_reason"),
      "notify" -> Set("message_id", "payload", "dlq_reason")).foreach { case (p, want) =>
      assert(spark.read.json(s"$base/$p/_errors").columns.toSet - "batch_id" == want,
        s"$p _errors columns")
    }
  }

  test("transformWithState operators refuse the default state store provider at construction") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    assert(!spark.conf.getOption(providerKey).exists(_.contains("RocksDB")))
    // building the DataFrame runs the check; no query starts
    val stream = spark.readStream.format("rate").load()
    Seq[(String, () => Any)](
      "quotaLimitPipeline" -> (() => StreamingPipeline.quotaLimitPipeline(stream, 60, 1)),
      "funnelPipeline" -> (() => StreamingPipeline.funnelPipeline(stream, Seq("a", "b"), 60)),
      "scd2Pipeline" -> (() => StreamingPipeline.scd2Pipeline(stream)),
      "asofPipeline" -> (() => StreamingPipeline.asofPipeline(stream, stream, "0 seconds"))
    ).foreach { case (op, build) =>
      val e = intercept[IllegalArgumentException](build())
      assert(e.getMessage.contains(s"$op: transformWithState requires " +
        s"$providerKey=org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"),
        s"$op: ${e.getMessage}")
    }
  }

  test("filename ops: validation (F1) and derivation (P16)") {
    import spark.implicits._
    val df = Seq("capture_1.pcap", "capture_2.pcapng", "", "evil/name.pcap",
      "noext", ".hidden", "a.b.pcap", "..", "...", "a..b", "a.")
      .toDF("name")
      .select(col("name"), BatchPipeline.isValidFilename(col("name")).as("ok"),
        BatchPipeline.udmFilename(col("name")).as("udm"))
      .collect()
    assert(df.map(_.getBoolean(1)).toSeq ==
      Seq(true, true, false, false, true, true, true, true, true, true, true))
    assert(df(0).getString(2) == "capture_1.udm.json")
    assert(df(1).getString(2) == "capture_2.udm.json")
    // splitext semantics (reference processor_app.py:139): no extension
    // → plain append; leading-dot name is not an extension
    assert(df(4).getString(2) == "noext.udm.json")
    assert(df(5).getString(2) == ".hidden.udm.json")
    assert(df(6).getString(2) == "a.b.udm.json")
    // all-dot basenames have NO extension in CPython's splitext
    assert(df(7).getString(2) == "...udm.json")   // ".." + ".udm.json"
    assert(df(8).getString(2) == "....udm.json")  // "..." + ".udm.json"
    // but a dot run after a real name char IS strippable
    assert(df(9).getString(2) == "a..udm.json")   // splitext("a..b") = "a."
    assert(df(10).getString(2) == "a.udm.json")   // splitext("a.") = "a"
  }

  test("golden writer is byte-identical to json.dump(indent=4)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_golden2").toString
    val out = dir + "/golden.json"
    val df = Seq("""{"a":1}""", """{"b":{"c":"x"},"l":[1,2]}""").toDF("j")
    BatchPipeline.writeGoldenJsonArray(df, "j", out)
    val bytes = new String(Files.readAllBytes(Paths.get(out)), "UTF-8")
    // exact bytes of json.dumps([{'a':1},{'b':{'c':'x'},'l':[1,2]}], indent=4)
    val expected = "[\n    {\n        \"a\": 1\n    },\n    {\n        \"b\": {\n" +
      "            \"c\": \"x\"\n        },\n        \"l\": [\n            1,\n" +
      "            2\n        ]\n    }\n]"
    assert(bytes == expected)

    val out2 = dir + "/empty.json"
    BatchPipeline.writeGoldenJsonArray(Seq.empty[String].toDF("j"), "j", out2)
    assert(new String(Files.readAllBytes(Paths.get(out2)), "UTF-8") == "[]")
  }

  test("streaming pipeline: exactly-once per file across restart, error DLQ, notifications") {
    val in = Files.createTempDirectory("graft_sin").toString
    val out = Files.createTempDirectory("graft_sout").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    mkCapture(in, "capture_001.pcap.json", goodPacket, errorPacket)
    mkCapture(in, "capture_002.pcap.json", goodPacket)

    def runOnce(): Unit = {
      val q = StreamingPipeline.pipeline(spark, in, out, ckpt,
        trigger = Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    runOnce()
    val notif1 = spark.read.json(s"$out/_notifications")
    assert(notif1.count() == 2)
    assert(notif1.agg(sum("packets_processed")).head().getLong(0) == 3)
    assert(notif1.agg(sum("packet_errors")).head().getLong(0) == 1)

    // drop a new file; restart from the same checkpoint → only the new
    // file is processed (the checkpoint file-log is the processed-set)
    mkCapture(in, "capture_003.pcap.json", goodPacket, goodPacket)
    runOnce()
    val notif2 = spark.read.json(s"$out/_notifications")
    assert(notif2.count() == 3)
    assert(notif2.agg(sum("packets_processed")).head().getLong(0) == 5)
    assert(spark.read.text(s"$out/events").count() == 4)
    assert(spark.read.json(s"$out/_errors").count() == 1)
  }

  test("batch retry overwrites partial sink output from a failed attempt (idempotence)") {
    val in = Files.createTempDirectory("graft_iin").toString
    val out = Files.createTempDirectory("graft_iout").toString
    val ckpt = Files.createTempDirectory("graft_ickpt").toString
    mkCapture(in, "capture_001.pcap.json", goodPacket)
    // simulate a crashed earlier attempt of batch 0 that committed a
    // partial events directory before dying
    Files.createDirectories(Paths.get(out, "events/batch_id=0"))
    Files.writeString(Paths.get(out, "events/batch_id=0/part-00000-stale.txt"),
      "STALE-PARTIAL-ROW\n")
    val q = StreamingPipeline.pipeline(spark, in, out, ckpt,
      trigger = Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val evs = spark.read.text(s"$out/events").collect().map(_.getString(0))
    assert(evs.length == 1 && !evs.exists(_.contains("STALE")),
      "batch_id-scoped overwrite must replace, not append to, partial output")
  }

  test("poison batch dead-letters after the retry budget and unwedges the stream") {
    val in = Files.createTempDirectory("graft_pin").toString
    val out = Files.createTempDirectory("graft_pout").toString
    val ckpt = Files.createTempDirectory("graft_pckpt").toString
    mkCapture(in, "capture_poison.pcap.json", goodPacket)
    // simulate the reference's processing crash: any batch containing
    // the poison file fails before its sinks run
    val boom = (b: org.apache.spark.sql.DataFrame, _: Long) =>
      if (b.filter(col("source_file").contains("poison")).count() > 0)
        throw new RuntimeException("simulated poison crash")

    def runOnce(): Boolean =
      try {
        val q = StreamingPipeline.pipeline(spark, in, out, ckpt,
          trigger = Trigger.AvailableNow(), maxAttempts = 2, failHook = boom).start()
        q.awaitTermination(120000); true
      } catch {
        case _: org.apache.spark.sql.streaming.StreamingQueryException => false
      }

    assert(!runOnce()) // attempt 0 crashes
    assert(!runOnce()) // attempt 1 crashes — budget now exhausted
    assert(runOnce())  // attempt 2: batch dead-letters and commits
    val dlq = spark.read.json(s"$out/_errors")
    assert(dlq.filter(col("dlq_reason") === "retry budget exhausted").count() == 1)

    // the stream is unwedged: a new clean file processes normally
    mkCapture(in, "capture_clean.pcap.json", goodPacket)
    assert(runOnce())
    assert(spark.read.text(s"$out/events").count() == 1)
  }

  test("streaming dedup drops redelivered events within the watermark") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val df = mem.toDF().toDF("event_id", "ts")
    val deduped = StreamingPipeline.dedupStream(df, Seq("event_id"), "ts")
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData((1L, t("2024-01-01 00:00:00")), (2L, t("2024-01-01 00:00:01")))
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // redeliver event 1 (at-least-once upstream) + one new event
      mem.addData((1L, t("2024-01-01 00:00:02")), (3L, t("2024-01-01 00:00:03")))
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").select("event_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L)) // duplicate dropped, order-independent
    } finally q.stop()
  }

  test("chained stateful novelty: dedup feeds windowed count in one query, agrees with batch twin") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    val df = mem.toDF().toDF("event_id", "user_id", "event_type", "ts")
    // watermarkDelay 1h: dedup state for an hour-0 first-touch lives to
    // ~01:10+1h — long enough that the 00:40 cross-batch dup still hits
    // live state, while hour windows still close as the watermark moves
    val out = StreamingPipeline.noveltyPipeline(
      df, "ts", Seq("user_id", "event_type"), "event_type",
      windowSeconds = 3600, watermarkDelay = "1 hour")
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val fed = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, String, java.sql.Timestamp)]
    def feed(rows: (Long, Long, String, java.sql.Timestamp)*): Unit = {
      fed ++= rows; mem.addData(rows: _*)
    }
    val q = out.writeStream.format("memory").queryName("novelty_chain")
      .outputMode("append").start()
    try {
      feed((1L, 1L, "view", t("2024-01-01 00:10:00")),
        (2L, 1L, "view", t("2024-01-01 00:20:00")), // same-batch dup
        (3L, 2L, "view", t("2024-01-01 00:30:00")))
      q.processAllAvailable()
      feed((4L, 1L, "view", t("2024-01-01 00:40:00")), // cross-batch dup
        (5L, 1L, "click", t("2024-01-01 01:10:00")))
      q.processAllAvailable()
      // watermark 01:30 closes the hour-0 window; both stateful
      // operators sit in ONE streaming plan
      feed((6L, 9L, "view", t("2024-01-01 02:30:00")))
      q.processAllAvailable()
      feed((7L, 8L, "view", t("2024-01-01 03:30:00"))) // closes hour 1
      q.processAllAvailable()
      val closed = spark.table("novelty_chain").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1)) -> r.getLong(2))
        .toMap
      assert(closed == Map(
        ("2024-01-01 00:00:00.0", "view") -> 2L, // dups never inflated
        ("2024-01-01 01:00:00.0", "click") -> 1L), s"got $closed")
      // batch-twin agreement (in-order feed): noveltyHourly over ALL fed
      // rows, restricted to the closed hours, matches the stream exactly
      val twin = graft.metrics.Metrics.noveltyHourly(
          fed.toSeq.toDF("event_id", "user_id", "event_type", "ts"))
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1)) -> r.getLong(2))
        .toMap
        .filter { case ((h, _), _) => h < "2024-01-01 02:00" }
      assert(twin == closed, s"twin $twin != stream $closed")
    } finally q.stop()
  }

  test("chained rolling distinct: three stateful operators, exact counts, agrees with both batch twins") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    val df = mem.toDF().toDF("event_id", "user_id", "event_type", "ts")
    val out = StreamingPipeline.rollingDistinctPipeline(
      df, windowDays = 3, watermarkDelay = "1 day")
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val fed = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, String, java.sql.Timestamp)]
    def feed(rows: (Long, Long, String, java.sql.Timestamp)*): Unit = {
      fed ++= rows; mem.addData(rows: _*)
    }
    val q = out.writeStream.format("memory").queryName("rolling_chain")
      .outputMode("append").start()
    try {
      feed((1L, 1L, "view", t("2024-01-01 10:00:00")),
        (2L, 1L, "view", t("2024-01-01 11:00:00")), // same-day dup
        (3L, 2L, "view", t("2024-01-01 12:00:00")))
      q.processAllAvailable()
      feed((4L, 1L, "view", t("2024-01-02 09:00:00")), // new day, same user
        (5L, 3L, "click", t("2024-01-02 10:00:00")))
      q.processAllAvailable()
      // watermark Jan4 01:00 closes windows ending Jan2/3/4 = end days 1..3
      feed((6L, 9L, "view", t("2024-01-05 01:00:00")))
      q.processAllAvailable()
      // watermark Jan7 12:00 closes end days 4..6
      feed((7L, 8L, "view", t("2024-01-08 12:00:00")))
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.size == 3,
        s"expected dedup + 2 aggs, got ${q.lastProgress.stateOperators.size}")
      val closed = spark.table("rolling_chain").collect()
        .map(r => (r.getDate(0).toString, r.getString(1)) -> r.getLong(2))
        .toMap
      // end day E covers days E-2..E; u1 repeats collapse; u2 ages out
      // of end day 4; u9 (Jan5) covers end days 5..7, 7 still open
      assert(closed == Map(
        ("2024-01-01", "view") -> 2L, ("2024-01-02", "view") -> 2L,
        ("2024-01-03", "view") -> 2L, ("2024-01-04", "view") -> 1L,
        ("2024-01-05", "view") -> 1L, ("2024-01-06", "view") -> 1L,
        ("2024-01-02", "click") -> 1L, ("2024-01-03", "click") -> 1L,
        ("2024-01-04", "click") -> 1L), s"got $closed")
      val fedDf = fed.toSeq.toDF("event_id", "user_id", "event_type", "ts")
      // batch twin 1: the SAME function in batch mode (full panel),
      // restricted to the closed end days, matches the stream exactly
      val sameFn = StreamingPipeline.rollingDistinctPipeline(fedDf, 3)
        .collect()
        .map(r => (r.getDate(0).toString, r.getString(1)) -> r.getLong(2))
        .toMap
        .filter { case ((d, ty), _) =>
          d <= (if (ty == "view") "2024-01-06" else "2024-01-04") }
      assert(sameFn == closed, s"batch-mode twin $sameFn != stream $closed")
      // batch twin 2: Metrics.rollingDistinctUsers restricts to
      // OBSERVED traffic days — the stream agrees on exactly those days
      val observed = graft.metrics.Metrics.rollingDistinctUsers(fedDf, 3)
        .collect()
        .map(r => (r.getString(0), r.getDate(1).toString) -> r.getLong(2))
        .toMap
        .filter { case ((_, d), _) => d <= "2024-01-06" }
      val streamOnObserved = closed.collect {
        case ((d, ty), n) if observed.contains((ty, d)) => (ty, d) -> n }
      assert(streamOnObserved == observed,
        s"observed-day twin $observed != stream $streamOnObserved")
    } finally q.stop()
  }

  test("HLL rolling distinct live: one stateful sketch aggregate, sparse-mode exact, agrees with the exact stream twin") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    val df = mem.toDF().toDF("event_id", "user_id", "event_type", "ts")
    val out = StreamingPipeline.rollingDistinctHllPipeline(
      df, windowDays = 3, watermarkDelay = "1 day")
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val fed = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, String, java.sql.Timestamp)]
    def feed(rows: (Long, Long, String, java.sql.Timestamp)*): Unit = {
      fed ++= rows; mem.addData(rows: _*)
    }
    val q = out.writeStream.format("memory").queryName("rolling_hll")
      .outputMode("append").start()
    try {
      // the exact chained test's fixture verbatim — same closure points
      feed((1L, 1L, "view", t("2024-01-01 10:00:00")),
        (2L, 1L, "view", t("2024-01-01 11:00:00")), // same-day dup
        (3L, 2L, "view", t("2024-01-01 12:00:00")))
      q.processAllAvailable()
      feed((4L, 1L, "view", t("2024-01-02 09:00:00")),
        (5L, 3L, "click", t("2024-01-02 10:00:00")))
      q.processAllAvailable()
      feed((6L, 9L, "view", t("2024-01-05 01:00:00")))
      q.processAllAvailable()
      feed((7L, 8L, "view", t("2024-01-08 12:00:00")))
      q.processAllAvailable()
      // the whole operator is ONE stateful aggregate (the exact chain
      // needed three); its state is sketches, not user membership
      assert(q.lastProgress.stateOperators.size == 1,
        s"expected one sketch agg, got ${q.lastProgress.stateOperators.size}")
      val closed = spark.table("rolling_hll").collect()
        .map(r => (r.getDate(0).toString, r.getString(1)) -> r.getLong(2))
        .toMap
      // sparse-mode HLL is exact at these cardinalities: the stream
      // must reproduce the exact twin's closed panel verbatim (repeats
      // collapse INSIDE the sketch — no dedup operator anywhere)
      assert(closed == Map(
        ("2024-01-01", "view") -> 2L, ("2024-01-02", "view") -> 2L,
        ("2024-01-03", "view") -> 2L, ("2024-01-04", "view") -> 1L,
        ("2024-01-05", "view") -> 1L, ("2024-01-06", "view") -> 1L,
        ("2024-01-02", "click") -> 1L, ("2024-01-03", "click") -> 1L,
        ("2024-01-04", "click") -> 1L), s"got $closed")
      // batch mode of the SAME function, restricted to closed windows,
      // matches the stream field for field
      val fedDf = fed.toSeq.toDF("event_id", "user_id", "event_type", "ts")
      val sameFn = StreamingPipeline.rollingDistinctHllPipeline(fedDf, 3)
        .collect()
        .map(r => (r.getDate(0).toString, r.getString(1)) -> r.getLong(2))
        .toMap
        .filter { case ((d, ty), _) =>
          d <= (if (ty == "view") "2024-01-06" else "2024-01-04") }
      assert(sameFn == closed, s"batch-mode twin $sameFn != stream $closed")
    } finally q.stop()
  }

  test("watermarkSkewAlerts: k-of-n breach debouncing over monitoring rows; zero-input batches carry no evidence") {
    import spark.implicits._
    val mon = Seq(
      // q_ok: one straggler breach of 4 input batches — below k=2
      ("q_ok", 0L, 100L, 0L), ("q_ok", 1L, 100L, 0L),
      ("q_ok", 2L, 10L, 2L), ("q_ok", 3L, 100L, 1L),
      // q_skew: sustained loss — 2 breaches → alert
      ("q_skew", 0L, 100L, 0L), ("q_skew", 1L, 30L, 9L),
      ("q_skew", 2L, 30L, 12L),
      // q_idle: zero-input batches must not divide by zero or count
      ("q_idle", 0L, 0L, 0L), ("q_idle", 1L, 0L, 0L))
      .toDF("query_name", "batch_id", "num_input_rows",
        "rows_dropped_by_watermark")
    val out = StreamingPipeline.watermarkSkewAlerts(mon,
        ratioThreshold = 0.1, kBatches = 2).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5)))
      .toMap
    // q_idle vanishes entirely: no input-carrying batches
    assert(out.keySet == Set("q_ok", "q_skew"), s"got ${out.keySet}")
    // q_ok: 4 input batches, ONE breach (2/10 > 0.1; 1/100 is not) — no alert
    assert(out("q_ok") == (4L, 1L, 310L, 3L, false), s"got ${out("q_ok")}")
    // q_skew: 9/30 and 12/30 both breach → alert fires
    assert(out("q_skew") == (3L, 2L, 160L, 21L, true), s"got ${out("q_skew")}")
    // threshold is strict >: a ratio exactly AT the threshold is no breach
    val edge = StreamingPipeline.watermarkSkewAlerts(
      Seq(("q", 0L, 100L, 10L), ("q", 1L, 100L, 10L))
        .toDF("query_name", "batch_id", "num_input_rows",
          "rows_dropped_by_watermark"),
      ratioThreshold = 0.1, kBatches = 1).collect()
    assert(edge.length == 1 && !edge(0).getBoolean(5),
      "10/100 at threshold 0.1 must not breach (strict >)")
    // guards fail loud
    assert(intercept[IllegalArgumentException] {
      StreamingPipeline.watermarkSkewAlerts(mon, kBatches = 0)
    }.getMessage.contains("kBatches"))
  }

  test("A7 stateful absence alert fires on true silence via event-time timeout") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val df = mem.toDF().toDF("ts", "label")
    val alerts = StreamingPipeline.absenceAlerts(df, "label", "ts", thresholdSecs = 3600)
    val q = alerts.writeStream.format("memory").queryName("absence")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      // both sniffers heartbeat at 00:00
      mem.addData((t("2024-01-01 00:00:00"), "sniffer_a"), (t("2024-01-01 00:00:00"), "sniffer_b"))
      q.processAllAvailable()
      assert(spark.table("absence").count() == 0)
      // only a keeps beating; watermark advances past b's timeout
      mem.addData((t("2024-01-01 03:00:00"), "sniffer_a"))
      q.processAllAvailable()
      // one more batch so the new watermark triggers the timeout pass
      mem.addData((t("2024-01-01 03:00:01"), "sniffer_a"))
      q.processAllAvailable()
      val rows = spark.table("absence").collect()
      assert(rows.length == 1)
      assert(rows(0).getString(0) == "sniffer_b")
      assert(rows(0).getLong(2) >= 3600) // silent at least the threshold
    } finally q.stop()
  }

  test("streaming windowed metrics with watermark (A4/A5)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val df = mem.toDF().toDF("ts", "label")
    val counts = StreamingPipeline.windowedCounts(df, "ts", "label")
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    mem.addData(
      (t("2024-01-01 00:00:10"), "a"), (t("2024-01-01 00:00:50"), "a"),
      (t("2024-01-01 00:01:10"), "a"), (t("2024-01-01 00:00:30"), "b"))
    val q = counts.writeStream.format("memory").queryName("wincounts")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = spark.table("wincounts")
      .select(date_format(col("window_start"), "HH:mm:ss").as("w"), col("label"), col("n"))
      .orderBy("w", "label").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq(("00:00:00", "a", 2L), ("00:00:00", "b", 1L), ("00:01:00", "a", 1L)))
  }

  test("monitoring listener: one engine row per batch, late rows land in the dropped counter") {
    val base = Files.createTempDirectory("graft_mon_spec").toString
    val in = s"$base/in"; Files.createDirectories(Paths.get(in))
    // file 0 (batch 0): 4 on-time rows at 01:00 — their max event time
    // becomes the LATE-INPUT-FILTER watermark (00:59:03) from batch 2
    // on (the filter lags one batch behind eviction — see the
    // attachMonitoring scaladoc; a late row arriving in batch 1 would
    // be admitted then silently evicted, counting 0); file 1 (batch 1):
    // 1 on-time row; file 2 (batch 2): 3 rows forged late in DISTINCT
    // windows (00:10/00:11/00:12, all below 00:59:03 — the dropped
    // counter is post-partial-agg, so same-group late rows would merge
    // to one) + 1 on-time at 01:06
    val f0 = (0 until 4).map(i => s"""{"ts":"2024-01-01T01:00:0$i.000Z","label":"a"}""")
    val f1 = Seq(s"""{"ts":"2024-01-01T01:05:00.000Z","label":"a"}""")
    val f2 = (0 until 3).map(i => s"""{"ts":"2024-01-01T00:1$i:00.000Z","label":"a"}""") :+
      s"""{"ts":"2024-01-01T01:06:00.000Z","label":"a"}"""
    Seq(f0, f1, f2).zipWithIndex.foreach { case (lines, i) =>
      val f = Paths.get(in, s"f$i.json")
      Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
      f.toFile.setLastModified(1700000000000L + i * 2000L) // >1 s apart
    }
    val name = "graft_mon_spec_q"
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("label",
        org.apache.spark.sql.types.StringType)))
    val counts = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(in)
      .withWatermark("ts", "60 seconds")
      .groupBy(window(col("ts"), "60 seconds"), col("label")).count()
    val listener = StreamingPipeline.attachMonitoring(spark, base, name)
    try {
      val q = counts.writeStream.queryName(name)
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow())
        .format("parquet").start(s"$base/out")
      assert(q.awaitTermination(120000), "drain timed out")
      // listener delivery is async post-commit: poll for both batches
      val monDir = new org.apache.hadoop.fs.Path(s"$base/_monitoring/$name")
      val fs = monDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val deadline = System.currentTimeMillis() + 60000
      while ((!fs.exists(monDir) || fs.listStatus(monDir).length < 3) &&
             System.currentTimeMillis() < deadline) Thread.sleep(200)
      val rows = StreamingPipeline.monitoringTable(spark, base, name)
        .filter(col("num_input_rows") > 0)
        .select("batch_id", "num_input_rows", "rows_dropped_by_watermark",
          "state_rows", "batch_duration_ms", "watermark")
        .orderBy("batch_id").collect()
      assert(rows.length == 3, s"got ${rows.toSeq}")
      val b0 = rows(0); val b2 = rows(2)
      assert(b0.getLong(1) == 4 && b0.getLong(2) == 0, s"batch0: $b0")
      assert(rows(1).getLong(1) == 1 && rows(1).getLong(2) == 0,
        s"batch1: ${rows(1)}")
      // the 3 late rows show up in batch 2's dropped counter — the
      // silent-data-loss signal this sink exists for
      assert(b2.getLong(1) == 4 && b2.getLong(2) == 3, s"batch2: $b2")
      assert(b0.getLong(3) > 0, s"state rows missing: $b0") // open windows
      assert(rows.forall(_.getLong(4) >= 0))
      assert(b2.getString(5) >= "2024-01-01T00:59:00.000Z",
        s"watermark did not advance: $b2")
      // the alert policies consume the SAME read-back without schema
      // friction (arithmetic is oracled over the forged panel; this is
      // the real-drain integration): slowMs=1 flags every real batch,
      // a huge slowMs flags none; state growth over a 3-batch drain
      // returns a well-formed verdict row
      val mon = StreamingPipeline.monitoringTable(spark, base, name)
      val slow = StreamingPipeline.backlogAlerts(mon, slowMs = 1,
        kBatches = 1).head()
      assert(slow.getString(0) == name && slow.getBoolean(4),
        s"1 ms budget must flag a real drain: $slow")
      assert(!StreamingPipeline.backlogAlerts(mon, slowMs = 3600000L)
        .head().getBoolean(4), "an hour budget must not flag")
      val growth = StreamingPipeline.stateGrowthAlerts(mon, kBatches = 3)
        .head()
      assert(growth.getString(0) == name && growth.getLong(1) >= 3,
        s"state-growth verdict malformed: $growth")
    } finally spark.streams.removeListener(listener)
  }

  test("monitoring demo panel matches its oracle constants") {
    val row = StreamingPipeline.monitoringDemoPanel(spark).head()
    assert((row.getLong(0), row.getLong(1), row.getLong(2)) == ((3L, 13L, 2L)),
      s"got $row")
    assert((3 to 6).forall(row.getBoolean), s"got $row")
  }

  test("trending tokens: closed windows emit ranked top-k, late data dropped") {
    val in = Files.createTempDirectory("graft_trend_in").toString
    val base = Files.createTempDirectory("graft_trend").toString
    def doc(id: Long, text: String, ts: String) =
      s"""{"doc_id":$id,"text":"$text","ts":"${ts}Z"}"""
    def run(): Unit = {
      val q = StreamingPipeline.trendingTokensPipeline(spark, in,
        s"$base/out", s"$base/ckpt", trigger = Trigger.AvailableNow(),
        maxFilesPerTrigger = 1, window_ = "60 seconds",
        watermark = "0 seconds", k = 2).start()
      q.awaitTermination(120000)
    }
    // four files -> four micro-batches (maxFilesPerTrigger=1; distinct
    // mtimes pin the file-source processing ORDER — same-millisecond
    // writes coalesce nondeterministically); windows close one
    // watermark advance behind the data that passes them
    Files.writeString(Paths.get(in, "f1.jsonl"),
      doc(1, "spark spark join", "2024-01-01T00:00:10") + "\n" +
        doc(2, "spark row row", "2024-01-01T00:00:20"))
    Thread.sleep(1100)
    Files.writeString(Paths.get(in, "f2.jsonl"),
      doc(3, "flink flink stream", "2024-01-01T00:01:05"))
    Thread.sleep(1100)
    Files.writeString(Paths.get(in, "f3.jsonl"),
      doc(4, "idle", "2024-01-01T00:02:30"))
    Thread.sleep(1100)
    Files.writeString(Paths.get(in, "f4.jsonl"),
      doc(5, "late spark", "2024-01-01T00:00:30") + "\n" + // LATE: W0 closed
        doc(6, "tick", "2024-01-01T00:03:30"))
    run()
    val out = spark.read.parquet(s"$base/out")
      .select(date_format(col("window_start"), "HH:mm:ss").as("w"),
        col("rk"), col("token"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val byWindow = out.groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
    // W0: spark×3 then row×2 (join cut by k=2); the late "spark" at
    // 00:00:30 arrived after W0 closed and must NOT appear anywhere
    assert(byWindow("00:00:00") ==
      Seq(("00:00:00", 1L, "spark", 3L), ("00:00:00", 2L, "row", 2L)))
    assert(byWindow("00:01:00") ==
      Seq(("00:01:00", 1L, "flink", 2L), ("00:01:00", 2L, "stream", 1L)))
    assert(!out.exists(_._3 == "late"))
    // W2 closes in AvailableNow's final flush batch (watermark reached
    // 00:03:30 after f4); W3 stays open — never emitted
    assert(byWindow("00:02:00") == Seq(("00:02:00", 1L, "idle", 1L)))
    assert(byWindow.keySet == Set("00:00:00", "00:01:00", "00:02:00"))
  }

  test("sketch trending tokens: bounded MG state surfaces the heavy hitter on window close") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val df = mem.toDF().toDF("ts", "text")
    // sketchK=4 << the ~21-token vocabulary -> the sketch trims
    // constantly; "hot" holds 20 of 60 tokens (> N/(k+1) = 12 support)
    // and MUST survive with an estimate within the MG undercount bound
    val out = StreamingPipeline.trendingTokensSketch(df, "ts", "text",
      windowSeconds = 60, sketchK = 4, topK = 2)
    val q = out.writeStream.format("memory").queryName("sketchtrend")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      val noise = (1 to 40).map(i => s"n$i")
      val w0Text = (Seq.fill(20)("hot") ++ noise).mkString(" ")
      mem.addData((t("2024-01-01 00:00:10"), w0Text))
      q.processAllAvailable()
      assert(spark.table("sketchtrend").count() == 0) // window still open
      // next-window data pushes the watermark past W0's end
      mem.addData((t("2024-01-01 00:01:30"), "later words"))
      q.processAllAvailable()
      mem.addData((t("2024-01-01 00:01:31"), "tick")) // timeout pass
      q.processAllAvailable()
      val rows = spark.table("sketchtrend")
        .filter(date_format(col("window_start"), "HH:mm:ss") === "00:00:00")
        .orderBy("rk").collect()
        .map(r => (r.getLong(1), r.getString(2), r.getLong(3)))
      assert(rows.nonEmpty && rows.head._2 == "hot", s"got: ${rows.toSeq}")
      // MG bound: estimate in (true - N/(k+1), true]
      assert(rows.head._3 > 20 - 12 && rows.head._3 <= 20, s"est ${rows.head._3}")
      assert(rows.length <= 2)
      // a late straggler for the closed window never re-emits it
      val before = spark.table("sketchtrend").count()
      mem.addData((t("2024-01-01 00:00:40"), "hot hot hot"))
      q.processAllAvailable()
      assert(spark.table("sketchtrend").count() == before)
    } finally q.stop()
  }

  test("sketch trending: per-partition partial sketches merge under the same support bound") {
    // the de-funneled shape: one window's tokens spread over MANY input
    // partitions, each reduced to a batch-local MG(k) partial before
    // the per-window state task merges them. Pin that the merged
    // estimate keeps the N/(k+1) mergeable-summaries bound — the
    // support guarantee is partition-layout-independent.
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    // 8-way spread → 8 partial sketches for W0 reach the merge
    val df = mem.toDF().toDF("ts", "text").repartition(8)
    val out = StreamingPipeline.trendingTokensSketch(df, "ts", "text",
      windowSeconds = 60, sketchK = 4, topK = 2)
    val q = out.writeStream.format("memory").queryName("sketchpart")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      // N = 70 tokens in W0: hot×30 + 40 distinct noise; support
      // threshold N/(k+1) = 14 < 30 → "hot" MUST survive any layout,
      // est in (30 − 14, 30]. One row per token → the repartition
      // scatters them across all 8 partitions.
      val rows = Seq.fill(30)("hot") ++ (1 to 40).map(i => s"n$i")
      mem.addData(rows.map(w => (t("2024-01-01 00:00:10"), w)): _*)
      q.processAllAvailable()
      mem.addData((t("2024-01-01 00:01:30"), "later"))
      q.processAllAvailable()
      mem.addData((t("2024-01-01 00:01:31"), "tick"))
      q.processAllAvailable()
      val got = spark.table("sketchpart")
        .filter(date_format(col("window_start"), "HH:mm:ss") === "00:00:00")
        .orderBy("rk").collect()
        .map(r => (r.getLong(1), r.getString(2), r.getLong(3)))
      assert(got.nonEmpty && got.head._2 == "hot", s"got: ${got.toSeq}")
      assert(got.head._3 > 30 - 14 && got.head._3 <= 30, s"est ${got.head._3}")
    } finally q.stop()
  }

  test("streaming anomaly alerts: EWMA baseline over closed windows, warm-up silent, stragglers dropped") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val df = mem.toDF().toDF("ts", "label").repartition(4)
    val out = StreamingPipeline.anomalyAlerts(df, "ts", "label",
      windowSeconds = 60, alpha = 0.5, lookback = 2)
    val q = out.writeStream.format("memory").queryName("anomalies")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def feed(window: String, n: Int): Unit =
      mem.addData((1 to n).map(i => (t(window), "err")): _*)
    try {
      // windows W0=10, W1=20, W2=30, W3=90 events; alpha=.5 lookback=2:
      // W2 baseline = (1*20 + 0.5*10)/1.5 = 16.6667 -> ratio 1.8
      // W3 baseline = (1*30 + 0.5*20)/1.5 = 26.6667 -> ratio 3.375
      feed("2024-01-01 00:00:10", 10); q.processAllAvailable()
      feed("2024-01-01 00:01:10", 20); q.processAllAvailable()
      feed("2024-01-01 00:02:10", 30); q.processAllAvailable()
      // warm-up: W0/W1 closed with history < lookback — no rows
      assert(spark.table("anomalies").count() == 0)
      feed("2024-01-01 00:03:10", 90); q.processAllAvailable()
      mem.addData((t("2024-01-01 00:04:30"), "tick")); q.processAllAvailable()
      mem.addData((t("2024-01-01 00:04:31"), "tick")); q.processAllAvailable()
      // output label column carries the CALLER'S column name ("label")
      val rows = spark.table("anomalies").filter(col("label") === "err")
        .orderBy("window_start").collect()
        .map(r => (new java.text.SimpleDateFormat("HH:mm:ss").format(r.getTimestamp(0)),
          r.getLong(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5)))
      assert(rows.toSeq == Seq(
        ("00:02:00", 30L, 16.6667, 1.8, true),
        ("00:03:00", 90L, 26.6667, 3.375, true)), s"got: ${rows.toSeq}")
      // a straggler for the closed W2 must not re-open or re-emit it
      val before = spark.table("anomalies").count()
      feed("2024-01-01 00:02:40", 50); q.processAllAvailable()
      assert(spark.table("anomalies").count() == before)
    } finally q.stop()
  }

  test("streaming Holt capacity alerts: trend-aware forecast per closed window, warm-up silent") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val df = mem.toDF().toDF("ts", "label").repartition(4)
    // lookback=2 => holtWeights give level = y2, trend = y2 - y1 (the
    // exact Holt init — hand-checkable forecasts)
    val out = StreamingPipeline.holtCapacityAlerts(df, "ts", "label",
      windowSeconds = 60, capacity = 100.0, lookback = 2, horizons = 2)
    val q = out.writeStream.format("memory").queryName("holt_alerts")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def feed(window: String, n: Int): Unit =
      mem.addData((1 to n).map(i => (t(window), "err")): _*)
    try {
      feed("2024-01-01 00:00:10", 10); q.processAllAvailable()
      // a null-ts row has no window position: excluded by the shared
      // fold, never an NPE in the pre-count (the quota/funnel contract)
      mem.addData((null.asInstanceOf[java.sql.Timestamp], "err"))
      q.processAllAvailable()
      feed("2024-01-01 00:01:10", 20); q.processAllAvailable()
      // W0 closed with history < lookback: silent warm-up
      assert(spark.table("holt_alerts").count() == 0)
      feed("2024-01-01 00:02:10", 30); q.processAllAvailable()
      feed("2024-01-01 00:03:10", 90); q.processAllAvailable()
      mem.addData((t("2024-01-01 00:04:30"), "tick")); q.processAllAvailable()
      mem.addData((t("2024-01-01 00:04:31"), "tick")); q.processAllAvailable()
      val rows = spark.table("holt_alerts").filter(col("label") === "err")
        .orderBy("window_start", "horizon").collect()
        .map(r => (new java.text.SimpleDateFormat("HH:mm:ss").format(r.getTimestamp(0)),
          r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6), r.getBoolean(7)))
      // W1: series (10,20) -> level 20 trend 10 -> f 30, 40
      // W2: series (20,30) -> level 30 trend 10 -> f 40, 50
      // W3: series (30,90) -> level 90 trend 60 -> f 150*, 210*
      assert(rows.toSeq == Seq(
        ("00:01:00", 20L, 1L, 20.0, 10.0, 30.0, false),
        ("00:01:00", 20L, 2L, 20.0, 10.0, 40.0, false),
        ("00:02:00", 30L, 1L, 30.0, 10.0, 40.0, false),
        ("00:02:00", 30L, 2L, 30.0, 10.0, 50.0, false),
        ("00:03:00", 90L, 1L, 90.0, 60.0, 150.0, true),
        ("00:03:00", 90L, 2L, 90.0, 60.0, 210.0, true)), s"got: ${rows.toSeq}")
      // stragglers for closed windows never re-emit
      val before = spark.table("holt_alerts").count()
      feed("2024-01-01 00:02:40", 50); q.processAllAvailable()
      assert(spark.table("holt_alerts").count() == before)
    } finally q.stop()
  }

  test("streaming session_window: sessions emit exactly once on close; in-horizon events merge") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val df = mem.toDF().toDF("ts", "user_id").repartition(4)
    val out = StreamingPipeline.sessionSummaryPipeline(
      df, "ts", "user_id", gapSeconds = 30)
    val q = out.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      // user 7: two events 20 s apart (one session), same batch
      mem.addData((t("2024-01-01 00:00:00"), 7L), (t("2024-01-01 00:00:20"), 7L))
      q.processAllAvailable()
      // session still open — watermark at 00:00:20 < end 00:00:50
      assert(spark.table("sessions").count() == 0)
      // next batch: a same-session straggler at 00:00:40 (watermark
      // 00:00:20 — inside the open window) MERGES and extends the end
      mem.addData((t("2024-01-01 00:00:40"), 7L))
      q.processAllAvailable()
      assert(spark.table("sessions").count() == 0)
      // far-future tick closes it; emitted exactly once with n=3
      mem.addData((t("2024-01-01 01:00:00"), 7L))
      q.processAllAvailable()
      val rows = spark.table("sessions").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getTimestamp(2).toString, r.getLong(3)))
      assert(rows.toSeq == Seq(
        (7L, "2024-01-01 00:00:00.0", "2024-01-01 00:01:10.0", 3L)),
        s"got ${rows.toSeq}")
      // and the closed session never re-emits
      mem.addData((t("2024-01-01 02:00:00"), 7L))
      q.processAllAvailable()
      assert(spark.table("sessions").count() == 2, // + the 01:00 session
        s"closed sessions must not re-emit")
    } finally q.stop()
  }

  test("transformWithState SCD2: versions close exactly at the watermark, agree with the batch twin") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val oldProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, Option[String])]
    val df = mem.toDF().toDF("user_id", "ts", "event_id", "event_type")
    val out = StreamingPipeline.scd2Pipeline(df)
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val fed = scala.collection.mutable.ArrayBuffer
      .empty[(Long, java.sql.Timestamp, Long, Option[String])]
    def feed(rows: (Long, java.sql.Timestamp, Long, Option[String])*): Unit = {
      fed ++= rows; mem.addData(rows: _*)
    }
    val q = out.writeStream.format("memory").queryName("scd2_stream")
      .outputMode("append").start()
    try {
      // u1: out-of-order WITHIN the batch (10:01 arrives after 10:02);
      // u2 opens with a NULL-type run
      feed((1L, t("2024-01-01 10:00:00"), 1L, Some("a")),
        (1L, t("2024-01-01 10:02:00"), 3L, Some("b")),
        (1L, t("2024-01-01 10:01:00"), 2L, Some("a")),
        (2L, t("2024-01-01 10:00:00"), 6L, None),
        (2L, t("2024-01-01 10:02:00"), 7L, None))
      q.processAllAvailable()
      // watermark 10:02: only u1's v1 is provably closed (successor
      // "b" run's start drained); u2's null run is still open
      val afterB1 = spark.table("scd2_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(afterB1.toSeq == Seq((1L, 1L)), s"got ${afterB1.toSeq}")
      // cross-batch continuation: same type extends the open run, no
      // spurious close
      feed((1L, t("2024-01-01 10:05:00"), 4L, Some("b")),
        (2L, t("2024-01-01 10:20:00"), 8L, Some("x")))
      q.processAllAvailable()
      feed((1L, t("2024-01-01 10:30:00"), 5L, Some("c")),
        (99L, t("2024-01-01 12:00:00"), 9L, Some("tick")))
      q.processAllAvailable()
      val rows = spark.table("scd2_stream")
        .orderBy("user_id", "version").collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)),
          r.getTimestamp(3).toString, r.getTimestamp(4).toString,
          r.getLong(5)))
      assert(rows.toSeq == Seq(
        (1L, 1L, Some("a"), "2024-01-01 10:00:00.0",
          "2024-01-01 10:02:00.0", 2L),
        (1L, 2L, Some("b"), "2024-01-01 10:02:00.0",
          "2024-01-01 10:30:00.0", 2L),
        (2L, 1L, None, "2024-01-01 10:00:00.0",
          "2024-01-01 10:20:00.0", 2L)), s"got ${rows.toSeq}")
      // batch-twin agreement: scd2Intervals over ALL fed rows,
      // restricted to versions closed at or below the final watermark,
      // matches the stream field for field (open runs never emit)
      val twin = graft.metrics.Metrics.scd2Intervals(
          fed.toSeq.toDF("user_id", "ts", "event_id", "event_type"))
        .filter(col("valid_to").isNotNull &&
          col("valid_to") <= t("2024-01-01 12:00:00"))
        .orderBy("user_id", "version").collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)),
          r.getTimestamp(3).toString, r.getTimestamp(4).toString,
          r.getLong(5)))
      assert(twin.toSeq == rows.toSeq, s"twin ${twin.toSeq} != ${rows.toSeq}")
    } finally {
      q.stop()
      oldProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("transformWithState as-of join: exactly-once backward matches, ref compaction, batch-twin agreement") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val oldProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val pMem = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val rMem = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val probe = pMem.toDF().toDF("user_id", "ts", "event_id")
    val ref = rMem.toDF().toDF("user_id", "ts", "event_id")
    // 0 s is an EXPLICIT choice here: MemoryStream batches are fed
    // watermark-safely, so no inter-stream skew exists by construction
    val out = StreamingPipeline.asofPipeline(probe, ref,
      watermarkDelay = "0 seconds", toleranceSeconds = 3600L)
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val fedP = scala.collection.mutable.ArrayBuffer
      .empty[(Long, java.sql.Timestamp, Long)]
    val fedR = scala.collection.mutable.ArrayBuffer
      .empty[(Long, java.sql.Timestamp, Long)]
    def feedP(rows: (Long, java.sql.Timestamp, Long)*): Unit = {
      fedP ++= rows; pMem.addData(rows: _*) }
    def feedR(rows: (Long, java.sql.Timestamp, Long)*): Unit = {
      fedR ++= rows; rMem.addData(rows: _*) }
    val q = out.writeStream.format("memory").queryName("asof_stream_t")
      .outputMode("append").start()
    try {
      // batch 1 — u1: refs at 10:00 (r1, r2 same ts: max id must win)
      // and a probe at 10:30; u2: probe with NO ref ever (null-padded)
      feedR((1L, t("2024-01-01 10:00:00"), 1L),
        (1L, t("2024-01-01 10:00:00"), 2L))
      feedP((1L, t("2024-01-01 10:30:00"), 101L),
        (2L, t("2024-01-01 10:30:00"), 102L))
      q.processAllAvailable()
      // watermark is still the epoch during batch 1 — nothing emits
      // until a later batch advances it past 10:30
      // probe 103 (11:00) must be FED while the watermark is still
      // below it (TWS drops at-or-under-watermark input rows before
      // the processor) — batch 2, where the watermark is 10:30
      feedR((1L, t("2024-01-01 12:00:00"), 3L)) // also the wm driver
      feedP((1L, t("2024-01-01 11:00:00"), 103L))
      q.processAllAvailable()
      val after2 = spark.table("asof_stream_t").collect()
        .map(r => r.getLong(1) -> (Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long] / 1000000L))).toMap
      // exactly-once: u1 matched the max-id equal-ts ref (id 2, lag
      // 1800 s), u2 null-padded; 103 already emitted too —
      // processAllAvailable runs the no-data watermark-advance batch,
      // where the wm reaches 12:00 and the 11:00 timer fires: backward
      // picked the COMPACTED 10:00 ref (max id 2) over the closer but
      // LATER 12:00 ref — direction, not distance
      assert(after2 == Map(101L -> ((Some(2L), Some(1800L))),
        102L -> ((None, None)),
        103L -> ((Some(2L), Some(3600L)))), s"after batch 2: $after2")
      // probe 103 sat BETWEEN the compacted ref (10:00) and the
      // buffered one (12:00): backward must pick 10:00's max id even
      // though 12:00 is closer (direction, not distance) — asserted in
      // the final map; batch 3: probe at 12:30 catches ref 3 within
      // tolerance, probe at 23:00 is out of the 1 h tolerance
      feedP((1L, t("2024-01-01 12:30:00"), 104L),
        (1L, t("2024-01-01 23:00:00"), 105L))
      q.processAllAvailable()
      feedR((99L, t("2024-01-02 06:00:00"), 9L)) // wm driver only
      q.processAllAvailable()
      val rows = spark.table("asof_stream_t").collect()
        .map(r => r.getLong(1) -> (Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long] / 1000000L))).toMap
      assert(rows == Map(
        101L -> ((Some(2L), Some(1800L))),
        102L -> ((None, None)),
        103L -> ((Some(2L), Some(3600L))),
        104L -> ((Some(3L), Some(1800L))),
        105L -> ((None, None))), s"final: $rows")
      // batch-twin agreement: mergeAsOf backward over ALL fed rows,
      // restricted to probes at or below the final watermark, matches
      // the stream field for field
      val twin = graft.util.SparkUtil.mergeAsOf(
          fedP.toSeq.toDF("user_id", "ts", "event_id"),
          fedR.toSeq.toDF("user_id", "ts", "event_id"),
          "user_id", "ts", "event_id", Nil, "backward", 3600L)
        .filter(col("ts") <= t("2024-01-01 23:00:00"))
        .collect()
        .map(r => r.getLong(2) -> (Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long] / 1000000L))).toMap
      assert(twin == rows, s"twin $twin != stream $rows")
    } finally {
      q.stop()
      oldProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("as-of join keyTtl: event-time expiry — within-TTL probe matches, post-TTL probe unmatched, state retired") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val oldProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val base = Files.createTempDirectory("graft_asof_ttl").toString
    val pMem = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val rMem = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val out = StreamingPipeline.asofPipeline(
      pMem.toDF().toDF("user_id", "ts", "event_id"),
      rMem.toDF().toDF("user_id", "ts", "event_id"),
      watermarkDelay = "0 seconds",
      keyTtl = Some(java.time.Duration.ofHours(1)))
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val name = "asof_ttl_t"
    val listener = StreamingPipeline.attachMonitoring(spark, base, name)
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // b1: u1 and u2 refs at 10:00 + a watermark driver
      rMem.addData((1L, t("2024-01-01 10:00:00"), 100L),
        (2L, t("2024-01-01 10:00:00"), 200L),
        (9L, t("2024-01-01 10:30:00"), 900L))
      q.processAllAvailable()
      // b2 (wm 10:30): both refs compact, stamp = 10:30. u2's probe at
      // 10:45 buffers above the watermark
      pMem.addData((2L, t("2024-01-01 10:45:00"), 500L))
      rMem.addData((9L, t("2024-01-01 11:00:00"), 901L))
      q.processAllAvailable()
      // b3 (wm 11:00 ≥ 10:45): u2's probe drains WITHIN the TTL
      // (11:00 − stamp 10:30 = 30 min ≤ 1 h) → MATCHED
      rMem.addData((9L, t("2024-01-01 12:00:00"), 902L))
      q.processAllAvailable()
      // watermark marches past every retirement timer (stamp + 1 h):
      // u1/u2's refs are actively DELETED by the timer, not just
      // masked — observed below through the monitoring state counter
      rMem.addData((9L, t("2024-01-01 16:00:00"), 903L))
      q.processAllAvailable()
      rMem.addData((9L, t("2024-01-01 17:00:00"), 904L))
      q.processAllAvailable()
      // u1's probe arrives AFTER expiry; next driver closes it
      pMem.addData((1L, t("2024-01-01 17:30:00"), 600L))
      rMem.addData((9L, t("2024-01-01 18:30:00"), 905L))
      q.processAllAvailable()
      rMem.addData((9L, t("2024-01-01 19:00:00"), 906L))
      q.processAllAvailable()
      val rows = spark.table(name).collect()
        .map(r => r.getLong(1) -> Option(r.get(3))).toMap
      assert(rows.get(500L).contains(Some(200L)),
        s"within-TTL probe must match its ref: $rows")
      assert(rows.contains(600L) && rows(600L).isEmpty,
        s"post-TTL probe must emit UNMATCHED (the documented trade): $rows")
      // retirement really deletes state: by the last batch the only
      // live key is the driver u9 (u1/u2 cleared by their timers, the
      // 600L probe drained) — ≤ 2 state rows (u9's lastRef + stamp)
      val monDir = new org.apache.hadoop.fs.Path(s"$base/_monitoring/$name")
      val fs = monDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val deadline = System.currentTimeMillis() + 60000
      while ((!fs.exists(monDir) || fs.listStatus(monDir).length < 7) &&
             System.currentTimeMillis() < deadline) Thread.sleep(200)
      val lastState = StreamingPipeline.monitoringTable(spark, base, name)
        .orderBy(col("batch_id").desc).select("state_rows")
        .head().getLong(0)
      assert(lastState <= 3L,
        s"expired keys must be DELETED from state, got $lastState rows")
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
      oldProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("as-of keyTtl is per-probe event time: a watermark jump past the ttl cannot un-match a within-ttl buffered probe") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val oldProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val pMem = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val rMem = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val out = StreamingPipeline.asofPipeline(
      pMem.toDF().toDF("user_id", "ts", "event_id"),
      rMem.toDF().toDF("user_id", "ts", "event_id"),
      watermarkDelay = "0 seconds",
      keyTtl = Some(java.time.Duration.ofHours(1)))
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val q = out.writeStream.format("memory").queryName("asof_ttl_jump")
      .outputMode("append").start()
    try {
      // ref at 10:00; a driver advances the wm so the ref compacts
      rMem.addData((1L, t("2024-01-01 10:00:00"), 100L),
        (9L, t("2024-01-01 10:30:00"), 900L))
      q.processAllAvailable()
      // probe 45 min after the ref — WITHIN the 1 h ttl — buffers
      pMem.addData((1L, t("2024-01-01 10:45:00"), 500L))
      q.processAllAvailable()
      // the next traffic is 12+ hours later: the probe's drain happens
      // under a watermark far past refTs + ttl. A watermark-stamped
      // expiry would clear the ref FIRST and emit unmatched — the
      // verdict would depend on how the batches divided. Per-probe
      // event time must match it regardless.
      rMem.addData((9L, t("2024-01-01 23:00:00"), 901L))
      q.processAllAvailable()
      rMem.addData((9L, t("2024-01-02 00:00:00"), 902L))
      q.processAllAvailable()
      val rows = spark.table("asof_ttl_jump").collect()
        .map(r => r.getLong(1) -> Option(r.get(3))).toMap
      assert(rows.get(500L).contains(Some(100L)),
        s"within-ttl probe must match under ANY batch division: $rows")
      // and the ttl still bites on a genuinely-late probe
      pMem.addData((1L, t("2024-01-02 00:30:00"), 600L))
      rMem.addData((9L, t("2024-01-02 02:00:00"), 903L))
      q.processAllAvailable()
      rMem.addData((9L, t("2024-01-02 03:00:00"), 904L))
      q.processAllAvailable()
      val rows2 = spark.table("asof_ttl_jump").collect()
        .map(r => r.getLong(1) -> Option(r.get(3))).toMap
      assert(rows2.contains(600L) && rows2(600L).isEmpty,
        s"probe past the ttl must be unmatched: $rows2")
    } finally {
      q.stop()
      oldProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("as-of join: ref-only key compacts via the fallback timer (no stranded-ref state leak)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val oldProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val base = Files.createTempDirectory("graft_asof_leak").toString
    val pMem = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val rMem = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val out = StreamingPipeline.asofPipeline(
      pMem.toDF().toDF("user_id", "ts", "event_id"),
      rMem.toDF().toDF("user_id", "ts", "event_id"),
      watermarkDelay = "0 seconds")
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val name = "asof_leak_t"
    val listener = StreamingPipeline.attachMonitoring(spark, base, name)
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // u1 produces THREE refs and then goes silent — no probe for it
      // ever arrives. Before the fallback timer, these refs stayed in
      // refBuf forever (drain only ran on input or a probe timer):
      // state grew with every departed key.
      rMem.addData((1L, t("2024-01-01 10:00:00"), 1L),
        (1L, t("2024-01-01 10:01:00"), 2L), (1L, t("2024-01-01 10:02:00"), 3L))
      q.processAllAvailable()
      // a different key drives the watermark far past u1's refs twice
      // (the second batch lets u1's fallback timer FIRE under the
      // advanced watermark)
      rMem.addData((99L, t("2024-01-01 12:00:00"), 8L))
      q.processAllAvailable()
      rMem.addData((99L, t("2024-01-01 14:00:00"), 9L))
      q.processAllAvailable()
      // read the engine state rows from the monitoring sink: after
      // compaction each key holds its ValueState lastRef (+99's one
      // buffered ref) — a stranded u1 would add its 3 refBuf rows
      val fs = new org.apache.hadoop.fs.Path(s"$base/_monitoring/$name")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val deadline = System.currentTimeMillis() + 60000
      def lastStateRows(): Long = {
        val m = StreamingPipeline.monitoringTable(spark, base, name)
        m.orderBy(col("batch_id").desc).select("state_rows").head().getLong(0)
      }
      while (System.currentTimeMillis() < deadline && {
        val p = new org.apache.hadoop.fs.Path(s"$base/_monitoring/$name")
        !fs.exists(p) || fs.listStatus(p).length < 3
      }) Thread.sleep(200)
      val rows = lastStateRows()
      assert(rows <= 3,
        s"stranded ref state: $rows rows (compaction timer did not fire)")
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
      oldProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("stream-stream interval join: inclusive horizon, exactly-once pairs, state evicted past watermark") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val memL = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val memR = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val dfL = memL.toDF().toDF("ts", "user_id", "event_id").repartition(4)
    val dfR = memR.toDF().toDF("ts", "user_id", "event_id").repartition(4)
    val out = StreamingPipeline.intervalJoinPipeline(
      dfL, "ts", dfR, "ts", "user_id", horizonSeconds = 60)
    val q = out.writeStream.format("memory").queryName("ij_pairs")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      // left: one click for user 7 at 00:00:00
      memL.addData((t("2024-01-01 00:00:00"), 7L, 1L))
      q.processAllAvailable()
      assert(spark.table("ij_pairs").count() == 0)
      // right: in-horizon (30 s), boundary (exactly +60 s — INCLUSIVE),
      // past-horizon (+61 s), and a different key
      memR.addData(
        (t("2024-01-01 00:00:30"), 7L, 101L),
        (t("2024-01-01 00:01:00"), 7L, 102L),
        (t("2024-01-01 00:01:01"), 7L, 103L),
        (t("2024-01-01 00:00:10"), 8L, 104L))
      q.processAllAvailable()
      val pairs = spark.table("ij_pairs")
        .select("join_key", "l_event_id", "r_event_id", "lag_s")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sortBy(_._3)
      assert(pairs.toSeq == Seq((7L, 1L, 101L, 30L), (7L, 1L, 102L, 60L)),
        s"got: ${pairs.toSeq}")
      // a pair never re-emits: unrelated far-future ticks on BOTH
      // sides (distinct keys — no accidental match) advance the
      // watermark; pair count must stay 2
      memL.addData((t("2024-01-01 01:00:00"), 90L, 900L))
      memR.addData((t("2024-01-01 01:00:00"), 91L, 901L))
      q.processAllAvailable()
      memL.addData((t("2024-01-01 01:10:00"), 90L, 902L))
      memR.addData((t("2024-01-01 01:10:00"), 91L, 903L))
      q.processAllAvailable()
      assert(spark.table("ij_pairs").count() == 2,
        "closed pairs must not re-emit")
      // state-eviction bound: with the watermark at 01:10:00, every
      // 00:0x row is past l_ts+horizon / r_ts — only the four tick
      // rows may remain in join state
      val stateRows = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty)
        .map(_.stateOperators.map(_.numRowsTotal).sum)
      assert(stateRows.exists(_ <= 4L),
        s"join state not evicted: $stateRows")
    } finally q.stop()
  }

  test("left-outer interval join: unmatched left emits null-padded only after watermark proves no partner") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val memL = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val memR = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val out = StreamingPipeline.intervalJoinPipeline(
      memL.toDF().toDF("ts", "user_id", "event_id"), "ts",
      memR.toDF().toDF("ts", "user_id", "event_id"), "ts",
      "user_id", horizonSeconds = 60, joinType = "left_outer")
    val q = out.writeStream.format("memory").queryName("ij_outer")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      // user 7's click gets a purchase; user 9's never does
      memL.addData((t("2024-01-01 00:00:00"), 7L, 1L),
        (t("2024-01-01 00:00:00"), 9L, 2L))
      memR.addData((t("2024-01-01 00:00:30"), 7L, 101L))
      q.processAllAvailable()
      // the matched pair may emit, but user 9 must NOT be declared
      // unmatched yet — the horizon hasn't expired
      assert(spark.table("ij_outer").where("r_ts IS NULL").count() == 0,
        "unmatched row emitted before the watermark proved it")
      // advance BOTH watermarks far past l_ts + horizon (two rounds:
      // eviction runs in the batch after the watermark update)
      for (i <- 1 to 2) {
        memL.addData((t(s"2024-01-01 01:0$i:00"), 90L, 900L + i))
        memR.addData((t(s"2024-01-01 01:0$i:00"), 91L, 910L + i))
        q.processAllAvailable()
      }
      val rows = spark.table("ij_outer")
        .select("join_key", "l_event_id", "r_event_id", "lag_s")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))
        .filter(_._1 < 90L).sortBy(_._2).toSeq
      assert(rows == Seq((7L, 1L, 101L, 30L), (9L, 2L, -1L, -1L)),
        s"got: $rows")
    } finally q.stop()
  }

  test("transformWithState quota limiter: hard cap per window, cross-batch count, straggler drop, batch-twin agreement") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val oldProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[(String, java.sql.Timestamp, Long)]
    val out = StreamingPipeline.quotaLimitPipeline(
      mem.toDF().toDF("event_type", "ts", "event_id"),
      windowSeconds = 60, cap = 2)
    val q = out.writeStream.format("memory").queryName("quota_out")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def w(s: String) = t(s).getTime / 1000L / 60L * 60L
    val w0 = w("2024-01-01 00:00:00")
    val w1 = w("2024-01-01 00:01:00")
    def rows() = spark.table("quota_out")
      .select("event_type", "window_start_s", "event_id", "admit_seq")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    try {
      // batch 1: three "a" rows in window 0 arrive OUT of event-time
      // order — the earliest two by (ts, id) must win, not the first
      // two in arrival order; "b" has one row
      mem.addData(("a", t("2024-01-01 00:00:02"), 3L),
        ("a", t("2024-01-01 00:00:00"), 1L),
        ("a", t("2024-01-01 00:00:01"), 2L),
        ("b", t("2024-01-01 00:00:05"), 10L))
      q.processAllAvailable()
      assert(rows() == Set(("a", w0, 1L, 1L), ("a", w0, 2L, 2L),
        ("b", w0, 10L, 1L)), s"got: ${rows()}")
      // batch 2: the counter is CROSS-batch — another window-0 "a" is
      // over quota; a next-window "a" starts a fresh counter
      mem.addData(("a", t("2024-01-01 00:00:03"), 4L),
        ("a", t("2024-01-01 00:01:05"), 5L))
      q.processAllAvailable()
      assert(rows() == Set(("a", w0, 1L, 1L), ("a", w0, 2L, 2L),
        ("b", w0, 10L, 1L), ("a", w1, 5L, 1L)), s"got: ${rows()}")
      // advance the watermark far past both windows (two rounds: the
      // cleanup timers fire in the batch after the watermark update)
      for (i <- 1 to 2) {
        mem.addData(("z", t(s"2024-01-01 01:0$i:00"), 900L + i))
        q.processAllAvailable()
      }
      // straggler for the closed window 0: dropped, never re-admitted
      // against evicted state (a fresh counter would wrongly admit it)
      mem.addData(("a", t("2024-01-01 00:00:04"), 6L))
      q.processAllAvailable()
      assert(!rows().exists(_._3 == 6L), s"straggler admitted: ${rows()}")
      // batch-twin agreement: quotaEnforce over everything the stream
      // could see in order (the straggler is over quota there too)
      val all = Seq(("a", t("2024-01-01 00:00:02"), 3L),
        ("a", t("2024-01-01 00:00:00"), 1L),
        ("a", t("2024-01-01 00:00:01"), 2L),
        ("b", t("2024-01-01 00:00:05"), 10L),
        ("a", t("2024-01-01 00:00:03"), 4L),
        ("a", t("2024-01-01 00:01:05"), 5L),
        ("a", t("2024-01-01 00:00:04"), 6L))
        .toDF("event_type", "ts", "event_id")
      val twin = graft.metrics.Metrics.quotaEnforce(all, cap = 2,
        windowSeconds = 60)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(twin == rows() -- rows().filter(_._1 == "z"),
        s"stream ${rows()} vs batch twin $twin")
    } finally {
      q.stop()
      oldProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("quota limiter warm-start: backfilled counts gate the first streaming batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val oldProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val w0 = t("2024-01-01 00:00:00").getTime / 1000L / 60L * 60L
    // backfill: "a" already exhausted (2 of cap 2), "b" half-spent
    val init = Seq(("a", w0, 2L), ("b", w0, 1L))
      .toDF("event_type", "window_start_s", "admitted")
    val mem = MemoryStream[(String, java.sql.Timestamp, Long)]
    val out = StreamingPipeline.quotaLimitPipeline(
      mem.toDF().toDF("event_type", "ts", "event_id"),
      windowSeconds = 60, cap = 2, initialCounts = Some(init))
    val q = out.writeStream.format("memory").queryName("quota_warm")
      .outputMode("append").start()
    try {
      // same window: "a" is over quota from the BACKFILL alone; "b"
      // has exactly one slot left; "c" (no backfill row) starts fresh
      mem.addData(("a", t("2024-01-01 00:00:10"), 1L),
        ("b", t("2024-01-01 00:00:10"), 2L),
        ("b", t("2024-01-01 00:00:20"), 3L),
        ("c", t("2024-01-01 00:00:10"), 4L))
      q.processAllAvailable()
      val rows = spark.table("quota_warm")
        .select("event_type", "event_id", "admit_seq")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(rows == Set(("b", 2L, 2L), ("c", 4L, 1L)), s"got: $rows")
    } finally {
      q.stop()
      oldProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("transformWithState streaming funnel: exact batch-twin agreement at horizon close, no restart after resolution") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val oldProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val steps = Seq("view", "click", "purchase")
    val out = StreamingPipeline.funnelPipeline(
      mem.toDF().toDF("user_id", "ts", "event_type"),
      steps, maxGapSeconds = 60)
    val q = out.writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def us(s: String) = t(s).getTime * 1000L
    def rows() = spark.table("funnel_out")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        r.getLong(4))).toSet
    // user 7 completes all 3 steps (out-of-order arrival, with a
    // decoy later click the greedy must skip); user 8 stalls at step 1
    // (click past the gap); user 9 has no anchor (click only) — the
    // same fixture feeds the batch twin at the end
    val fixture = Seq(
      (7L, t("2024-01-01 00:00:30"), "click"),
      (7L, t("2024-01-01 00:00:00"), "view"),
      (8L, t("2024-01-01 00:00:00"), "view"),
      (9L, t("2024-01-01 00:00:10"), "click"),
      (7L, t("2024-01-01 00:00:50"), "purchase"),
      (7L, t("2024-01-01 00:01:10"), "click"),
      (8L, t("2024-01-01 00:01:40"), "click"))
    try {
      // split across two batches (cross-batch buffering); batch 2's
      // rows all sit ABOVE batch 1's watermark (00:00:30) — a row at
      // or under it would be dropped as late, which is watermark
      // semantics, not a funnel bug
      mem.addData(fixture.take(4): _*)
      q.processAllAvailable()
      mem.addData(fixture.drop(4): _*)
      q.processAllAvailable()
      assert(rows().isEmpty, s"emitted before horizon closed: ${rows()}")
      // step-typed ticks for a throwaway user advance the watermark
      // (non-step traffic is filtered before the watermark node and
      // cannot); two rounds for the timer batch. User 99's own funnel
      // stays OPEN (its horizon never closes here) — no row expected
      for (i <- 1 to 2) {
        mem.addData((99L, t(s"2024-01-01 01:0$i:00"), "view"))
        q.processAllAvailable()
      }
      val expect = Set(
        (7L, us("2024-01-01 00:00:00"), us("2024-01-01 00:00:30"),
          us("2024-01-01 00:00:50"), 3L),
        (8L, us("2024-01-01 00:00:00"), -1L, -1L, 1L))
      assert(rows() == expect, s"got ${rows()}")
      // resolved funnels never restart: a fresh post-resolution anchor
      // for user 7 must not open a second funnel (the batch twin has
      // ONE row per user). The fresh ticks (user 98) also push the
      // watermark past user 99's horizon, closing ITS funnel — that
      // stall row is expected; a second row for 7 is not
      mem.addData((7L, t("2024-01-01 01:05:00"), "view"))
      q.processAllAvailable()
      for (i <- 1 to 2) {
        mem.addData((98L, t(s"2024-01-01 02:0$i:00"), "view"))
        q.processAllAvailable()
      }
      assert(rows() == expect +
        ((99L, us("2024-01-01 01:01:00"), -1L, -1L, 1L)),
        s"funnel restarted or tick-user close wrong: ${rows()}")
      // exact agreement with the batch twin over the pre-restart fixture
      val twin = graft.metrics.Metrics.funnelSteps(
        fixture.toDF("user_id", "ts", "event_type"), steps, 60L)
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3),
          r.getLong(4))).toSet
      assert(twin == expect, s"batch twin disagrees: $twin")
    } finally {
      q.stop()
      oldProvider match {
        case Some(p) => spark.conf.set(providerKey, p)
        case None => spark.conf.unset(providerKey)
      }
    }
  }

  test("interval join batch twin: same code path, exact lag arithmetic, prefixed passthrough columns") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val l = Seq((t("2024-01-01 00:00:00"), 7L, 1L),
      (t("2024-01-01 00:05:00"), 7L, 2L),
      (t("2024-01-01 00:00:00"), 9L, 3L))
      .toDF("ts", "user_id", "event_id")
    val r = Seq((t("2024-01-01 00:00:59"), 7L, 101L),
      (t("2024-01-01 00:01:00"), 7L, 102L),   // exactly +60 s: kept
      (t("2024-01-01 00:01:01"), 7L, 103L),   // +61 s: dropped
      (t("2024-01-01 00:05:30"), 7L, 104L),
      (t("2023-12-31 23:59:59"), 7L, 105L),   // BEFORE the click: dropped
      (t("2024-01-01 00:00:01"), 8L, 106L))   // no matching left key
      .toDF("ts", "user_id", "event_id")
    val out = StreamingPipeline.intervalJoinPipeline(
      l, "ts", r, "ts", "user_id", horizonSeconds = 60)
    assert(out.columns.toSeq == Seq("join_key", "l_ts", "r_ts", "lag_s",
      "l_event_id", "r_event_id"))
    val got = out.select("join_key", "l_event_id", "r_event_id", "lag_s")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3))).sortBy(p => (p._2, p._3))
    assert(got.toSeq == Seq((7L, 1L, 101L, 59L), (7L, 1L, 102L, 60L),
      (7L, 2L, 104L, 30L)), s"got: ${got.toSeq}")
  }
}
