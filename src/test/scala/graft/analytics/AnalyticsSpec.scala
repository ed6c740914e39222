package graft.analytics

import graft.SparkSpec
import graft.metrics.Metrics
import org.apache.spark.sql.functions._

/** Semantic unit tests for the dedup/similarity/text operators on
  * hand-built inputs (the DuckDB oracle checks engine-vs-engine
  * equality; these check the algorithms do what they claim). */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("src"))
      .withColumn("n_chars", length(col("text")).cast("long"))

  test("exact dedup groups identical normalized text") {
    val d = docs(
      1L -> "the quick brown fox", 2L -> "THE QUICK  brown FOX!!",
      3L -> "something else entirely here")
    val groups = Dedup.exactDuplicates(d).collect()
    assert(groups.length == 2)
    val g1 = groups.find(_.getLong(1) == 1L).get
    assert(g1.getLong(2) == 2) // docs 1+2 collapse after normalization
  }

  test("minhash signature agreement tracks Jaccard similarity") {
    val near = "spark runs fast queries over big data lakes every day"
    val nearDup = "spark runs fast queries over big data lakes every night"
    val far = "completely different words about gardening tulips and soil care"
    val d = docs(1L -> near, 2L -> nearDup, 3L -> far)
    // rowsPerBand=1 → OR-amplification: candidate iff ANY of 8 minhashes
    // agree, so the near pair is found with prob ~1-(1-J)^8
    val pairs = Dedup.minhashCandidatePairs(d, 3, 8, 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.contains((1L, 2L)))
    assert(pairs((1L, 2L)) >= 0.375) // 3+/8 slots for a 0.78-Jaccard pair
    assert(!pairs.contains((1L, 3L)) || pairs((1L, 3L)) < pairs((1L, 2L)))
  }

  test("minhash: shingle-less docs land in no LSH bucket (null-key guard)") {
    val d = docs(1L -> "one two", 2L -> "tiny", 3L -> "a b c d e f g h")
    val pairs = Dedup.minhashCandidatePairs(d, 3, 8, 1).collect()
    // docs 1 and 2 have <3 words → null signatures → must never pair
    assert(!pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
  }

  test("codegen'd minhash signatures equal the composed-operator pipeline") {
    val d = docs(
      1L -> "spark runs fast queries over big data lakes every day",
      2L -> "  leading and trailing   whitespace  case  ",
      3L -> "tiny",                       // < k words -> null slots
      4L -> "exactly three words",
      5L -> "a b c d e f g h i j k l m n o p q r s t u v w x y z")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(rows(Dedup.minhashSignatures(d, 3, 8)) ==
      rows(Dedup.minhashSignaturesComposed(d, 3, 8)))
    // non-multiple-of-4 hash count exercises the partial last group
    assert(rows(Dedup.minhashSignatures(d, 2, 6)) ==
      rows(Dedup.minhashSignaturesComposed(d, 2, 6)))
  }

  test("persisted minhash signatures band to the same candidate pairs") {
    val d = docs(
      1L -> "spark runs fast queries over big data lakes every day",
      2L -> "spark runs fast queries over big data lakes every night",
      3L -> "completely different words about gardening tulips and soil care")
    val dir = java.nio.file.Files.createTempDirectory("graft_sig").toString
    try {
      Dedup.writeSignatures(d, dir, 3, 8)
      val fromDisk = Dedup.candidatePairsFromSignatures(spark.read.parquet(dir), 8, 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val direct = Dedup.minhashCandidatePairs(d, 3, 8, 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(fromDisk == direct && fromDisk.nonEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("simhash: near-identical docs have small hamming distance") {
    val d = docs(
      1L -> "spark runs fast queries over big data lakes every day",
      2L -> "spark runs fast queries over big data lakes every night",
      3L -> "gardening tulips require loose soil and regular watering schedules")
    val rows = Dedup.simhash(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def hamming(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    val nearDist = hamming(rows(1L), rows(2L))
    val farDist = hamming(rows(1L), rows(3L))
    assert(nearDist < farDist)
    assert(nearDist <= 16) // one word of ten changed
  }

  test("codegen'd cosine is bit-identical to the HOF fold formulation") {
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 50).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextDouble() * 2 - 1))
    } :+ (50L, Array.empty[Double]) // empty → NaN on both paths
    val df = vecs.toDF("id", "v")
    val a = df.select(col("id").as("ia"), col("v").as("va"))
    val b = df.select(col("id").as("ib"), col("v").as("vb"))
    val pairs = a.crossJoin(b).filter(col("ia") < col("ib"))
      .select(
        Similarity.cosine(col("va"), col("vb")).as("fast"),
        Similarity.cosineComposed(col("va"), col("vb")).as("ref"))
      .collect()
    assert(pairs.exists(r => !r.isNullAt(0))) // bulk of pairs are real
    pairs.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1)) // null agreement (len mismatch)
      if (!r.isNullAt(0)) {
        val (f, g) = (r.getDouble(0), r.getDouble(1))
        assert(java.lang.Double.doubleToLongBits(f) == java.lang.Double.doubleToLongBits(g))
      }
    }
    // mismatched lengths → null, like zip_with's null padding
    val mixed = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0))).toDF("x", "y")
      .select(Similarity.cosine(col("x"), col("y")).as("c")).head()
    assert(mixed.isNullAt(0))
  }

  test("codegen'd SRP bucket equals the HOF fold formulation") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 40L).map(i => (i, Array.fill(16)(rnd.nextDouble() * 2 - 1)))
    val df = vecs.toDF("id", "v")
    val both = df.select(
      Similarity.srpBucket(col("v"), 16, 6).as("fast"),
      Similarity.srpBucketComposed(col("v"), 16, 6).as("ref")).collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    assert(both.map(_.getLong(0)).distinct.length > 1) // buckets do spread
  }

  test("cosine top-k ranks an identical-direction vector first") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (10L, Array(2.0f, 0.0f, 0.0f), 0),   // same direction as query
      (11L, Array(1.0f, 1.0f, 0.0f), 1),   // 45 degrees
      (12L, Array(0.0f, 1.0f, 0.0f), 2))   // orthogonal
      .toDF("vec_id", "embedding", "label")
    val top = Similarity.bruteForceTopK(emb, Seq(0L), 3).collect()
    assert(top.map(_.getLong(1)).toSeq == Seq(10L, 11L, 12L))
    assert(top(0).getDouble(3) == 1.0)
    assert(math.abs(top(1).getDouble(3) - 0.7071) < 1e-4)
    assert(top(2).getDouble(3) == 0.0)
  }

  test("SRP-LSH: identical vectors share a bucket; all candidates scored exactly") {
    val emb = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f, 4.0f), 0),
      (1L, Array(1.0f, 2.0f, 3.0f, 4.0f), 0),
      (2L, Array(-1.0f, -2.0f, -3.0f, -4.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val res = Similarity.lshTopK(emb, Seq(0L), 5, 4).collect()
    val ids = res.map(_.getLong(1)).toSet
    assert(ids.contains(1L))    // identical vector always in same bucket
    assert(res.find(_.getLong(1) == 1L).get.getDouble(2) == 1.0)
  }

  test("IVF top-k: results come only from probed cells, recall tracks nProbe") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qids = Seq(0L, 1L, 2L)
    val exact = Similarity.bruteForceTopK(emb, qids, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val probeAll = Similarity.ivfTopK(emb, qids, 10, nProbe = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probeAll == exact) // probing every cell == brute force
    val probe3 = Similarity.ivfTopK(emb, qids, 10, nProbe = 3).collect()
    assert(probe3.nonEmpty)
    val recall = probe3.map(r => (r.getLong(0), r.getLong(1)))
      .count(exact.contains).toDouble / exact.size
    val recall1 = Similarity.ivfTopK(emb, qids, 10, nProbe = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).count(exact.contains).toDouble / exact.size
    assert(recall >= recall1) // more probes never hurt recall
  }

  test("codegen'd simhash equals the composed-operator pipeline") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .unionByName(docs(
        9001L -> "",                   // token-less: dropped by both forms
        9002L -> "  UPPER lower 42 ",  // case fold + separators
        9003L -> "héllo wörld",        // non-ascii separators split tokens
        9004L -> "one"))               // single token
    val fast = Dedup.simhash(d).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val composed = Dedup.simhashComposed(d).orderBy("doc_id").collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(fast.nonEmpty && fast == composed)
  }

  test("duplicate clusters: transitive merge, separate components, singletons, fail-loud bound") {
    import spark.implicits._
    val docIds = (1L to 10L).toDF("doc_id")
    // chain 1-2-3-4 (no direct 1~4 pair: transitivity must merge it),
    // pair {6,7}, singletons 5, 8, 9, 10
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 7L)).toDF("doc_a", "doc_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 6L, 7L -> 6L, 8L -> 8L, 9L -> 9L, 10L -> 10L)
    // the public operator (driver path at this size) and the
    // distributed loop it runs above its gate
    for (got <- Seq(Dedup.clustersFromPairs(docIds, pairs),
                    Dedup.clustersByMinLabel(docIds, pairs))
           .map(_.collect().map(r => (r.getLong(0), r.getLong(1))).toMap)) {
      assert(got == want)
      // keep-one-per-cluster = doc_id == cluster_id
      assert(got.count { case (d, c) => d == c } == 6) // 1, 5, 6, 8, 9, 10
    }

    // a loop bound too small for the chain throws instead of under-merging
    intercept[IllegalArgumentException] {
      Dedup.clustersByMinLabel(docIds, pairs, maxIters = 1).collect()
    }
  }

  test("cluster propagation costs one action per round (accumulator convergence)") {
    import spark.implicits._
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    def drained(): Int = { // listener bus is async: poll until stable
      var prev = -1; var cur = jobs.get(); var waited = 0
      while (cur != prev && waited < 10000) {
        prev = cur; Thread.sleep(200); waited += 200; cur = jobs.get()
      }
      cur
    }
    spark.sparkContext.addSparkListener(listener)
    // AQE splits one action into per-stage jobs and broadcast joins add
    // build-side jobs — pin both off so one action == one job and the
    // count is exact
    val oldAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val oldBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docIds = (1L to 6L).toDF("doc_id")
      // chain 1-2-3-4: converges in 3 changing rounds + 1 confirm round
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
      val got = Dedup.clustersByMinLabel(docIds, pairs).collect()
      assert(got.count(r => r.getLong(1) == 1L) == 4)
      val n = drained()
      // exactly one action per round: init-labels checkpoint + 4 round
      // checkpoints + the final collect = 6 jobs (+1 slack). The old
      // materialize-then-count shape costs one MORE job per round and
      // busts this.
      assert(n <= 7, s"$n jobs for a 4-round clustering - expected one action per round")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", oldAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("incremental admission rejects corpus near-dups, admits novel and shingle-less docs") {
    val corpus = docs(
      1L -> "the quick brown fox jumps over the lazy dog today",
      2L -> "completely different corpus content about spark engines")
    val incoming = docs(
      10L -> "the quick brown fox jumps over the lazy dog today", // exact dup
      11L -> "an entirely novel document with unique words nobody wrote",
      12L -> "hi") // < k words: no shingles, no bands -> admitted
    val dir = java.nio.file.Files.createTempDirectory("graft_admit").toString
    Dedup.writeSignatures(corpus, dir, 3, 8)
    val admitted = Dedup.admitNewDocuments(incoming,
        spark.read.parquet(dir), 3, 8, 4)
      .collect().map(_.getLong(0)).toSeq
    assert(admitted == Seq(11L, 12L))
  }

  test("clusters match a union-find reference on random graphs") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    (0 until 5).foreach { trial =>
      val n = 20 + trial * 10
      val nEdges = rng.nextInt(n)
      val edges = (0 until nEdges).map { _ =>
        val a = rng.nextInt(n).toLong; val b = rng.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      // union-find reference
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val (docIds, pairs) = ((0L until n.toLong).toDF("doc_id"), edges.toDF("doc_a", "doc_b"))
      for ((path, clusters) <- Seq(
             "clustersFromPairs" -> Dedup.clustersFromPairs(docIds, pairs),
             "clustersByMinLabel" -> Dedup.clustersByMinLabel(docIds, pairs))) {
        val got = clusters.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
        assert(got == want, s"$path trial $trial: n=$n edges=$edges")
      }
    }
  }

  test("triangles match brute force on random graphs; each found once; hub graph has none") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    (0 until 4).foreach { trial =>
      val n = 12 + trial * 6
      val edges = (0 until n * 2).map { _ =>
        val a = rng.nextInt(n).toLong; val b = rng.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      val es = edges.toSet
      val want = (for {
        a <- 0L until n.toLong; b <- a + 1 until n.toLong
        c <- b + 1 until n.toLong
        if es((a, b)) && es((b, c)) && es((a, c))
      } yield (a, b, c)).toSeq.sorted
      val got = Dedup.triangles(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == want, s"trial $trial: edges=$edges")
      assert(got.distinct == got, "a triangle was enumerated twice")
    }
    // star hub: the adversarial case the degree ordering exists for —
    // every edge points INTO the hub after orientation, no wedge at it
    val star = (1L to 50L).map(i => (0L, i)).toDF("doc_a", "doc_b")
    assert(Dedup.triangles(star).count() == 0)
    // duplicate, REVERSED (2,1 delivered as (2,1) not (1,2)) and
    // self-loop input edges: reversed edges canonicalize (a drop would
    // silently lose the triangle), dups collapse, loops vanish
    val k3 = Seq((0L, 1L), (2L, 1L), (0L, 2L), (0L, 1L), (1L, 1L))
      .toDF("doc_a", "doc_b")
    assert(Dedup.triangles(k3).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq == Seq((0L, 1L, 2L)))
    // same canonicalization contract for kCore: the reversed-edge K3
    // is a complete 2-core
    assert(Dedup.kCore(k3, k = 2, rounds = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 2L), (1L, 2L), (2L, 2L)))
  }

  test("quantileNormalize: per-source order preserved; outputs drawn from the global score multiset") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = CorpusOps.quantileNormalize(docs, graft.queries.Registry.stopwords)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    assert(out.length == docs.count())
    // monotone within each source: ranks by score and by norm_score agree
    out.groupBy(_._2).foreach { case (src, rows) =>
      val byScore = rows.sortBy(r => (r._3, r._1)).map(_._4)
      assert(byScore.sameElements(byScore.sorted), s"order broken in $src")
    }
    // every normalized value is an actual corpus score value
    val globalScores = out.map(_._3).toSet
    assert(out.forall(r => globalScores.contains(r._4)))
  }

  test("theilSenTrend recovers an exact linear slope and shrugs off one outlier day") {
    import spark.implicits._
    def t(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 06:00:00")
    // 'lin': exactly 2*day events/day for 8 days -> slope 2.0; one
    // wild outlier day (day 5 logs 100) must not move the MEDIAN slope
    val lin = (1 to 8).flatMap(d => (0 until 2 * d).map(_ => ("lin", t(d))))
    val outlier = (1 to 8).flatMap { d =>
      val n = if (d == 5) 100 else 3 * d
      (0 until n).map(_ => ("out", t(d)))
    }
    val ev = (lin ++ outlier).zipWithIndex
      .map { case ((ty, ts), i) => (i.toLong, ts, ty) }
      .toDF("event_id", "ts", "event_type")
    val got = graft.metrics.Metrics.theilSenTrend(ev).collect()
      .map(r => (r.getString(0), r.getDouble(3))).toMap
    assert(got("lin") == 2.0, s"exact linear slope: ${got("lin")}")
    assert(math.abs(got("out") - 3.0) <= 1.0,
      s"median slope must resist the outlier day: ${got("out")}")
  }

  test("stylometryDelta: nonnegative symmetric-form deltas over full word panels") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = TextAnalysis.stylometryDelta(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    assert(out.nonEmpty)
    assert(out.forall(_._3 >= 0.0), "delta is a mean of absolute values")
    assert(out.forall(_._4 == 10L), "every pair scores over the full panel")
    assert(out.forall(p => p._1 < p._2), "canonical a < b pairs only")
  }

  test("autocorrelation: constant series drops silently instead of ANSI DIVIDE_BY_ZERO") {
    import spark.implicits._
    // 'flat' logs exactly 2 events/day (zero variance — Pearson is
    // undefined; ANSI corr() THROWS here, the round-9 confirmed crash);
    // 'vary' has a real varying series and must survive
    def t(day: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    val rows =
      (1 to 6).flatMap(d => Seq(("flat", t(d, 1)), ("flat", t(d, 2)))) ++
      (1 to 6).flatMap(d => (0 until d).map(h => ("vary", t(d, h))))
    val ev = rows.zipWithIndex
      .map { case ((ty, ts), i) => (i.toLong, ts, ty) }
      .toDF("event_id", "ts", "event_type")
    val got = graft.metrics.Metrics.autocorrelation(ev, Seq(1))
      .collect().map(r => r.getString(0)).toSeq
    assert(got == Seq("vary"), s"constant series must drop, got: $got")
  }

  test("quotaPlan: quotas sum exactly to the budget; ties break by source; extras bounded") {
    import spark.implicits._
    // 3 sources, 3 tokens each — every remainder ties; Hamilton must
    // hand the single extra to the lexicographically first source
    val d = Seq((1L, "a a a", "en", "s1"), (2L, "b b b", "en", "s2"),
        (3L, "c c c", "en", "s3"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", lit(5L))
    val got = CorpusOps.quotaPlan(d, 10L).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getBoolean(3))).toSeq
    assert(got == Seq(("s1", 4L, true), ("s2", 3L, false), ("s3", 3L, false)))
    // the invariant that makes largest-remainder a PLAN: exact budget
    // sums at any budget, including non-divisible ones
    Seq(1L, 7L, 14L, 100L, 9999L).foreach { b =>
      val s = CorpusOps.quotaPlan(d, b).agg(sum("quota")).head().getLong(0)
      assert(s == b, s"budget $b apportioned to $s")
    }
    // and on the real corpus
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert(CorpusOps.quotaPlan(docs, 12345L)
      .agg(sum("quota")).head().getLong(0) == 12345L)
  }

  test("kCore: full cascade peels the path power graph, K5 survives, fixpoint stable") {
    import spark.implicits._
    // path power graph 0..29 ((i,i+1)+(i,i+2)) + K5 at 40..44: at k=3
    // the path cascades away end-to-end (each peel exposes the next
    // node — 16 rounds to fixpoint), the clique is untouchable
    val ring = (0L until 29L).map(i => (i, i + 1)) ++
      (0L until 28L).map(i => (i, i + 2))
    val k5 = for { a <- 40L to 44L; b <- (a + 1) to 44L } yield (a, b)
    val edges = (ring ++ k5).toDF("doc_a", "doc_b")
    val got = Dedup.kCore(edges, k = 3, rounds = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == (40L to 44L).map(v => (v, 4L)),
      s"3-core must be exactly the K5: $got")
    // one more round changes nothing — the pinned budget reached the
    // true (order-confluent) fixpoint
    val again = Dedup.kCore(edges, k = 3, rounds = 17)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(again == got)
    // k=2: every path node has degree >= 2, nothing peels
    assert(Dedup.kCore(edges, k = 2, rounds = 3).count() == 35)
  }

  test("sourceHealthReport: hand-computed volume, dup rate, empty share per source") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta", "en", "s1"),
      (2L, "Alpha, BETA!", "en", "s1"),   // normalized dup of 1
      (3L, "gamma delta echo", "en", "s1"),
      (4L, "  ", "en", "s2"),             // empty after trim
      (5L, "zeta", "en", "s2"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = CorpusOps.sourceHealthReport(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    // s1: 3 docs; tokens 2+2+3=7; fingerprints {alphabeta x2, gammadeltaecho}
    //   -> dup 1 - 2/3 = 0.3333; s2: 2 docs; "  " splits to [""] = 1 token,
    //   "zeta" = 1; empty share 0.5
    assert(got == Seq(
      ("s1", 3L, 7L, 12.67, 0.3333, 0.0),
      ("s2", 2L, 2L, 3.0, 0.0, 0.5)))
  }

  test("payloadDedup: identical binaries group, distinct ones don't, bytes never lie") {
    import spark.implicits._
    // docs 1 and 3 synthesize the SAME payload (same doc_id fed to the
    // synthesizer + same text); 2 differs in text only — the trailing
    // bytes change the md5 even though the image header is identical
    val fixture = Seq(
      (1L, 7L, "same pixels"), (3L, 7L, "same pixels"), (2L, 7L, "other bytes"))
      .toDF("real_id", "doc_id", "text")
    val got = Multimodal.payloadDedup(
        Multimodal.withPayload(fixture), idCol = "real_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 2L), (2L, 1L)))
    // null payloads (failed fetches) are excluded, never grouped as dups
    val withNulls = Multimodal.withPayload(fixture)
      .unionByName(Seq((9L, 9L, "x"), (10L, 10L, "y"))
        .toDF("real_id", "doc_id", "text")
        .withColumn("payload", lit(null).cast("binary")))
    val got2 = Multimodal.payloadDedup(withNulls, idCol = "real_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got2 == got)
  }

  test("imageNearDupPairs: re-encoded copy found at Hamming 0, byte dedup misses it, unrelated images and non-PNGs excluded") {
    import spark.implicits._
    val gray = Multimodal.synthGray(5L, 24, 16)
    val inverted = gray.map(b => (255 - (b & 0xff)).toByte) // opposite gradients
    val fixture = Seq(
      (1L, Multimodal.pngBytesGray(24, 16, gray, level = 1)),
      (2L, Multimodal.pngBytesGray(24, 16, gray, level = 9)), // re-encode of 1
      (3L, Multimodal.pngBytesGray(24, 16, inverted, level = 6)),
      (4L, Multimodal.jpegBytes(24, 16)),   // header-only JPEG: dropped
      (5L, Array[Byte](1, 2, 3)))           // garbage: dropped
      .toDF("doc_id", "payload")
      .unionByName(Seq(Tuple1(6L)).toDF("doc_id")
        .withColumn("payload", lit(null).cast("binary")))
    // byte-level dedup PROVABLY misses the re-encode (different md5)
    val byteGroups = Multimodal.payloadDedup(fixture)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(byteGroups.forall(_._2 == 1L),
      s"re-encode must not collide at byte level: $byteGroups")
    // perceptual: EXACTLY the planted pair, at Hamming 0
    val pairs = Multimodal.imageNearDupPairs(fixture)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(pairs == Seq((1L, 2L, 0L)), s"pair set: $pairs")
    // an inverted image shares NO horizontal-gradient signs: its hash
    // is the planted pair's complement, far outside Hamming 3
    val fps = Multimodal.imageDHash(fixture).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1) << 32) | r.getLong(2))).toMap
    assert(fps.keySet == Set(1L, 2L, 3L),
      s"only decodable PNGs fingerprint: ${fps.keySet}")
    assert(fps(1L) == fps(2L) && fps(1L) != fps(3L))
  }

  test("payloadNearDupPairs: trailer-append variant collides, unrelated bytes don't, short/null payloads excluded") {
    import spark.implicits._
    def bytes(s: String): Array[Byte] = s.getBytes("UTF-8")
    val longA = "the quick brown fox jumps over the lazy dog again and again"
    val fixture = Seq(
      (1L, bytes(longA)),
      (2L, bytes(longA + " TRAILER")),     // near-dup of 1 (append)
      (3L, bytes("completely different content with no shared windows")),
      (4L, bytes("tiny")),                 // < one 8-byte gram — excluded
      (5L, null.asInstanceOf[Array[Byte]]))
      .toDF("doc_id", "payload")
    val pairs = Multimodal.payloadNearDupPairs(fixture)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.contains((1L, 2L)), s"append variant must collide: $pairs")
    assert(pairs.forall { case (a, b) => Set(a, b).subsetOf(Set(1L, 2L)) },
      s"unrelated/short/null payloads must not pair: $pairs")
  }

  test("sourceMixWeights: hand-computed temperature weights, zero-token source, weights sum to 1") {
    import spark.implicits._
    val d = Seq(
      (1L, "one two three four five six seven eight nine ten", "en", "s1"),
      (2L, "alpha beta gamma delta eps", "en", "s2"),
      (3L, null.asInstanceOf[String], "en", "s3"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = CorpusOps.sourceMixWeights(d, 0.5, 100L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // Math.pow, not sqrt: pow(x, 0.5) and sqrt(x) may differ by an ulp
    val (p10, p5) = (math.pow(10, 0.5), math.pow(5, 0.5))
    val tot = p10 + p5
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq == Seq(
      ("s1", 10L, r6(p10 / tot), r4(100.0 * (p10 / tot) / 10)),
      ("s2", 5L, r6(p5 / tot), r4(100.0 * (p5 / tot) / 5)),
      ("s3", 0L, 0.0, 0.0)))
    // weights sum to 1 (up to the 6 dp rounding)
    assert(math.abs(got.map(_._3).sum - 1.0) < 2e-6)
  }

  test("boilerplateNgrams: df counts docs not occurrences, minDf filter, deterministic top-k cut") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d"),          // grams: "a b c", "b c d"
      (2L, "a b c x"),          // grams: "a b c", "b c x"
      (3L, "a b c d"),          // dup of 1
      (4L, "z z z z z"),        // "z z z" ×3 in ONE doc -> df 1, not 3
      (5L, "w x"),              // < 3 words: no grams
      (6L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = TextAnalysis.boilerplateNgrams(d, minDf = 2, topK = 20).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("a b c", 3L), ("b c d", 2L)))
    // per-doc repetition collapses: at minDf=1 "z z z" has df exactly 1
    val all = TextAnalysis.boilerplateNgrams(d, minDf = 1, topK = 20).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(all("z z z") == 1L)
    // top-k cuts on the (df DESC, gram) total order
    val top2 = TextAnalysis.boilerplateNgrams(d, minDf = 1, topK = 2).collect()
      .map(_.getString(0)).toSeq
    assert(top2 == Seq("a b c", "b c d"))
  }

  test("packingStats: hand-computed fill and fragmentation at seqLen=10") {
    import spark.implicits._
    // source s1 in doc_id order: 7, 6, 4, 9 tokens; cum 7,13,17,26
    //   seqs: d1 [0,0], d2 [0,1] SPLIT, d3 [1,1], d4 [1,2] SPLIT
    //   n_seqs 3, fill 26/30, splits 2/4
    // source s2: 10, 5; cum 10,15 -> d5 [0,0], d6 [1,1]; fill 15/20
    val mk = (n: Int) => Seq.fill(n)("w").mkString(" ")
    val d = Seq(
      (1L, mk(7), "s1"), (2L, mk(6), "s1"), (3L, mk(4), "s1"),
      (4L, mk(9), "s1"), (5L, mk(10), "s2"), (6L, mk(5), "s2"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = CorpusOps.packingStats(d, 10L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getDouble(6))).toSeq
    assert(got == Seq(
      ("s1", 4L, 26L, 3L, BigDecimal(26.0 / 30).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble, 2L, 0.5),
      ("s2", 2L, 15L, 2L, 0.75, 0L, 0.0)))
  }

  test("dataCard: one-row summary matches hand computation, formulas agree with health report") {
    import spark.implicits._
    val d = Seq(
      (1L, "the quick brown fox", "en", "s1"),
      (2L, "THE QUICK  brown FOX!!", "en", "s2"), // normalized dup of 1
      (3L, "something else", "fr", "s1"),
      (4L, "", "en", "s1"),
      (5L, null.asInstanceOf[String], "de", "s2"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val r = CorpusOps.dataCard(d).collect().head
    assert(r.getLong(0) == 5 && r.getLong(1) == 2 && r.getLong(2) == 3)
    assert(r.getLong(3) == 4 + 4 + 2 + 1) // ''.split -> [''] counts 1; null skipped
    // 3 distinct fingerprints over 4 non-null texts ('' has a fp too...
    // md5('') counts) -> distinct fps: fp(1)=fp(2), fp(3), fp(4) = 3; 1 - 3/5
    assert(r.getDouble(5) == BigDecimal(1.0 - 3.0 / 5).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r.getDouble(6) == 0.4) // '' and null
    // global dup/empty formulas == health report's, summed over sources
    val hr = CorpusOps.sourceHealthReport(d).collect()
    assert(hr.map(_.getLong(1)).sum == r.getLong(0))
  }

  test("round-8 operator properties on a random corpus: bounded scores, exact quotas, weight normalization") {
    import spark.implicits._
    val rng = new scala.util.Random(41)
    val words = Seq("alpha", "beta", "gamma", "delta", "the", "a", "of",
      "epsilon", "zeta", "eta", "theta", "iota")
    val d = (0 until 60).map { i =>
      val n = 4 + rng.nextInt(30)
      (i.toLong, Seq.fill(n)(words(rng.nextInt(words.size))).mkString(" "),
        "en", s"s${i % 4}")
    }.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    // containment ∈ (0, 1]
    val cont = Dedup.containmentPairs(d, minContainment = 0.01, maxFpDf = 64)
      .collect().map(_.getDouble(3))
    assert(cont.forall(c => c > 0 && c <= 1.0), "containment out of (0,1]")
    // novelty ∈ [0, 1], n_novel <= n_grams
    val nov = TextAnalysis.ngramNovelty(d).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(nov.nonEmpty && nov.forall { case (g, n, s) =>
      n <= g && s >= 0.0 && s <= 1.0 })
    // mix weights sum to 1, epochs = budget * weight / tokens
    val mix = CorpusOps.sourceMixWeights(d, 0.6, 50000L).collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(math.abs(mix.map(_._2).sum - 1.0) < 1e-5)
    mix.foreach { case (n, w, e) =>
      assert(math.abs(e - 50000.0 * w / n) < 0.01, s"epochs mismatch: $n $w $e") }
    // stratified: every bucket contributes exactly min(quota, size)
    val strat = CorpusOps.stratifiedQualitySample(d, Seq("the", "a", "of"),
      nBuckets = 6, quota = 5, salt = "p8")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val perBucket = strat.groupBy(_._2).view.mapValues(_.length).toMap
    // 60 docs over 6 buckets = 10 each, all >= quota -> exactly 5 each
    assert(perBucket == (0L until 6L).map(_ -> 5).toMap, s"quotas: $perBucket")
    assert(strat.map(_._1).distinct.length == strat.length)
  }

  test("fixEncoding: repairs every mojibake pattern, clean text untouched, null passes through") {
    import spark.implicits._
    val allBroken = Cleaning.mojibakePatterns.map(_._1).mkString("|")
    val allFixed = Cleaning.mojibakePatterns.map(_._2).mkString("|")
    val d = Seq(
      (1L, s"prefix $allBroken suffix"),
      (2L, "perfectly clean ascii text"),
      (3L, "donâ€™t panic â€” itâ€™s cafÃ© time"),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = Cleaning.fixEncoding(d).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getAs[String]("text"),
        r.getAs[Boolean]("was_broken"))).toSeq
    assert(got(0) == ((1L, s"prefix $allFixed suffix", true)))
    assert(got(1) == ((2L, "perfectly clean ascii text", false)))
    assert(got(2) == ((3L, "don’t panic — it’s café time", true)))
    assert(got(3)._2 == null && !got(3)._3)
  }

  test("ngramNovelty: unique doc scores 1, duplicated pair 0, partial overlap exact, shingle-less absent") {
    val d = docs(
      1L -> "wholly original words never repeated anywhere",
      2L -> "template header common body tail",
      3L -> "template header common body tail",   // exact dup of 2 -> 0
      4L -> "template header common unique ending here", // shares 2 of its grams
      5L -> "too short")                          // < 3 words: no row
    val got = TextAnalysis.ngramNovelty(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val m = got.map(x => x._1 -> x).toMap
    assert(!m.contains(5L) && m.size == 4)
    assert(m(1L) == (1L, 4L, 4L, 1.0))
    assert(m(2L)._4 == 0.0 && m(3L)._4 == 0.0)
    // doc 4 grams: [template header common](df3), [header common unique](1),
    // [common unique ending](1), [unique ending here](1) -> 3/4
    assert(m(4L) == (4L, 4L, 3L, 0.75))
  }

  test("dupSourceMatrix: cross-source attribution over normalized fingerprints, nulls excluded") {
    import spark.implicits._
    val d = Seq(
      (1L, "Hello World!", "s1"),
      (2L, "hello world", "s2"),
      (3L, "hello, WORLD", "s3"),     // all three sources share fp(helloworld)
      (4L, "second shared doc", "s1"),
      (5L, "SECOND shared DOC", "s2"), // s1-s2 share a second fp
      (6L, "only in s1", "s1"),
      (7L, "only in s1", "s1"),       // intra-source dup: no pair row
      (8L, null.asInstanceOf[String], "s2"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = Dedup.dupSourceMatrix(d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(("s1", "s2", 2L), ("s1", "s3", 1L), ("s2", "s3", 1L)))
  }

  test("containmentPairs: embedded substring scores high containment, unrelated absent, bounded by 1") {
    val rng = new scala.util.Random(7)
    def randText(n: Int) =
      (0 until n).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    val long = randText(400)
    val short = long.substring(120, 270) // 150-char interior quote
    val d = docs(
      1L -> long,
      2L -> short,
      3L -> long,          // exact dup of 1 -> containment 1.0
      4L -> randText(300)) // unrelated
    val got = Dedup.containmentPairs(d, minContainment = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    // the quote is contained in BOTH copies of the long doc
    assert(got.contains((1L, 2L)) && got.contains((2L, 3L)),
      s"missing containment pairs: ${got.keySet}")
    assert(got((1L, 3L))._2 == 1.0, "exact dup must have containment 1.0")
    assert(got((1L, 2L))._2 >= 0.5 && got.values.forall(_._2 <= 1.0))
    assert(!got.keySet.exists { case (a, b) => a == 4L || b == 4L },
      "unrelated doc must not pair")
    // persisted-fingerprint path ≡ in-plan
    val dir = java.nio.file.Files.createTempDirectory("graft_contain").toString
    Dedup.writeWinnowFingerprints(d, dir)
    val fromDisk = Dedup.containmentPairsFromFingerprints(
        spark.read.parquet(dir), 0.5, 64)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    assert(fromDisk == got)
  }

  test("stratifiedQualitySample: exact per-stratum quotas, integer bucket math, deterministic winners") {
    import spark.implicits._
    val sw = Seq("the", "a", "of", "and")
    // 21 docs with score i/20 (strictly increasing with doc_id) + a null
    val rows = (0 to 20).map { i =>
      (i.toLong, (Seq.fill(i)("the") ++ Seq.fill(20 - i)("xyz")).mkString(" "))
    } :+ (99L, null.asInstanceOf[String])
    val d = rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = CorpusOps.stratifiedQualitySample(d, sw, nBuckets = 4, quota = 2,
        salt = "s8")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // replicate the contract: rank by (score asc, doc_id), null -> -1.0
    def score(t: (Long, String)): Double =
      if (t._2 == null) -1.0
      else {
        val w = t._2.trim.split("\\s+")
        BigDecimal(w.count(sw.contains).toDouble / w.length)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    val ranked = rows.sortBy(t => (score(t), t._1)).zipWithIndex
    val n = rows.length
    val expBucket = ranked.map { case ((id, _), idx) =>
      id -> (idx.toLong * 4 / n)
    }.toMap
    got.foreach { case (id, b, _) =>
      assert(b == expBucket(id), s"doc $id bucket $b != ${expBucket(id)}") }
    // exact quotas: every stratum has >= 2 docs here, so exactly 2 each
    assert(got.groupBy(_._2).view.mapValues(_.length).toMap ==
      Map(0L -> 2, 1L -> 2, 2L -> 2, 3L -> 2))
    // winners are the quota smallest u32(md5(salt:doc_id)) per stratum
    def u32(id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"s8:$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(h.take(4).map("%02x".format(_)).mkString, 16)
    }
    val expWinners = expBucket.groupBy(_._2).view.mapValues(
      _.keys.toSeq.sortBy(id => (u32(id), id)).take(2).toSet).toMap
    got.groupBy(_._2).foreach { case (b, xs) =>
      assert(xs.map(_._1).toSet == expWinners(b), s"bucket $b winners") }
    // determinism
    val again = CorpusOps.stratifiedQualitySample(d, sw, 4, 2, "s8")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(again.toSeq == got.toSeq)
  }

  test("sourceVocabOverlap: hand-computed jaccard, zero-overlap pair present") {
    import spark.implicits._
    val d = Seq(
      (1L, "red apple pie", "en", "s1"),
      (2L, "apple pie crust", "en", "s2"),
      (3L, "zebra", "en", "s3"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = TextAnalysis.sourceVocabOverlap(d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    // s1={red,apple,pie} s2={apple,pie,crust}: common 2, union 4 -> 0.5
    // zero-overlap pairs with s3 must be PRESENT rows
    assert(got == Seq(
      ("s1", "s2", 2L, 0.5),
      ("s1", "s3", 0L, 0.0),
      ("s2", "s3", 0L, 0.0)))
    // plan shape: the pair panel must be a broadcast nested loop, never
    // a CartesianProduct stage (the AQE hazard of an unhinted crossJoin)
    val plan = TextAnalysis.sourceVocabOverlap(d)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"vocab-overlap panel fell to a cartesian stage:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"vocab-overlap panel lost its broadcast hint:\n$plan")
  }

  test("bloomAdmit: duplicates never admitted, novels pass, deterministic") {
    val corpus = docs(
      1L -> "alpha beta gamma delta",
      2L -> "omega psi chi phi")
    val incoming = docs(
      10L -> "alpha beta gamma delta",        // exact dup of corpus 1
      11L -> "Alpha, beta gamma DELTA!",      // normalized dup of corpus 1
      12L -> "completely novel document text",
      13L -> "another previously unseen page")
    val admitted = Dedup.bloomAdmit(incoming, corpus,
        expectedItems = 2, fpp = 1e-6)
      .collect().map(_.getLong(0)).toSeq
    // no false negatives ever; at fpp 1e-6 with 2 items the novel docs
    // deterministically pass (bloom bits are a pure function of input)
    assert(admitted == Seq(12L, 13L))
    val again = Dedup.bloomAdmit(incoming, corpus, 2, 1e-6)
      .collect().map(_.getLong(0)).toSeq
    assert(again == admitted)
  }

  test("clusterBalancedSample: exact per-cell quotas, full coverage, deterministic") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val smp = CorpusOps.clusterBalancedSample(emb, k = 4, quota = 10)
    val rows = smp.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // no vector twice
    assert(rows.map(_._1).distinct.length == rows.length)
    // per cell: exactly min(quota, cell size) sampled
    val perCell = rows.groupBy(_._2)
    perCell.foreach { case (cell, rs) =>
      val nCell = rs.head._3
      assert(rs.forall(_._3 == nCell), s"cell $cell inconsistent n_cell")
      assert(rs.length == math.min(10L, nCell), s"cell $cell quota")
    }
    // coverage: sampled cells' sizes account for the whole corpus
    assert(perCell.values.map(_.head._3).sum == emb.count())
    // deterministic md5 coin: identical output across runs
    val again = CorpusOps.clusterBalancedSample(emb, k = 4, quota = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(again.toSeq == rows.toSeq)
    // persisted-centroids path ≡ in-plan training (train once,
    // sample many — kmeansCentroids is deterministic)
    val dir = java.nio.file.Files.createTempDirectory("graft_cbs").toString
    Similarity.writeKmeansCentroids(emb, dir, k = 4, rounds = 3)
    val fromDisk = CorpusOps.clusterBalancedSampleFromCentroids(
        emb, spark.read.parquet(dir), quota = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(fromDisk.toSeq == rows.toSeq)
  }

  test("rakeKeywords: hand-computed deg/freq scores, stopword phrase split") {
    // tokens: the,red,apple,of,the,green,orchard,and,red,apple,pie
    // phrases: "red apple", "green orchard", "red apple pie"
    // freq/deg: red 2/5, apple 2/5, green 1/2, orchard 1/2, pie 1/3
    // scores: red apple pie = 2.5+2.5+3 = 8; red apple = 5; green orchard = 4
    val d = docs(1L -> "the red apple of the green orchard and red apple pie")
    val got = TextAnalysis.rakeKeywords(d, Seq("the", "a", "of", "and"), 3)
      .collect().map(r => (r.getLong(1), r.getString(2), r.getDouble(3))).toSeq
    assert(got == Seq(
      (1L, "red apple pie", 8.0),
      (2L, "red apple", 5.0),
      (3L, "green orchard", 4.0)))
    // stopword-only doc: no candidate phrases, no rows, no crash
    assert(TextAnalysis.rakeKeywords(
      docs(2L -> "the of and a the"), Seq("the", "a", "of", "and"), 3).count() == 0)
  }

  test("crossCorpusPairs: copied doc collides across corpora, persist path agrees") {
    val prose = "the quick brown fox jumps over the lazy dog near the river bank today"
    val a = docs(
      1L -> prose,
      2L -> "completely different words about cooking pasta with garlic and olive oil",
      3L -> "short")
    val b = docs(
      100L -> prose,                                          // copy of a:1
      101L -> "yet another unrelated text on mountain weather patterns in spring",
      102L -> "tiny")                                          // shingle-less
    val got = Dedup.crossCorpusPairs(a, b, 3, 8, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.map(p => (p._1, p._2)) == Seq((1L, 100L)))
    assert(got.head._3 == 1.0) // identical text -> all 8 slots agree
    // persisted signatures on both sides produce the same pairs
    val da = java.nio.file.Files.createTempDirectory("graft_xc_a").toString
    val db = java.nio.file.Files.createTempDirectory("graft_xc_b").toString
    Dedup.writeSignatures(a, da, 3, 8)
    Dedup.writeSignatures(b, db, 3, 8)
    val fromDisk = Dedup.crossCorpusPairsFromSignatures(
        spark.read.parquet(da), spark.read.parquet(db), 8, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(fromDisk == got)
  }

  test("clustersFromPairs: driver path under the gate ≡ distributed loop, empty pairs are singletons") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val n = 60
    val edges = (0 until 45).map { _ =>
      val a = rng.nextInt(n).toLong; val b = rng.nextInt(n).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    val docs = (0L until n.toLong).toDF("doc_id")
    val pairs = edges.toDF("doc_a", "doc_b")
    val want = Dedup.clustersByMinLabel(docs, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // under the gate: driver union-find + broadcast join-back
    val got = Dedup.clustersFromPairs(docs, pairs)
    assert(got.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "driver path must broadcast the member-label table")
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == want)
    // no pairs at all: every doc is its own singleton cluster
    val none = Dedup.clustersFromPairs(docs,
        Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(none == (0L until n.toLong).map(i => (i, i)))
  }

  test("duplicateClusters over real near-dups ≡ the distributed loop's labels") {
    val base = Seq(
      "the quick brown fox jumps over the lazy dog near the river bank today",
      "spark streaming reads capture files and writes unified data model events",
      "minhash bands collide when two documents share most of their shingles",
      "a completely unrelated sentence about weather patterns in the mountains")
    // each base text, an exact copy, and a copy with its last word edited
    val rows = base.zipWithIndex.flatMap { case (t, i) =>
      val id = i * 10L
      Seq(id -> t, (id + 1) -> t, (id + 2) -> (t.split(" ").init :+ "edited").mkString(" "))
    } :+ (99L -> "hi")
    val d = docs(rows: _*)
    val pairs = Dedup.minhashCandidatePairs(d, 3, 8, 4).select("doc_a", "doc_b")
    val want = Dedup.clustersByMinLabel(d.select("doc_id"), pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val got = Dedup.duplicateClusters(d, 3, 8, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want)
    // the exact copies always cluster with their original
    base.indices.foreach { i =>
      assert(got.contains((i * 10L + 1, i * 10L)), s"exact copy of $i not clustered: $got")
    }
    assert(got.contains((99L, 99L)))
  }

  test("candidatePairsFromSignatures broadcasts the band self-join over an admission-sized cached table") {
    // 1,000 docs of 12 words from a 200-word vocabulary: the size of one
    // admission micro-batch
    val rng = new scala.util.Random(11)
    val d = docs((1L to 1000L).map(i =>
      i -> Seq.fill(12)(s"w${rng.nextInt(200)}").mkString(" ")): _*)
    val sig = Dedup.minhashSignatures(d, 3, 8).cache()
    try {
      assert(sig.count() > 0)
      val pairs = Dedup.candidatePairsFromSignatures(sig, 8, 4)
      val plan = pairs.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
        s"planner did not broadcast the band self-join:\n$plan")
    } finally { sig.unpersist(); () }
  }

  test("persisted simhash fingerprints band to the same near-dup pairs") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_simhash_fp").toString
    Dedup.writeSimhashFingerprints(d, dir)
    val fromDisk = Dedup.simhashNearDupPairsFromFingerprints(
        spark.read.parquet(dir), 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val inPlan = Dedup.simhashNearDupPairs(d, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(fromDisk.nonEmpty && fromDisk == inPlan)
  }

  test("k-means IVF: unlabeled centroids, recall floor, persist round-trip") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qids = Seq(0L, 1L, 2L)
    val cells = Similarity.kmeansCentroids(emb, 8, 4)
    assert(cells.count() == 8)
    // training never touched the label column (schema proves it usable
    // on unlabeled corpora)
    val unlabeled = emb.drop("label")
    assert(Similarity.kmeansCentroids(unlabeled, 8, 4).collect().map(_.getInt(0)).sorted
      .sameElements(0 until 8))

    val exact = Similarity.bruteForceTopK(emb, qids, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // probing every cell is exhaustive search == brute force
    val probeAll = Similarity.ivfTopKByCells(emb, cells, qids, 10, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probeAll == exact)
    // the r3 label-based quantizer's spec floor: nProbe=3 recall must
    // hold for the unlabeled quantizer too
    val probe3 = Similarity.ivfTopKByCells(emb, cells, qids, 10, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val recall = probe3.count(exact.contains).toDouble / exact.size
    assert(recall >= 0.5, s"kmeans-IVF recall@10 with 3/8 probes: $recall")

    val dir = java.nio.file.Files.createTempDirectory("graft_kmeans").toString
    Similarity.writeKmeansCentroids(emb, dir, 8, 4)
    val restored = spark.read.parquet(dir)
    val fromDisk = Similarity.ivfTopKByCells(emb, restored, qids, 10, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getLong(4))).toSeq
    val inPlan = Similarity.ivfTopKByCells(emb, cells, qids, 10, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getLong(4))).toSeq
    assert(fromDisk.nonEmpty && fromDisk == inPlan)
  }

  test("int8 quantization: bounded codes, high recall, persist round-trip") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = Similarity.quantizeEmbeddings(emb)
    val codes = q.select(explode(col("qvec")).as("c"))
      .agg(min("c"), max("c")).head()
    assert(codes.getByte(0) >= -127 && codes.getByte(1) <= 127)

    val qids = Seq(0L, 1L, 2L)
    val exact = Similarity.bruteForceTopK(emb, qids, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.quantizedTopK(q, qids, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val recall = quant.count(exact.contains).toDouble / exact.size
    assert(recall >= 0.9, s"int8 recall@10: $recall")

    val dir = java.nio.file.Files.createTempDirectory("graft_quant").toString
    Similarity.writeQuantized(emb, dir)
    val fromDisk = Similarity.quantizedTopK(spark.read.parquet(dir), qids, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getLong(4))).toSeq
    val inPlan = Similarity.quantizedTopK(q, qids, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getLong(4))).toSeq
    assert(fromDisk.nonEmpty && fromDisk == inPlan)
  }

  test("binary quantization: bit packing exact, Hamming ≡ JVM reference, persist round-trip") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val bits = Similarity.binaryQuantize(emb)
    // packing is exactly the strict-positive sign test, bit d of word d/64
    val raw = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    bits.collect().take(50).foreach { r =>
      val (id, words) = (r.getLong(0), r.getSeq[Long](2))
      val vec = raw(id)
      assert(words.length == (vec.length + 63) / 64)
      vec.indices.foreach { d =>
        val bit = (words(d / 64) >> (d % 64)) & 1L
        assert((bit == 1L) == (vec(d) > 0f), s"vec $id dim $d")
      }
    }
    // Hamming top-k matches a JVM sign-disagreement reference exactly
    val qids = Seq(0L, 1L, 2L)
    val got = Similarity.hammingTopK(emb, qids, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val want = qids.flatMap { q =>
      raw.iterator.filter(_._1 != q)
        .map { case (id, v) =>
          (id, v.indices.count(d => (v(d) > 0f) != (raw(q)(d) > 0f)).toLong)
        }
        .toSeq.sortBy { case (id, h) => (h, id) }.take(5).zipWithIndex
        .map { case ((id, h), i) => (q, id, h, (i + 1).toLong) }
    }
    assert(got.sorted == want.sorted)
    // persisted 1-bit corpus searches identically to in-plan
    val dir = java.nio.file.Files.createTempDirectory("graft_binq").toString
    Similarity.writeBinary(emb, dir)
    val fromDisk = Similarity.hammingTopKFromBits(
        spark.read.parquet(dir), qids, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(fromDisk.nonEmpty && fromDisk == got)
  }

  test("binary quantization: odd dims (not divisible by 64) pack and search correctly") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    for (dim <- Seq(7, 64, 65, 130)) {
      val rows = (0 until 40).map(i =>
        (i.toLong, Array.fill(dim)((rng.nextGaussian()).toFloat).toSeq, 0))
      val emb = rows.toDF("vec_id", "embedding", "label")
      val raw = rows.map { case (id, v, _) => id -> v }.toMap
      val bits = Similarity.binaryQuantize(emb).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](2)).toMap
      raw.foreach { case (id, v) =>
        assert(bits(id).length == (dim + 63) / 64, s"dim $dim word count")
        v.indices.foreach { d =>
          assert((((bits(id)(d / 64) >> (d % 64)) & 1L) == 1L) == (v(d) > 0f),
            s"dim $dim vec $id bit $d")
        }
        // padding bits beyond dim stay zero (they'd corrupt distances)
        ((dim + 63) / 64 * 64 - 1 to dim by -1).foreach { d =>
          assert(((bits(id)(d / 64) >> (d % 64)) & 1L) == 0L,
            s"dim $dim vec $id pad bit $d set")
        }
      }
      val got = Similarity.hammingTopK(emb, Seq(0L), 5).collect()
        .map(r => (r.getLong(1), r.getLong(2))).toSeq
      val want = raw.iterator.filter(_._1 != 0L)
        .map { case (id, v) =>
          (id, v.indices.count(d => (v(d) > 0f) != (raw(0L)(d) > 0f)).toLong)
        }.toSeq.sortBy { case (id, h) => (h, id) }.take(5)
      assert(got == want, s"dim $dim top-5")
    }
    // empty embedding: empty bits, no ANSI descending-sequence crash
    val empties = Seq((0L, Seq.empty[Float], 0), (1L, Seq(1f, -1f), 0))
      .toDF("vec_id", "embedding", "label")
    val eb = Similarity.binaryQuantize(empties).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](2)).toMap
    assert(eb(0L).isEmpty && eb(1L).length == 1)
  }

  test("PCA: exact recovery on low-rank data, whitening variance, persist round-trip") {
    import spark.implicits._
    // rank-3 data in 16 dims (+ constant offset): top-3 components
    // must reconstruct every vector exactly (up to float ingest noise)
    val rng = new scala.util.Random(11)
    val basis = Array.fill(3, 16)(rng.nextGaussian())
    val rows = (0 until 300).map { i =>
      val c = Array.fill(3)(rng.nextGaussian() * 3.0)
      (i.toLong,
        Array.tabulate(16)(d =>
          ((0 until 3).map(j => c(j) * basis(j)(d)).sum + 5.0).toFloat).toSeq,
        i % 2)
    }
    val synth = rows.toDF("vec_id", "embedding", "label")
    val model = Similarity.pcaTrain(synth, 3)
    val m = model.collect().map(r => (r.getInt(0), r.getSeq[Double](2))).sortBy(_._1)
    val mean = m.head._2
    val comps = m.tail.map(_._2)
    val proj = Similarity.pcaProject(synth, model).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](2)).toMap
    rows.take(40).foreach { case (id, emb, _) =>
      val rec = Array.tabulate(16)(d =>
        mean(d) + comps.zipWithIndex.map { case (cv, c) => proj(id)(c) * cv(d) }.sum)
      val relErr = math.sqrt(
        emb.zip(rec).map { case (a, b) => (a - b) * (a - b) }.sum /
          emb.map(x => x.toDouble * x).sum)
      assert(relErr < 1e-3, s"vec $id relative recon err $relErr")
    }
    // eigenvalue = variance of the projected coordinate; whitening
    // rescales every coordinate to unit variance
    val white = Similarity.pcaProject(synth, model, whiten = true).collect()
      .map(_.getSeq[Double](2))
    (0 until 3).foreach { c =>
      val xs = white.map(_(c))
      val v = xs.map(x => x * x).sum / xs.length -
        math.pow(xs.sum / xs.length, 2)
      assert(math.abs(v - 1.0) < 0.05, s"whitened component $c variance $v")
    }
    // persist round-trip: read-back model projects identically
    val dir = java.nio.file.Files.createTempDirectory("graft_pca").toString
    Similarity.writePca(synth, dir, 3)
    val fromDisk = Similarity.pcaProject(synth, spark.read.parquet(dir))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](2)).toMap
    assert(fromDisk.keySet == proj.keySet)
    assert(proj.keys.forall(id =>
      fromDisk(id).zip(proj(id)).forall { case (a, b) => math.abs(a - b) < 1e-9 }))
  }

  test("PCA: tree-merged covariance equals naive driver math, partition-invariant, null rows excluded") {
    import spark.implicits._
    val rng = new scala.util.Random(29)
    val dim = 8
    val data = (0 until 211).map(i =>
      (i.toLong, Seq.fill(dim)((rng.nextGaussian() * 2.0).toFloat), i % 3))
    // a null embedding row must be excluded from train AND project
    val withNull = data :+ (999L, null.asInstanceOf[Seq[Float]], 0)
    val df = withNull.toDF("vec_id", "embedding", "label")
    // full-rank model: Σ λ·v·vᵀ reconstructs the covariance exactly
    val model = Similarity.pcaTrain(df.repartition(7), dim)
    val m = model.collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getSeq[Double](2))).sortBy(_._1)
    val mean = m.head._3
    // naive driver-side mean/cov over the SAME float-ingested values
    val vecs = data.map(_._2.map(_.toDouble).toArray)
    val n = vecs.length.toDouble
    val naiveMean = Array.tabulate(dim)(d => vecs.map(_(d)).sum / n)
    val naiveCov = Array.tabulate(dim, dim)((i, j) =>
      vecs.map(v => v(i) * v(j)).sum / n - naiveMean(i) * naiveMean(j))
    mean.zip(naiveMean).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, "mean mismatch") }
    val comps = m.tail
    (0 until dim).foreach { i => (0 until dim).foreach { j =>
      val rec = comps.map { case (_, ev, v) => ev * v(i) * v(j) }.sum
      assert(math.abs(rec - naiveCov(i)(j)) < 1e-7,
        s"cov($i,$j) recon $rec vs naive ${naiveCov(i)(j)}")
    }}
    // partitioning must not change the model (tree merge ≡ one partial)
    val single = Similarity.pcaTrain(df.coalesce(1), dim).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getSeq[Double](2))).sortBy(_._1)
    m.zip(single).foreach { case ((c1, e1, v1), (c2, e2, v2)) =>
      assert(c1 == c2 && math.abs(e1 - e2) < 1e-9 &&
        v1.zip(v2).forall { case (a, b) => math.abs(a - b) < 1e-7 },
        s"component $c1 differs across partitionings")
    }
    // null contract: train filtered it; project must agree (no null row out)
    val proj = Similarity.pcaProject(df, model).collect().map(_.getLong(0)).toSet
    assert(!proj.contains(999L) && proj.size == data.length)
    // binaryQuantize shares the contract: null embedding row dropped
    val bq = Similarity.binaryQuantize(df).collect().map(_.getLong(0)).toSet
    assert(!bq.contains(999L) && bq.size == data.length)
  }

  test("ivfPqAppend: frozen-model encode, identical vectors get identical codes, appended vectors searchable") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_app").toString
    Similarity.writeIvfPq(emb, dir, nCells = 8, m = 16, ksub = 32, rounds = 2)
    val nBase = spark.read.parquet(s"$dir/codes").count()
    // append EXACT copies of vec_id 0..4 under new ids
    val copies = emb.filter(col("vec_id") < 5)
      .withColumn("vec_id", col("vec_id") + 5000000L)
    Similarity.ivfPqAppend(copies, dir)
    val codes = spark.read.parquet(s"$dir/codes")
    assert(codes.count() == nBase + 5)
    // frozen model: an identical vector encodes to the identical
    // (cell, codes) whether encoded at build time or appended later
    val byId = codes.filter(col("vec_id") < 5 || col("vec_id") >= 5000000L)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(2), r.getSeq[Byte](3).toSeq)).toMap
    (0L until 5L).foreach { i =>
      assert(byId(i) == byId(i + 5000000L), s"codes diverge for copy of $i") }
    // the appended copy is found by searching its original's vector
    // (identical reconstruction -> it ties the query's own best score)
    val found = Similarity.ivfPqTopK(emb,
        spark.read.parquet(s"$dir/cells"),
        spark.read.parquet(s"$dir/codebook"), codes,
        Seq(0L, 1L, 2L, 3L, 4L), 3, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    (0L until 5L).foreach { i =>
      assert(found.contains((i, i + 5000000L)),
        s"appended copy of $i missing from its top-3") }
  }

  test("persisted IVF centroids round-trip: search equals in-plan training") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qids = Seq(0L, 1L, 2L)
    val dir = java.nio.file.Files.createTempDirectory("graft_centroids").toString
    Similarity.writeCentroids(emb, dir)
    val restored = spark.read.parquet(dir)
    val fromDisk = Similarity.ivfTopK(emb, restored, qids, 10, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getLong(4))).toSeq
    val inPlan = Similarity.ivfTopK(emb, qids, 10, nProbe = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getLong(4))).toSeq
    assert(fromDisk.nonEmpty && fromDisk == inPlan)
  }

  test("distributed percent_rank equals the window version; one reused range exchange") {
    import org.apache.spark.sql.expressions.Window
    // adversarial shape: few keys, duplicate order-values (the
    // tiebreaker column makes the order total), singleton key, and a
    // NULL key group (SQL windows rank it; the join must be null-safe)
    val df = spark.range(500).select(
      (col("id") % 3).cast("string").as("k"),
      (col("id") % 17).cast("double").as("v"),
      col("id").as("tid"))
      .union(Seq(("singleton", 99.0, 9999L)).toDF("k", "v", "tid"))
      .union(Seq((null.asInstanceOf[String], 1.0, 10000L),
        (null.asInstanceOf[String], 2.0, 10001L)).toDF("k", "v", "tid"))
    val dist = graft.metrics.Metrics.percentRankByKey(df, "k", Seq("v", "tid"))
      .select("k", "tid", "pct_rank")
    val win = df.select(col("k"), col("tid"),
      percent_rank().over(Window.partitionBy("k").orderBy("v", "tid")).as("pct_rank"))
    val got = dist.orderBy("k", "tid").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val want = win.orderBy("k", "tid").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == want.toSeq)

    // the correctness contract (round-9 form): the pid-stamped ranked
    // table is EAGERLY MATERIALIZED inside rankByKey — under AQE,
    // exchange REUSE alone is insufficient (the coalesced-read spec is
    // a per-consumer-stage decision; two consumers of one exchange can
    // observe different merged partition maps, diverging _pid). The
    // executed plan must therefore root the rank/offset consumers on
    // the checkpointed RDD, leaving at most the checkpoint's own range
    // exchange
    dist.collect()
    val plan = dist.queryExecution.executedPlan.toString
    val ranges = "rangepartitioning".r.findAllIn(plan.toLowerCase).length
    assert(ranges <= 1, s"rank consumers must read ONE materialized " +
      s"partition map, found $ranges range exchanges:\n$plan")

    // with exchange reuse disabled the contract cannot hold — the
    // operator must refuse at plan time, not return wrong ranks
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try intercept[IllegalArgumentException] {
      graft.metrics.Metrics.percentRankByKey(df, "k", Seq("v", "tid"))
    } finally spark.conf.set("spark.sql.exchange.reuse", "true")
  }

  test("rankByKey survives the AQE divergent-coalesce shape (union + coalesce(1) write)") {
    // round-9 regression: two rankByKey branches unioned and written
    // through coalesce(1) shifted one consumer's AQE advisory sizes;
    // without the eager checkpoint the offsets and ranks observed
    // DIFFERENT merged partition maps — duplicate ranks and ranks > n
    // (zorder_skip_stats emitted a phantom 17th bucket). Exact bucket
    // cardinality under this exact shape is the regression pin.
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val out = java.nio.file.Files.createTempDirectory("graft_rank_aqe").toString
    graft.metrics.Metrics.zorderSkipStats(ev, bits = 8, buckets = 16)
      .coalesce(1).write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out)
    val n = ev.count()
    val sizes = back.groupBy("layout").agg(
      sum("n").as("total"), countDistinct("bucket").as("nb"),
      max("bucket").as("maxb")).collect()
    assert(sizes.length == 2)
    sizes.foreach { r =>
      assert(r.getLong(1) == n, s"rank leak: ${r.toSeq}")
      assert(r.getLong(2) == 16 && r.getLong(3) == 15L,
        s"phantom bucket: ${r.toSeq}")
    }
    // every bucket within ±1 of the even split — only true when ranks
    // are an exact 1..n permutation
    val bad = back.filter(abs(col("n") - lit(n / 16)) > 1).count()
    assert(bad == 0, "uneven buckets — ranks were not exact")
  }

  test("cumulativeTokens skew-safe survives the AQE divergent-coalesce shape") {
    // ADVICE r9: the skew-safe branch uses the same pid-stamp pattern
    // as rankByKey (repartitionByRange + spark_partition_id with two
    // consumers: offsets aggregate and join side) and was exposed to
    // the same round-9 AQE hazard — per-consumer coalesced-read specs
    // diverging under a union + coalesce(1) write. The eager
    // localCheckpoint pins one partition map; this pins the fix: the
    // skew-safe output written through that exact shape must equal the
    // plain-window prefix sum bit-for-bit.
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = java.nio.file.Files.createTempDirectory("graft_cum_aqe").toString
    val skewed = graft.analytics.CorpusOps.cumulativeTokens(d, skewSafe = Some(true))
    skewed.union(skewed)
      .coalesce(1).write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out).select("doc_id", "cum_tokens")
    val truth = graft.analytics.CorpusOps.cumulativeTokens(d, skewSafe = Some(false))
      .select("doc_id", "cum_tokens")
    assert(back.count() == 2 * d.count(), "row leak through the union")
    // distinct of the union must be EXACTLY the truth set: if the two
    // branches observed different partition maps, a doc appears with
    // two different cum_tokens and the distinct set grows
    assert(back.distinct().count() == d.count(),
      "the two union branches disagreed — divergent partition maps")
    assert(back.distinct().except(truth).isEmpty,
      "skew-safe cum_tokens diverged from the window prefix sum under coalesce(1)")
  }

  test("corpus ops: selection composes gates; sampling is deterministic; budget cuts in order") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    // selection: every kept doc passes all three gates
    val sel = graft.analytics.CorpusOps.corpusSelect(
      d, graft.queries.Registry.stopwords, Seq("en", "de"))
    val kept = sel.collect()
    assert(kept.nonEmpty && kept.length < d.count())
    assert(kept.forall(r => Seq("en", "de").contains(r.getString(1))))
    assert(kept.forall(_.getLong(3) >= 10))

    // sampling: pure function of (doc_id, salt) — rerun identical,
    // different salt draws a different set, rate 0 empties a stratum
    val s1 = graft.analytics.CorpusOps.stratifiedSample(d, Map("en" -> 0.5), "a")
      .collect().map(_.getLong(0)).toSeq
    val s2 = graft.analytics.CorpusOps.stratifiedSample(d, Map("en" -> 0.5), "a")
      .collect().map(_.getLong(0)).toSeq
    val s3 = graft.analytics.CorpusOps.stratifiedSample(d, Map("en" -> 0.5), "b")
      .collect().map(_.getLong(0)).toSeq
    assert(s1 == s2 && s1 != s3)
    val zeroEn = graft.analytics.CorpusOps.stratifiedSample(d, Map("en" -> 0.0), "a")
    assert(zeroEn.filter(col("lang") === "en").count() == 0)
    assert(zeroEn.filter(col("lang") =!= "en").count() ==
      d.filter(col("lang") =!= "en").count())

    // budget: prefix property — a kept doc implies every earlier doc of
    // the same source is kept too (the cut is a per-source prefix)
    val b = graft.analytics.CorpusOps.tokenBudget(d, 300L).collect()
      .map(r => (r.getString(1), r.getLong(0))).groupBy(_._1)
    val allBySource = d.select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
    assert(b.nonEmpty)
    b.foreach { case (src, rows) =>
      val keptIds = rows.map(_._2).toSet
      val prefix = allBySource(src).map(_._2).sorted.take(keptIds.size).toSet
      assert(keptIds == prefix, s"$src kept set is not a doc_id prefix")
    }
  }

  test("decontamination drops eval-overlapping docs, keeps clean and shingle-less docs") {
    val eval = docs(100L -> "the quick brown fox jumps high")
    val train = docs(
      1L -> "yesterday the quick brown fox escaped again",   // shares "the quick brown"
      2L -> "completely unrelated text about spark clusters", // clean
      3L -> "two words")                                      // < 3 words: no shingles
    val kept = CorpusOps.decontaminate(train, eval, 3).collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(2L, 3L))
  }

  test("contaminationScore reports exact overlap fractions, zero-shingle docs score 0") {
    val eval = docs(100L -> "the quick brown fox jumps high")
    val train = docs(
      1L -> "yesterday the quick brown fox escaped again",  // 2 of 5 grams hit
      2L -> "completely unrelated text about spark clusters", // 0 hits
      3L -> "two words")                                      // no shingles
    val out = CorpusOps.contaminationScore(train, eval, 3)
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 1 grams: [yesterday the quick][the quick brown][quick brown fox]
    // [brown fox escaped][fox escaped again] — middle two are in eval
    assert(out(1L).getLong(1) == 5 && out(1L).getLong(2) == 2)
    assert(out(1L).getDouble(3) == 0.4)
    assert(out(2L).getLong(2) == 0 && out(2L).getDouble(3) == 0.0)
    assert(out(3L).getLong(1) == 0 && out(3L).getDouble(3) == 0.0)
    // shuffle fallback (threshold 0) computes the same report
    val viaShuffle = CorpusOps.contaminationScore(train, eval, 3,
      broadcastBytesThreshold = 0L).collect().toSeq
    assert(viaShuffle == CorpusOps.contaminationScore(train, eval, 3,
      broadcastBytesThreshold = Long.MaxValue).collect().toSeq)
  }

  test("mixture sampling: untargeted sources drop, full weight keeps a whole source") {
    import spark.implicits._
    val d = (1L to 40L).map(i => (i, "en", if (i <= 20) "a" else "b", s"doc $i text"))
      .toDF("doc_id", "lang", "source", "text")
    // target only source a, with want = 1000 permille of outTotal=20 ->
    // want_a = 20 = n_a -> threshold 2^32: every a-doc kept, b dropped
    val all = CorpusOps.mixtureSample(d, Map("a" -> 1000L), 20L, "s").collect()
    assert(all.length == 20 && all.forall(_.getString(2) == "a"))
    // deterministic: same inputs -> identical sample
    val half1 = CorpusOps.mixtureSample(d, Map("a" -> 500L, "b" -> 500L), 20L, "s")
      .collect().map(_.getLong(0)).toSeq
    val half2 = CorpusOps.mixtureSample(d, Map("a" -> 500L, "b" -> 500L), 20L, "s")
      .collect().map(_.getLong(0)).toSeq
    assert(half1 == half2 && half1.nonEmpty && half1.length < 40)
  }

  test("exact-k sampling: fixed quota per source, deterministic, salt-sensitive") {
    import spark.implicits._
    val d = (1L to 30L).map(i => (i, "t", "en", if (i <= 20) "a" else "b"))
      .toDF("doc_id", "text", "lang", "source")
    val s1 = CorpusOps.exactSamplePerSource(d, 5, "s1").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(s1.count(_._2 == "a") == 5 && s1.count(_._2 == "b") == 5)
    // deterministic across runs
    val s1b = CorpusOps.exactSamplePerSource(d, 5, "s1").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(s1.toSeq == s1b.toSeq)
    // a different salt draws a different sample
    val s2 = CorpusOps.exactSamplePerSource(d, 5, "s2").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(s1.toSeq != s2.toSeq)
    // k >= group size returns the whole group
    assert(CorpusOps.exactSamplePerSource(d, 25, "s1").collect().length == 30)
  }

  test("sequence packing: spans and offsets follow the concatenated token stream") {
    val d = docs(1L -> "a b c", 2L -> "d e f g", 3L -> "h i")
    // one source, token counts 3,4,2; seqLen 4 -> cums 3,7,9
    val got = CorpusOps.packSequences(d, 4L).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      (1L, 3L, 0L, 0L, 0L),   // tokens 0..2 in seq 0
      (2L, 4L, 0L, 1L, 3L),   // tokens 3..6 straddle seqs 0-1, offset 3
      (3L, 2L, 1L, 2L, 3L)))  // tokens 7..8 straddle seqs 1-2, offset 3
  }

  test("nearestCell expression equals the composed greatest-of-structs form") {
    import spark.implicits._
    // duplicate centroids force score ties (-> higher cell id), the
    // zero vector forces all-NaN scores, a wrong-dim vector forces
    // all-null scores (-> max cell id, the greatest-struct artifact)
    val cents = Seq(
      0 -> Seq(1.0, 0.0, 0.0, 0.0), 1 -> Seq(0.0, 1.0, 0.0, 0.0),
      2 -> Seq(0.0, 1.0, 0.0, 0.0), 3 -> Seq(0.5, 0.5, 0.5, 0.5))
    val vecs = Seq(
      1L -> Seq(0.9, 0.1, 0.0, 0.0), 2L -> Seq(0.0, 2.0, 0.0, 0.0),
      3L -> Seq(0.0, 0.0, 0.0, 0.0), 4L -> Seq(1.0, 1.0),
      5L -> Seq(0.3, 0.3, 0.3, 0.3))
    val d = vecs.toDF("vec_id", "vec")
    val got = d.select(col("vec_id"),
        Similarity.nearestCell(col("vec"), cents).as("a"),
        Similarity.nearestCellComposed(col("vec"), cents).as("b"))
      .orderBy("vec_id").collect()
    got.foreach(r => assert(r.getInt(1) == r.getInt(2),
      s"vec ${r.getLong(0)}: expr ${r.getInt(1)} != composed ${r.getInt(2)}"))
    assert(got.map(_.getInt(1)).toSeq == Seq(0, 2, 3, 3, 3))
  }

  test("nearestCell survives k=256 x dim=1024 codegen and matches the join path") {
    import spark.implicits._
    val k = 256; val dim = 1024
    val cents = (0 until k).map(c =>
      c -> (0 until dim).map(j => ((c * 31 + j * 7) % 13 - 6).toDouble / 6.0))
    val vecs = (1L to 20L).map(i =>
      i -> (0 until dim).map(j => ((i * 17 + j * 3) % 11 - 5).toDouble / 5.0))
    val d = vecs.toDF("vec_id", "vec")
    // CODEGEN_ONLY + fallback=false: a generated-method/constant-pool
    // blowout (the greatest-of-structs cliff) throws instead of
    // silently degrading to interpreted eval
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val got =
      try d.select(col("vec_id"), Similarity.nearestCell(col("vec"), cents).as("cell"))
        .orderBy("vec_id").collect().map(r => r.getLong(0) -> r.getInt(1))
      finally {
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
        spark.conf.set("spark.sql.codegen.fallback", "true")
      }
    // driver-side argmax replication (same fold order, same tie rule)
    val expected = vecs.map { case (id, v) =>
      val scored = cents.map { case (c, cent) =>
        val dotVC = v.indices.foldLeft(0.0)((a, i) => a + v(i) * cent(i))
        val dotVV = v.foldLeft(0.0)((a, x) => a + x * x)
        val dotCC = cent.foldLeft(0.0)((a, x) => a + x * x)
        c -> dotVC / (math.sqrt(dotVV) * math.sqrt(dotCC))
      }
      id -> scored.maxBy { case (c, s) => (s, c) }._1
    }
    assert(got.toSeq == expected)

    // the broadcast-join assignment (the past-gate path) agrees
    val centDf = cents.toDF("cell", "centroid")
    val viaJoin = Similarity.assignCellsByJoin(
        d.withColumnRenamed("vec", "vec").select(col("vec_id"), col("vec")), centDf)
      .select("vec_id", "cell").orderBy("vec_id")
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    assert(viaJoin.toSeq == expected)
  }

  test("ivfTopKByCells inline and join assignment paths return identical top-k") {
    import spark.implicits._
    val emb = (0L until 40L).map { i =>
      (i, (0 until 8).map(j => ((i * 13 + j * 5) % 9 - 4).toFloat / 4.0f), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val cells = Similarity.kmeansCentroids(emb, 4, 2)
    def run(maxInline: Long) =
      Similarity.ivfTopKByCells(emb, cells, Seq(0L, 1L), 5, 2, maxInline)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSeq
    assert(run(4L << 20) == run(0L)) // inline expression vs broadcast join
  }

  test("cumulativeTokens skew-safe plan equals the window plan") {
    import spark.implicits._
    // multi-source, skewed, WITH a null source (PARTITION BY groups
    // nulls; the offsets join must too — the <=> key) and ties broken
    // by doc_id within source
    val multi = (1L to 40L).map { i =>
      val src = if (i <= 30) "dominant" else if (i <= 36) "minor" else null
      (i, s"tok ${"w " * (i % 5).toInt}".trim, "en", src)
    }.toDF("doc_id", "text", "lang", "source")
    val single = (1L to 15L).map(i => (i, s"a b c ${i % 3}", "en", "only"))
      .toDF("doc_id", "text", "lang", "source")
    for (d <- Seq(multi, single)) {
      val safe = CorpusOps.cumulativeTokens(d, skewSafe = Some(true))
      val window = CorpusOps.cumulativeTokens(d, skewSafe = Some(false))
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), Option(r.getString(1)).getOrElse(""), r.getLong(2), r.getLong(3))
      assert(safe.select("doc_id", "source", "n_tokens", "cum_tokens")
        .collect().map(key).sortBy(_._1).toSeq ==
        window.select("doc_id", "source", "n_tokens", "cum_tokens")
          .collect().map(key).sortBy(_._1).toSeq)
      // plan shape: the corpus-sized window runs per (partition, source)
      // — never one reducer per source — while the window plan has no
      // partition-id column anywhere
      assert(safe.queryExecution.optimizedPlan.toString.contains("_pid"))
      assert(!window.queryExecution.optimizedPlan.toString.contains("_pid"))
    }
  }

  test("cumulativeTokens auto-selects the plan from source dominance") {
    import spark.implicits._
    val dominant = (1L to 40L).map(i =>
      (i, "a b c", "en", if (i <= 35) "big" else s"s$i"))
      .toDF("doc_id", "text", "lang", "source")
    val balanced = (1L to 40L).map(i => (i, "a b c", "en", s"src${i % 8}"))
      .toDF("doc_id", "text", "lang", "source")
    assert(CorpusOps.cumulativeTokens(dominant)
      .queryExecution.optimizedPlan.toString.contains("_pid"))
    assert(!CorpusOps.cumulativeTokens(balanced)
      .queryExecution.optimizedPlan.toString.contains("_pid"))
    // a NULL-dominant corpus probes without NPE and picks skew-safe
    val nullDominant = (1L to 40L).map(i =>
      (i, "a b c", "en", if (i <= 30) null else s"s$i"))
      .toDF("doc_id", "text", "lang", "source")
    assert(CorpusOps.cumulativeTokens(nullDominant)
      .queryExecution.optimizedPlan.toString.contains("_pid"))
    // the decision memoizes per analyzed plan: a second operator over
    // the SAME corpus reuses it (one entry, no growth) and agrees
    CorpusOps.probeMemo.clear()
    assert(!CorpusOps.cumulativeTokens(balanced)
      .queryExecution.optimizedPlan.toString.contains("_pid"))
    val sizeAfterFirst = CorpusOps.probeMemo.size
    assert(!CorpusOps.tokenBudget(balanced, 100L)
      .queryExecution.optimizedPlan.toString.contains("_pid"))
    assert(CorpusOps.probeMemo.size == sizeAfterFirst)
  }

  test("dominanceProbe: O(k) sketch never misses a majority source") {
    import spark.implicits._
    // 60% majority across MANY minor sources (sketch pressure: 40
    // distinct sources >> k=8) spread over several partitions
    val rows = (1L to 300L).map(i =>
      (i, "x", "en", if (i % 5 < 3) "maj" else s"minor${i % 40}"))
    val d = rows.toDF("doc_id", "text", "lang", "source").repartition(7)
    val (mgMax, slack, total) = CorpusOps.dominanceProbe(d)
    assert(total == 300)
    assert((mgMax + slack) * 2 >= total) // majority MUST be detected
    // balanced corpus with the same cardinality stays under the bar
    val bal = (1L to 300L).map(i => (i, "x", "en", s"s${i % 30}"))
      .toDF("doc_id", "text", "lang", "source").repartition(7)
    val (bMax, bSlack, bTotal) = CorpusOps.dominanceProbe(bal)
    assert((bMax + bSlack) * 2 < bTotal)
    // exact on <= k sources: counters are true counts
    val exact = (1L to 20L).map(i => (i, "x", "en", s"e${i % 4}"))
      .toDF("doc_id", "text", "lang", "source")
    assert(CorpusOps.dominanceProbe(exact)._1 == 5)
  }

  test("decontaminate shuffle fallback equals the broadcast branch") {
    val eval = docs(100L -> "the quick brown fox jumps high")
    val train = docs(
      1L -> "yesterday the quick brown fox escaped again",
      2L -> "completely unrelated text about spark clusters",
      3L -> "two words")
    val viaBroadcast = CorpusOps.decontaminate(train, eval, 3,
      broadcastBytesThreshold = Long.MaxValue)
    val viaShuffle = CorpusOps.decontaminate(train, eval, 3,
      broadcastBytesThreshold = 0L)
    // the gate really routed differently: only the broadcast branch
    // carries the explicit broadcast hint into the analyzed plan
    assert(viaBroadcast.queryExecution.analyzed.toString.contains("ResolvedHint"))
    assert(!viaShuffle.queryExecution.analyzed.toString.contains("ResolvedHint"))
    assert(viaBroadcast.collect().map(_.getLong(0)).toSeq ==
      viaShuffle.collect().map(_.getLong(0)).toSeq)
    assert(viaShuffle.collect().map(_.getLong(0)).toSeq == Seq(2L, 3L))
  }

  test("repetition scores: loops score high, prose scores 0, short docs score 0") {
    val d = docs(
      1L -> "a b a b a b",                   // bigrams: ab,ba,ab,ba,ab -> 2/5 distinct
      2L -> "every word here is different",  // no repeats
      3L -> "hi")                            // 1 word: no bigrams or trigrams
    val got = TextAnalysis.repetitionScores(d).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((0.6, 0.5)))  // bigrams 1 - 2/5; trigrams 1 - 2/4
    assert(got(2L) == ((0.0, 0.0)))
    assert(got(3L) == ((0.0, 0.0)))
  }

  test("zipfSlope fits the exact power law and drops slope-less sources") {
    import spark.implicits._
    // source "z": counts 8,4,2,1 over ranks 1..4 = an EXACT 2^-r law:
    // ln f = ln 16 - r ln 2, and ln r regressed on ln f of a perfect
    // geometric series has a known OLS slope; verify against a direct
    // JVM computation of the same formula
    val words = Seq.fill(8)("aa") ++ Seq.fill(4)("bb") ++ Seq.fill(2)("cc") ++ Seq("dd")
    val d = Seq((1L, words.mkString(" "), "en", "z", 1L),
      (2L, "solo", "en", "single", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.zipfSlope(d).collect()
    // "single" has one distinct token -> no slope -> dropped
    assert(out.map(_.getString(0)).toSeq == Seq("z"))
    val lnr = Seq(1.0, 2.0, 3.0, 4.0).map(math.log)
    val lnf = Seq(8.0, 4.0, 2.0, 1.0).map(math.log)
    val mr = lnr.sum / 4; val mf = lnf.sum / 4
    val slope = lnr.zip(lnf).map { case (a, b) => (a - mr) * (b - mf) }.sum /
      lnr.map(a => (a - mr) * (a - mr)).sum
    assert(out.head.getLong(1) == 4L)
    assert(math.abs(out.head.getDouble(2) - slope) < 5e-4)
    assert(out.head.getDouble(2) < -0.9) // steeper than flat: real decay
  }

  test("language id is deterministic and tie-breaks alphabetically") {
    val d = Seq((1L, "the a the", "xx", "s", 9L), (2L, "zz zz", "yy", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.languageId(d,
      Map("en" -> Seq("the", "a"), "fr" -> Seq("zz"), "de" -> Seq("zz")))
      .collect()
    assert(out(0).getString(2) == "en" && out(0).getLong(3) == 3)
    // zz matches both fr and de markers: alphabetical winner is de
    assert(out(1).getString(2) == "de")
  }

  test("media features decodes real PNG/JPEG dimensions from payload bytes") {
    val d = docs(1L -> "some payload text", 2L -> "some payload text")
    val rows = Multimodal.mediaFeatures(d).orderBy("doc_id").collect()
    // doc 1 (odd) -> JPEG, doc 2 (even) -> PNG; dims follow the formula
    assert(rows(0).getString(1) == "jpeg" && rows(1).getString(1) == "png")
    assert(rows(0).getInt(2) == Multimodal.synthWidth(1L))
    assert(rows(0).getInt(3) == Multimodal.synthHeight(1L))
    assert(rows(1).getInt(2) == Multimodal.synthWidth(2L))
    assert(rows(1).getInt(3) == Multimodal.synthHeight(2L))
    // the parser reads the BYTES, not the formula: hand it a PNG with
    // dimensions the formula never produces
    assert(graft.analytics.MediaDecode.decode(Multimodal.pngBytes(7777, 4242))
      .contains(("png", 7777, 4242)))
    assert(graft.analytics.MediaDecode.decode(Multimodal.jpegBytes(640, 480))
      .contains(("jpeg", 640, 480)))
    // truncated/corrupt images are data, not errors: stub fallback
    assert(graft.analytics.MediaDecode.decode(
      Multimodal.pngBytes(10, 10).take(12)).isEmpty)
    assert(graft.analytics.MediaDecode.decode(Array[Byte](0xff.toByte, 0xd8.toByte)).isEmpty)
  }

  test("truncatedTopK ranks by prefix cosine; MRL-structured prefixes keep recall") {
    import spark.implicits._
    // vectors whose signal lives in the first 2 dims (the MRL premise),
    // with small tail noise: prefix ranking must match full ranking
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.01f, -0.02f), 0),
      (1L, Array(0.9f, 0.1f, -0.01f, 0.01f), 0),
      (2L, Array(0.0f, 1.0f, 0.02f, 0.01f), 1),
      (3L, Array(0.1f, 0.9f, -0.02f, 0.0f), 1),
      (4L, Array(-1.0f, 0.1f, 0.01f, 0.02f), 2))
      .toDF("vec_id", "embedding", "label")
    val trunc = Similarity.truncateEmbeddings(vecs, 2)
    assert(trunc.collect().forall(_.getSeq[Double](2).length == 2))
    val topT = Similarity.truncatedTopK(trunc, Seq(0L), 2).collect()
    val topF = Similarity.bruteForceTopK(vecs, Seq(0L), 2).collect()
    // nearest to v0 is v1 in both the prefix and the full space
    assert(topT.head.getLong(1) == 1L && topF.head.getLong(1) == 1L)
    assert(topT.map(_.getLong(1)).toSeq == topF.map(_.getLong(1)).toSeq)
    // persist round-trip preserves the ranking
    val dir = java.nio.file.Files.createTempDirectory("graft_trunc").toString
    Similarity.writeTruncated(vecs, 2, dir)
    val back = Similarity.truncatedTopK(spark.read.parquet(dir), Seq(0L), 2)
      .collect().map(_.getLong(1)).toSeq
    assert(back == topT.map(_.getLong(1)).toSeq)
  }

  test("audioFeatures parses real WAV headers with chunk-walk containment") {
    // round-trip with parameters the synth formulas never produce:
    // the parser reads the BYTES, not the formula
    val pcm = Array.fill[Byte](1000)(7)
    val w = MediaDecode.wav(Multimodal.wavBytes(6, 96000, 24, pcm)).get
    assert((w.channels, w.sampleRate, w.bits) == ((6, 96000, 24)))
    assert(w.dataBytes == 1000L && w.byteRate == 6L * 96000 * 3)
    // an unknown chunk BEFORE fmt/data is skipped (RIFF order is free),
    // including the odd-length pad byte
    val base = Multimodal.wavBytes(2, 8000, 16, Array[Byte](1, 2, 3, 4))
    val list = "LIST".getBytes("US-ASCII") ++
      Array[Byte](3, 0, 0, 0, 9, 9, 9, 0) // size 3 + pad to 4
    val reordered = base.slice(0, 12) ++ list ++ base.drop(12)
    assert(MediaDecode.wav(reordered).contains(WavMeta(2, 8000, 16, 4L)))
    // truncated data chunk: declared size clamps to available bytes
    assert(MediaDecode.wav(base.dropRight(2)).contains(WavMeta(2, 8000, 16, 2L)))
    // not a RIFF / not WAVE / chopped header: None, never a throw
    assert(MediaDecode.wav("RIFFxxxxJUNK".getBytes("US-ASCII")).isEmpty)
    assert(MediaDecode.wav(base.take(11)).isEmpty)
    assert(MediaDecode.wav(Array.empty[Byte]).isEmpty)
    // operator path: duration from parsed byte rate over the corpus
    val d = docs(4L -> "0123456789abcdef")  // 16 data bytes
    val row = Multimodal.audioFeatures(d).collect().head
    // doc 4: 1 ch, 16 kHz, 8-bit -> byteRate 16000; 16 B * 1000 / 16000 = 1 ms
    assert(row.getString(1) == "wav" && row.getLong(2) == 1L)
    assert(row.getLong(3) == 16000L && row.getLong(4) == 8L)
    assert(row.getLong(5) == 1L && row.getLong(6) == 44L + 16L)
  }

  test("snapshotDiff: null text is presence, not absence") {
    import spark.implicits._
    def frame(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    val old = frame(1L -> "x", 2L -> null, 3L -> null)
    val neu = frame(1L -> null, 2L -> "y", 3L -> null)
    val out = CorpusOps.snapshotDiff(old, neu).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // x->NULL and NULL->y are CHANGED (both present); NULL->NULL is
    // unchanged and filtered — never 'removed'/'added' from a null hash
    assert(out == Map(1L -> "changed", 2L -> "changed"))
  }

  test("mmrRerank survives zero-magnitude vectors (NaN cosine) without crashing") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0.0f, 0.0f), 0), // zero vector: cosine NaN everywhere
      (3L, Array(0.5f, 0.5f), 0))
      .toDF("vec_id", "embedding", "label")
    // pool contains the zero vector; selection must skip past it and
    // stop when only NaN-scored candidates remain, never index -1
    val out = Similarity.mmrRerank(vecs, Seq(0L), 3, poolSize = 3, lambda = 0.5)
      .collect()
    assert(out.nonEmpty && out.forall(_.getLong(2) != 2L))
    // an all-NaN pool (zero query) yields an empty result, not a crash
    val zq = Similarity.mmrRerank(vecs, Seq(2L), 2, poolSize = 3, lambda = 0.5)
      .collect()
    assert(zq.forall(r => !r.getDouble(3).isNaN) || zq.isEmpty)
  }

  test("winnowPairsFromFingerprints dedups user-supplied fingerprint rows") {
    import spark.implicits._
    // doc 1 lists fp "f" TWICE; a naive self-join would count the pair
    // (1,2) with n_shared 2 and pass minShared=2 on one real fingerprint
    val fps = Seq((1L, "f"), (1L, "f"), (2L, "f"), (1L, "g"), (2L, "g"))
      .toDF("doc_id", "fp")
    val out = Dedup.winnowPairsFromFingerprints(fps, minShared = 2, maxFpDf = 8)
      .collect()
    assert(out.length == 1 &&
      out.head.getLong(0) == 1L && out.head.getLong(1) == 2L &&
      out.head.getLong(2) == 2L) // f and g once each — not f twice
  }

  test("snapshotDiff reports only the delta with correct statuses") {
    val old = docs(1L -> "one", 2L -> "two", 3L -> "three")
    val neu = docs(2L -> "two CHANGED", 3L -> "three", 4L -> "four")
    val out = CorpusOps.snapshotDiff(old, neu).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "removed", 2L -> "changed", 4L -> "added"))
    // identical snapshots: empty delta
    assert(CorpusOps.snapshotDiff(old, old).collect().isEmpty)
  }

  test("charEntropy hits the exact uniform bound and zero floors") {
    val d = docs(
      1L -> "abcdefghi", // 8 distinct bigrams, each once -> exactly 3 bits
      2L -> "aaa",       // one distinct bigram -> 0 bits
      3L -> "x",         // no bigrams at all
      4L -> "abab")      // ab x2, ba x1
    val out = TextAnalysis.charEntropy(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L) == ((8L, 3.0)))
    assert(out(2L) == ((2L, 0.0)))
    assert(out(3L) == ((0L, 0.0)))
    val expected4 = (math.log(3) - (2 * math.log(2)) / 3) / math.log(2)
    assert(out(4L)._1 == 3L &&
      math.abs(out(4L)._2 - expected4) < 5e-4)
  }

  test("bpePairCounts counts within-word pairs only, tie-broken by pair") {
    val d = docs(1L -> "aba ab x", 2L -> "ba")
    // word "aba": ab, ba; "ab": ab; "x": no pair; "ba": ba
    // -> ab x2, ba x2; tie broken by pair text ascending
    val out = TextAnalysis.bpePairCounts(d, 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("ab", 2L), ("ba", 2L)))
    // cross-word pairs never counted: "a b" has none
    assert(TextAnalysis.bpePairCounts(docs(1L -> "a b"), 5).collect().isEmpty)
    // topK truncates after the count-desc, pair-asc order
    assert(TextAnalysis.bpePairCounts(d, 1).collect()
      .map(_.getString(0)).toSeq == Seq("ab"))
  }

  test("kAnonymityAudit flags under-k quasi-identifier groups") {
    import spark.implicits._
    val d = (1L to 12L).map(i =>
      (i, "t", if (i <= 9) "en" else "de", if (i <= 9) "a" else "b"))
      .toDF("doc_id", "text", "lang", "source")
    val out = CorpusOps.kAnonymityAudit(d, Seq("lang", "source"), 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq == Seq(("de", "b", 3L, true), ("en", "a", 9L, false)))
  }

  test("dedupRateBySource counts normalized duplicates per source") {
    import spark.implicits._
    val d = Seq(
      (1L, "Hello World", "en", "a", 1L),
      (2L, "hello,   world!", "en", "a", 1L), // same normalized identity
      (3L, "different text", "en", "a", 1L),
      (4L, "unique per b", "en", "b", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.dedupRateBySource(d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("a") == ((3L, 2L, 0.3333)))
    assert(out("b") == ((1L, 1L, 0.0)))
  }

  test("winnowPairs pairs substring-sharing docs; stop fingerprints are capped") {
    val shared = "the quick brown fox jumps over the lazy dog again and again"
    val d = docs(
      1L -> s"prefix one $shared suffix alpha",
      2L -> s"totally different beginning $shared end two",
      3L -> "unrelated content with nothing matching anywhere at all here")
    val pairs = Dedup.winnowPairs(d, 8, 16, 2, 64).collect()
    // the copied substring links 1-2 with >= 2 shared fingerprints;
    // doc 3 shares no 8-char substring evidence with either
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L &&
      r.getLong(2) >= 2))
    assert(pairs.forall(r => r.getLong(0) != 3L && r.getLong(1) != 3L))
    // identical boilerplate in every doc + df cap below the doc count:
    // every fingerprint is a stop fingerprint, no pair survives
    val all = docs(1L -> shared, 2L -> shared, 3L -> shared)
    assert(Dedup.winnowPairs(all, 8, 16, 1, 2).collect().isEmpty)
    // raising the cap restores the evidence
    assert(Dedup.winnowPairs(all, 8, 16, 1, 3).collect().length == 3)
    // persist round-trip: fingerprint once, pair from the read-back table
    val dir = java.nio.file.Files.createTempDirectory("graft_winnow").toString
    Dedup.writeWinnowFingerprints(d, dir, 8, 16)
    val back = Dedup.winnowPairsFromFingerprints(
      spark.read.parquet(dir), 2, 64).collect()
    assert(back.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      pairs.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
  }

  test("centroidOutliers flags the farthest-from-centroid fraction per label") {
    import spark.implicits._
    // label 0: three tight vectors + one flipped outlier; label 1: two
    // vectors (exercises the floor-semantics cutoff)
    val vecs = Seq(
      (1L, Array(1.0f, 0.1f, 0.0f), 0),
      (2L, Array(1.0f, 0.0f, 0.1f), 0),
      (3L, Array(0.9f, 0.1f, 0.1f), 0),
      (4L, Array(-1.0f, 0.0f, 0.0f), 0), // points away from the centroid
      (5L, Array(0.0f, 1.0f, 0.0f), 1),
      (6L, Array(0.1f, 0.9f, 0.3f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidOutliers(vecs, 250)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    // label 0: 250 permille of 4 = rank 1 only -> vec 4
    assert(out(4L) && !out(1L) && !out(2L) && !out(3L))
    // label 1: floor semantics — rank 1 of 2 is the bottom HALF, not
    // the bottom quarter, so nothing is flagged at 250 permille
    assert(!out(5L) && !out(6L))
    // at 500 permille exactly one of the two is flagged
    val half = Similarity.centroidOutliers(vecs, 500)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(Seq(half(5L), half(6L)).count(identity) == 1)
    // permille 0 flags nothing
    assert(Similarity.centroidOutliers(vecs, 0)
      .collect().forall(!_.getBoolean(3)))
  }

  test("pqEncode stays compiled at real quantizer size (m=16, ksub=256, dim=1024)") {
    import spark.implicits._
    // m NearestCellExpr instances, each ksub x dsub: total matrix =
    // ksub x dim doubles — the same pinned regime as the coarse
    // quantizer, but spread over 16 expressions in ONE projection.
    // CODEGEN_ONLY + fallback=false: a generated-method/constant-pool
    // blowout throws instead of silently degrading to interpreted
    val m = 16; val ksub = 256; val dim = 1024; val dsub = dim / m
    val cents = (0 until ksub).map(c =>
      (0 until dsub).map(j => ((c * 31 + j * 7) % 13 - 6).toDouble / 6.0))
    val cb = (0 until m).flatMap(s => (0 until ksub).map(c => (s, c, cents(c))))
      .toDF("sub", "cell", "centroid")
    val vecs = (1L to 8L).map(i =>
      (i, (0 until dim).map(j => ((i * 17 + j * 3) % 11 - 5).toFloat / 5.0f), 0))
      .toDF("vec_id", "embedding", "label")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val got =
      try Similarity.pqEncode(vecs, cb).orderBy("vec_id").collect()
      finally {
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
        spark.conf.set("spark.sql.codegen.fallback", "true")
      }
    assert(got.length == 8 && got.forall(_.getSeq[Byte](2).length == m))
    // codes decode to valid cells and agree with interpreted eval
    val interp = Similarity.pqEncode(vecs, cb).orderBy("vec_id").collect()
    assert(got.map(_.getSeq[Byte](2)).toSeq == interp.map(_.getSeq[Byte](2)).toSeq)
  }

  test("mmrRerank swaps a redundant near-dup for a diverse candidate") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),  // the query
      (1L, Array(0.9f, 0.1f, 0.0f), 0),  // most relevant
      (2L, Array(0.9f, 0.11f, 0.0f), 0), // near-duplicate of 1
      (3L, Array(0.6f, 0.0f, 0.8f), 1))  // diverse, less relevant
      .toDF("vec_id", "embedding", "label")
    // plain top-2 returns the two near-duplicates
    val plain = Similarity.bruteForceTopK(vecs, Seq(0L), 2)
      .collect().map(_.getLong(1)).toSeq
    assert(plain == Seq(1L, 2L))
    // MMR at lambda=0.5 keeps the best and swaps the dup for the
    // diverse candidate; step-1 score is the pure relevance
    val mmr = Similarity.mmrRerank(vecs, Seq(0L), 2, poolSize = 3, lambda = 0.5)
      .collect()
    assert(mmr.map(_.getLong(2)).toSeq == Seq(1L, 3L))
    val rel1 = 0.9 / math.sqrt(0.9 * 0.9 + 0.1 * 0.1)
    assert(math.abs(mmr(0).getDouble(3) - rel1) < 5e-4)
    // lambda=1 degenerates to pure relevance order
    val pure = Similarity.mmrRerank(vecs, Seq(0L), 2, poolSize = 3, lambda = 1.0)
      .collect().map(_.getLong(2)).toSeq
    assert(pure == Seq(1L, 2L))
  }

  test("IVF-PQ residual encoding reconstructs tighter than plain PQ on clustered data") {
    import spark.implicits._
    // two tight directional clusters with small per-vector jitter: the
    // coarse cell absorbs the cluster direction, so residual PQ codes
    // only the jitter — reconstruction must beat plain PQ, which
    // spends the same byte budget on the full vectors
    val vecs = (0 until 24).map { i =>
      val base = if (i % 2 == 0) Array(10f, 0f, 1f, 0f) else Array(0f, -10f, 0f, 1f)
      val j = (i / 2) % 6
      (i.toLong, base.zipWithIndex.map { case (v, d) =>
        v + (if (d == (j % 4)) 0.2f * (j + 1) else 0.05f * j) }, i % 2)
    }.toDF("vec_id", "embedding", "label")
    val (cc, cb, codes) = Similarity.ivfPqIndex(vecs, nCells = 2, m = 2, ksub = 4, rounds = 3)
    assert(cc.count() == 2 && cb.count() == 8)
    val ivfpq = Similarity.ivfPqReconstructionStats(vecs, cc, cb, codes)
      .collect().map(_.getDouble(2))
    val pqcb = Similarity.pqTrain(vecs, m = 2, ksub = 4, rounds = 3)
    val plain = Similarity.pqReconstructionStats(vecs,
      Similarity.pqEncode(vecs, pqcb), pqcb).collect().map(_.getDouble(2))
    assert(ivfpq.sum / ivfpq.length > plain.sum / plain.length,
      s"residual PQ ${ivfpq.toSeq} should beat plain PQ ${plain.toSeq}")
    // search returns k rows per query with a valid ordering
    val top = Similarity.ivfPqTopK(vecs, cc, cb, codes, Seq(0L), 3, 2).collect()
    assert(top.length == 3)
    assert(top.map(_.getLong(4)).toSeq == Seq(1L, 2L, 3L))
    // determinism: the whole index build + search reproduces exactly
    val (cc2, cb2, codes2) = Similarity.ivfPqIndex(vecs, nCells = 2, m = 2, ksub = 4, rounds = 3)
    val again = Similarity.ivfPqTopK(vecs, cc2, cb2, codes2, Seq(0L), 3, 2).collect()
    assert(again.map(r => (r.getLong(1), r.getDouble(3))).toSeq ==
      top.map(r => (r.getLong(1), r.getDouble(3))).toSeq)
    // a cells table with non-contiguous ids (a filtered-out cell) must
    // fail at the door — the literal matrix indexes by id, and a
    // silent remap would reconstruct with the wrong centroids
    val gappy = cc.filter(col("cell") =!= 0)
    val err = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(vecs, gappy, cb, codes, Seq(0L), 3, 2).collect()
    }
    assert(err.getMessage.contains("contiguous"))
    // probed-cells-FIRST plan pin: the ADC reconstruction (the zip_with
    // add over the two literal matrices) must sit ABOVE the broadcast
    // cell join — tree printing is parent-first, so the reconstruction
    // expression appears strictly BEFORE the join node; reconstruction
    // below the join would decode every corpus vector regardless of
    // which cells are probed
    val plan = Similarity.ivfPqTopK(vecs, cc, cb, codes, Seq(0L), 3, 2)
      .queryExecution.executedPlan.toString
    val reconIdx = plan.indexOf("zip_with")
    val joinIdx = plan.indexOf("BroadcastHashJoin")
    assert(reconIdx >= 0 && joinIdx >= 0,
      s"expected reconstruction + broadcast cell join in plan:\n$plan")
    assert(reconIdx < joinIdx,
      "ADC reconstruction must be projected above the probed-cell join")
    // persist round-trip: the three read-back tables search identically
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    Similarity.writeIvfPq(vecs, dir, nCells = 2, m = 2, ksub = 4, rounds = 3)
    val back = Similarity.ivfPqTopK(vecs,
      spark.read.parquet(s"$dir/cells"), spark.read.parquet(s"$dir/codebook"),
      spark.read.parquet(s"$dir/codes"), Seq(0L), 3, 2).collect()
    assert(back.map(r => (r.getLong(1), r.getDouble(3))).toSeq ==
      top.map(r => (r.getLong(1), r.getDouble(3))).toSeq)
  }

  test("ivfPqTopKRefined: full shortlist equals brute force exactly; refine=1 re-orders the ADC picks; guards") {
    import spark.implicits._
    // same two-cluster jitter fixture as the residual test: ADC blurs
    // within-cluster order, so re-ranking has real work to do
    val vecs = (0 until 24).map { i =>
      val base = if (i % 2 == 0) Array(10f, 0f, 1f, 0f) else Array(0f, -10f, 0f, 1f)
      val j = (i / 2) % 6
      (i.toLong, base.zipWithIndex.map { case (v, d) =>
        v + (if (d == (j % 4)) 0.2f * (j + 1) else 0.05f * j) }, i % 2)
    }.toDF("vec_id", "embedding", "label")
    val (cc, cb, codes) = Similarity.ivfPqIndex(vecs, nCells = 2, m = 2, ksub = 4, rounds = 3)
    // refine=8 at k=3, both cells probed → the shortlist is the whole
    // corpus, so refined output must EQUAL the exact brute-force top-k
    // row for row (ids, labels, cosines, ranks — the strongest pin)
    val refined = Similarity.ivfPqTopKRefined(vecs, cc, cb, codes,
      Seq(0L, 1L), 3, nProbe = 2, refine = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getLong(4)))
    val exact = Similarity.bruteForceTopK(vecs, Seq(0L, 1L), 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getLong(4)))
    assert(refined.toSeq == exact.toSeq,
      s"full-shortlist refine must reproduce brute force:\n${refined.toSeq}\nvs\n${exact.toSeq}")
    // refine=1 cannot recover ADC misses — it re-scores exactly the
    // ADC top-k set (same ids, full-precision cosines/order)
    val adc = Similarity.ivfPqTopK(vecs, cc, cb, codes, Seq(0L), 3, 2)
      .collect().map(_.getLong(1)).toSet
    val re1 = Similarity.ivfPqTopKRefined(vecs, cc, cb, codes,
      Seq(0L), 3, nProbe = 2, refine = 1).collect()
    assert(re1.map(_.getLong(1)).toSet == adc)
    // refined cosines are the exact full-precision scores
    val exactByScore = Similarity.bruteForceTopK(vecs, Seq(0L), 24).collect()
      .map(r => r.getLong(1) -> r.getDouble(3)).toMap
    re1.foreach(r => assert(r.getDouble(3) == exactByScore(r.getLong(1))))
    // guards: refine < 1 and the bounded-collect ceiling both fail loud
    assert(intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKRefined(vecs, cc, cb, codes, Seq(0L), 3, 2, refine = 0)
    }.getMessage.contains("refine"))
    assert(intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKRefined(vecs, cc, cb, codes,
        (0L until 100L), 3000, 2, refine = 400)
    }.getMessage.contains("bounded-collect"))
  }

  test("PQ recovers exactly-representable vectors; ADC search matches brute force") {
    import spark.implicits._
    // 6 vectors = ksub, so every subvector pattern seeds its own cell:
    // after training, reconstruction is EXACT and PQ search must equal
    // the full-precision ranking (no proportional subvectors — cosine
    // cells must not merge)
    val vecs = Seq(
      (0L, Array(1.0f, 0.1f, 0.0f, 1.0f), 0),
      (1L, Array(0.1f, 1.0f, 1.0f, 0.2f), 0),
      (2L, Array(-1.0f, 0.2f, 0.5f, 0.5f), 1),
      (3L, Array(0.3f, -1.0f, -1.0f, 0.1f), 1),
      (4L, Array(0.5f, 0.5f, 0.3f, -1.0f), 2),
      (5L, Array(-0.5f, 0.3f, -0.2f, -0.3f), 2))
      .toDF("vec_id", "embedding", "label")
    val cb = Similarity.pqTrain(vecs, m = 2, ksub = 6, rounds = 2)
    assert(cb.count() == 12) // 2 subspaces × 6 cells
    val codes = Similarity.pqEncode(vecs, cb)
    val c0 = codes.filter(col("vec_id") === 0L).head.getSeq[Byte](2)
    assert(c0.length == 2) // m one-byte codes per vector
    val stats = Similarity.pqReconstructionStats(vecs, codes, cb).collect()
    assert(stats.forall(_.getDouble(3) >= 0.9999), "reconstruction not exact")
    val pq = Similarity.pqTopK(vecs, codes, cb, Seq(0L), 3)
      .collect().map(_.getLong(1)).toSeq
    val bf = Similarity.bruteForceTopK(vecs, Seq(0L), 3)
      .collect().map(_.getLong(1)).toSeq
    assert(pq == bf)
    // persist round-trip: read-back codebook + codes search identically
    val dir = java.nio.file.Files.createTempDirectory("graft_pq").toString
    Similarity.writePq(vecs, dir, m = 2, ksub = 6, rounds = 2)
    val back = Similarity.pqTopK(vecs, spark.read.parquet(s"$dir/codes"),
      spark.read.parquet(s"$dir/codebook"), Seq(0L), 3)
      .collect().map(_.getLong(1)).toSeq
    assert(back == pq)
  }

  test("frameSample walks real container bytes with truncation containment") {
    val frames = Seq("aa", "bbbb", "cc", "ddd", "e").map(_.getBytes("UTF-8"))
    val vid = Multimodal.videoBytes(frames)
    // round-trip
    assert(Multimodal.parseFrames(vid).map(new String(_)) ==
      Seq("aa", "bbbb", "cc", "ddd", "e"))
    // truncation mid-frame: only fully-parsed frames survive, no throw
    assert(Multimodal.parseFrames(vid.dropRight(3)).map(new String(_)) ==
      Seq("aa", "bbbb", "cc", "ddd"))
    assert(Multimodal.parseFrames(vid.take(6)).isEmpty)
    assert(Multimodal.parseFrames("NOPE".getBytes).isEmpty)
    // sampling stride over the synthesized corpus: doc 4 has 5 frames,
    // every 2nd -> indices 0, 2, 4; md5 matches the frame BYTES
    val d = docs(4L -> "some text body here")
    val out = Multimodal.frameSample(d, 2).collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(0L, 2L, 4L))
    val md = java.security.MessageDigest.getInstance("MD5")
    val expect = md.digest("frame:4:2:some text body h".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(out.find(_.getLong(1) == 2L).get.getString(2) == expect)
  }

  test("unigramLogProb matches the hand-computed add-one model") {
    val d = docs(1L -> "alpha alpha beta", 2L -> "beta gamma")
    // corpus: tf(alpha)=2 tf(beta)=2 tf(gamma)=1, N=5, V=3; mean bits =
    // log2(N+V) − mean(log2(tf+1)) — the operator's evaluation shape
    def round4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def score(tfs: Seq[Long]) = round4(
      (math.log(5 + 3) - tfs.map(tf => math.log(tf + 1.0)).sum / tfs.size) /
        math.log(2.0))
    val expect = Map(1L -> score(Seq(2, 2, 2)), 2L -> score(Seq(2, 1)))
    val out = TextAnalysis.unigramLogProb(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L)._1 == 3 && out(2L)._1 == 2)
    assert(math.abs(out(1L)._2 - expect(1L)) < 1e-9)
    assert(math.abs(out(2L)._2 - expect(2L)) < 1e-9)
    // rare word mix scores strictly more bits/token than common mix
    assert(out(2L)._2 > out(1L)._2)
  }

  test("repeatedSpans finds, bounds, and merges cross-document repeats") {
    val shared = "the quick brown fox jumps over the lazy dog" // 9 tokens
    val d = docs(
      1L -> s"alpha beta gamma $shared delta",
      2L -> s"$shared omega psi",
      3L -> s"prefix words here then $shared",
      4L -> "no repeats in this one at all",
      5L -> s"$shared unique1 $shared")
    // df > 2 satisfied: the shared run appears in docs 1, 2, 3, 5
    val spans = Dedup.repeatedSpans(d, n = 3, maxDocFreq = 2).collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq)
      .toMap
    // exact token offsets: the context grams straddling span borders are
    // unique per doc, so the span is exactly the shared run's cover
    assert(spans(1L) == Seq((3L, 12L, 7L)))
    assert(spans(2L) == Seq((0L, 9L, 7L)))
    assert(spans(3L) == Seq((4L, 13L, 7L)))
    assert(!spans.contains(4L))
    // two occurrences separated by a unique token stay TWO spans
    assert(spans(5L) == Seq((0L, 9L, 7L), (10L, 19L, 7L)))
    // the removal half: every spanned range cut, span-less docs intact
    val cut = Dedup.cutRepeatedSpans(d, Dedup.repeatedSpans(d, 3, 2))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(cut(1L) == ("alpha beta gamma delta", 9L))
    assert(cut(4L) == ("no repeats in this one at all", 0L))
    assert(cut(5L) == ("unique1", 18L))
  }

  test("repeatedSpans and winnowPairs compute their gram stage exactly once") {
    // both operators feed one exploded hash table into multiple plan
    // branches (df cap + join side(s)); the eager localCheckpoint
    // materializes it ONCE, so the result's physical plan must contain
    // no Generate (explode) node at all — every branch reads stored
    // blocks. A Generate reappearing here means the dominant
    // explode+md5 stage silently executes 2-3x per run again.
    val shared = "the quick brown fox jumps over the lazy dog"
    val d = docs(
      1L -> s"alpha beta gamma $shared delta",
      2L -> s"$shared omega psi",
      3L -> s"prefix words here then $shared")
    val spans = Dedup.repeatedSpans(d, n = 3, maxDocFreq = 2)
    assert(!spans.queryExecution.executedPlan.toString.contains("Generate"),
      "repeatedSpans gram explode must run once (checkpointed), not per branch")
    val winnow = Dedup.winnowPairs(d, 8, 16, minShared = 1, maxFpDf = 64)
    assert(!winnow.queryExecution.executedPlan.toString.contains("Generate"),
      "winnowPairs fingerprint explode must run once (checkpointed), not per branch")
    // and the checkpointed plans still produce the right answers
    assert(spans.collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assert(winnow.collect().nonEmpty)
  }

  test("bm25Scores matches the hand-computed Okapi model") {
    val d = docs(
      1L -> "spark spark data lake",      // dl=4, tf(spark)=2
      2L -> "spark merge here",           // dl=3, tf(spark)=1 tf(merge)=1
      3L -> "nothing relevant at all ok") // dl=5, no match
    val out = TextAnalysis.bm25Scores(d, Seq("spark", "merge"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // N=3, avgdl=4; df(spark)=2, df(merge)=1
    def idf(df: Long) = math.log(1 + (3.0 - df + 0.5) / (df + 0.5))
    def term(tf: Long, df: Long, dl: Long) =
      idf(df) * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / 4.0))
    def round4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.keySet == Set(1L, 2L)) // doc 3 matches nothing
    assert(out(1L)._1 == 1 && out(2L)._1 == 2)
    assert(math.abs(out(1L)._2 - round4(term(2, 2, 4))) < 2e-4)
    assert(math.abs(out(2L)._2 - round4(term(1, 2, 3) + term(1, 1, 3))) < 2e-4)
    // the rarer term contributes more than the common one at equal tf/dl
    assert(term(1, 1, 3) > term(1, 2, 3))
  }

  test("importanceWeights ranks target-like docs above raw-like docs") {
    // target slice = lang 'tt'; 'alpha' dominates the target, 'omega'
    // only appears outside it — a doc of alphas must out-score a doc of
    // omegas under the target-vs-raw log-likelihood ratio
    val d = Seq(
      (1L, "alpha alpha alpha", "tt"), (2L, "alpha alpha beta", "tt"),
      (3L, "omega omega omega", "xx"), (4L, "alpha omega beta", "xx"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("src"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = TextAnalysis.importanceWeights(d, col("lang") === "tt", 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(1L) > out(4L) && out(4L) > out(3L))
    // the never-in-target token drives its doc's ratio firmly negative
    // (absolute sign of the TOP doc is smoothing-dependent on a toy
    // corpus — the selection contract is the ORDERING above)
    assert(out(3L) < 0)
  }

  test("hashClassifierScore matches the closed-form hashed linear model") {
    val d = docs(1L -> "alpha beta", 2L -> "gamma")
    def w(tok: String): Double = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val bucket = java.lang.Long.parseLong(md5.take(8), 16) % 256
      (bucket * 2654435761L % 1001).toDouble / 500.0 - 1.0
    }
    val out = TextAnalysis.hashClassifierScore(d, 256).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    val logit1 = (w("alpha") + w("beta")) / 2
    assert(out(1L)._1 == 2L)
    assert(math.abs(out(1L)._2 - 1.0 / (1.0 + math.exp(-logit1))) < 1e-4)
    assert(out(1L)._3 == (logit1 >= 0))
    assert(math.abs(out(2L)._2 - 1.0 / (1.0 + math.exp(-w("gamma")))) < 1e-4)
  }

  private def vecs(rows: (Long, Seq[Float], Int)*) =
    rows.toDF("vec_id", "embedding", "label")

  test("semanticDedup prunes within-cluster near-dups, keeps across clusters") {
    val d = vecs(
      (1L, Seq(1f, 0f, 0f), 0), (2L, Seq(1f, 0f, 0f), 0),   // dup of 1 in-cell
      (3L, Seq(0f, 1f, 0f), 0),                             // orthogonal: kept
      (4L, Seq(1f, 0f, 0f), 1))                             // dup vec, OTHER cell: kept
    val out = Dedup.semanticDedup(d, 0.9).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(1L) == ((0L, true)) && out(3L) == ((0L, true)) && out(4L) == ((0L, true)))
    assert(out(2L) == ((1L, false)))
  }

  test("semanticDecontaminate flags eval-similar vectors, keeps nulls, fallback ≡ broadcast") {
    val corpus = vecs(
      (1L, Seq(1f, 0f, 0f), 0),   // eval carries a ×2 copy → flagged
      (2L, Seq(0f, 1f, 0f), 0),   // orthogonal to every eval vec → kept
      (3L, Seq(0f, 0f, 1f), 0),   // exact eval member → flagged
      (4L, null.asInstanceOf[Seq[Float]], 0)) // null: kept untouched
    val eval = Seq(
      (100L, Seq(2f, 0f, 0f), 9), // scaled copy of 1 (SRP-invariant)
      (101L, Seq(0f, 0f, 1f), 9)
    ).toDF("vec_id", "embedding", "label").select(col("embedding"))
    val out = Dedup.semanticDecontaminate(corpus, eval, 0.9, nBits = 4,
      dimOpt = Some(3)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(1L)._1 >= 1L && !out(1L)._2, s"scaled eval copy must flag: $out")
    assert(out(2L) == ((0L, true)))
    assert(out(3L)._1 >= 1L && !out(3L)._2)
    assert(out(4L) == ((0L, true)), "null embedding must be kept untouched")
    // plain-join fallback (budget 0) is result-identical to broadcast
    val fb = Dedup.semanticDecontaminate(corpus, eval, 0.9, nBits = 4,
      dimOpt = Some(3), broadcastBudgetBytes = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3))).toSet
    assert(fb == out.map { case (k, (n, b)) => (k, n, b) }.toSet,
      "fallback join must be result-identical")
  }

  test("semanticDedup is the pessimistic greedy: chains drop through removed middles") {
    // a~b and b~c at cosine >= tau, a!~c — the earlier-id rule removes
    // BOTH b and c (c's near-dup b is itself removed; documented
    // upper bound vs connected-component keep-one)
    val a = Seq(1f, 0f)
    val b = Seq(math.cos(0.4).toFloat, math.sin(0.4).toFloat) // cos(a,b)=.921
    val c = Seq(math.cos(0.8).toFloat, math.sin(0.8).toFloat) // cos(b,c)=.921, cos(a,c)=.697
    val out = Dedup.semanticDedup(vecs((1L, a, 0), (2L, b, 0), (3L, c, 0)), 0.9)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> false))
  }

  test("semanticDedup maxCellSize splits giant cells, leaves bounded cells exact") {
    // one giant cell (label 0: 32 spread directions + one exact dup)
    // and one small cell (label 1): with maxCellSize=8 the giant cell's
    // join key composes with an SRP bucket; the small cell must be
    // byte-identical to the exact path
    val giant = (0 until 32).map { i =>
      val t = i * 0.19
      (i.toLong, Seq(math.cos(t).toFloat, math.sin(t).toFloat,
        (i % 5) * 0.1f), 0)
    }
    val dup = Seq((50L, Seq(1f, 0f, 0f), 0)) // exact dup of vec 0
    val small = Seq(
      (100L, Seq(1f, 0f, 0f), 1), (101L, Seq(1f, 0f, 0f), 1),
      (102L, Seq(0f, 1f, 0f), 1), (103L, Seq(0f, 0f, 1f), 1))
    val d = (giant ++ dup ++ small).toDF("vec_id", "embedding", "label")
    def byId(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    val exact = byId(Dedup.semanticDedup(d, 0.95).collect())
    val gated = byId(Dedup.semanticDedup(d, 0.95, maxCellSize = 8,
      splitBits = 3).collect())
    // small (bounded) cell: identical results on both paths
    Seq(100L, 101L, 102L, 103L).foreach(id => assert(gated(id) == exact(id)))
    assert(!gated(101L)._2) // the in-bound dup still pruned
    // bucketing only RESTRICTS the pair space: counts never grow
    exact.keys.foreach(id => assert(gated(id)._1 <= exact(id)._1))
    // an EXACT duplicate always shares its twin's SRP bucket: caught
    assert(!gated(50L)._2)
    // and the composed key genuinely split the giant cell: per-key
    // population (the joined fan-out driver) strictly under cell size
    val buckets = d.filter(col("label") === 0)
      .select(Similarity.srpBucket(
        transform(col("embedding"), x => x.cast("double")), 3, 3).as("b"))
      .groupBy("b").count().collect().map(_.getLong(1))
    assert(buckets.length > 1 && buckets.max < 33,
      s"giant cell did not split: ${buckets.toSeq}")
  }

  test("bigramLogProb matches the hand-computed conditional model") {
    // corpus bigrams: (a b)x2 from docs 1,2; (b a) from doc 2; (c c) from doc 3
    // heads: a->2, b->1, c->1; V = |{b, a, c}| = 3
    val d = docs(1L -> "a b", 2L -> "a b a", 3L -> "c c", 4L -> "solo")
    val out = TextAnalysis.bigramLogProb(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(!out.contains(4L)) // <2 tokens: no bigrams, omitted
    def bits(c12: Long, c1: Long): Double =
      (math.log(c1 + 3.0) - math.log(c12 + 1.0)) / math.log(2.0)
    def round4(x: Double) = math.rint(x * 1e4) / 1e4
    assert(out(1L)._1 == 1L)
    assert(math.abs(out(1L)._2 - round4(bits(2, 2))) < 2e-4)
    assert(math.abs(out(3L)._2 - round4(bits(1, 1))) < 2e-4)
    // doc 2 averages its two bigrams
    assert(math.abs(out(2L)._2 - round4((bits(2, 2) + bits(1, 1)) / 2)) < 2e-4)
    // an unseen-ish (rare) bigram costs more bits than the common one
    assert(bits(1, 2) > bits(2, 2))
  }

  test("vocabCoverage marks tokens outside the deterministic top-k as OOV") {
    // counts: common x4, mid x2, rare x1, tie x2 — top-2 by (cnt DESC,
    // token ASC) = {common, mid} ('mid' < 'tie' breaks the tie)
    val d = docs(
      1L -> "common common mid tie", 2L -> "common common mid tie rare")
    val out = TextAnalysis.vocabCoverage(d, 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((4L, 1L, 0.25)))  // 'tie' is OOV
    assert(out(2L) == ((5L, 2L, 0.4)))   // 'tie' + 'rare' OOV
  }

  test("interleave round-robins sources and exhausts short sources gracefully") {
    val d = Seq(
      (10L, "sA"), (11L, "sA"), (12L, "sA"),
      (20L, "sB"))
      .toDF("doc_id", "source")
      .withColumn("text", lit("x")).withColumn("lang", lit("en"))
      .withColumn("n_chars", lit(1L))
    val out = CorpusOps.interleave(d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // training order: turn 1 of every source (A then B), then A's rest
    assert(out == Seq((10L, "sA", 1L), (20L, "sB", 1L),
      (11L, "sA", 2L), (12L, "sA", 3L)))
  }

  test("lengthFilter trims per-language rank tails but keeps singleton languages") {
    val d = (1L to 20L).map(i => (i, "en", i * 10))
      .toDF("doc_id", "lang", "n_chars")
      .withColumn("text", lit("x")).withColumn("source", lit("s"))
    val solo = Seq((100L, "zz", 5L)).toDF("doc_id", "lang", "n_chars")
      .withColumn("text", lit("x")).withColumn("source", lit("s"))
    val out = Cleaning.lengthFilter(d.unionByName(solo), 0.05, 0.95)
      .collect().map(_.getLong(0)).toSet
    // en ranks 1..20 -> pct (r-1)/19; kept iff 0.05 <= pct <= 0.95:
    // rank 1 (pct 0) and rank 20 (pct 1) drop
    assert(out == ((2L to 19L).toSet + 100L))
  }

  test("hardNegatives returns nearest DIFFERENT-label neighbors only") {
    // query 1 (label 0): v2 same label at cosine 1 must NOT appear;
    // v3 (label 1, cos .8) and v4 (label 2, cos .6) must, in that order
    val d = vecs(
      (1L, Seq(1f, 0f), 0), (2L, Seq(1f, 0f), 0),
      (3L, Seq(0.8f, 0.6f), 1), (4L, Seq(0.6f, 0.8f), 2))
    val out = Similarity.hardNegatives(d, Seq(1L), 10).collect()
      .map(r => (r.getLong(1), r.getLong(4)))
    assert(out.toSeq == Seq((3L, 1L), (4L, 2L)))
  }

  test("hybridRrfTopK fuses lexical and vector ranks by reciprocal rank") {
    // lex ranking on 'apple' (k1=1.2, b=0.75, avgdl=2): doc1 (tf3,dl3)
    // > doc10 (tf1,dl1) > doc2 (tf1,dl2); doc3 matches nothing.
    // vec ranking vs query 0=(1,0): v2 cos 1.0 > v10 cos 0.8 > v5 cos
    // 0.6. Fused: doc2 = 1/63+1/61, doc10 = 2/62, doc1 = 1/61 (vec rank
    // null), v5 = 1/63 (lex rank null); doc3 absent everywhere.
    val d = docs(1L -> "apple apple apple", 2L -> "apple banana",
      3L -> "cherry plum", 10L -> "apple")
    val e = vecs((0L, Seq(1f, 0f), 0), (2L, Seq(1f, 0f), 0),
      (10L, Seq(0.8f, 0.6f), 0), (5L, Seq(0.6f, 0.8f), 0))
    val out = Similarity.hybridRrfTopK(d, e, Seq("apple"), 0L, k = 10,
      poolN = 10).collect()
    val ids = out.map(_.getLong(0)).toSeq
    assert(ids == Seq(2L, 10L, 1L, 5L), s"got $ids")
    val byId = out.map(r => r.getLong(0) ->
      ((if (r.isNullAt(1)) -1L else r.getLong(1)),
        (if (r.isNullAt(2)) -1L else r.getLong(2)), r.getDouble(3))).toMap
    assert(byId(2L)._1 == 3L && byId(2L)._2 == 1L)
    assert(byId(10L)._1 == 2L && byId(10L)._2 == 2L)
    assert(byId(1L)._1 == 1L && byId(1L)._2 == -1L) // vec rank null
    assert(byId(5L)._1 == -1L && byId(5L)._2 == 3L) // lex rank null
    assert(math.abs(byId(2L)._3 - (1.0 / 63 + 1.0 / 61)) < 1e-6)
    assert(math.abs(byId(10L)._3 - 2.0 / 62) < 1e-6)
    assert(math.abs(byId(1L)._3 - 1.0 / 61) < 1e-6)
  }

  test("hybridRrfTopK breaks exact RRF ties by ascending id") {
    // lex pool = {1} (rank 1), vec pool = {5} (rank 1): both fuse to
    // exactly 1/61 — the lower id must rank first
    val d = docs(1L -> "apple", 3L -> "cherry")
    val e = vecs((0L, Seq(1f, 0f), 0), (5L, Seq(1f, 0f), 0))
    val ids = Similarity.hybridRrfTopK(d, e, Seq("apple"), 0L, k = 10,
      poolN = 10).collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(1L, 5L), s"got $ids")
  }

  test("maintainedReconDrift: clean delta reads identical to base, planted drift trips the flag, empty segments are ok") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (cc, cb, codes) = Similarity.ivfPqIndex(emb, 4, 4, 8, 1)
    val ccP = cc.localCheckpoint(true)
    val cbP = cb.localCheckpoint(true)
    val codesP = codes.localCheckpoint(true)
    def shifted(off: Long, dim0Shift: Double) = emb
      .filter(col("embedding").isNotNull)
      .select((col("vec_id") + off).as("vec_id"), col("label"),
        expr(s"transform(embedding, (x, i) -> CAST(x AS DOUBLE) + " +
          s"CASE WHEN i = 0 THEN CAST($dim0Shift AS DOUBLE) ELSE 0.0 END)")
          .as("embedding"))
    // clean delta: identical vectors encode to identical codes, so the
    // delta's reconstruction quality IS the base's — no flag even at a
    // tight maxDrop. (The SMALL spec model reconstructs at mean ~0.435
    // on the uniform table, drift ~0.324, gap ~0.11 — measured;
    // thresholds below sit on those margins.)
    val clean = shifted(7000000L, 0.0)
    val cleanCodes = Similarity.ivfPqEncodeFrozen(clean, ccP, cbP)
    val okRow = Similarity.maintainedReconDrift(emb.unionByName(clean),
      ccP, cbP, codesP, cleanCodes, minCos = 0.3, maxDrop = 0.05).head()
    assert(okRow.getLong(0) > 0 && okRow.getLong(0) == okRow.getLong(1))
    assert(okRow.getBoolean(2) && okRow.getBoolean(3) && !okRow.getBoolean(4),
      s"clean delta must not trip the reindex flag: $okRow")
    // planted drift, minCos path: delta mean (~0.324) under 0.4, base
    // (~0.435) above it
    val drifted = shifted(6000000L, 2.0)
    val driftCodes = Similarity.ivfPqEncodeFrozen(drifted, ccP, cbP)
    val badRow = Similarity.maintainedReconDrift(emb.unionByName(drifted),
      ccP, cbP, codesP, driftCodes, minCos = 0.4, maxDrop = 0.2).head()
    assert(badRow.getBoolean(2) && !badRow.getBoolean(3) && badRow.getBoolean(4),
      s"planted drift must trip the reindex flag (minCos path): $badRow")
    // planted drift, gap path: both segments clear an easy minCos but
    // the ~0.11 base-delta gap exceeds maxDrop
    val gapRow = Similarity.maintainedReconDrift(emb.unionByName(drifted),
      ccP, cbP, codesP, driftCodes, minCos = 0.0, maxDrop = 0.05).head()
    assert(gapRow.getBoolean(2) && gapRow.getBoolean(3) && gapRow.getBoolean(4),
      s"planted drift must trip the reindex flag (gap path): $gapRow")
    // empty delta: ok by definition (nothing to decay), flag off —
    // and the counts come back 0, not null (the empty-agg coalesce)
    val empty = Similarity.maintainedReconDrift(emb, ccP, cbP, codesP,
      cleanCodes.filter(lit(false)), minCos = 0.7, maxDrop = 0.1).head()
    assert(empty.getLong(1) == 0L && empty.getBoolean(3) && !empty.getBoolean(4))
    // fully empty corpus: one all-ok row with zero counts, never nulls
    val allEmpty = Similarity.maintainedReconDrift(
      emb.filter(lit(false)), ccP, cbP,
      codesP.filter(lit(false)), cleanCodes.filter(lit(false)),
      minCos = 0.7, maxDrop = 0.1).head()
    assert(allEmpty.getLong(0) == 0L && allEmpty.getLong(1) == 0L &&
      allEmpty.getBoolean(2) && allEmpty.getBoolean(3) && !allEmpty.getBoolean(4))
    // EMPTY BASE with a healthy delta: the gap clause has no base mean
    // to compare against — the verdict must be a REAL false, not a SQL
    // NULL bubbled through three-valued logic (round-16 review finding)
    val emptyBase = Similarity.maintainedReconDrift(
      emb.unionByName(clean), ccP, cbP,
      codesP.filter(lit(false)), cleanCodes, minCos = 0.3, maxDrop = 0.05).head()
    assert(emptyBase.getLong(0) == 0L && emptyBase.getLong(1) > 0L)
    assert(!emptyBase.isNullAt(4) && !emptyBase.getBoolean(4),
      s"empty base + healthy delta must verdict false, not null: $emptyBase")
  }

  test("hybridRrfPanel agrees with the single-query op per query; missing query vector degrades lexical-only") {
    val d = docs(1L -> "apple banana", 2L -> "banana cherry", 3L -> "cherry date",
      4L -> "apple apple date", 5L -> "banana banana banana")
    val e = vecs((0L, Seq(1f, 0f), 0), (1L, Seq(0f, 1f), 0), (2L, Seq(1f, 1f), 0),
      (3L, Seq(0.9f, 0.1f), 0), (4L, Seq(0.1f, 0.9f), 0))
    val panel = Seq((10L, Seq("apple"), 0L), (11L, Seq("banana", "cherry"), 1L))
    val got = Similarity.hybridRrfPanel(d, e, panel, k = 5, poolN = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)), Option(r.get(3)), r.getDouble(4), r.getLong(5)))
    panel.foreach { case (qid, terms, vid) =>
      val single = Similarity.hybridRrfTopK(d, e, terms, vid, k = 5, poolN = 5)
        .collect().map(r => (qid, r.getLong(0),
          Option(r.get(1)), Option(r.get(2)), r.getDouble(3), r.getLong(4))).toSeq
      assert(got.filter(_._1 == qid).toSeq == single,
        s"panel query $qid diverges from the single-query op")
    }
    // a panel query whose vector is absent degrades LEXICAL-ONLY
    // (vec_rank null on every row) — the documented truncated-list
    // limiting case, which keeps the op total on the all-null twin
    val lexOnly = Similarity.hybridRrfPanel(d, e,
      Seq((7L, Seq("apple"), 999L)), k = 2, poolN = 2).collect()
    assert(lexOnly.nonEmpty, "lexical pool must still rank")
    assert(lexOnly.forall(_.isNullAt(3)), "vec_rank must be null throughout")
    assert(lexOnly.forall(!_.isNullAt(2)), "every row must come from the lex pool")
  }

  test("trainHashedLogReg separates a marker class; report booleans are partition-invariant") {
    // pos docs carry 'alpha', neg carry 'beta' — linearly separable
    val d = docs((1L to 12L).map { i =>
      i -> (if (i % 2 == 0) s"common words here alpha t$i"
            else s"common words here beta t$i")
    }: _*)
    val pos = col("doc_id") % 2 === 0
    val (w, b) = TextAnalysis.trainHashedLogReg(d, pos,
      nBuckets = 64, epochs = 40, lr = 5.0)
    val scored = TextAnalysis.hashedLogRegScore(d, w, b).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    (1L to 12L).foreach { i =>
      assert(scored(i) == (i % 2 == 0), s"doc $i misclassified")
    }
    // the REPORT booleans must not depend on the physical layout
    // (weights are float-sum-order-dependent; the surface is not);
    // the default 1-in-5 md5 holdout takes {1,2,3,6,10,11} of 1..12 —
    // train keeps both classes and the held-out docs classify by the
    // marker buckets alone
    Seq(1, 5).foreach { p =>
      val rep = TextAnalysis.classifierTrainReport(d.repartition(p), pos,
        nBuckets = 64, epochs = 40, lr = 5.0).head()
      assert(rep.getLong(0) == 6L && rep.getLong(1) == 6L)
      assert(rep.getLong(2) == 6L, s"md5 holdout drifted: ${rep.getLong(2)}")
      assert(rep.getBoolean(3) && rep.getBoolean(4) && rep.getBoolean(5),
        s"partitioning $p flipped the report booleans")
    }
  }

  test("trainHashedLogRegHeldOut: ridge shrinks weights under label noise; holdout selection early-stops") {
    // 40 docs, marker-separable, with 20% of labels FLIPPED (noise):
    // the unregularized fit memorizes per-doc unique tokens to absorb
    // the noise; the ridge penalty shrinks exactly those weights
    val d = docs((1L to 40L).map { i =>
      i -> (if (i % 2 == 0) s"common words here alpha u$i"
            else s"common words here beta u$i")
    }: _*)
    val noisy = when(col("doc_id") % 10 === 4, col("doc_id") % 2 =!= 0)
      .otherwise(col("doc_id") % 2 === 0)
    def norm(w: Array[Double]): Double = math.sqrt(w.map(x => x * x).sum)
    val plain = TextAnalysis.trainHashedLogRegHeldOut(d, noisy,
      nBuckets = 64, epochs = 30, lr = 5.0, l2 = 0.0, holdoutMod = 0)
    val ridge = TextAnalysis.trainHashedLogRegHeldOut(d, noisy,
      nBuckets = 64, epochs = 30, lr = 5.0, l2 = 0.1, holdoutMod = 0)
    assert(norm(ridge.weights) < norm(plain.weights),
      s"ridge must shrink weights: ${norm(ridge.weights)} >= ${norm(plain.weights)}")
    // holdout selection on the CLEAN corpus: the split is the md5 coin
    // (deterministic, partition-independent), accuracy hits 1.0 well
    // before the epoch budget, and the kept model is the EARLIEST
    // epoch attaining the best holdout accuracy
    val pos = col("doc_id") % 2 === 0
    val m = TextAnalysis.trainHashedLogRegHeldOut(d, pos,
      nBuckets = 64, epochs = 30, lr = 5.0, l2 = 0.0, holdoutMod = 5)
    assert(m.nTrain + m.nHoldout == 40 && m.nHoldout > 0,
      s"split lost docs: ${m.nTrain}+${m.nHoldout}")
    assert(m.holdoutAcc == 1.0, s"separable holdout must score 1.0: ${m.holdoutAcc}")
    assert(m.bestEpoch < 30,
      s"selection must keep the earliest best epoch, not the last: ${m.bestEpoch}")
    // holdoutMod = 0 reproduces trainHashedLogReg exactly (final epoch)
    val (w0, b0) = TextAnalysis.trainHashedLogReg(d, pos,
      nBuckets = 64, epochs = 10, lr = 5.0)
    val m0 = TextAnalysis.trainHashedLogRegHeldOut(d, pos,
      nBuckets = 64, epochs = 10, lr = 5.0, l2 = 0.0, holdoutMod = 0)
    assert(m0.weights.toSeq == w0.toSeq && m0.bias == b0 && m0.bestEpoch == 10)
  }

  test("bpeTrainMerges: Sennrich hand corpus, overlap fold semantics, early exhaustion, fertility drops") {
    // the classic corpus: low(5) lower(2) newest(6) widest(3) — every
    // merge below is the hand-computed weighted-pair argmax
    val corpus = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .zipWithIndex.map { case (w, i) => i.toLong -> w }
    val d = docs(corpus: _*)
    val m = TextAnalysis.bpeTrainMerges(d, 6)
    assert(m.map(x => (x.lhs, x.rhs, x.n)) == Seq(
      ("e", "s", 9L),   // newest 6 + widest 3
      ("es", "t", 9L),  // same words, cascaded
      ("l", "o", 7L),   // low 5 + lower 2
      ("lo", "w", 7L),
      ("e", "w", 6L),   // newest (n-e-w); tie group resolved lexicographically
      ("ew", "est", 6L)), s"merge list drifted: $m")
    // overlapping pairs count per POSITION, and the fold is greedy
    // left-to-right (merged token never re-merges in-round): "aaaa"
    // has 3 (a,a) pairs, folds to [aa, aa], then 1 (aa, aa) pair —
    // the convention the oracle's wrapped-string replace() shares
    val aaaa = TextAnalysis.bpeTrainMerges(docs(1L -> "aaaa"), 2)
    assert(aaaa.map(x => (x.lhs, x.rhs, x.n)) ==
      Seq(("a", "a", 3L), ("aa", "aa", 1L)), s"overlap semantics: $aaaa")
    // early exhaustion: single-char words have no pairs
    assert(TextAnalysis.bpeTrainMerges(docs(1L -> "a b a"), 8).isEmpty)
    // the trained list FEEDS bpeApply and reduces fertility vs the
    // char-level baseline (a no-op merge list)
    val before = TextAnalysis.bpeApply(d, Seq(("q", "q")))
      .agg(sum("n_pieces")).head.getLong(0)
    val after = TextAnalysis.bpeApply(d, m.map(x => (x.lhs, x.rhs)))
      .agg(sum("n_pieces")).head.getLong(0)
    assert(after < before, s"fertility must drop: $before -> $after")
    // report surface: (rank, lhs, rhs, n) ordered
    val rep = TextAnalysis.bpeTrainReport(d, 3).collect()
    assert(rep.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L) &&
      rep(0).getString(1) == "e" && rep(0).getString(2) == "s")
  }

  test("bpeTrainMergesBatched: batchK=1 ≡ sequential trainer, naive-replica differential, non-interaction") {
    val corpus = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .zipWithIndex.map { case (w, i) => i.toLong -> w }
    val d = docs(corpus: _*)
    // batchK = 1: the admissibility filter is empty at every pick, so
    // the batched trainer degenerates to the sequential Sennrich loop
    // EXACTLY (merge-for-merge, count-for-count, one pick per round)
    val seq6 = TextAnalysis.bpeTrainMerges(d, 6)
    val b1 = TextAnalysis.bpeTrainMergesBatched(d, 6, 1)
    assert(b1.map(x => (x.lhs, x.rhs, x.n)) ==
      seq6.map(x => (x.lhs, x.rhs, x.n)), s"batchK=1 drifted: $b1")
    assert(b1.map(_.round) == (0 until 6) && b1.map(_.rank) == (0 until 6))
    // naive JVM replica (scan-ahead fold == the aggregate fold's
    // resume-after-match for a single pair; sequential application of
    // symbol-disjoint picks == the simultaneous map fold) on a corpus
    // rich in shared symbols, so the greedy SKIP path is exercised
    val words = Seq("banana" -> 7L, "bandana" -> 4L, "cabana" -> 3L,
      "abracadabra" -> 2L, "salsa" -> 5L, "lasso" -> 3L, "parasol" -> 2L)
    val d2 = docs(words.flatMap { case (w, f) => Seq.fill(f.toInt)(w) }
      .zipWithIndex.map { case (w, i) => i.toLong -> w }: _*)
    def fold1(sym: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]; var i = 0
      while (i < sym.length) {
        if (i + 1 < sym.length && sym(i) == a && sym(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += sym(i); i += 1 }
      }
      out.result()
    }
    def naive(nRounds: Int, k: Int): Seq[(Int, Int, String, String, Long)] = {
      // vocab as a Seq of (symbols, freq) — NEVER keyed by a Map whose
      // .keys is a Set (the PageRank-spec bug class)
      var vocab = words.map { case (w, f) => (w.map(_.toString).toVector, f) }
      val out = Seq.newBuilder[(Int, Int, String, String, Long)]
      var rank = 0
      for (r <- 0 until nRounds) {
        val cnt = scala.collection.mutable.LinkedHashMap[(String, String), Long]()
        vocab.foreach { case (sym, f) =>
          (0 until sym.length - 1).foreach { i =>
            val p = (sym(i), sym(i + 1))
            cnt(p) = cnt.getOrElse(p, 0L) + f
          }
        }
        val sorted = cnt.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }
        var forbidden = Set.empty[String]
        var picks = Vector.empty[(String, String, Long)]
        sorted.foreach { case ((a, b), n) =>
          if (picks.size < k && !forbidden(a) && !forbidden(b) &&
              !forbidden(a + b)) {
            picks :+= ((a, b, n))
            forbidden = forbidden + a + b + (a + b)
          }
        }
        picks.foreach { case (a, b, n) =>
          out += ((rank, r, a, b, n)); rank += 1
          vocab = vocab.map { case (sym, f) => (fold1(sym, a, b), f) }
        }
      }
      out.result()
    }
    val got = TextAnalysis.bpeTrainMergesBatched(d2, 4, 3)
      .map(x => (x.rank, x.round, x.lhs, x.rhs, x.n))
    val want = naive(4, 3)
    assert(got == want, s"batched trainer drifted from the replica:\n$got\n$want")
    // the skip path actually fired: round 1 admits only TWO picks —
    // after (an,a) and (s,o), every remaining pair shares a symbol or
    // produced token with an earlier pick, so the round is PARTIAL
    // (11 merges total, not 12); a batcher that ignored admissibility
    // would emit 12
    assert(got.size == 11, s"expected 11 merges: ${got.size}")
    assert(got.count(_._2 == 1) == 2,
      s"round 1 must be a partial round: ${got.filter(_._2 == 1)}")
    // structural non-interaction within every round
    got.groupBy(_._2).foreach { case (_, ps) =>
      val ordered = ps.sortBy(_._1)
      ordered.zipWithIndex.foreach { case ((_, _, a, b, _), i) =>
        val earlier = ordered.take(i).flatMap(p =>
          Seq(p._3, p._4, p._3 + p._4)).toSet
        assert(!earlier(a) && !earlier(b) && !earlier(a + b),
          s"pick ($a,$b) interacts with an earlier pick in its round")
      }
    }
    // the batched-trained list feeds bpeApply and cuts fertility
    val before = TextAnalysis.bpeApply(d2, Seq(("q", "q")))
      .agg(sum("n_pieces")).head.getLong(0)
    val after = TextAnalysis.bpeApply(d2,
      TextAnalysis.bpeTrainMergesBatched(d2, 4, 3).map(x => (x.lhs, x.rhs)))
      .agg(sum("n_pieces")).head.getLong(0)
    assert(after < before, s"fertility must drop: $before -> $after")
  }

  test("trainHashedLogRegHeldOut counts empty-text docs: n_train+n_holdout == non-null-text docs") {
    // the oracle's n_holdout counts every NON-NULL-text doc via the md5
    // split; the trainer counts docs surviving tokenization — with the
    // whitespace tokenizer split("", pat) = [""] so the two sets are
    // IDENTICAL even for empty/whitespace-only text (scaladoc contract;
    // a zero-token-capable tokenizer would silently break this pin)
    val d = docs((1L to 18L).map(i => i -> s"alpha tok$i"): _*)
      .unionByName(Seq((19L, "", "en", "src", 0L), (20L, "   \t ", "en", "src", 5L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val m = TextAnalysis.trainHashedLogRegHeldOut(d, col("doc_id") % 2 === 0,
      nBuckets = 32, epochs = 3, lr = 5.0, l2 = 0.0, holdoutMod = 5)
    assert(m.nTrain + m.nHoldout == 20,
      s"empty-text docs fell out of the split: ${m.nTrain}+${m.nHoldout} != 20")
  }

  test("trainHashedLogReg excludes null text and fails loud on an empty corpus") {
    val d = docs(1L -> "alpha x", 2L -> "beta y")
      .unionByName(Seq((9L, null.asInstanceOf[String], "en", "src", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    // holdoutMod = 0: the 2-doc corpus would otherwise be entirely
    // held out (md5 split takes both ids 1 and 2)
    val rep = TextAnalysis.classifierTrainReport(d, col("doc_id") === 1L,
      nBuckets = 32, epochs = 10, lr = 5.0, holdoutMod = 0).head()
    // the null-text doc contributes to NEITHER class count
    assert(rep.getLong(0) == 1L && rep.getLong(1) == 1L)
    val err = intercept[IllegalArgumentException] {
      TextAnalysis.trainHashedLogReg(
        docs().withColumn("text", lit(null).cast("string")),
        col("doc_id") === 1L, nBuckets = 32, epochs = 1, lr = 1.0)
    }
    assert(err.getMessage.contains("no trainable documents"))
    // null seed labels are EXCLUDED, not NPE'd deep in an executor
    val nullLabel = docs(1L -> "alpha x", 2L -> "beta y", 3L -> "gamma z")
    val repN = TextAnalysis.classifierTrainReport(nullLabel,
      when(col("doc_id") < 3L, col("doc_id") === 1L), // doc 3: null label
      nBuckets = 32, epochs = 10, lr = 5.0, holdoutMod = 0).head()
    assert(repN.getLong(0) == 1L && repN.getLong(1) == 1L,
      "null-label docs must not enter either class")
  }

  test("classifierTrainReport reports FALSE booleans on a one-class corpus") {
    // all docs positive: one-class 'accuracy' is the majority baseline
    // and separation has nothing to separate — both must read false
    val d = docs(1L -> "alpha x", 2L -> "alpha y")
    val rep = TextAnalysis.classifierTrainReport(d, lit(true),
      nBuckets = 32, epochs = 10, lr = 5.0, holdoutMod = 0).head()
    assert(rep.getLong(0) == 2L && rep.getLong(1) == 0L)
    assert(!rep.getBoolean(3) && !rep.getBoolean(4) && !rep.getBoolean(5),
      "degenerate corpus must not report quality booleans true")
  }

  test("curriculumStages cuts the global score order into equal stages") {
    val d = (1L to 16L).map(i => (i, 17L - i)) // score DESC in doc order
      .toDF("doc_id", "n_chars")
      .withColumn("text", lit("x")).withColumn("lang", lit("en"))
      .withColumn("source", lit("s"))
    val out = CorpusOps.curriculumStages(d, col("n_chars"), 4).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // doc 16 has the LOWEST score -> stage 0; doc 1 the highest -> stage 3
    assert(out(16L) == 0L && out(13L) == 0L)
    assert(out(12L) == 1L && out(9L) == 1L)
    assert(out(8L) == 2L && out(5L) == 2L)
    assert(out(4L) == 3L && out(1L) == 3L)
  }

  test("writeShards produces exactly nShards deterministic directories") {
    val d = spark.range(200).select(col("id").as("doc_id"),
      concat(lit("text "), col("id")).as("text"), lit("en").as("lang"),
      lit("src").as("source"), lit(10L).as("n_chars"))
    val path = java.nio.file.Files.createTempDirectory("graft_shards").toString
    CorpusOps.writeShards(d, path, 4)
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted.toSeq
    assert(dirs == Seq("shard=0", "shard=1", "shard=2", "shard=3"))
    // one data file per shard (repartition routed each shard to 1 task)
    dirs.foreach { s =>
      assert(new java.io.File(s"$path/$s").listFiles()
        .count(_.getName.endsWith(".parquet")) == 1)
    }
    val back = spark.read.parquet(path)
    assert(back.count() == 200)
    // membership matches the audit query's mapping exactly
    val stats = CorpusOps.shardStats(d, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val onDisk = back.groupBy("shard").count().collect()
      .map(r => r.get(0).toString.toLong -> r.getLong(1)).toMap
    assert(stats == onDisk)
  }

  test("chunkWindows: stride windows, overlap, and last-chunk truncation") {
    val d = docs(1L -> (1 to 10).map(i => s"t$i").mkString(" "), 2L -> "solo")
    val out = CorpusOps.chunkWindows(d, chunkSize = 4, stride = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val c1 = out.filter(_._1 == 1L)
    // starts 0,3,6,9; sizes 4,4,4,1
    assert(c1.map(c => (c._2, c._3, c._4)).toSeq ==
      Seq((0L, 0L, 4L), (1L, 3L, 4L), (2L, 6L, 4L), (3L, 9L, 1L)))
    // chunk content: md5 of the space-joined token slice
    def m(s: String) = org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
    assert(c1.map(_._5).toSeq == Seq(
      m("t1 t2 t3 t4"), m("t4 t5 t6 t7"), m("t7 t8 t9 t10"), m("t10")))
    // consecutive windows overlap by chunkSize - stride = 1 token
    assert(out.filter(_._1 == 2L).map(c => (c._2, c._4)).toSeq == Seq((0L, 1L)))
  }

  test("chunkWindows at stride == chunkSize partitions the token stream exactly") {
    val d = docs(1L -> (1 to 11).map(i => s"w$i").mkString(" "))
    val out = CorpusOps.chunkWindows(d, chunkSize = 4, stride = 4).collect()
    assert(out.map(_.getLong(3)).sum == 11L) // no token lost, none doubled
    assert(out.map(_.getLong(2)).toSeq == Seq(0L, 4L, 8L))
  }

  test("tfidfTopTerms surfaces source-distinctive terms, zeroes universal ones") {
    val d = Seq(
      (1L, "quantum quantum flux and the common words", "en", "physics"),
      (2L, "flux capacitor quantum notes and the common words", "en", "physics"),
      (3L, "sourdough starter hydration and the common words", "en", "baking"),
      (4L, "butter sourdough crumb and the common words", "en", "baking"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = TextAnalysis.tfidfTopTerms(d, 3).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(4), r.getLong(5)))
    val physics = out.filter(_._1 == "physics")
    assert(physics.head._2 == "quantum") // tf=3, df=1 — the signature term
    // terms present in BOTH sources have idf = ln((2+1)/(2+1)) = 0
    assert(out.filter(t => t._2 == "common" || t._2 == "the").forall(_._3 == 0.0))
    // every source gets exactly k ranked rows, ranks 1..k
    assert(out.filter(_._1 == "baking").map(_._4).toSeq == Seq(1L, 2L, 3L))
  }

  test("sourceDrift: matching distribution scores 0, skewed source scores higher") {
    val base = "alpha beta gamma delta"
    // the balanced source dominates the corpus (6 of 8 docs), so the
    // corpus marginal sits close to it: KL(balanced) ≈ 0.03 bits while
    // the alpha-heavy source lands ≈ 0.24 bits
    val d = ((1L to 6L).map(i => (i, base, "en", "balanced")) ++ Seq(
      (7L, base, "en", "skewed"), (8L, "alpha alpha alpha alpha", "en", "skewed")))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = TextAnalysis.sourceDrift(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out("balanced")._1 == 24L && out("balanced")._2 == 4L)
    // both non-negative (Gibbs); the skew drifts decisively more
    assert(out("balanced")._3 >= 0.0 && out("skewed")._3 > out("balanced")._3 * 3)
  }

  test("sourceDrift is exactly 0 when every source matches the corpus") {
    val d = Seq((1L, "x y z", "en", "a"), (2L, "x y z", "en", "b"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = TextAnalysis.sourceDrift(d).collect().map(_.getDouble(3))
    assert(out.forall(_ == 0.0))
  }

  test("leakageSafeSplit keeps every near-dup cluster on one side") {
    val near = "spark runs fast queries over big data lakes every day ok"
    val d = docs(
      1L -> near, 2L -> (near + " extra"), 3L -> (near + " more extra"),
      4L -> "completely different words about gardening tulips and soil care",
      5L -> "unrelated third topic entirely about music theory and chords")
    val out = Dedup.leakageSafeSplit(d, 3, 8, 1, testPermille = 500).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(out.forall(t => t._3 == "train" || t._3 == "test"))
    // same cluster -> same side, for every cluster
    out.groupBy(_._2).foreach { case (_, members) =>
      assert(members.map(_._3).distinct.length == 1)
    }
    // docs 1-3 are near-dups (rowsPerBand=1, OR-amplified) -> one cluster
    assert(out.filter(_._1 <= 3L).map(_._2).distinct.length == 1)
  }

  test("userEventMatrix: pinned-column pivot, zero fills, unlisted types ignored") {
    val d = eventsDf(
      (1L, "2024-01-01 00:00:01", "view"), (1L, "2024-01-01 00:00:02", "view"),
      (1L, "2024-01-01 00:00:03", "click"),
      (2L, "2024-01-01 00:00:04", "purchase"),
      (2L, "2024-01-01 00:00:05", "rogue_type")) // not pinned -> ignored
    val out = Relational.userEventMatrix(d, Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ((2L, 1L, 0L)))
    assert(out(2L) == ((0L, 0L, 1L))) // rogue type contributes nothing
  }

  test("decontaminateNearDup: rewritten eval leak removed, unrelated and shingle-less kept") {
    val evalItem = "what is the capital of france the answer is paris ok then"
    val rewrite = "what is the capital of france the answer is paris yes then"
    val d = docs(
      1L -> rewrite,                    // near-dup of the eval item -> dropped
      2L -> "completely unrelated prose about spark shuffle behavior today",
      3L -> "ab")                       // shingle-less -> never banded, kept
    val ev = docs(100L -> evalItem)
    val out = Dedup.decontaminateNearDup(d, ev, 3, 8, 1, 0.5)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(2L, 3L))
    // a 1.0 threshold only removes exact signature matches -> all kept
    val strict = Dedup.decontaminateNearDup(d, ev, 3, 8, 1, 1.0)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(strict == Seq(1L, 2L, 3L))
  }

  test("truncateDocs: exact head cut, short docs untouched, null pass-through") {
    val long = (1 to 50).map(i => s"t$i").mkString(" ")
    val d = docs(1L -> long, 2L -> "short doc here",
      3L -> null.asInstanceOf[String])
    val out = Cleaning.truncateDocs(d, 40).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) == (1 to 40).map(i => s"t$i").mkString(" "))
    assert(out(1L).getLong(2) == 40 && out(1L).getBoolean(3))
    assert(out(2L).getString(1) == "short doc here")
    assert(out(2L).getLong(2) == 3 && !out(2L).getBoolean(3))
    assert(out(3L).isNullAt(1) && out(3L).getLong(2) == 0 &&
      !out(3L).getBoolean(3))
  }

  test("chunkBySentences: greedy pack, oversized sentence, boundary, terminator strip") {
    val d = docs(
      // sentences of 3/3/4/2 tokens; max 6 → [3+3], [4+2]
      1L -> "one two three. four five six! seven eight nine ten? end here.",
      // an 8-token sentence exceeds max 6 → its own oversized chunk
      2L -> "a b c d e f g h. tail one",
      3L -> "only short",           // no terminator → one sentence
      4L -> "...",                  // terminators only → no sentences
      5L -> null.asInstanceOf[String])
    val out = CorpusOps.chunkBySentences(d, maxTokens = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(out.toSeq == Seq(
      (1L, 1L, 2L, 6L, "one two three four five six"),
      (1L, 2L, 2L, 6L, "seven eight nine ten end here"),
      (2L, 1L, 1L, 8L, "a b c d e f g h"),
      (2L, 2L, 1L, 2L, "tail one"),
      (3L, 1L, 1L, 2L, "only short")))
  }

  test("sftExport: literal template render, JSON validity on hostile text, split counts") {
    import spark.implicits._
    val d = Seq(
      (1L, "src_a", "one two three four"),
      (2L, "src_b", (1 to 15).map(i => s"w$i").mkString(" ")),
      (3L, "s\"x\\y\nz\tw", "say \"hi\"\tand\nbye \\ done"),
      (4L, "src_a", null.asInstanceOf[String])).toDF("doc_id", "source", "text")
    val out = CorpusOps.sftExport(d, promptTokens = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 3L)) // null text excluded
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(1L)._2 ==
      """{"messages":[{"role":"system","content":"source: src_a"},""" +
      """{"role":"user","content":"Continue: one two three"},""" +
      """{"role":"assistant","content":"four"}]}""")
    assert(byId(1L)._3 == 3L && byId(1L)._4 == 1L)
    assert(byId(2L)._3 == 3L && byId(2L)._4 == 12L)
    // hostile text: every record must parse as real JSON and round-trip
    // the original content through Spark's own JSON reader
    val parsed = spark.read.json(Seq(byId(3L)._2).toDS())
    val msgs = parsed.select(explode(col("messages")).as("m"))
      .select(col("m.role"), col("m.content")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(msgs("system") == "source: s\"x\\y\nz\tw")
    // \t and \n inside text are tokenizer separators — tokens rejoin
    // with single spaces; the quote and backslash escapes round-trip
    assert(msgs("user") == "Continue: say \"hi\" and")
    assert(msgs("assistant") == "bye \\ done")
  }

  test("lshTuningTable: JVM S-curve replica, OR-amplification edge, threshold ordering") {
    val out = Dedup.lshTuningTable(spark, 8, Seq(0.3, 0.5, 0.9)).collect()
      .map(r => ((r.getLong(0), r.getDouble(3)), (r.getDouble(2), r.getDouble(4))))
      .toMap
    def p(r: Int, b: Int, j: Double) =
      math.round((1.0 - math.pow(1.0 - math.pow(j, r), b)) * 1e6) / 1e6
    for (rr <- Seq(1, 2, 4, 8); j <- Seq(0.3, 0.5, 0.9)) {
      val bb = 8 / rr
      assert(math.abs(out((rr.toLong, j))._2 - p(rr, bb, j)) < 2e-6,
        s"r=$rr j=$j")
    }
    // r=1 is OR-amplification: P = 1-(1-J)^8
    assert(out((1L, 0.5))._2 == p(1, 8, 0.5))
    // P monotone in J at fixed banding; threshold grows with r
    assert(out((4L, 0.3))._2 < out((4L, 0.5))._2 &&
      out((4L, 0.5))._2 < out((4L, 0.9))._2)
    val thresholds = Seq(1L, 2L, 4L, 8L).map(r => out((r, 0.5))._1)
    assert(thresholds == thresholds.sorted)
  }

  test("qualityLengthCorrelation: signed correlations and null accounting per source") {
    // source "pos": ratio rises with length -> corr +1; "neg": falls -> -1
    val mk = (n: Int, stops: Int, filler: Int) =>
      (Seq.fill(stops)("the") ++ Seq.fill(filler)(s"x$n")).mkString(" ")
    val rows = Seq(
      (1L, mk(1, 1, 9), "pos"), (2L, mk(2, 2, 8), "pos"), (3L, mk(3, 3, 7), "pos"),
      (4L, mk(4, 3, 7), "neg"), (5L, mk(5, 2, 8), "neg"), (6L, mk(6, 1, 9), "neg"),
      (7L, null.asInstanceOf[String], "neg"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // lengths: "pos" texts grow with doc index? mk keeps 10 words but
    // n_chars varies with the filler token digits — force monotone
    // lengths explicitly instead
    val d = rows.withColumn("n_chars",
      when(col("doc_id") <= 3, col("doc_id") * 10)
        .otherwise((col("doc_id") - 3) * 10).cast("long"))
    val out = CorpusOps.qualityLengthCorrelation(d, Seq("the", "a", "of", "and"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(out("pos")._1 == 3 && out("pos")._2 == Some(1.0))
    assert(out("neg")._1 == 4)            // null-text doc counted in n
    assert(out("neg")._2 == Some(-1.0))   // ...but not in the correlation
  }

  test("buildCorpusStats: every stage drops its target, counts and tokens exact") {
    val good = "the data of a pipeline and the quality of a corpus grows"  // 12 words, stopword-rich
    val d = Seq(
      (1L, good + " alpha"),                       // survives everything (13 tokens)
      (2L, good + " alpha"),                       // exact dup of 1 -> dropped at dedup
      (3L, "tiny doc here"),                       // < 10 words -> gopher drop
      (4L, good + " beta"),                        // survives (13 tokens)
      (5L, "the secret eval answer is and of a the hidden here now"), // shares eval shingles
      (7L, "the secret eval answer is and of a the withheld items ok")) // eval split (7 % 7 == 0)
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val r = CorpusOps.buildCorpusStats(d,
      Seq("the", "a", "of", "and"), evalModulo = 7).collect().head
    assert(r.getLong(0) == 5)  // n_input: eval doc 7 excluded
    assert(r.getLong(1) == 4)  // doc 3 gated (word count)
    assert(r.getLong(2) == 3)  // exact dup 2 collapsed into 1
    assert(r.getLong(3) == 2)  // doc 5 shares "the secret eval"... with eval
    assert(r.getLong(4) == 26) // docs 1 + 4, 13 tokens each
  }

  test("joinCardinalityProbe: exact per-key pair counts, null bucket probed, hot key first") {
    val left = Seq(("a", 1), ("a", 2), ("a", 3), ("b", 4),
      (null.asInstanceOf[String], 5), (null.asInstanceOf[String], 6),
      ("only_left", 7)).toDF("k", "v")
    val right = Seq(("a", 1), ("a", 2), ("b", 3), ("b", 4), ("b", 5),
      (null.asInstanceOf[String], 6), ("only_right", 7)).toDF("k", "v")
    val out = Metrics.joinCardinalityProbe(left, right, "k").collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2), r.getLong(3)))
    // exact per-key products; the NULL bucket (the classic hazard) probed
    assert(out.toSet == Set(
      (Some("a"), 3L, 2L, 6L), (Some("b"), 1L, 3L, 3L), (None, 2L, 1L, 2L)))
    // hot key leads; one-sided keys absent (zero pairs)
    assert(out.head._1 == Some("a"))
    assert(!out.exists(r => r._1 == Some("only_left") || r._1 == Some("only_right")))
    // the probe's total equals the real inner-join count (null keys
    // never match in a real join — excluded from both sides)
    val realJoin = left.filter(col("k").isNotNull)
      .join(right.filter(col("k").isNotNull), "k").count()
    val probeTotal = out.filter(_._1.isDefined).map(_._4).sum
    assert(probeTotal == realJoin)
  }

  test("keepBestPerCluster: argmax score, min-id ties, null-score sentinel") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L),
      (5L, 5L), (6L, 5L)).toDF("doc_id", "cluster_id")
    val scores = Seq((1L, Some(2.0)), (2L, Some(9.0)), (3L, Some(9.0)),
      (4L, None), (5L, None), (6L, Some(0.5)))
      .toDF("doc_id", "score")
    val out = Dedup.keepBestPerCluster(clusters, scores).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(out(1L) == ((2L, 3L, Some(9.0))))  // tie 2 vs 3 -> smaller id
    assert(out(4L) == ((4L, 1L, None)))       // all-null singleton keeps raw null
    assert(out(5L) == ((6L, 2L, Some(0.5)))) // scored doc beats null-score doc
  }

  test("mlmMask: reconstruction invariant, deterministic coins, rate, salt independence") {
    val d = docs((1L to 40L).map(i =>
      i -> (1 to 25).map(j => s"w${(i * 31 + j) % 90}").mkString(" ")): _*)
    val out = CorpusOps.mlmMask(d, 150, "mlm").collect()
    assert(out.length == 40)
    var totalMasked = 0L; var totalTokens = 0L
    out.foreach { r =>
      val input = r.getString(1).split(" ", -1)
      val targets = if (r.getString(2).isEmpty) Array.empty[String]
        else r.getString(2).split(" ")
      val orig = d.filter(col("doc_id") === r.getLong(0))
        .head.getString(1).split(" ")
      assert(input.length == orig.length)
      // reconstruction: replacing [MASK] slots with targets IN ORDER
      // recovers the original token sequence exactly
      var ti = 0
      val rebuilt = input.map { t =>
        if (t == "[MASK]") { ti += 1; targets(ti - 1) } else t
      }
      assert(rebuilt.toSeq == orig.toSeq)
      assert(ti == targets.length && r.getLong(3) == targets.length)
      // unmasked positions are untouched originals
      input.zip(orig).foreach { case (a, b) =>
        if (a != "[MASK]") assert(a == b)
      }
      totalMasked += r.getLong(3); totalTokens += r.getLong(4)
    }
    val rate = totalMasked.toDouble / totalTokens
    assert(rate > 0.10 && rate < 0.20, s"mask rate $rate")
    // deterministic: same salt reruns identical; new salt differs
    val again = CorpusOps.mlmMask(d, 150, "mlm").collect().map(_.getString(1))
    assert(again.toSeq == out.map(_.getString(1)).toSeq)
    val other = CorpusOps.mlmMask(d, 150, "epoch2").collect().map(_.getString(1))
    assert(other.toSeq != out.map(_.getString(1)).toSeq)
  }

  test("pagerankFromPairs: JVM recurrence replica, hub ordering, singleton floor") {
    // star 1-{2,3,4} plus edge 5-6 plus singleton 7
    val docs = (1L to 7L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.pagerankFromPairs(docs, pairs, 0.85, 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // JVM replica of the exact recurrence
    val adj = Map(1L -> Seq(2L, 3L, 4L), 2L -> Seq(1L), 3L -> Seq(1L),
      4L -> Seq(1L), 5L -> Seq(6L), 6L -> Seq(5L), 7L -> Seq.empty[Long])
    val n = 7
    var r = (1L to 7L).map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 10)
      r = (1L to 7L).map { v =>
        // keys.toSeq: a Set of EQUAL contributions would collapse
        val c = adj.filter(_._2.contains(v)).keys.toSeq
          .map(u => r(u) / adj(u).size).sum
        v -> (0.15 / n + 0.85 * c)
      }.toMap
    (1L to 7L).foreach { v =>
      val want = math.round(r(v) * n * 1e6) / 1e6
      assert(math.abs(out(v) - want) < 2e-6, s"node $v: ${out(v)} vs $want")
    }
    // hub beats leaves; connected beats singleton; singleton at the floor
    assert(out(1L) > out(2L) && out(2L) > out(7L))
    assert(math.abs(out(7L) - 0.15) < 1e-9) // (1-d)/N * N
  }

  test("vocabGrowth: hand-counted n-gram panel, short docs skip high n, nulls absent") {
    val d = docs(
      1L -> "a b a b",         // 1grams: a,b,a,b; 2grams: "a b","b a","a b"; 3: 2; 4: 1
      2L -> "a b",             // no 3/4-grams
      3L -> null.asInstanceOf[String])
    val out = TextAnalysis.vocabGrowth(d, 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == ((6L, 2L, math.round(2.0 / 6 * 1e6) / 1e6)))
    assert(out(2L) == ((4L, 2L, 0.5)))     // "a b","b a","a b" + "a b" = 4 total, 2 distinct
    assert(out(3L) == ((2L, 2L, 1.0)))     // "a b a","b a b"
    assert(out(4L) == ((1L, 1L, 1.0)))     // "a b a b"
  }

  test("quantilesByKey: exact rank-⌈p·n⌉ values, float-trap case, ties, nulls excluded") {
    // key "a": exactly 100 values 1..100 — the ceil(0.1*100)=11 float
    // trap: p100 MUST be the rank-10 value, 10
    val a = (1 to 100).map(v => ("a", v.toLong))
    // key "b": heavy ties + a null + tiny n
    val b = Seq(("b", 5L), ("b", 5L), ("b", 5L), ("b", 9L))
    val rows = (a ++ b).toDF("k", "v")
      .union(Seq(("b", Option.empty[Long])).toDF("k", "v"))
    val out = Metrics.quantilesByKey(rows, "k", "v", Seq(100, 500, 900, 1000))
      .collect().map(r => r.getString(0) -> r).toMap
    val ra = out("a")
    assert(ra.getLong(1) == 100)
    assert(ra.getLong(2) == 10 && ra.getLong(3) == 50 &&
      ra.getLong(4) == 90 && ra.getLong(5) == 100)
    val rb = out("b")
    assert(rb.getLong(1) == 4) // null excluded from n
    // sorted b = [5,5,5,9]: ranks ceil(.1*4)=1, ceil(.5*4)=2, ceil(.9*4)=4
    assert(rb.getLong(2) == 5 && rb.getLong(3) == 5 && rb.getLong(5) == 9)
    // JVM reference over a pseudo-random skewed key
    val c = (0 until 237).map(i => ("c", ((i * 7919) % 83).toLong))
    val outc = Metrics.quantilesByKey(c.toDF("k", "v"), "k", "v", Seq(250, 750))
      .collect().head
    val sorted = c.map(_._2).sorted
    def atPm(pm: Int) = sorted(((pm * sorted.size + 999) / 1000) - 1)
    assert(outc.getLong(2) == atPm(250) && outc.getLong(3) == atPm(750))
  }

  test("imageFilter: min-dim and aspect-band gates over REALLY parsed headers") {
    // ids chosen against the synthesis formulas w=(id*7)%1920+1,
    // h=(id*13)%1080+1: tiny (1x1), squat panorama, normal
    val ids = Seq(0L, 250L, 9L, 100L, 333L)
    val d = ids.map(i => (i, s"text $i")).toDF("doc_id", "text")
    val out = Multimodal.imageFilter(d, 64, 3.0).collect()
      .map(r => r.getLong(0) -> r).toMap
    ids.foreach { id =>
      val w = (id * 7) % 1920 + 1; val h = (id * 13) % 1080 + 1
      val r = out(id)
      assert(r.getInt(2) == w && r.getInt(3) == h,
        s"id $id: parser said (${r.getInt(2)}, ${r.getInt(3)}), synth ($w, $h)")
      val expect = w >= 64 && h >= 64 &&
        w.toDouble / h <= 3.0 && w.toDouble / h >= 1.0 / 3.0
      assert(r.getBoolean(5) == expect, s"id $id keep")
    }
    // the fixture must actually exercise both outcomes
    assert(!out(0L).getBoolean(5) && !out(250L).getBoolean(5))
    assert(out.values.exists(_.getBoolean(5)))
  }

  test("clusterSizeReport: histogram, doc totals, keep-one removal volume") {
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),  // one 3-cluster
      (4L, 4L),                       // singleton
      (5L, 5L), (6L, 5L))             // one 2-cluster
      .toDF("doc_id", "cluster_id")
    val out = Dedup.clusterSizeReport(clusters).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq((1L, 1L, 1L, 0L), (2L, 1L, 2L, 1L), (3L, 1L, 3L, 2L)))
  }

  test("tokenizerFertility: hand-computed panel, null-text language yields null ratios") {
    val d = Seq(
      (1L, "Ab cd-ef", "en"),      // 2 words, 3 subwords, 8 chars
      (2L, "one two", "en"),       // 2 words, 2 subwords, 7 chars
      (3L, null.asInstanceOf[String], "zz"))
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = TextAnalysis.tokenizerFertility(d).collect()
      .map(r => r.getString(0) -> r).toMap
    val en = out("en")
    assert(en.getLong(1) == 2 && en.getLong(2) == 4 && en.getLong(3) == 5)
    assert(en.getDouble(4) == 1.25)            // 5 subwords / 4 words
    assert(en.getDouble(5) == 3.0)             // 15 chars / 5 subwords
    val zz = out("zz")
    assert(zz.getLong(1) == 1 && zz.getLong(2) == 0 && zz.getLong(3) == 0)
    assert(zz.isNullAt(4) && zz.isNullAt(5))   // null, never NaN
  }

  test("weightedSample: JVM key-formula replica picks the same winners; bad weights excluded") {
    def md5u32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    }
    def key(id: Long, w: Double): Double = {
      val u = (md5u32(s"ws:$id") + 1).toDouble / 4294967296.0
      BigDecimal(math.log(u) / w).setScale(9, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    }
    val rows = (1L to 60L).map(i => (i, (i % 7 + 1) * 10.0)) ++
      Seq((61L, 0.0), (62L, -5.0)) // excluded: zero and negative weight
    val d = rows.toDF("doc_id", "w")
    val k = 10
    val want = rows.filter(_._2 > 0)
      .map { case (id, w) => (id, key(id, w)) }
      .sortBy { case (id, kk) => (-kk, id) }.take(k).map(_._1).toSet
    val out = CorpusOps.weightedSample(d, col("w"), k, "ws").collect()
    assert(out.map(_.getLong(0)).toSet == want)
    assert(!out.exists(r => r.getLong(0) == 61L || r.getLong(0) == 62L))
    // k >= n degenerates to "every positive-weight doc"
    assert(CorpusOps.weightedSample(d, col("w"), 1000, "ws").count() == 60L)
    // a different salt draws a different (but equal-size) sample
    val other = CorpusOps.weightedSample(d, col("w"), k, "ws2").collect()
      .map(_.getLong(0)).toSet
    assert(other.size == k && other != want)
  }

  private def eventsDf(rows: (Long, String, String)*) =
    rows.toDF("user_id", "ts_s", "event_type")
      .withColumn("ts", to_timestamp(col("ts_s")))
      .withColumn("event_id", monotonically_increasing_id())
      .withColumn("value", lit(1.0))
      .withColumn("props", lit("{}"))
      .drop("ts_s")

  test("funnelSteps: greedy earliest-anchor completion, gap cutoffs, step order") {
    val d = eventsDf(
      // user 1: full completion inside the 1h gap
      (1L, "2024-01-01 00:00:00", "view"),
      (1L, "2024-01-01 00:30:00", "click"),
      (1L, "2024-01-01 00:50:00", "purchase"),
      // user 2: click beyond the gap -> stops at step 1
      (2L, "2024-01-01 00:00:00", "view"),
      (2L, "2024-01-01 02:00:00", "click"),
      // user 3: never did step 1 -> absent
      (3L, "2024-01-01 00:00:00", "click"),
      // user 4: step 3 beyond the gap FROM STEP 2 -> stops at 2
      (4L, "2024-01-01 00:00:00", "view"),
      (4L, "2024-01-01 00:10:00", "click"),
      (4L, "2024-01-01 01:30:00", "purchase"),
      // user 5: pre-anchor purchase ignored; later one counts
      (5L, "2024-01-01 00:00:00", "purchase"),
      (5L, "2024-01-01 00:10:00", "view"),
      (5L, "2024-01-01 00:20:00", "click"),
      (5L, "2024-01-01 00:40:00", "purchase"),
      // user 6: the documented greedy miss — the 00:30 view would
      // anchor a completion, but the EARLIEST view is the anchor
      (6L, "2024-01-01 00:00:00", "view"),
      (6L, "2024-01-01 00:30:00", "view"),
      (6L, "2024-01-01 01:10:00", "click"))
    val out = Metrics.funnelSteps(d, Seq("view", "click", "purchase"), 3600L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(4), (1 to 3).map(i => if (r.isNullAt(i)) None else Some(r.getLong(i)))))
      .toMap
    def us(s: String): Long =
      java.time.Instant.parse(s).toEpochMilli * 1000L
    assert(out.keySet == Set(1L, 2L, 4L, 5L, 6L))
    assert(out(1L)._1 == 3 && out(1L)._2 == Seq(
      Some(us("2024-01-01T00:00:00Z")), Some(us("2024-01-01T00:30:00Z")),
      Some(us("2024-01-01T00:50:00Z"))))
    assert(out(2L)._1 == 1 && out(2L)._2(1).isEmpty)
    assert(out(4L)._1 == 2 && out(4L)._2(2).isEmpty)
    assert(out(5L)._1 == 3 &&
      out(5L)._2(0) == Some(us("2024-01-01T00:10:00Z")) &&
      out(5L)._2(2) == Some(us("2024-01-01T00:40:00Z")))
    assert(out(6L)._1 == 1) // greedy-earliest semantics, by design
  }

  test("cohortRetention: integer epoch-week cohorts, offsets, distinct weekly actives") {
    val d = eventsDf(
      (1L, "2024-01-01 10:00:00", "view"),  // epoch-day 19723
      (1L, "2024-01-02 10:00:00", "view"),  // same week, still 1 active row
      (1L, "2024-01-10 10:00:00", "view"),  // +1 week
      (2L, "2024-01-03 10:00:00", "view"),  // same cohort as user 1
      (3L, "2024-01-10 10:00:00", "view"))  // next-week cohort
    def week(s: String): Long = java.time.LocalDate.parse(s).toEpochDay / 7
    val w0 = week("2024-01-01")
    assert(week("2024-01-03") == w0 && week("2024-01-10") == w0 + 1)
    val out = Metrics.cohortRetention(d).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(out == Map(
      (w0, 0L) -> 2L,       // users 1+2 active in their cohort week
      (w0, 1L) -> 1L,       // only user 1 returns
      (w0 + 1, 0L) -> 1L))  // user 3's own cohort
  }

  test("embeddingHealth: nulls, zero vectors, and mixed dims surface per label") {
    val rows = Seq(
      (1L, Array(3.0f, 4.0f), 0),              // norm 5
      (2L, Array(0.0f, 0.0f), 0),              // zero vector
      (3L, null.asInstanceOf[Array[Float]], 0), // failed encode
      (4L, Array(6.0f, 8.0f), 1),              // norm 10
      (5L, Array(1.0f, 2.0f, 2.0f), 1))        // MIXED DIM (3 vs 2), norm 3
    val d = rows.toDF("vec_id", "embedding", "label")
    val out = Similarity.embeddingHealth(d).collect()
      .map(r => r.getLong(0) -> r).toMap
    val l0 = out(0L)
    assert(l0.getLong(1) == 3 && l0.getLong(2) == 1)  // n, n_null
    assert(l0.getLong(3) == 1 && l0.getLong(4) == 1)  // dims, n_zero
    assert(l0.getDouble(5) == 2.5)                    // mean(5, 0)
    assert(l0.getDouble(6) == 2.5)                    // stddev_pop(5, 0)
    val l1 = out(1L)
    assert(l1.getLong(1) == 2 && l1.getLong(2) == 0 && l1.getLong(4) == 0)
    assert(l1.getLong(3) == 2)                        // mixed-dim ALARM
    assert(l1.getDouble(5) == 6.5)                    // mean(10, 3)
    assert(l1.getDouble(6) == 3.5)                    // stddev_pop(10, 3)
  }

  test("frequentTokens: exact guaranteed-support set under forced sketch trims") {
    // vocab (200 singletons) >> k=4 counters -> the MG sketch trims
    // constantly; heavy tokens must still surface with EXACT counts
    val rare = (0 until 200).map(i => s"rare$i")
    val text = (Seq.fill(120)("hot") ++ Seq.fill(90)("warm") ++
      Seq.fill(40)("cool") ++ rare).mkString(" ")
    // spread across docs so multiple partitions hold partial counts
    val chunks = text.split(" ").grouped(45).map(_.mkString(" ")).toSeq
    val d = chunks.zipWithIndex.map { case (c, i) => (i.toLong, c) }
      .toDF("doc_id", "text")
    val k = 4
    val n = 120 + 90 + 40 + 200
    val out = TextAnalysis.frequentTokens(d, k).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = Map("hot" -> 120L, "warm" -> 90L, "cool" -> 40L)
      .filter { case (_, c) => c * (k + 1) > n }.toSeq
      .sortBy { case (t, c) => (-c, t) }
    assert(out == want)        // exact counts, exact threshold set, order
    assert(want.nonEmpty && want.size < 3 || want.size == 3)
    // share column consistent with counts
    val shares = TextAnalysis.frequentTokens(d, k).collect()
      .map(r => (r.getString(0), r.getDouble(2))).toMap
    want.foreach { case (t, c) =>
      assert(math.abs(shares(t) - c.toDouble / n) < 1e-6)
    }
    // empty corpus -> empty result, no crash
    assert(TextAnalysis.frequentTokens(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), k).count() == 0L)
  }

  test("perplexityBuckets: equal-population per-source bands, score-monotone, empty docs absent") {
    val common = "the the the the the the the the"         // most fluent
    val d = Seq(
      (1L, common, "a"), (2L, common + " rare1", "a"),
      (3L, common + " rare2 rare3", "a"), (4L, common + " r4 r5 r6", "a"),
      (5L, "x1 x2 x3 x4 x5 x6 x7 x8", "a"), (6L, "y1 y2 y3 y4 y5 y6 y7 y8", "a"),
      (7L, common, "b"), (8L, "z1 z2 z3 z4", "b"),
      (9L, null.asInstanceOf[String], "b"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val out = TextAnalysis.perplexityBuckets(d, 3).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getDouble(2), r.getLong(3))))
      .toMap
    assert(!out.contains(9L)) // no tokens -> no LM score -> absent
    // source a: 6 docs -> exact thirds
    val a = out.collect { case (id, ("a", bits, bk)) => (id, bits, bk) }.toSeq
    assert(a.groupBy(_._3).view.mapValues(_.size).toMap == Map(0L -> 2, 1L -> 2, 2L -> 2))
    // buckets are monotone in the score
    val byBucket = a.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    assert(byBucket(0L).max <= byBucket(1L).min)
    assert(byBucket(1L).max <= byBucket(2L).min)
    // the all-common-token doc is head, the all-singleton docs are tail
    assert(out(1L)._3 == 0L && out(5L)._3 == 2L && out(6L)._3 == 2L)
    // source b: 2 docs -> buckets 0 and 1 (((rk-1)*3) div 2)
    assert(out(7L) == ("b", out(7L)._2, 0L) && out(8L)._3 == 1L)
    assert(out(7L)._2 < out(8L)._2)
  }

  // ---- prefix-filter exact Jaccard join (AllPairs/PPJoin family) ----

  /** JVM reference: brute-force all-pairs Jaccard over distinct word
    * 3-shingle sets — same tokenization as the operator. */
  private def bruteJaccardPairs(rows: Seq[(Long, String)], k: Int,
                                t: Double): Set[(Long, Long, Long)] = {
    def set(s: String): Set[String] = {
      val w = s.trim.split("\\s+").toSeq
      if (w.length < k) Set.empty
      else w.sliding(k).map(_.mkString(" ")).toSet
    }
    val sets = rows.map { case (id, s) => id -> set(s) }.filter(_._2.nonEmpty)
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = (sa & sb).size
      // exact rational compare, matching the operator's permille contract
      if inter.toLong * 1000L >=
        math.round(t * 1000) * (sa.size + sb.size - inter).toLong
    } yield (a, b, inter.toLong)).toSet
  }

  test("prefixJaccardPairs: hand-computed pair, threshold gate, disjoint excluded") {
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val d = docs(
      1L -> base,                      // 6 shingles
      2L -> (base + " iota"),          // 7 shingles, shares all 6 → J = 6/7
      3L -> "one two three four five six seven eight",  // disjoint
      4L -> "tiny doc",                // < 3 words → no shingles
      5L -> null.asInstanceOf[String]) // null text → excluded
    val out = Dedup.prefixJaccardPairs(d, 3, 0.5).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set((1L, 2L)))
    assert(out((1L, 2L)) == (6L, math.round(6.0 / 7.0 * 10000) / 10000.0))
    // raise the threshold above 6/7 → the pair disappears
    assert(Dedup.prefixJaccardPairs(d, 3, 0.9).count() == 0L)
  }

  test("prefixJaccardPairs equals brute force on a templated corpus (no false negatives)") {
    // templated docs: shared frame with rotating slot words — the shape
    // that defeats unigram sets and stresses the prefix filter
    val vocab = Seq("data", "spark", "query", "join", "merge", "scan",
      "batch", "stream", "table", "index")
    val rows = (0L until 30L).map { i =>
      val a = vocab((i % 7).toInt); val b = vocab((i % 5).toInt)
      val c = vocab(((i * 3 + 1) % 10).toInt)
      val tail = if (i % 9 == 0) "shared suffix run here" else s"tail $a $c"
      i -> s"the $a pipeline reads $b rows from the $c store $tail"
    }
    val d = docs(rows: _*)
    for (t <- Seq(0.1, 0.3, 0.5, 0.8, 1.0)) {
      val got = Dedup.prefixJaccardPairs(d, 3, t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = bruteJaccardPairs(rows, 3, t)
      assert(got == want, s"threshold $t: got ${got.size}, want ${want.size}")
    }
  }

  test("prefixJaccardPairs at threshold 1.0 still pairs exact duplicates (prefix length 1)") {
    val text = "spark runs fast queries over big data lakes"
    val d = docs(1L -> text, 2L -> text, 3L -> (text + " nightly"))
    val out = Dedup.prefixJaccardPairs(d, 3, 1.0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    assert(out == Set((1L, 2L, 1.0)))
  }

  test("prefixJaccardPairs: integer-permille prefix survives the ceil(0.1*100) trap") {
    // A: 102 distinct words → exactly 100 distinct 3-shingles; B: a
    // 12-word substring → 10 shingles, all shared. Jaccard = 10/100 =
    // 0.1 = t exactly. Double-ceil prefix math (ceil(0.1*100) = 11)
    // shortens A's prefix to 90 elements, and the 10 shared grams —
    // df = 2 in this corpus, so sorted LAST, positions 91..100 — would
    // all fall outside it: a silent false negative. The integer
    // (pm*n+999) div 1000 form keeps position 91 inside the prefix.
    val words = (0 until 102).map(i => s"w$i")
    val d = docs(1L -> words.mkString(" "),
                 2L -> words.slice(45, 57).mkString(" "))
    val out = Dedup.prefixJaccardPairs(d, 3, 0.1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(out == Set((1L, 2L, 10L, 0.1)))
  }

  test("seasonalityDow: exact index on a hand dow pattern; weighted identity; null label kept") {
    import spark.implicits._
    // 2024-01-01 is a Monday. Two weeks: Mondays log 4/day, the other
    // days 1/day → Monday mean 4, overall mean (2*4+12*1)/14 = 10/7,
    // Monday idx = 4/(10/7) = 2.8 exactly; others = 0.7.
    def t(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 09:00:00")
    val rows = (1 to 14).flatMap { d =>
      val n = if ((d - 1) % 7 == 0) 4 else 1
      (0 until n).map(_ => ("e", t(d)))
    } ++ Seq((null.asInstanceOf[String], t(3)))
    val ev = rows.zipWithIndex
      .map { case ((ty, ts), i) => (i.toLong, ts, ty) }
      .toDF("event_id", "ts", "event_type")
    val out = graft.metrics.Metrics.seasonalityDow(ev).collect()
    val e = out.filter(r => r.getString(0) == "e")
      .map(r => r.getLong(1) -> r.getDouble(4)).toMap
    assert(e(0L) == 2.8 && (1L to 6L).forall(e(_) == 0.7), s"got $e")
    // Σ n_days·idx = days_total (the weighted identity), within rounding
    val ident = out.filter(r => r.getString(0) == "e")
      .map(r => r.getLong(2) * r.getDouble(4)).sum
    assert(math.abs(ident - 14.0) < 0.01, s"identity: $ident")
    // the null label survives as its own group
    assert(out.exists(r => r.isNullAt(0)), "null label group must be kept")
  }

  test("cusumChangepoint: exact integer statistic finds a step shift at its boundary") {
    import spark.implicits._
    // 3 days at 2/day then 3 at 10/day: total=36, T=6; S_t peaks at
    // t=3 (|6*6 - 3*36| = 72); mean_shift_permille = 72000/(6*36)=333
    def t(d: Int) = java.sql.Timestamp.valueOf(f"2024-02-$d%02d 12:00:00")
    val rows = (1 to 6).flatMap { d =>
      (0 until (if (d <= 3) 2 else 10)).map(_ => ("s", t(d)))
    }
    val ev = rows.zipWithIndex
      .map { case ((ty, ts), i) => (i.toLong, ts, ty) }
      .toDF("event_id", "ts", "event_type")
    val r = graft.metrics.Metrics.cusumChangepoint(ev).head()
    assert(r.getLong(1) == 6L && r.getLong(2) == 36L)
    assert(r.getDate(3).toString == "2024-02-03", s"cp_day: ${r.getDate(3)}")
    assert(r.getLong(4) == 72L && r.getLong(5) == 333L, s"got $r")
  }

  test("crossCorrelation: +1 for proportional series, -1 for mirrored; constant pairs dropped") {
    import spark.implicits._
    def t(d: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-03-$d%02d $h%02d:00:00")
    // a: 1,2,3,4 events/day; b = 2a (corr +1); c = 5-a (corr -1);
    // k: constant 3/day (zero variance — every pair with k drops)
    val rows = (1 to 4).flatMap { d =>
      (0 until d).map(h => ("a", t(d, h))) ++
      (0 until 2 * d).map(h => ("b", t(d, h))) ++
      (0 until 5 - d).map(h => ("c", t(d, h))) ++
      (0 until 3).map(h => ("k", t(d, h)))
    }
    val ev = rows.zipWithIndex
      .map { case ((ty, ts), i) => (i.toLong, ts, ty) }
      .toDF("event_id", "ts", "event_type")
    val out = graft.metrics.Metrics.crossCorrelation(ev).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(3))).toMap
    assert(out(("a", "b")) == 1.0 && out(("a", "c")) == -1.0
      && out(("b", "c")) == -1.0, s"got $out")
    assert(!out.keys.exists(p => p._1 == "k" || p._2 == "k"),
      "constant series must never pair")
  }

  test("aspectBuckets: exact cross-product assignment, err 0 on panel ratios, panel-order ties") {
    // doc_id formulas: width=(id*7)%1920+1, height=(id*13)%1080+1.
    // Use ids whose synth dims hit known ratios is fiddly — instead
    // assert the invariants on the real fixture: every bucket name is
    // from the panel, err_scaled >= 0, and recomputing the argmin in
    // plain Scala over the panel matches row-for-row.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = Multimodal.aspectBuckets(docs).collect()
    assert(out.length == 500)
    val panel = Multimodal.aspectBucketPanel.zipWithIndex
    val names = panel.map(_._1._3).toSet
    out.foreach { r =>
      val (w, h) = (r.getInt(1).toLong, r.getInt(2).toLong)
      val errs = panel.map { case ((p, q, name), i) =>
        (math.abs(w * q - p * h) * (Multimodal.aspectBucketLcm / q), i, name)
      }
      val best = errs.minBy(e => (e._1, e._2))
      assert(r.getString(3) == best._3 && r.getLong(4) == best._1,
        s"doc ${r.getLong(0)} ($w x $h): got ${r.getString(3)}/${r.getLong(4)}, want $best")
      assert(names.contains(r.getString(3)))
    }
    // a square image errs 0 on 1:1 and ties nothing
    val sq = out.find(r => r.getInt(1) == r.getInt(2))
    sq.foreach(r => assert(r.getString(3) == "1:1" && r.getLong(4) == 0L))
  }

  test("lexiconScore: hit-free docs kept at 0, null text excluded, half-away integer permille") {
    import spark.implicits._
    val docs = Seq(
      (1L, "fast fast slow pad"),          // wsum 3+3-3=3, n=4 → 750
      (2L, "pad pad pad"),                 // no hits → 0
      (3L, "slow"),                        // wsum -3, n=1 → -3000
      (4L, null.asInstanceOf[String]),     // excluded
      (5L, "slow pad pad pad pad pad pad pad")) // -3/8 → -375
      .toDF("doc_id", "text")
    val lex = Seq("fast" -> 3, "slow" -> -3)
    val out = TextAnalysis.lexiconScore(docs, lex).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 5L))
    assert(out(1L) == ((4L, 3L, 3L, 750L)), s"got ${out(1L)}")
    assert(out(2L) == ((3L, 0L, 0L, 0L)))
    assert(out(3L) == ((1L, 1L, -3L, -3000L)))
    assert(out(5L) == ((8L, 1L, -3L, -375L)))
    // negative fractional permille rounds away from zero: one "slow"
    // in 4000 tokens → -3000/4000 = -0.75 permille →
    // -((2000*3 + 4000) div 8000) = -1
    val edge = Seq((9L, (Seq.fill(3999)("pad") :+ "slow").mkString(" ")))
      .toDF("doc_id", "text")
    val e = TextAnalysis.lexiconScore(edge, lex).head()
    assert(e.getLong(4) == -1L, s"half-away permille: ${e.getLong(4)}")
  }

  test("interarrivalHist: bit-length buckets, sub-second bucket -1, per-user gaps, null users out") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      // user 1, type e: gaps 1 s (bucket 0), 4 s (bucket 2), 0.4 s (-1)
      (1L, 10L, "e", t("2024-01-01 00:00:00")),
      (2L, 10L, "e", t("2024-01-01 00:00:01")),
      (3L, 10L, "e", t("2024-01-01 00:00:05")),
      (4L, 10L, "e", t("2024-01-01 00:00:05.4")),
      // user 2, type e: one 1024 s gap → bucket 10
      (5L, 20L, "e", t("2024-01-01 01:00:00")),
      (6L, 20L, "e", t("2024-01-01 01:17:04")),
      // null user: must contribute nothing
      (7L, -1L, "e", t("2024-01-01 02:00:00")),
      (8L, -1L, "e", t("2024-01-01 02:00:01")))
      .toDF("event_id", "user_id", "event_type", "ts")
      .withColumn("user_id",
        when(col("user_id") === -1L, lit(null)).otherwise(col("user_id")))
    val out = graft.metrics.Metrics.interarrivalHist(rows).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(out == Set((-1L, 1L, 0L, 0L), (0L, 1L, 1L, 1L),
      (2L, 1L, 4L, 4L), (10L, 1L, 1024L, 1024L)), s"got $out")
  }

  test("affinityMatrix: exact permille lift on a hand basket; nulls excluded") {
    import spark.implicits._
    def t(d: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-04-$d%02d $h%02d:00:00")
    // user-days: (u1,d1):{x,y} (u1,d2):{x} (u2,d1):{y} (u2,d2):{x,y}
    // N=4, n_x=3, n_y=3, n_xy=2 → lift = 1000*2*4/(3*3) = 888
    val rows = Seq(
      (1L, 1L, "x", t(1, 1)), (2L, 1L, "y", t(1, 2)),
      (3L, 1L, "x", t(1, 3)), // dup (u1,d1,x) — distinct-triple dedup
      (4L, 1L, "x", t(2, 1)),
      (5L, 2L, "y", t(1, 1)),
      (6L, 2L, "x", t(2, 1)), (7L, 2L, "y", t(2, 2)))
      .toDF("event_id", "user_id", "event_type", "ts")
    val out = graft.metrics.Metrics.affinityMatrix(rows).collect()
      .map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    assert(out == Map(("x", "y") -> ((2L, 888L))), s"got $out")
  }

  test("burstiness: exact integer VMR permille; uniform prose scores 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b. c d."),       // x = [2,2]: vmr 0
      (2L, "a. b c d."),       // x = [1,3]: n=2 S=4 Q=10 → 4000/8 = 500
      (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextAnalysis.burstiness(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out == Map(1L -> ((2L, 4L, 0L)), 2L -> ((2L, 4L, 500L))),
      s"got $out")
  }

  test("topMovers: exact deltas vs previous OBSERVED day; first day excluded; |delta| rank") {
    import spark.implicits._
    def t(d: Int) = java.sql.Timestamp.valueOf(f"2024-05-$d%02d 09:00:00")
    // x: 5, 2, (gap), 9 → deltas -3 and +7 (vs previous OBSERVED day)
    // y: 1, 2 → delta +1
    val rows =
      (0 until 5).map(_ => ("x", t(1))) ++ (0 until 2).map(_ => ("x", t(2))) ++
      (0 until 9).map(_ => ("x", t(5))) ++
      Seq(("y", t(1)), ("y", t(2)), ("y", t(2)))
    val ev = rows.zipWithIndex
      .map { case ((ty, ts), i) => (i.toLong, ts, ty) }
      .toDF("event_id", "ts", "event_type")
    val out = graft.metrics.Metrics.topMovers(ev, 2).collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(("x", "2024-05-05", 9L, 2L, 7L),
      ("x", "2024-05-02", 2L, 5L, -3L)), s"got ${out.toSeq}")
  }

  test("oovCurve: exact coverage at each vocab size; frequency-then-token rank; empty corpus silent") {
    import spark.implicits._
    // types: a×5, b×3, c×3, d×1 → total 12. Rank: a(1), b(2), c(3)
    // (b<c tie on cnt 3), d(4). V=1: covered 5 → oov 583; V=2: 8 →
    // 333; V=4: 12 → 0
    val docs = Seq((1L, "a a a b b c"), (2L, "a a b c c d"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.oovCurve(docs, Seq(1L, 2L, 4L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.toSeq == Seq((1L, 4L, 12L, 5L, 583L),
      (2L, 4L, 12L, 8L, 333L), (4L, 4L, 12L, 12L, 0L)), s"got ${out.toSeq}")
    val empty = Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text")
    assert(TextAnalysis.oovCurve(empty, Seq(1L)).collect().isEmpty)
  }

  test("sessionWindowSummaries: native session merge, end = last + gap, null users out") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      // user 1: events at 0 s, 20 s (merge, gap 30), then 100 s (new)
      (1L, 10L, "e", t("2024-01-01 00:00:00")),
      (2L, 10L, "e", t("2024-01-01 00:00:20")),
      (3L, 10L, "e", t("2024-01-01 00:01:40")),
      // boundary: an event at EXACTLY last+gap MERGES (Spark inclusive
      // end — the oracle's break condition must be strict >)
      (4L, 20L, "e", t("2024-01-01 00:00:00")),
      (5L, 20L, "e", t("2024-01-01 00:00:30")),
      (6L, -1L, "e", t("2024-01-01 00:00:00")))
      .toDF("event_id", "user_id", "event_type", "ts")
      .withColumn("user_id",
        when(col("user_id") === -1L, lit(null)).otherwise(col("user_id")))
    val out = graft.metrics.Metrics.sessionWindowSummaries(rows, 30).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getTimestamp(2).toString, r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (10L, "2024-01-01 00:00:00.0", "2024-01-01 00:00:50.0", 2L, 50L),
      (10L, "2024-01-01 00:01:40.0", "2024-01-01 00:02:10.0", 1L, 30L),
      (20L, "2024-01-01 00:00:00.0", "2024-01-01 00:01:00.0", 2L, 60L)),
      s"got ${out.toSeq}")
  }

  test("kcenterSample: seed is lowest pool id; greedy picks the farthest; k rows out") {
    import spark.implicits._
    // orthogonal axes + a near-duplicate of the seed: with pool = all
    // 4, greedy from the seed must pick an orthogonal vector (cos 0)
    // before the near-duplicate (cos ~1)
    val emb = Seq(
      (1L, Array(1f, 0f, 0f, 0f), 0L),
      (2L, Array(0.99f, 0.14f, 0f, 0f), 0L), // near-dup of 1
      (3L, Array(0f, 1f, 0f, 0f), 0L),
      (4L, Array(0f, 0f, 1f, 0f), 0L))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.kcenterSample(emb, k = 3, poolSize = 4).collect()
    assert(out.length == 3)
    assert(out(0).getLong(1) == 1L && out(0).isNullAt(2), "seed = lowest id")
    val picked = out.map(_.getLong(1)).toSet
    assert(!picked.contains(2L),
      s"near-duplicate must lose to orthogonal axes: $picked")
    assert(out(1).getDouble(2) == 0.0 && out(2).getDouble(2) == 0.0,
      "orthogonal picks have max_cos 0")
  }

  private def evTs(d: Int, h: Int = 9): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-04-$d%02d $h%02d:00:00")

  test("rollingDistinctUsers: contribution intervals count each user once per window") {
    import spark.implicits._
    // window=3 days over type e: u1 @ d1,d3; u2 @ d1 (twice — day-grain
    // dedup); u3 @ d4. Null user excluded; null label is its own group.
    val rows = Seq(
      ("e", Some(1L), evTs(1)), ("e", Some(2L), evTs(1, 8)),
      ("e", Some(2L), evTs(1, 10)), ("e", Some(1L), evTs(3)),
      ("e", Some(3L), evTs(4)), ("e", None, evTs(1)),
      (null.asInstanceOf[String], Some(5L), evTs(1)))
    val ev = rows.zipWithIndex.map { case ((ty, u, ts), i) =>
      (i.toLong, ts, u, ty) }.toDF("event_id", "ts", "user_id", "event_type")
    val out = graft.metrics.Metrics.rollingDistinctUsers(ev, 3).collect()
    val e = out.filter(r => r.getString(0) == "e")
      .map(r => r.getDate(1).toString -> r.getLong(2)).toMap
    // d1: {u1,u2}=2; d3: u1(d3 wins over d1)+u2(d1)=2; d4: u1(d3)+u3=2
    assert(e == Map("2024-04-01" -> 2L, "2024-04-03" -> 2L,
      "2024-04-04" -> 2L), s"got $e")
    val nullGroup = out.filter(_.isNullAt(0))
    assert(nullGroup.length == 1 && nullGroup.head.getLong(2) == 1L,
      "null label must survive with its own count")
  }

  test("mutualInfoPanel: zero on an independent grid, ln2 on a diagonal one") {
    import spark.implicits._
    // independent: both labels spread 2:3 across Mon/Tue -> pmi 0
    // (2024-04-01 is a Monday)
    val ind = (Seq.fill(2)(("a", 1)) ++ Seq.fill(3)(("a", 2)) ++
      Seq.fill(4)(("b", 1)) ++ Seq.fill(6)(("b", 2)))
    val indDf = ind.zipWithIndex.map { case ((ty, d), i) =>
      (i.toLong, evTs(d), Some(1L), ty) }
      .toDF("event_id", "ts", "user_id", "event_type")
    val r1 = graft.metrics.Metrics.mutualInfoPanel(indDf).collect()
    assert(r1.forall(r => r.getDouble(3) == 0.0 && r.getDouble(4) == 0.0),
      s"independent grid must be flat-zero: ${r1.mkString(";")}")
    // diagonal: a only Monday (2), b only Tuesday (2) -> pmi = ln 2
    val diag = (Seq.fill(2)(("a", 1)) ++ Seq.fill(2)(("b", 2)))
    val diagDf = diag.zipWithIndex.map { case ((ty, d), i) =>
      (i.toLong, evTs(d), Some(1L), ty) }
      .toDF("event_id", "ts", "user_id", "event_type")
    val r2 = graft.metrics.Metrics.mutualInfoPanel(diagDf).collect()
    assert(r2.length == 2 &&
      r2.forall(r => r.getDouble(3) == 0.6931 && r.getDouble(4) == 0.3466),
      s"diagonal grid: ${r2.mkString(";")}")
  }

  test("scd2Intervals: runs collapse, versions 1-based even for a null-first history") {
    import spark.implicits._
    val rows = Seq(
      (1L, "A", evTs(1)), (1L, "A", evTs(2)), (1L, "B", evTs(3)),
      (1L, "A", evTs(4)),
      (2L, null.asInstanceOf[String], evTs(1)),
      (2L, null.asInstanceOf[String], evTs(2)), (2L, "C", evTs(3)))
    val ev = rows.zipWithIndex.map { case ((u, ty, ts), i) =>
      (i.toLong, ts, Some(u), ty) }
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = graft.metrics.Metrics.scd2Intervals(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)),
        r.getTimestamp(3).toString,
        Option(r.getTimestamp(4)).map(_.toString), r.getLong(5)))
    assert(out.toSeq == Seq(
      (1L, 1L, Some("A"), "2024-04-01 09:00:00.0",
        Some("2024-04-03 09:00:00.0"), 2L),
      (1L, 2L, Some("B"), "2024-04-03 09:00:00.0",
        Some("2024-04-04 09:00:00.0"), 1L),
      (1L, 3L, Some("A"), "2024-04-04 09:00:00.0", None, 1L),
      (2L, 1L, None, "2024-04-01 09:00:00.0",
        Some("2024-04-03 09:00:00.0"), 2L),
      (2L, 2L, Some("C"), "2024-04-03 09:00:00.0", None, 1L)),
      s"got ${out.toSeq}")
  }

  test("abProportionTest: symmetric split gives mirrored z; pooled guard drops uniform labels") {
    import spark.implicits._
    // arm0 (even users): 3 x + 1 y; arm1 (odd): 1 x + 3 y
    val rows = Seq.fill(3)(("x", 2L)) ++ Seq(("y", 2L)) ++
      Seq(("x", 3L)) ++ Seq.fill(3)(("y", 3L))
    val ev = rows.zipWithIndex.map { case ((ty, u), i) =>
      (i.toLong, evTs(1), Some(u), ty) }
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = graft.metrics.Metrics.abProportionTest(ev).collect()
      .map(r => r.getString(0) -> (r.getDouble(5), r.getDouble(6),
        r.getDouble(7), r.getBoolean(8))).toMap
    // p_a=.75 vs p_b=.25, pooled .5: z = .5/sqrt(.25*.5) = 1.4142
    assert(out("x") == ((0.75, 0.25, 1.4142, false)), s"got ${out("x")}")
    assert(out("y") == ((0.25, 0.75, -1.4142, false)), s"got ${out("y")}")
  }

  test("abProportionTest: one-arm label KEPT with x=0 on the other side") {
    import spark.implicits._
    // "solo" fires only for even users (arm 0); "both" hits both arms.
    // n_a = 3, n_b = 1 corpus-wide.
    val rows = Seq(("solo", 2L), ("solo", 2L), ("both", 2L), ("both", 3L))
    val ev = rows.zipWithIndex.map { case ((ty, u), i) =>
      (i.toLong, evTs(1), Some(u), ty) }
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = graft.metrics.Metrics.abProportionTest(ev).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7))).toMap
    // solo: p_a = 2/3, p_b = 0/1 — x_b = 0 is a well-defined count and
    // z = (2/3)/sqrt(.5*.5*(1/3+1)) = 1.1547 is computable (ADVICE r12:
    // the strongest imbalance must not be silently dropped)
    assert(out("solo") == ((3L, 2L, 1L, 0L, 0.6667, 0.0, 1.1547)),
      s"got ${out("solo")}")
    assert(out("both") == ((3L, 1L, 1L, 1L, 0.3333, 1.0, -1.1547)),
      s"got ${out("both")}")
  }

  test("cupedLift: hand theta/adjusted lift; zero-variance covariate dropped") {
    import spark.implicits._
    // pre = day 1 (< global midpoint between day-1 and day-3 events),
    // post = day 3. Per-user (x, y): u1(arm1) (1,2), u2(arm0) (2,4),
    // u3(arm1) (0,1), u4(arm0) (1,3) -> n=4 sx=4 sy=10 sxy=13 sxx=6
    // syy=30; vx=8 vy=20 cxy=12; theta=1.5, rho^2=144/160=0.9;
    // arm0: sya=7 sxa=3 -> diff_raw=3.5-1.5=2, diff_adj=2-1.5*1=0.5
    val per = Seq((1L, 1, 2), (2L, 2, 4), (3L, 0, 1), (4L, 1, 3))
    val rows = per.flatMap { case (u, x, y) =>
      Seq.fill(x)((u, 1)) ++ Seq.fill(y)((u, 3)) }
    val ev = rows.zipWithIndex.map { case ((u, d), i) =>
      (i.toLong, evTs(d), Some(u), "x") }
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = graft.metrics.Metrics.cupedLift(ev).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getDouble(7), r.getDouble(8), r.getDouble(9)))
    // residuals r = y - 1.5x: arm0 {1, 1.5}, arm1 {0.5, 1} -> each arm
    // nΣr²−(Σr)² = 0.25, Var(r̄) = 0.25/4 = 0.0625; se = √0.125 =
    // 0.3536; ci = 0.5 ∓ 1.96·0.35355… = (−0.193, 1.193)
    assert(out.toSeq ==
      Seq("x" -> ((2L, 2L, 1.5, 2.0, 0.5, 0.3536, -0.193, 1.193, 0.9))),
      s"got ${out.toSeq}")
    // a label whose every user has the same pre-count: var(X)=0 ->
    // theta undefined -> dropped (no pre-period signal to adjust with)
    val flat = (1L to 4L).flatMap(u => Seq((u, 1), (u, 3)))
      .zipWithIndex.map { case ((u, d), i) =>
        (1000L + i, evTs(d), Some(u), "flat") }
      .toDF("event_id", "ts", "user_id", "event_type")
    val out2 = graft.metrics.Metrics.cupedLift(ev.union(flat)).collect()
      .map(_.getString(0))
    assert(out2.toSeq == Seq("x"), s"got ${out2.toSeq}")
  }

  test("didLift: hand difference-in-differences over the CUPED fixture") {
    import spark.implicits._
    // same per-user (x, y) panel as the CUPED spec: arm0 pre 1.5 ->
    // post 3.5 (+2), arm1 pre 0.5 -> post 1.5 (+1) -> did = 1.0.
    // Per-user growth d = y−x is 2 for BOTH arm0 users and 1 for both
    // arm1 users -> zero within-arm variance: se = 0, ci = [1, 1]
    val per = Seq((1L, 1, 2), (2L, 2, 4), (3L, 0, 1), (4L, 1, 3))
    val rows = per.flatMap { case (u, x, y) =>
      Seq.fill(x)((u, 1)) ++ Seq.fill(y)((u, 3)) }
    val ev = rows.zipWithIndex.map { case ((u, d), i) =>
      (i.toLong, evTs(d), Some(u), "x") }
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = graft.metrics.Metrics.didLift(ev).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getDouble(7), r.getDouble(8), r.getDouble(9), r.getDouble(10)))
    assert(out.toSeq ==
      Seq("x" -> ((2L, 2L, 1.5, 3.5, 0.5, 1.5, 1.0, 0.0, 1.0, 1.0))),
      s"got ${out.toSeq}")
  }

  test("rollingDistinctUsersHll: sparse-mode sketch matches the exact panel on a hand fixture") {
    import spark.implicits._
    // u1 on day 1, u2 on days 1 and 9, u3 on day 3 — 7-day windows:
    // observed end days {1, 3, 9}: day1 → {u1,u2}=2, day3 → {u1,u2,u3}=3
    // (both within 7 days), day9 → {u2,u3}=2 (u1's day-1 fell out)
    val ev = Seq((1L, 1), (2L, 1), (2L, 9), (3L, 3)).zipWithIndex
      .map { case ((u, d), i) => (i.toLong, evTs(d), Some(u), "x") }
      .toDF("event_id", "ts", "user_id", "event_type")
    val approx = graft.metrics.Metrics.rollingDistinctUsersHll(ev, 7)
      .collect().map(r => (r.getDate(1).toString, r.getLong(2)))
    // far below the dense threshold, the HLL is in sparse mode — exact
    val exact = graft.metrics.Metrics.rollingDistinctUsers(ev, 7)
      .collect().map(r => (r.getDate(1).toString, r.getLong(2)))
    assert(approx.toSeq == exact.toSeq, s"approx ${approx.toSeq} vs exact ${exact.toSeq}")
    assert(exact.map(_._2).toSeq == Seq(2L, 3L, 2L), s"got ${exact.toSeq}")
    val audit = graft.metrics.Metrics.rollingDistinctUsersHllAudit(ev, 7)
      .collect()
    assert(audit.length == 3 && audit.forall(_.getBoolean(3)),
      s"got ${audit.toSeq}")
  }

  test("didLift: cluster-robust se by hand; 1-user arm dropped") {
    import spark.implicits._
    // arm0 growths d = {1, 3} (Σd=4, Σd²=10, nΣd²−(Σd)² = 4 ->
    // Var(d̄)=4/(4·1)=1), arm1 d = {1, 1} (variance 0) -> did = 2−1 = 1,
    // se = 1, ci = (1 − 1.96, 1 + 1.96) = (−0.96, 2.96)
    val per = Seq((1L, 1, 2), (2L, 1, 2), (3L, 1, 2), (4L, 1, 4))
    val rows = per.flatMap { case (u, x, y) =>
      Seq.fill(x)((u, 1)) ++ Seq.fill(y)((u, 3)) }
    val ev = rows.zipWithIndex.map { case ((u, d), i) =>
      (i.toLong, evTs(d), Some(u), "x") }
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = graft.metrics.Metrics.didLift(ev).collect()
      .map(r => r.getString(0) -> (r.getDouble(7), r.getDouble(8),
        r.getDouble(9), r.getDouble(10)))
    assert(out.toSeq == Seq("x" -> ((1.0, 1.0, -0.96, 2.96))),
      s"got ${out.toSeq}")
    // a label with a single user in one arm has no variance to report:
    // dropped by the n >= 2 gate (u5 is the only odd user for "solo")
    val solo = Seq((100L, evTs(1), Some(5L), "solo"),
      (101L, evTs(3), Some(5L), "solo"),
      (102L, evTs(1), Some(2L), "solo"), (103L, evTs(3), Some(2L), "solo"),
      (104L, evTs(1), Some(4L), "solo"), (105L, evTs(3), Some(4L), "solo"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out2 = graft.metrics.Metrics.didLift(ev.union(solo)).collect()
      .map(_.getString(0))
    assert(out2.toSeq == Seq("x"), s"got ${out2.toSeq}")
  }

  test("mannWhitneyArms: hand rank-sum with ties; all-tied and one-arm labels dropped") {
    import spark.implicits._
    // label "x" per-user counts: arm1 u1=1, arm0 u2=2, arm1 u3=3,
    // arm0 u4=3 -> pooled ranks 1, 2, 3.5, 3.5; R_a = 5.5 (2R_a = 11),
    // 2U_a = 11 - 2*3 = 5; T = 2^3-2 = 6; inner = 4*3*5 - 6 = 54;
    // den = sqrt(4*54/(3*12)) = sqrt(6); z = 1/sqrt(6) = 0.4082
    val x = Seq((1L, 1), (2L, 2), (3L, 3), (4L, 3))
      .flatMap { case (u, k) => Seq.fill(k)(("x", u)) }
    // "y": every user one event -> all tied, sigma 0 -> dropped
    val y = (1L to 4L).map(u => ("y", u))
    // "z": odd users only -> arm0 empty -> dropped (no sample to rank)
    val z = Seq(("z", 1L), ("z", 3L))
    val ev = (x ++ y ++ z).zipWithIndex.map { case ((ty, u), i) =>
      (i.toLong, evTs(1), Some(u), ty) }
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = graft.metrics.Metrics.mannWhitneyArms(ev).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5)))
    assert(out.toSeq == Seq("x" -> ((2L, 2L, 5L, 0.4082, false))),
      s"got ${out.toSeq}")
  }

  test("survivalKm: hand KM with censoring; all-convert step pins survival 0") {
    import spark.implicits._
    // u1 first d1 purchase d2 (dur 1); u2 first d1 purchase d3 (dur 2);
    // u3, u4 never purchase; horizon d5 via u4's view -> censored dur 4
    val rows = Seq(
      (1L, "view", evTs(1)), (1L, "purchase", evTs(2)),
      (2L, "view", evTs(1)), (2L, "purchase", evTs(3)),
      (3L, "view", evTs(1)),
      (4L, "view", evTs(1)), (4L, "view", evTs(5)))
    val ev = rows.zipWithIndex.map { case ((u, ty, ts), i) =>
      (i.toLong, ts, Some(u), ty) }
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = graft.metrics.Metrics.survivalKm(ev, "purchase").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(out.toSeq == Seq((1L, 4L, 1L, 0L, 0.75), (2L, 3L, 1L, 0L, 0.5)),
      s"got ${out.toSeq}")
    // all remaining users convert at the last step: S must hit EXACT 0
    // through the dead-flag guard (never ln(0) on either engine)
    val all = Seq(
      (1L, "view", evTs(1)), (1L, "purchase", evTs(2)),
      (2L, "view", evTs(1)), (2L, "purchase", evTs(2)))
    val ev2 = all.zipWithIndex.map { case ((u, ty, ts), i) =>
      (i.toLong, ts, Some(u), ty) }
      .toDF("event_id", "ts", "user_id", "event_type")
    val out2 = graft.metrics.Metrics.survivalKm(ev2, "purchase").collect()
    assert(out2.length == 1 && out2.head.getDouble(4) == 0.0,
      s"all-convert step must survive to exactly 0: ${out2.mkString(";")}")
  }

  test("dpNoisyCountRelease: deterministic, clamped, null key never collides with empty string") {
    import spark.implicits._
    val rows = Seq.fill(30)(("web", "d")) ++ Seq.fill(30)((null, "d")) ++
      Seq.fill(30)(("", "d")) ++ Seq(("tiny", "d"))
    val df = rows.zipWithIndex.map { case ((src, tx), i) =>
      (i.toLong, src, tx) }.toDF("doc_id", "source", "text")
    def run() = graft.analytics.CorpusOps
      .dpNoisyCountRelease(df, Seq("source"), epsilon = 1.0, seed = "s1")
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    val a = run()
    assert(a == run(), "release must be deterministic per seed")
    assert(a.values.forall(_ >= 0L), s"clamped at zero: $a")
    // Laplace(1) noise: |floor(noise)| <= ~34 at 48-bit resolution
    assert(a.values.forall(v => v <= 70L), s"noise out of range: $a")
    // the explicit null flag keeps NULL and '' on different coins:
    // independent draws can still FLOOR equal under one seed, but
    // colliding keys would be equal under EVERY seed — sweep a few
    val diverges = (1 to 5).exists { i =>
      val r = graft.analytics.CorpusOps
        .dpNoisyCountRelease(df, Seq("source"), epsilon = 1.0,
          seed = s"probe$i")
        .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
      r(None) != r(Some(""))
    }
    assert(diverges, "null and '' must ride different noise coins")
    // a different seed is a different release; floor-quantized draws
    // CAN coincide on every group for one seed pair, so sweep a few
    val seedMatters = (2 to 6).exists { i =>
      val b = graft.analytics.CorpusOps
        .dpNoisyCountRelease(df, Seq("source"), epsilon = 1.0,
          seed = s"s$i")
        .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
      a != b
    }
    assert(seedMatters, "seed must select the release")
  }

  test("dpNoisyCountReleaseUser: clamp is per-user deterministic-first, null users excluded, scale follows maxPerUser") {
    import spark.implicits._
    // user 1 has 10 rows of type "a" (clamped to 3), user 2 has 2 "b"
    // rows + 2 "a" rows (4 total — clamped to 3 by EVENT_ID order:
    // a@1, a@2, b@3 survive); a null user has 50 rows that must vanish
    val rows =
      (0 until 10).map(i => (1L, "a", 100L + i)) ++
        Seq((2L, "a", 1L), (2L, "a", 2L), (2L, "b", 3L), (2L, "b", 4L)) ++
        (0 until 50).map(i => (-1L, "c", 1000L + i))
    val df = rows.map { case (u, ty, id) =>
      (if (u < 0) null else java.lang.Long.valueOf(u), ty, id)
    }.toDF("user_id", "event_type", "event_id")
    def release(c: Int, seed: String) = graft.analytics.CorpusOps
      .dpNoisyCountReleaseUser(df, Seq("event_type"), "user_id", "event_id",
        maxPerUser = c, epsilon = 1.0, seed = seed)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val a = release(3, "t1")
    assert(a == release(3, "t1"), "deterministic per seed")
    // clamped true counts: a = 3 (user1) + 2 (user2) = 5, b = 1
    // (user2's third-by-event_id row), c GONE (null user). Laplace(3)
    // noise floors within |.| <= ~102 at 48-bit resolution
    assert(a.keySet == Set("a", "b"), s"null-user rows leaked: $a")
    assert(a("a") <= 5L + 105L && a("b") <= 1L + 105L, s"noise range: $a")
    assert(a.values.forall(_ >= 0L))
    // the clamp itself (noise-free check): with a huge epsilon the
    // noise floors to -1..0, pinning the clamped counts tightly
    val tight = graft.analytics.CorpusOps
      .dpNoisyCountReleaseUser(df, Seq("event_type"), "user_id", "event_id",
        maxPerUser = 3, epsilon = 1e9, seed = "t1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tight("a") == 5L || tight("a") == 4L, s"clamped a: $tight")
    assert(tight("b") == 1L || tight("b") == 0L, s"clamped b: $tight")
    // guards
    assert(intercept[IllegalArgumentException] {
      graft.analytics.CorpusOps.dpNoisyCountReleaseUser(
        df, Seq("event_type"), "user_id", "event_id", maxPerUser = 0)
    }.getMessage.contains("maxPerUser"))
    assert(intercept[IllegalArgumentException] {
      graft.analytics.CorpusOps.dpNoisyCountReleaseUser(
        df, Seq("user_id"), "user_id", "event_id")
    }.getMessage.contains("group"))
  }

  test("tClosenessAudit: hand TV per group, null sensitive excluded, null quasi survives") {
    import spark.implicits._
    // corpus: g1 4×a (+1 null lang, excluded), g2 4×b, g3 2a+2b,
    // null-source 1×a  ->  global a=7 b=6 N=13
    val rows = Seq.fill(4)(("g1", "a")) ++ Seq(("g1", null)) ++
      Seq.fill(4)(("g2", "b")) ++
      Seq(("g3", "a"), ("g3", "a"), ("g3", "b"), ("g3", "b")) ++
      Seq((null.asInstanceOf[String], "a"))
    val df = rows.zipWithIndex.map { case ((src, lg), i) =>
      (i.toLong, src, lg) }.toDF("doc_id", "source", "lang")
    val out = graft.analytics.CorpusOps
      .tClosenessAudit(df, Seq("source"), "lang", 0.2).collect()
      .map(r => Option(r.getString(0)) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    // g1: (|4·13−7·4| + (13−7)·4) / (2·4·13) = 48/104
    assert(out(Some("g1")) == ((4L, 0.4615, true)), s"g1: ${out(Some("g1"))}")
    assert(out(Some("g2")) == ((4L, 0.5385, true)), s"g2: ${out(Some("g2"))}")
    assert(out(Some("g3")) == ((4L, 0.0385, false)), s"g3: ${out(Some("g3"))}")
    assert(out(None) == ((1L, 0.4615, true)), s"null group: ${out(None)}")
  }

  test("tClosenessFromCells: near-BIGINT-overflow products exact via DECIMAL(38,0)") {
    import spark.implicits._
    // forged cell counts no BIGINT product survives: c·N ≈ 2.4·10³⁷
    // (a spec can't forge 3·10⁹ input rows, but it can forge the cells)
    val C = 1000000000000000000L // 10¹⁸
    val cells = Seq(("g1", "a", 4 * C), ("g1", "b", C), ("g2", "a", C))
      .toDF("source", "lang", "__c")
    val out = graft.analytics.CorpusOps
      .tClosenessFromCells(cells, Seq("source"), "lang", 0.1).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getBoolean(3))).toMap
    // global a=5C b=C, N=6C (BigInt-exact by hand):
    // g1: (|4C·6C−5C·5C| + |C·6C−C·5C| + 0)/(2·5C·6C) = 2C²/60C² = .0333
    // g2: (|C·6C−5C·C| + (6C−5C)·C)/(2·C·6C) = 2C²/12C² = .1667
    assert(out("g1") == ((5 * C, 0.0333, false)), s"g1: ${out("g1")}")
    assert(out("g2") == ((C, 0.1667, true)), s"g2: ${out("g2")}")
  }

  test("holtForecast: weight invariants; linear series tracked exactly; zero-fill via absent terms") {
    import spark.implicits._
    val M = graft.metrics.Metrics
    val (lw14, tw14) = M.holtWeights(0.5, 0.5, 14)
    assert(math.abs(lw14.sum - 1.0) < 1e-12, "level weights must sum to 1")
    assert(math.abs(tw14.sum) < 1e-12, "trend weights must sum to 0")
    // linear daily counts n(d) = 2 + 3d on days 1..5: Holt with exact
    // init reproduces level = y5 = 17, trend = 3 (induction in the
    // holtWeights scaladoc) -> forecast h = 17 + 3h exactly
    val lin = (1 to 5).flatMap(d => Seq.fill(2 + 3 * d)(("e", d)))
    // plus a label observed ONLY on window day 1 (count 4): the other
    // 4 days are zero-fills that never materialize as rows
    val gap = Seq.fill(4)(("g", 1))
    val ev = (lin ++ gap).zipWithIndex.map { case ((ty, d), i) =>
      (i.toLong, evTs(d), Some(1L), ty) }
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = M.holtForecast(ev, lookback = 5, horizons = 2).collect()
      .map(r => (r.getString(0), r.getLong(2)) ->
        (r.getDate(1).toString, r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    assert(out(("e", 1L)) == (("2024-04-05", 17.0, 3.0, 20.0)),
      s"e h1: ${out(("e", 1L))}")
    assert(out(("e", 2L)) == (("2024-04-05", 17.0, 3.0, 23.0)),
      s"e h2: ${out(("e", 2L))}")
    val (lw5, tw5) = M.holtWeights(0.5, 0.5, 5)
    val (glev, gtr) = (lw5.head * 4.0, tw5.head * 4.0)
    def r4(x: Double) = // Spark round() is HALF_UP, never rint/HALF_EVEN
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val g1 = out(("g", 1L))
    assert(g1._2 == r4(glev) && g1._3 == r4(gtr),
      s"gap label must price absent days as zeros: $g1 vs ($glev, $gtr)")
  }

  test("firstTouch + noveltyHourly: (ts, event_id) survivor, hour buckets count new pairs") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      (10L, 1L, "a", ts("2024-04-01 09:10:00")),
      (11L, 1L, "a", ts("2024-04-01 09:50:00")), // later dup
      (12L, 1L, "b", ts("2024-04-01 10:05:00")),
      (13L, 2L, "a", ts("2024-04-01 09:20:00")),
      (15L, 3L, "a", ts("2024-04-01 09:30:00")), // ts tie: higher id
      (14L, 3L, "a", ts("2024-04-01 09:30:00"))) //   loses to this one
    val ev = rows.map { case (id, u, ty, t) => (id, t, Some(u), ty) }
      .toDF("event_id", "ts", "user_id", "event_type")
    val ft = graft.metrics.Metrics.firstTouch(ev).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(3)).toMap
    assert(ft == Map((1L, "a") -> 10L, (1L, "b") -> 12L,
      (2L, "a") -> 13L, (3L, "a") -> 14L), s"got $ft")
    val nov = graft.metrics.Metrics.noveltyHourly(ev).collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1)) -> r.getLong(2))
      .toMap
    assert(nov == Map(("2024-04-01 09:00:00.0", "a") -> 3L,
      ("2024-04-01 10:00:00.0", "b") -> 1L), s"got $nov")
  }
}
