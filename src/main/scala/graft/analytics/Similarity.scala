package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exact baseline, and an LSH-bucketed
  * approximate variant as the scale path (SURVEY.md §7.7 north star).
  *
  * All arithmetic is over doubles (cast once at scan) with
  * left-to-right `aggregate` accumulation — deterministic and
  * DuckDB-matchable. At 100 TB the brute-force path is a broadcast of
  * the (small) query set against a scan of the corpus: the only shuffle
  * is the final per-query top-k, done with the `graft_topk` heap
  * aggregate (≤k rows per query per partition cross the wire — never a
  * ranking window, which would funnel every scored row through
  * ≤|queries| reducers). The LSH path buckets the corpus once (narrow)
  * and only probes matching buckets.
  */
object Similarity {

  /** Dot product of two double arrays (sequential fold — stable). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity — the codegen'd one-pass
    * [[graft.functions.CosineExpr]] (HOF folds are CodegenFallback),
    * bit-identical to [[cosineComposed]] (spec-enforced). */
  def cosine(a: Column, b: Column): Column = graft.functions.CosineExpr(a, b)

  /** The composed higher-order-function formulation — retained as the
    * executable spec of [[cosine]]'s fold semantics. */
  def cosineComposed(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def asDouble(c: Column): Column = transform(c, x => x.cast(DoubleType))

  /** Embedding dimensionality from the data (one tiny job), with a
    * descriptive error for empty/null-embedding tables. */
  def embeddingDim(embeddings: DataFrame): Int = {
    val head = embeddings.filter(col("embedding").isNotNull)
      .select(size(col("embedding"))).head(1)
    require(head.nonEmpty, "embeddings table has no non-null embedding rows")
    head(0).getInt(0)
  }

  /** Per-query top-k via the `graft_topk`/`graft_topk_tag` heap
    * aggregate instead of a ranking window: a window over `query_id`
    * shuffles EVERY scored corpus row to ≤|queries| reducers (at 100 TB,
    * the whole scored table through a handful of tasks), while the heap
    * aggregate's map-side combine reduces each partition to ≤k rows per
    * query before the shuffle. Output order matches
    * `row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id)`.
    * `tagCol`, when present, rides through the heap so corpus attributes
    * (e.g. `label`) need no second scan/join to recover. */
  private def heapTopK(scored: DataFrame, k: Int, tagCol: Option[String]): DataFrame = {
    graft.functions.GraftFunctions.register(scored.sparkSession)
    tagCol match {
      case Some(tag) =>
        scored.groupBy("query_id")
          .agg(expr(s"graft_topk_tag(cos, vec_id, $tag, $k)").as("top"))
          .select(col("query_id"), posexplode(col("top")))
          .select(col("query_id"), col("col.id").as("vec_id"),
            col("col.tag").as(tag), round(col("col.score"), 4).as("cosine"),
            (col("pos") + 1).cast("long").as("rk"))
          .orderBy("query_id", "rk")
      case None =>
        scored.groupBy("query_id")
          .agg(expr(s"graft_topk(cos, vec_id, $k)").as("top"))
          .select(col("query_id"), posexplode(col("top")))
          .select(col("query_id"), col("col.id").as("vec_id"),
            round(col("col.score"), 4).as("cosine"),
            (col("pos") + 1).cast("long").as("rk"))
          .orderBy("query_id", "rk")
    }
  }

  /** Exact brute-force cosine top-k: each query (small set, broadcast)
    * against every corpus vector; per-query top-k via the map-side heap
    * aggregate (see [[heapTopK]]). */
  def bruteForceTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val corpus = graft.util.SparkUtil.widen(embeddings)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), asDouble(col("embedding")).as("vec"), col("label"))
    val queries = corpus.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val scored = corpus.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        cosine(col("qvec"), col("vec")).as("cos"))
    heapTopK(scored, k, Some("label"))
      .select(col("query_id"), col("vec_id"), col("label"), col("cosine"), col("rk"))
  }

  /** Hard-negative mining for contrastive training: per query, the
    * top-k most-similar corpus vectors whose label DIFFERS from the
    * query's — the near-misses a retrieval/embedding model must learn
    * to push away (random negatives are too easy; the highest-cosine
    * wrong-label neighbors are the gradient-rich ones). Same plan shape
    * as [[bruteForceTopK]] with the label exclusion fused into the
    * broadcast-join predicate: the corpus scans ONCE, same-label rows
    * never materialize a scored row, and per-query top-k stays in the
    * `graft_topk_tag` heap (≤k rows per query per partition cross the
    * shuffle — never a ranking window). Output: (query_id, vec_id,
    * label, cosine, rk), ordered by (query_id, rk). */
  def hardNegatives(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val corpus = graft.util.SparkUtil.widen(embeddings)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), asDouble(col("embedding")).as("vec"), col("label"))
    val queries = corpus.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"),
        col("label").as("qlabel"))
    val scored = corpus.join(broadcast(queries),
        col("vec_id") =!= col("query_id") && col("label") =!= col("qlabel"))
      .select(col("query_id"), col("vec_id"), col("label"),
        cosine(col("qvec"), col("vec")).as("cos"))
    heapTopK(scored, k, Some("label"))
      .select(col("query_id"), col("vec_id"), col("label"), col("cosine"), col("rk"))
  }

  /** Hybrid retrieval fusion — Reciprocal Rank Fusion (RRF, Cormack et
    * al.'s rank-only combiner, the standard lexical+vector fusion in
    * production retrieval stacks): fuse a BM25 ranking of `documents`
    * against a fixed term set with an exact-cosine ranking of
    * `embeddings` against the query vector `queryVecId`, by
    * rrf(id) = Σ_pools 1/(rrfK + rank(id)), items absent from a pool
    * contributing 0. Ranks are over the top-`poolN` of each pool
    * (the truncated-list RRF definition) and are taken on the
    * ROUNDED scores (4 dp, id tie-break) — the cross-engine-stable
    * rank discipline every oracled ranking here uses. Ids fuse on
    * doc_id = vec_id (the corpus convention: an embedding row is the
    * vector modality of the same-id document; an id present in only
    * one modality still fuses, with one null rank). A `queryVecId`
    * that is absent (or null-embedded) makes the vector pool EMPTY
    * and the output LEXICAL-ONLY (every vec_rank null) — the
    * truncated-list definition's limiting case, documented rather
    * than an error so the operator stays total on degenerate corpora.
    *
    * Output: (id, lex_rank, vec_rank — null when absent from that
    * pool, rrf 6 dp, rk), top `k` by (rrf desc, id), ordered by rk.
    *
    * Scale shape (100 TB): each pool reduces corpus-side via the
    * `graft_topk` map-side heap (≤poolN rows per partition cross the
    * shuffle — never a ranking window over the scored corpus); the
    * fusion join and final rank run over ≤2·poolN rows — a bounded
    * panel, not a corpus funnel. The query vector is a 1-row
    * broadcast (unconditioned scalar cross + filter — the PlanLint
    * whitelist shape). */
  def hybridRrfTopK(documents: DataFrame, embeddings: DataFrame,
                    terms: Seq[String], queryVecId: Long, k: Int,
                    poolN: Int = 50, rrfK: Int = 60): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(poolN >= k, s"poolN must be >= k: $poolN < $k")
    require(rrfK >= 1, s"rrfK must be >= 1: $rrfK")
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(documents.sparkSession)
    // lexical pool: bm25Scores already emits the 4-dp-rounded score
    val lexPool = TextAnalysis.bm25Scores(documents, terms)
      .agg(expr(s"graft_topk(bm25, doc_id, $poolN)").as("top"))
      .select(posexplode(col("top")))
      .select(col("col.id").as("id"),
        (col("pos") + 1).cast(LongType).as("lex_rank"))
    val corpus = graft.util.SparkUtil.widen(embeddings)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), asDouble(col("embedding")).as("vec"))
    val qvec = corpus.filter(col("vec_id") === queryVecId)
      .select(col("vec").as("qvec"))
    // DOCUMENTED DEGRADATION, not an error: a missing/null-embedding
    // query vector makes the 1-row broadcast empty and the output
    // LEXICAL-ONLY (every vec_rank null). This is the truncated-list
    // RRF definition's limiting case — an id absent from a pool
    // contributes 0, and an empty pool is absence for every id — and
    // it is what keeps the operator total on degenerate corpora (the
    // all-null twin, where the oracle computes the same fallback).
    // Callers needing a hard guarantee check the panel op's
    // per-query vec_rank nullity on the output.
    // explicit crossJoin: a condition-less .join plans as an INNER
    // BNLJ, which the plan lint (correctly) rejects — only the
    // unconditioned scalar Cross is structurally allowed
    val vecPool = corpus.crossJoin(broadcast(qvec))
      .filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id"),
        round(cosine(col("qvec"), col("vec")), 4).as("cos"))
      .agg(expr(s"graft_topk(cos, vec_id, $poolN)").as("top"))
      .select(posexplode(col("top")))
      .select(col("col.id").as("id"),
        (col("pos") + 1).cast(LongType).as("vec_rank"))
    // the two reciprocals sum in a fixed order (lex first) — the
    // oracle mirrors it, so the fused double is IEEE-identical
    val fused = lexPool.join(vecPool, Seq("id"), "full_outer")
      .select(col("id"), col("lex_rank"), col("vec_rank"),
        (coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("vec_rank")), lit(0.0)))
          .as("__rrf"))
    fused
      .withColumn("rk", row_number()
        .over(Window.orderBy(col("__rrf").desc, col("id"))).cast(LongType))
      .filter(col("rk") <= k)
      .select(col("id"), col("lex_rank"), col("vec_rank"),
        round(col("__rrf"), 6).as("rrf"), col("rk"))
      .orderBy("rk")
  }

  /** Multi-query hybrid RRF retrieval — [[hybridRrfTopK]] generalized
    * from one (terms, vector) query to a PANEL of (query_id, terms,
    * vecId) queries, the shape production retrieval evaluation runs
    * (a relevance suite is a query table, not a scalar). Semantics per
    * query are IDENTICAL to the single-query op: truncated-list RRF
    * over the BM25 and exact-cosine pools, ranks on the ROUNDED scores
    * (4 dp, id tie-break), reciprocals summed in the fixed lex-first
    * addend order, per-query top-k by (rrf desc, id). A panel query
    * whose vector is absent (or null-embedded) fuses LEXICAL-ONLY
    * (vec_rank null) — the single-query op's documented degradation,
    * applied per query.
    *
    * Scale shape (100 TB): the corpus tokenizes ONCE for all queries —
    * per-(doc, matched-term) BM25 contributions are computed against
    * the union term set, then the broadcast (query_id, token) panel
    * fans each contribution to its queries; each pool reduces via the
    * `graft_topk` map-side heap GROUPED by query_id (≤poolN rows per
    * query per partition cross the shuffle); fusion and the final rank
    * run over ≤2·poolN rows per query, windowed BY query_id — bounded
    * panels, never corpus funnels. The query-vector side is an
    * `In(vec_id…)` pushdown + broadcast panel; the cosine scan is one
    * corpus pass for ALL queries (the bruteForceTopK panel-BNLJ shape,
    * plan-lint whitelisted).
    *
    * Output: (query_id, id, lex_rank, vec_rank, rrf, rk), ordered by
    * (query_id, rk). */
  def hybridRrfPanel(documents: DataFrame, embeddings: DataFrame,
                     queries: Seq[(Long, Seq[String], Long)], k: Int,
                     poolN: Int = 50, rrfK: Int = 60): DataFrame = {
    require(queries.nonEmpty, "query panel must be non-empty")
    require(queries.map(_._1).distinct.size == queries.size,
      "duplicate query_id in the panel")
    require(k >= 1, s"k must be >= 1: $k")
    require(poolN >= k, s"poolN must be >= k: $poolN < $k")
    require(rrfK >= 1, s"rrfK must be >= 1: $rrfK")
    queries.foreach { case (qid, terms, _) =>
      require(terms.nonEmpty, s"query $qid has an empty term set") }
    val spark = documents.sparkSession
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // lexical pools: ONE tokenization for the union term set; the
    // constants and operation order mirror TextAnalysis.bm25Scores
    // (and the oracle SQL) exactly
    val allTerms = queries.flatMap(_._2).distinct
    val toks = graft.util.SparkUtil.widen(documents)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), avg("dl").as("avgdl"))
    val matched = toks.filter(col("token").isInCollection(allTerms))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfTab = matched.groupBy("token").agg(count(lit(1)).as("df"))
    val k1 = TextAnalysis.Bm25K1
    val b = TextAnalysis.Bm25B
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df") + lit(0.5)) /
        (col("df") + lit(0.5)))
    val score = idf * col("tf") * lit(k1 + 1) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))
    val qTerms = queries.flatMap { case (qid, ts, _) => ts.map(qid -> _) }
      .toDF("query_id", "token")
    val perQueryBm = matched.join(broadcast(dfTab), Seq("token"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .join(broadcast(qTerms), Seq("token"))
      .groupBy("query_id", "doc_id")
      .agg(round(sum(score), 4).as("bm25"))
    val lexPool = perQueryBm.groupBy("query_id")
      .agg(expr(s"graft_topk(bm25, doc_id, $poolN)").as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("id"),
        (col("pos") + 1).cast(LongType).as("lex_rank"))
    // vector pools: In() pushdown fetches the panel's vectors; the
    // cosine pass is one corpus scan against the broadcast panel
    val corpus = graft.util.SparkUtil.widen(embeddings)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), asDouble(col("embedding")).as("vec"))
    val vids = queries.map(_._3)
    val panel = queries.map { case (qid, _, vid) => (qid, vid) }
      .toDF("query_id", "qvid")
    // a panel query whose vector is missing (or null-embedded) gets an
    // EMPTY vector pool and fuses lexical-only (vec_rank null) — the
    // single-query op's documented degradation, per query; total on
    // degenerate corpora (the all-null twin)
    val qvecs = corpus.filter(col("vec_id").isInCollection(vids))
      .join(broadcast(panel), col("vec_id") === col("qvid"))
      .select(col("query_id"), col("qvid"), col("vec").as("qvec"))
    val vecPool = corpus.join(broadcast(qvecs), col("vec_id") =!= col("qvid"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("qvec"), col("vec")), 4).as("cos"))
      .groupBy("query_id")
      .agg(expr(s"graft_topk(cos, vec_id, $poolN)").as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), col("col.id").as("id"),
        (col("pos") + 1).cast(LongType).as("vec_rank"))
    // fixed addend order (lex first) — IEEE-identical to the oracle
    val fused = lexPool.join(vecPool, Seq("query_id", "id"), "full_outer")
      .select(col("query_id"), col("id"), col("lex_rank"), col("vec_rank"),
        (coalesce(lit(1.0) / (lit(rrfK) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("vec_rank")), lit(0.0)))
          .as("__rrf"))
    fused
      .withColumn("rk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("__rrf").desc, col("id"))).cast(LongType))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("id"), col("lex_rank"), col("vec_rank"),
        round(col("__rrf"), 6).as("rrf"), col("rk"))
      .orderBy("query_id", "rk")
  }

  /** Sign-random-projection LSH bucket key: `nBits` hyperplanes with
    * deterministic md5-derived ±1 components; bucket = bit pattern of
    * projection signs. Same-bucket vectors are candidate neighbors —
    * the approximate scale path (probe only matching buckets, ~1/2^bits
    * of the corpus per probe). Codegen'd one-pass
    * [[graft.functions.SrpBucketExpr]]; [[srpBucketComposed]] is the
    * executable spec (equality spec-enforced). */
  def srpBucket(vec: Column, dim: Int, nBits: Int): Column =
    graft.functions.SrpBucketExpr(vec, dim, nBits)

  /** The composed higher-order-function formulation — retained as the
    * executable spec of [[srpBucket]]'s semantics (and the shape the
    * DuckDB oracle mirrors). */
  def srpBucketComposed(vec: Column, dim: Int, nBits: Int): Column = {
    val bits = (0 until nBits).map { plane =>
      // deterministic ±1 hyperplane: sign from md5 of (plane, index)
      val proj = aggregate(
        zip_with(vec, sequence(lit(0), lit(dim - 1)), (x, i) =>
          when(conv(substring(md5(concat(lit(plane + ":"), i)), 1, 8), 16, 10)
            .cast(LongType).bitwiseAND(1) === 1, x).otherwise(-x)),
        lit(0.0d), (acc, v) => acc + v)
      when(proj >= 0, shiftleft(lit(1L), plane)).otherwise(0L)
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Approximate top-k: restrict candidates to the query's SRP bucket
    * then exact-rank within it. Recall trades off with `nBits`. */
  def lshTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int, nBits: Int,
              dimOpt: Option[Int] = None): DataFrame = {
    val dim = dimOpt.getOrElse(embeddingDim(embeddings))
    val corpus = graft.util.SparkUtil.widen(embeddings)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), asDouble(col("embedding")).as("vec"))
      .withColumn("bucket", srpBucket(col("vec"), dim, nBits))
    val queries = corpus.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"), col("bucket"))
    val scored = corpus.join(broadcast(queries), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), cosine(col("qvec"), col("vec")).as("cos"))
    heapTopK(scored, k, None)
  }

  /** IVF coarse-quantizer centroids: mean vector per cell (`label`).
    * At corpus scale the cell assignment comes from k-means over a
    * sample; the centroid table itself is tiny (|cells| rows). */
  def ivfCentroids(embeddings: DataFrame, dimOpt: Option[Int] = None): DataFrame = {
    val dim = dimOpt.getOrElse(embeddingDim(embeddings))
    graft.util.SparkUtil.widen(embeddings)
      .filter(col("embedding").isNotNull && col("label").isNotNull)
      .select(col("label"), asDouble(col("embedding")).as("vec"))
      .groupBy("label").agg(
        count(lit(1)).as("n"),
        array((0 until dim).map(i => sum(element_at(col("vec"), i + 1))): _*).as("sums"))
      .select(col("label"), transform(col("sums"), s => s / col("n")).as("centroid"))
  }

  /** Persist the coarse quantizer — the [[Dedup.writeSignatures]]
    * analog: at 100 TB the centroid table is trained ONCE (one
    * aggregation pass over the corpus, or k-means over a sample) and
    * reused by every subsequent [[ivfTopK]] run; recomputing it per
    * query batch re-scans the corpus for a |cells|-row table. Plain
    * parquet (label, centroid: array<double>); feed the read-back table
    * to the centroid-consuming [[ivfTopK]] overload. */
  def writeCentroids(embeddings: DataFrame, path: String,
                     dimOpt: Option[Int] = None): Unit =
    ivfCentroids(embeddings, dimOpt).write.mode("overwrite").parquet(path)

  // ---- scalar (int8) quantization: the ANN storage/IO scale path ----

  /** Per-vector symmetric int8 quantization: `q[i] = round(x[i]/scale)`
    * with `scale = max|x|/127` (zero vectors get scale 1). Quarter the
    * bytes of a float32 embedding column — at 100 TB that is the
    * difference between a corpus scan that fits the IO budget and one
    * that doesn't. COSINE is scale-invariant, so [[quantizedTopK]]
    * searches the int arrays directly — `scale` is stored for dot/L2
    * consumers. Output: (vec_id, label, scale, qvec: array<tinyint>). */
  def quantizeEmbeddings(embeddings: DataFrame): DataFrame =
    graft.util.SparkUtil.widen(embeddings)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("vec"))
      .withColumn("maxabs", array_max(transform(col("vec"), x => abs(x))))
      // the STORED scale is the one codes are computed against — a
      // rounded-for-storage copy would make (scale, qvec) mutually
      // inconsistent for dot/L2 consumers
      .withColumn("scale",
        when(col("maxabs") > 0, col("maxabs") / 127.0).otherwise(lit(1.0)))
      .select(col("vec_id"), col("label"), col("scale"),
        transform(col("vec"), x => round(x / col("scale")).cast("tinyint")).as("qvec"))

  /** Persist the quantized corpus (write once at a quarter the size,
    * search many). */
  def writeQuantized(embeddings: DataFrame, path: String): Unit =
    quantizeEmbeddings(embeddings).write.mode("overwrite").parquet(path)

  /** Exact brute-force top-k over a QUANTIZED corpus (from
    * [[quantizeEmbeddings]] or read back from [[writeQuantized]]):
    * same broadcast-queries + heap-aggregate shape as
    * [[bruteForceTopK]], scoring cosine on the int8 arrays (scale
    * cancels). The scan and shuffle move tinyint arrays — 4× less IO
    * than the float path for ~1-ulp-level rank distortion. */
  def quantizedTopK(quantized: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val corpus = quantized
      .select(col("vec_id"), col("label"),
        transform(col("qvec"), x => x.cast(DoubleType)).as("vec"))
    val queries = corpus.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val scored = corpus.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        cosine(col("qvec"), col("vec")).as("cos"))
    heapTopK(scored, k, Some("label"))
      .select(col("query_id"), col("vec_id"), col("label"), col("cosine"), col("rk"))
  }

  /** Binary (sign) quantization — 1 bit per dimension packed into
    * ceil(dim/64) longs: 32× less scan/shuffle IO than float32, the
    * most aggressive point on the quantization ladder (float32 →
    * int8 [[quantizeEmbeddings]] → Matryoshka [[truncateEmbeddings]]
    * → 1-bit here). Hamming distance between sign patterns estimates
    * angular distance (the SimHash/SRP hyperplane family — for
    * axis-aligned planes through the origin, exactly this sign test),
    * and XOR+popcount over 8 longs is the cheapest distance in the
    * repo. Bit `d mod 64` of word `d div 64` is set iff
    * `embedding[d] > 0` — the strict-positive test an oracle applies
    * to the raw floats verbatim, so quantization is engine-exact and
    * the Hamming top-k admits a FULL exact oracle (unlike the
    * tolerance surfaces the lossy-recall paths need). The packing
    * fold ORs single-bit masks — no addition, so ANSI overflow
    * semantics never enter. */
  def binaryQuantize(embeddings: DataFrame): DataFrame =
    graft.util.SparkUtil.widen(embeddings)
      // null rows dropped, matching pcaTrain's contract — an unfiltered
      // null would map to a null bits array whose Hamming distances are
      // null, silently vanishing from hammingTopK instead of visibly
      // being excluded here
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("label"),
        // empty-array guard: sequence(0, -1) is DESCENDING [0, -1] in
        // Spark (the gramHashes hazard), so a zero-length embedding
        // must short-circuit to an empty word list, not probe index 0
        expr("""CASE WHEN size(embedding) > 0 THEN
            transform(sequence(0, (size(embedding) + 63) div 64 - 1),
              w -> aggregate(
                sequence(w * 64, least(size(embedding), w * 64 + 64) - 1),
                0L,
                (acc, d) -> CASE WHEN element_at(embedding, CAST(d + 1 AS INT)) > 0
                  THEN acc | shiftleft(1L, d - w * 64) ELSE acc END))
          ELSE CAST(array() AS ARRAY<BIGINT>) END""")
          .as("bits"))

  /** Persist the 1-bit corpus (32× smaller; search many). */
  def writeBinary(embeddings: DataFrame, path: String): Unit =
    binaryQuantize(embeddings).write.mode("overwrite").parquet(path)

  /** Exact Hamming top-k over a 1-bit corpus (from [[binaryQuantize]]
    * or read back from [[writeBinary]]): broadcast queries + the
    * map-side heap aggregate (same shape as [[bruteForceTopK]] — no
    * ranking-window funnel), distance = Σ popcount(XOR) over the
    * packed words. The heap maximizes, so it ranks on −hamming;
    * output order matches `ORDER BY hamming ASC, vec_id ASC`. */
  def hammingTopKFromBits(bits: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val corpus = bits.select(col("vec_id"), col("bits"))
    val queries = corpus.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("bits").as("qbits"))
    val scored = corpus.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        (-aggregate(
          zip_with(col("bits"), col("qbits"),
            (a, b) => bit_count(a.bitwiseXOR(b)).cast("long")),
          lit(0L), (acc, x) => acc + x)).cast("double").as("cos"))
    heapTopK(scored, k, None)
      .select(col("query_id"), col("vec_id"),
        (-col("cosine")).cast("long").as("hamming"), col("rk"))
  }

  /** [[hammingTopKFromBits]] with in-plan quantization. */
  def hammingTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame =
    hammingTopKFromBits(binaryQuantize(embeddings), queryIds, k)

  // ---- product quantization: the extreme-compression ANN scale path --

  /** Train PQ codebooks — split each vector into `m` subvectors of
    * dim/m and run the same deterministic Lloyd's iteration as
    * [[kmeansCentroids]] in EVERY subspace at once (one corpus scan
    * per round covers all `m` subspaces: the per-row `m`-struct
    * explode is narrow, the (sub, cell) partial-sum aggregate is
    * map-side combinable, and the driver only ever holds ksub × dim
    * doubles — the same bounded state as the coarse quantizer).
    * Subspace assignment is the codegen'd [[nearestCell]] cosine
    * argmax (spherical PQ — the repo's one similarity convention),
    * seeds are the `ksub` smallest-md5(vec_id) vectors' slices, empty
    * cells keep their previous centroid. Returns (sub, cell,
    * centroid: array<double> of dim/m). */
  def pqTrain(embeddings: DataFrame, m: Int = 8, ksub: Int = 16,
              rounds: Int = 3, dimOpt: Option[Int] = None): DataFrame = {
    require(m >= 1, s"PQ needs >= 1 subquantizer: $m")
    require(ksub >= 2 && ksub <= 256,
      s"PQ cells per subspace must be in [2,256] (codes must fit a byte): $ksub")
    require(rounds >= 1, s"PQ k-means needs >= 1 round: $rounds")
    val spark = embeddings.sparkSession
    val dim = dimOpt.getOrElse(embeddingDim(embeddings))
    require(dim % m == 0, s"dim $dim not divisible by m=$m subquantizers")
    val dsub = dim / m
    val corpus = graft.util.SparkUtil.widen(embeddings)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), asDouble(col("embedding")).as("vec"))
    val seeds = corpus.orderBy(md5(col("vec_id").cast("string"))).limit(ksub)
      .select(col("vec")).collect().map(_.getSeq[Double](0))
    require(seeds.length == ksub,
      s"corpus smaller than ksub=$ksub cells (${seeds.length} rows)")
    var cents: Map[Int, Seq[(Int, Seq[Double])]] = (0 until m).map { j =>
      j -> seeds.zipWithIndex
        .map { case (v, i) => i -> v.slice(j * dsub, (j + 1) * dsub) }.toSeq
    }.toMap
    for (_ <- 0 until rounds) {
      val subs = (0 until m).map { j =>
        val svec = slice(col("vec"), j * dsub + 1, dsub)
        struct(lit(j).as("sub"),
          nearestCell(svec, cents(j)).as("cell"), svec.as("svec"))
      }
      val sums = corpus.select(explode(array(subs: _*)).as("s"))
        .select(col("s.sub").as("sub"), col("s.cell").as("cell"),
          col("s.svec").as("svec"))
        .groupBy("sub", "cell").agg(
          count(lit(1)).as("n"),
          array((0 until dsub).map(i => sum(element_at(col("svec"), i + 1))): _*)
            .as("sums"))
        .collect() // m×ksub rows of dsub partials = ksub×dim doubles
      val updated = sums.map { r =>
        (r.getInt(0), r.getInt(1)) -> {
          val n = r.getLong(2); r.getSeq[Double](3).map(_ / n)
        }
      }.toMap
      cents = cents.map { case (j, cs) =>
        j -> cs.map { case (id, c) => id -> updated.getOrElse((j, id), c) }
      }
    }
    import spark.implicits._
    cents.toSeq.flatMap { case (j, cs) => cs.map { case (id, c) => (j, id, c) } }
      .sortBy(t => (t._1, t._2)).toDF("sub", "cell", "centroid")
  }

  /** Collect a codebook table to the bounded driver-side form:
    * sub → centroids indexed by cell (ksub × dim doubles total — the
    * same pinned regime as the ≤256-cell coarse quantizer). */
  private def collectCodebook(codebook: DataFrame): Map[Int, IndexedSeq[Seq[Double]]] =
    codebook.select(col("sub"), col("cell"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      .groupBy(_._1)
      .map { case (j, rows) =>
        j -> rows.sortBy(_._2).map(_._3).toIndexedSeq
      }

  /** The PQ code column over a `vec` column — `m` [[nearestCell]]
    * argmaxes, one per subspace slice, stored −128-offset tinyint. */
  private def pqCodeExpr(cb: Map[Int, IndexedSeq[Seq[Double]]]): Column = {
    val m = cb.size
    val dsub = cb(0).head.length
    array((0 until m).map { j =>
      (nearestCell(slice(col("vec"), j * dsub + 1, dsub),
        cb(j).zipWithIndex.map { case (c, i) => i -> c })
        - 128).cast("tinyint")
    }: _*)
  }

  /** PQ-encode a corpus against a trained codebook: each vector
    * becomes `m` one-byte codes — 4·dim/m × smaller than float32
    * (dim=64, m=8: 32×; the difference between an ANN corpus that
    * fits hot storage and one that doesn't). Codes are stored as
    * tinyint with a −128 offset so cell ids 0..255 genuinely fit the
    * byte. One narrow codegen'd projection ([[nearestCell]] per
    * subspace — generated code O(m), matrix rides codegen references).
    * Output: (vec_id, label, codes: array<tinyint> of length m). */
  def pqEncode(embeddings: DataFrame, codebook: DataFrame): DataFrame =
    graft.util.SparkUtil.widen(embeddings)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("label"),
        asDouble(col("embedding")).as("vec"))
      .select(col("vec_id"), col("label"),
        pqCodeExpr(collectCodebook(codebook)).as("codes"))

  /** Persist codebook + codes (train once, search many — the
    * [[writeQuantized]] analog; the codes table is the one that is
    * 4·dim/m× smaller on disk). */
  def writePq(embeddings: DataFrame, dir: String, m: Int = 8,
              ksub: Int = 16, rounds: Int = 3): Unit = {
    val cb = pqTrain(embeddings, m, ksub, rounds)
    cb.write.mode("overwrite").parquet(s"$dir/codebook")
    pqEncode(embeddings, cb).write.mode("overwrite").parquet(s"$dir/codes")
  }

  /** In-plan PQ decode: `codes` → the reconstructed dim-vector, as `m`
    * literal-matrix `element_at` lookups (plan weight ksub × dim
    * doubles — the pinned ≤256-cell regime) flattened back together.
    * Codes carry the −128 tinyint offset, hence the +129 1-based
    * index. */
  private def pqReconstruct(cb: Map[Int, IndexedSeq[Seq[Double]]]): Column =
    flatten(array((0 until cb.size).map { j =>
      element_at(typedLit(cb(j).map(_.toSeq).toSeq),
        element_at(col("codes"), j + 1).cast("int") + 129)
    }: _*))

  /** Reconstruction-quality report — per-label count, mean and min
    * cosine between each vector and its PQ reconstruction (4 dp).
    * This is the codebook-resolution audit a corpus build reads before
    * trusting PQ search (and the stable oracle surface: recall over
    * UNSTRUCTURED synthetic embeddings is poor by construction — the
    * [[truncateEmbeddings]] caveat — but direction preservation is
    * not). One codes scan + one vec_id join + one combinable agg. */
  def pqReconstructionStats(embeddings: DataFrame, codes: DataFrame,
                            codebook: DataFrame): DataFrame =
    reconStats(embeddings, codes.select(col("vec_id"),
      pqReconstruct(collectCodebook(codebook)).as("rvec")))

  /** Approximate top-k over a PQ-coded corpus — the textbook ADC
    * (asymmetric distance computation) formulation: NO dim-vector is
    * ever reconstructed on the scan. Per query, a `m × ksub` lookup
    * table of subspace dot products `dotlut[j][c] = <q_subj,
    * codeword(j,c)>` is precomputed (driver-side, |queryIds|-bounded —
    * the same collected regime as the codebook itself) and broadcast
    * with the query; per-(sub, cell) squared codeword norms are a pure
    * codebook constant riding as one `typedLit`. Because a plain-PQ
    * reconstruction is the CONCATENATION of per-subspace codewords,
    * both its dot with the query and its squared norm decompose
    * EXACTLY into `m` per-subspace terms — so scoring a candidate is
    * `m` array lookups + adds (vs `dim` multiplies on a materialized
    * reconstruction), and cosine(q, reconstruction) is computed
    * exactly (per-subspace partials summed in fixed j order —
    * deterministic; association differs from the flat fold by at most
    * ulps, which the 4 dp presentation rounding absorbs). The scan
    * reads the CODES table only — 4·dim/m× less IO than the float
    * path; recall is bounded by codebook resolution (raise ksub/m). */
  def pqTopK(embeddings: DataFrame, codes: DataFrame, codebook: DataFrame,
             queryIds: Seq[Long], k: Int): DataFrame = {
    val cb = collectCodebook(codebook)
    val m = cb.size
    val dsub = cb(0).head.length
    // pure codebook constant: squared norm of codeword (j, c)
    val norm2Lut = typedLit(
      (0 until m).map(j => cb(j).map(c => c.map(x => x * x).sum).toSeq))
    val spark = codes.sparkSession
    val qRows = embeddings
      .filter(col("vec_id").isInCollection(queryIds) && col("embedding").isNotNull)
      .select(col("vec_id"), asDouble(col("embedding")).as("qvec"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    import spark.implicits._
    val queries = qRows.map { case (qid, q) =>
      val dotLut = (0 until m).map { j =>
        cb(j).map(c =>
          (0 until dsub).map(i => q(j * dsub + i) * c(i)).sum).toSeq
      }
      (qid, math.sqrt(q.map(x => x * x).sum), dotLut)
    }.toSeq.toDF("query_id", "qnorm", "dotlut")
    // codes carry the −128 tinyint offset, hence the +129 1-based index
    def lutAt(lut: Column, j: Int): Column =
      element_at(element_at(lut, j + 1),
        element_at(col("codes"), j + 1).cast("int") + 129)
    val adcDot = (0 until m).map(j => lutAt(col("dotlut"), j)).reduce(_ + _)
    val reconNorm2 = (0 until m).map(j => lutAt(norm2Lut, j)).reduce(_ + _)
    val scored = codes
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        (adcDot / (col("qnorm") * sqrt(reconNorm2))).as("cos"))
    heapTopK(scored, k, Some("label"))
      .select(col("query_id"), col("vec_id"), col("label"), col("cosine"), col("rk"))
  }

  // ---- IVF-PQ: coarse cells + residual product quantization --------

  /** Collect a (cell, centroid) table to the bounded driver form —
    * the literal-matrix input of the residual and reconstruction
    * expressions (≤256 cells × dim, the pinned regime; past it, the
    * [[assignCellsByJoin]] escape hatch — the `ivfTopKByCells` gate —
    * is the right index anyway). The matrix is indexed BY id, so ids
    * must be contiguous 0..n-1 — a cells table with gaps (e.g. a
    * low-population cell filtered out) would silently remap and
    * reconstruct with the wrong centroids; fail at the door instead. */
  private def collectCells(cellCentroids: DataFrame): Seq[Seq[Double]] = {
    val rows = cellCentroids.select(col("cell"), col("centroid")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).sortBy(_._1)
    require(rows.map(_._1).toSeq == rows.indices.toSeq,
      "cell ids must be contiguous 0..n-1 (the literal-matrix lookup " +
        s"indexes by id): got ${rows.map(_._1).mkString("[", ",", "]")}")
    rows.map(_._2).toSeq
  }

  /** Build an IVF-PQ index — the canonical composed ANN layout
    * (FAISS's IndexIVFPQ): k-means coarse cells ([[kmeansCentroids]]),
    * then product quantization of the RESIDUAL `vec − centroid(cell)`
    * (residuals are smaller and better-centered than raw vectors, so
    * the same ksub × m code budget reconstructs tighter — the
    * composition is what makes byte-codes usable at billion-vector
    * scale). Returns (cellCentroids, codebook, codes) where codes =
    * (vec_id, label, cell, codes: array<tinyint>): the only
    * corpus-sized table, at 4 + m bytes per vector.
    *
    * Scale shape: the cell-argmax + residual is one narrow codegen'd
    * projection (cell matrix ≤256 × dim literals) — but Spark
    * materializes nothing between plan branches, so [[pqTrain]]'s
    * per-round scans and the final encode each RE-EXECUTE it (the
    * in-plan [[Dedup.winnowPairs]] trade; the projection runs at scan
    * speed, and [[writeIvfPq]] is the train-once-search-many path
    * that pays it exactly once per table). The dim probe is skipped —
    * the cell matrix already knows it. Nothing beyond the (sub, cell)
    * partials ever reaches the driver. */
  def ivfPqIndex(embeddings: DataFrame, nCells: Int = 8, m: Int = 16,
                 ksub: Int = 32, rounds: Int = 3): (DataFrame, DataFrame, DataFrame) = {
    val cellCents = kmeansCentroids(embeddings, nCells, rounds)
    val dim = collectCells(cellCents).head.length
    // training path: pqTrain widens its own input (one exchange);
    // codes path: widen the SCAN root, per widen()'s contract
    val codebook = pqTrain(
      residualFrame(embeddings, cellCents)
        .select(col("vec_id"), col("embedding")),
      m, ksub, rounds, dimOpt = Some(dim))
    val cb = collectCodebook(codebook)
    val codes = residualFrame(graft.util.SparkUtil.widen(embeddings)
      .filter(col("embedding").isNotNull), cellCents)
      .select(col("vec_id"), col("label"), col("cell"),
        asDouble(col("embedding")).as("vec"))
      .select(col("vec_id"), col("label"), col("cell"),
        pqCodeExpr(cb).as("codes"))
    (cellCents, codebook, codes)
  }

  /** Persist a full IVF-PQ index (cells + codebook + codes) — train
    * once, search many; only `codes` is corpus-sized (4 + m bytes a
    * vector). Read the three tables back into [[ivfPqTopK]]. */
  def writeIvfPq(embeddings: DataFrame, dir: String, nCells: Int = 8,
                 m: Int = 16, ksub: Int = 32, rounds: Int = 3): Unit = {
    val (cc, cb, codes) = ivfPqIndex(embeddings, nCells, m, ksub, rounds)
    cc.write.mode("overwrite").parquet(s"$dir/cells")
    cb.write.mode("overwrite").parquet(s"$dir/codebook")
    codes.write.mode("overwrite").parquet(s"$dir/codes")
  }

  /** Incremental index append — encode NEW vectors against the
    * PERSISTED model (cells + codebook stay frozen) and append their
    * codes: the serve-path maintenance op that keeps a billion-vector
    * index fresh without the train cost (the standard IVF freshness
    * trade — quantization error drifts as the data distribution moves;
    * retrain with [[writeIvfPq]] when reconstruction quality decays,
    * monitored via [[ivfPqReconstructionStats]]).
    *
    * Scale shape: ONE narrow pass over the new batch (cell argmax +
    * residual + code expression — all literal-matrix codegen), an
    * append-only write of 4 + m bytes a vector; the existing corpus is
    * never read, let alone re-encoded. Identical vectors encode
    * identically whenever they're appended (frozen model ⇒
    * deterministic codes — spec-pinned). NOT idempotent per call: a
    * re-run appends duplicate code rows (wrap in a batch-id overwrite
    * like [[graft.streaming.StreamingPipeline]]'s sinks when driving
    * this from a stream). */
  def ivfPqAppend(newEmbeddings: DataFrame, dir: String): Unit = {
    val spark = newEmbeddings.sparkSession
    ivfPqEncodeFrozen(newEmbeddings,
      spark.read.parquet(s"$dir/cells"),
      spark.read.parquet(s"$dir/codebook"))
      .write.mode("append").parquet(s"$dir/codes")
  }

  /** The frozen-model encode core shared by [[ivfPqAppend]] (batch,
    * append-mode) and [[graft.streaming.StreamingPipeline
    * .indexMaintenancePipeline]] (batch_id-scoped overwrite): new
    * vectors → (vec_id, label, cell, codes) against an EXISTING cells
    * + codebook pair — one narrow literal-matrix projection, no
    * training, corpus never read. */
  def ivfPqEncodeFrozen(newEmbeddings: DataFrame, cellCentroids: DataFrame,
                        codebook: DataFrame): DataFrame =
    ivfPqFrozenEncoder(cellCentroids, codebook)._2(newEmbeddings)

  /** ONE-collect bundle for per-batch consumers: collects the model
    * (cells + codebook) a single time and returns (modelId, encode
    * function over that collected model). The maintenance pipeline
    * calls this once per micro-batch — computing the id and the
    * encode from separate collects would read the model parquet
    * twice per batch (the round-7 admission fixed-cost lesson). */
  def ivfPqFrozenEncoder(cellCentroids: DataFrame, codebook: DataFrame)
      : (String, DataFrame => DataFrame) = {
    val cells = collectCells(cellCentroids)
    val cb = collectCodebook(codebook)
    val id = ivfPqModelIdFromCollected(cells, cb)
    (id, newEmbeddings =>
      residualFrameFromCells(graft.util.SparkUtil.widen(newEmbeddings)
        .filter(col("embedding").isNotNull), cells)
        .select(col("vec_id"), col("label"), col("cell"),
          asDouble(col("embedding")).as("vec"))
        .select(col("vec_id"), col("label"), col("cell"),
          pqCodeExpr(cb).as("codes")))
  }

  /** Content identity of an IVF-PQ MODEL (cells + codebook) — md5 of
    * the canonically-ordered centroid values. Codes are meaningful
    * ONLY against the model that produced them: a retrain changes
    * every byte's decode table, so the delta store pins this id and
    * every consumer checks it fail-loud (the semantic-admission
    * `_params` discipline applied to the model itself). Model-sized
    * collect (k·dim + m·ksub·dsub doubles), never corpus. */
  def ivfPqModelId(cellCentroids: DataFrame, codebook: DataFrame): String =
    ivfPqModelIdFromCollected(collectCells(cellCentroids),
      collectCodebook(codebook))

  private def ivfPqModelIdFromCollected(
      cells: Seq[Seq[Double]],
      cb: Map[Int, IndexedSeq[Seq[Double]]]): String = {
    val cellsStr = cells.map(_.mkString(",")).mkString(";")
    val cbStr = cb.toSeq.sortBy(_._1)
      .map { case (j, cents) =>
        s"$j:" + cents.map(_.mkString(",")).mkString(";")
      }.mkString("|")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(s"$cellsStr#$cbStr".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** The maintained codes table — the base index's `codes` unioned
    * with every batch_id-scoped delta partition the streaming
    * maintenance pipeline has published (absent delta dir = base
    * only). Search is unchanged: pass this wherever the base codes
    * frame went; schema is identical (the partition column drops).
    *
    * FAIL-LOUD identity check: the pipeline pins [[ivfPqModelId]] at
    * `<deltaDir>_model_id`; a delta whose pin is missing or does not
    * match the CURRENT index's model is refused — after an out-of-band
    * retrain, old delta codes ADC-decode through the new codebook into
    * meaningless distances with zero errors surfaced (discard the
    * delta or re-encode it, then restart the pipeline to re-pin).
    *
    * SNAPSHOT semantics: the pin is verified at DataFrame-CONSTRUCTION
    * time; the returned frame reads the delta lazily, so a retrain
    * that lands between construction and an action (or while a frame
    * is held long-term) is NOT re-detected — old delta codes would
    * decode through the new codebook in that window. Construct the
    * frame close to its action (the search entry points do) and treat
    * a held frame as a snapshot of the model it was checked against;
    * retrains go through [[graft.streaming.StreamingPipeline
    * .reindexMaintained]], whose rotation empties the delta first, so
    * the stale window closes at the next construction.
    *
    * COMPACTION: the delta's live partitions resolve through the
    * store MANIFEST ([[graft.util.StoreManifest]]), so
    * [[graft.streaming.StreamingPipeline.compactAdmissionStore]] may
    * run CONCURRENTLY with searches — the fold publishes a new
    * segment, swaps the manifest atomically, and defers deleting the
    * covered originals to the next maintenance entry, so a frame
    * constructed against either manifest generation reads a complete,
    * duplicate-free store (a held frame must still be acted on within
    * one maintenance cycle — after the NEXT fold its resolved files
    * are swept). */
  def maintainedCodes(spark: org.apache.spark.sql.SparkSession,
                      indexDir: String, deltaDir: String): DataFrame = {
    val base = spark.read.parquet(s"$indexDir/codes")
    maintainedDeltaCodes(spark, indexDir, deltaDir) match {
      case Some(delta) => base.unionByName(delta)
      case None => base
    }
  }

  /** The pin-checked DELTA side of [[maintainedCodes]] on its own —
    * `None` when the delta dir is absent or holds no live rows (same
    * fail-loud pin semantics as the union; the drift monitor needs the
    * segments separately, so the check lives once here). */
  def maintainedDeltaCodes(spark: org.apache.spark.sql.SparkSession,
                           indexDir: String,
                           deltaDir: String): Option[DataFrame] = {
    val dPath = new org.apache.hadoop.fs.Path(deltaDir)
    val fs = dPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dPath)) None
    else {
      val pinPath = new org.apache.hadoop.fs.Path(deltaDir + "_model_id")
      require(fs.exists(pinPath),
        s"delta $deltaDir carries no model-id pin: cannot prove its codes " +
          s"were encoded against $indexDir's current model — discard the " +
          "delta, or restore its pin file (the pipeline refuses to stamp " +
          "pre-existing unpinned codes for the same reason)")
      val pinned = graft.util.StoreManifest.readPin(fs, pinPath)
      val current = ivfPqModelId(
        spark.read.parquet(s"$indexDir/cells"),
        spark.read.parquet(s"$indexDir/codebook"))
      require(pinned == current,
        s"delta $deltaDir was encoded against model $pinned but $indexDir " +
          s"now holds model $current (retrained?): old delta codes decode " +
          "through the new codebook into meaningless distances — discard " +
          "the delta or re-encode it against the new model")
      val live = graft.util.StoreManifest.livePaths(fs, deltaDir)
      if (live.isEmpty) None
      else Some(spark.read.parquet(live: _*))
    }
  }

  /** (vec_id, label, cell, embedding = vec − centroid(cell)) — the
    * residual frame IVF-PQ trains and encodes over. One narrow
    * projection: in-expression cell argmax + a zip_with subtract
    * against the literal cell matrix. Deliberately NOT widened here:
    * [[pqTrain]]/[[pqEncode]] widen their input themselves, and a
    * second round-robin exchange of dim-double residuals per scan
    * would double the shuffle bill. */
  private def residualFrame(embeddings: DataFrame,
                            cellCentroids: DataFrame): DataFrame =
    residualFrameFromCells(embeddings, collectCells(cellCentroids))

  private def residualFrameFromCells(embeddings: DataFrame,
                                     cells: Seq[Seq[Double]]): DataFrame = {
    val centsSeq = cells.zipWithIndex.map { case (c, i) => i -> c }
    val centMat = typedLit(cells.map(_.toSeq).toSeq)
    embeddings
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("vec"))
      .withColumn("cell", nearestCell(col("vec"), centsSeq))
      .select(col("vec_id"), col("label"), col("cell"),
        zip_with(col("vec"), element_at(centMat, col("cell") + 1),
          (a, b) => a - b).as("embedding"))
  }

  /** The IVF-PQ reconstruction column over (cell, codes):
    * `centroid(cell) + decode(codes)` — one zip_with add over the two
    * literal-matrix lookups. Shared by search and the stats audit so
    * the index conventions (+1 lookup, −128 codes) live once. */
  private def ivfPqReconCol(cellCentroids: DataFrame,
                            codebook: DataFrame): Column = {
    val centMat = typedLit(collectCells(cellCentroids).map(_.toSeq).toSeq)
    zip_with(element_at(centMat, col("cell") + 1),
      pqReconstruct(collectCodebook(codebook)), (a, b) => a + b)
  }

  /** Approximate top-k over an IVF-PQ index: queries rank cells by
    * cosine to the cell centroid and probe the best `nProbe`
    * ([[ivfTopKByCells]]'s shape); candidates reconstruct in-plan as
    * `centroid(cell) + decode(codes)` and score full-precision-query-
    * vs-reconstruction cosine — asymmetric distance, same trade as
    * [[pqTopK]]. The corpus scan reads the CODES table (4 + m bytes a
    * vector), never the float corpus.
    *
    * Probed-cells-FIRST discipline: the codes table joins the
    * broadcast (query, probed-cell) plan on `cell` BEFORE any ADC
    * reconstruction is projected — Catalyst will not reorder a join
    * below a projection, so reconstructing up front would decode
    * every corpus vector when only ~nProbe/nCells of cells are
    * scanned. Here only candidates inside probed cells decode (the
    * reconstruction expression is evaluated above the join via
    * [[probeCellsTopK]]'s `vecCol` hook); spec-pinned by the literal-
    * matrix lookup appearing ABOVE the cell join in the physical
    * plan. */
  def ivfPqTopK(embeddings: DataFrame, cellCentroids: DataFrame,
                codebook: DataFrame, codes: DataFrame,
                queryIds: Seq[Long], k: Int, nProbe: Int): DataFrame = {
    val corpus = codes.select(col("vec_id"), col("cell"), col("codes"))
    val queries = graft.util.SparkUtil.widen(embeddings)
      .filter(col("vec_id").isInCollection(queryIds) && col("embedding").isNotNull)
      .select(col("vec_id").as("query_id"), asDouble(col("embedding")).as("qvec"))
    probeCellsTopK(corpus, queries, cellCentroids, k, nProbe,
      vecCol = ivfPqReconCol(cellCentroids, codebook))
  }

  /** IVF-PQ search with an exact re-rank (refine) stage — the
    * production composition every large ANN deployment runs (FAISS's
    * `IndexRefineFlat` over `IndexIVFPQ`): the ADC scan is a recall
    * FUNNEL, not the final ranking. Stage 1 takes an ADC shortlist of
    * `refine × k` candidates per query ([[ivfPqTopK]] — codes-table
    * scan, 4 + m bytes a vector); stage 2 re-scores ONLY the shortlist
    * against the full-precision corpus with the codegen'd
    * [[cosine]] and keeps the true top-k. This provably clears the ADC
    * quantization floor whenever the true neighbors reach the
    * shortlist: on the clustered fixture recall@10 was 0.4–0.7 at ANY
    * nProbe (quantization, not cell selection — see
    * `sim_ivfpq_recall_clustered`); refined it is 1.0 (measured,
    * `sim_ivfpq_recall_refined`).
    *
    * Scale shape (100 TB): the shortlist is |queries| × refine × k
    * (query-panel-sized, REQUIRED bounded ≤ 1M rows) and is collected
    * so the full-precision re-scan arrives as an `In(vec_id, …)`
    * pushdown — the float corpus is read at shortlist row-group
    * granularity, never scanned (a broadcast join on vec_id would
    * stream every corpus row past the probe). The collect is one
    * bounded ADC job; re-scoring is a two-broadcast join over ≤
    * shortlist rows. `refine = 1` degenerates to a pure re-ordering of
    * the ADC top-k (it cannot recover candidates ADC missed — use
    * refine ≥ 5 to clear the floor). Output matches
    * [[bruteForceTopK]]: (query_id, vec_id, label, cosine, rk). */
  def ivfPqTopKRefined(embeddings: DataFrame, cellCentroids: DataFrame,
                       codebook: DataFrame, codes: DataFrame,
                       queryIds: Seq[Long], k: Int, nProbe: Int,
                       refine: Int = 5): DataFrame = {
    require(refine >= 1, s"refine must be >= 1: $refine")
    require(queryIds.size.toLong * refine * k <= 1000000L,
      s"shortlist |queries|*refine*k = ${queryIds.size.toLong * refine * k} " +
        "exceeds the 1M bounded-collect guard — shrink refine or batch the queries")
    val spark = embeddings.sparkSession
    val pairs = ivfPqTopK(embeddings, cellCentroids, codebook, codes,
        queryIds, refine * k, nProbe)
      .select(col("query_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    import spark.implicits._
    val shortlist = pairs.toSeq.toDF("query_id", "vec_id")
    val candIds = (pairs.map(_._2) ++ queryIds).distinct.toSeq
    // In() pushdown: only shortlist (+ query) vectors leave the scan
    val corpus = embeddings
      .filter(col("vec_id").isInCollection(candIds) && col("embedding").isNotNull)
      .select(col("vec_id"), asDouble(col("embedding")).as("vec"), col("label"))
    val queries = corpus.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val rescored = corpus.join(broadcast(shortlist), Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        cosine(col("qvec"), col("vec")).as("cos"))
    heapTopK(rescored, k, Some("label"))
      .select(col("query_id"), col("vec_id"), col("label"), col("cosine"), col("rk"))
  }

  /** The shared probe-then-scan tail of the cell-keyed indexes
    * ([[ivfTopKByCells]], [[ivfPqTopK]]): rank cells per query against
    * the centroid table with the `graft_topk` heap, broadcast the
    * (query, probed-cell) plan, scan `corpus` (vec_id, cell, vec)
    * filtered to probed cells, per-query top-k in the heap aggregate
    * tagged with the cell. Probe semantics (NaN, ties) live HERE,
    * once. `vecCol` is the candidate-vector expression scored against
    * the query — it is evaluated AFTER the probed-cell join, so a
    * decode expression ([[ivfPqTopK]]'s reconstruction) only runs on
    * candidates inside probed cells, never the whole corpus. */
  private def probeCellsTopK(corpus: DataFrame, queries: DataFrame,
                             centroids: DataFrame, k: Int,
                             nProbe: Int, vecCol: Column = col("vec")): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val cellScores = queries.crossJoin(broadcast(centroids))
      .select(col("query_id"), col("cell"),
        cosine(col("qvec"), col("centroid")).as("c"))
    val probed = cellScores.groupBy("query_id")
      .agg(expr(s"graft_topk(c, CAST(cell AS BIGINT), $nProbe)").as("cells"))
      .select(col("query_id"), explode(col("cells.id")).as("cell_l"))
      .select(col("query_id"), col("cell_l").cast("int").as("cell"))
      .join(queries, Seq("query_id"))
      .select(col("query_id"), col("qvec"), col("cell"))
    val scored = corpus.join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("cell"),
        cosine(col("qvec"), vecCol).as("cos"))
    heapTopK(scored, k, Some("cell"))
      .select(col("query_id"), col("vec_id"), col("cell"), col("cosine"), col("rk"))
  }

  /** Per-label reconstruction-quality aggregate shared by
    * [[pqReconstructionStats]] and [[ivfPqReconstructionStats]] —
    * `recon` supplies (vec_id, rvec). */
  private def reconStats(embeddings: DataFrame, recon: DataFrame): DataFrame =
    graft.util.SparkUtil.widen(embeddings)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("vec"))
      .join(recon, Seq("vec_id"))
      .select(col("label"), cosine(col("vec"), col("rvec")).as("c"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), round(avg(col("c")), 4).as("mean_cos"),
        round(min(col("c")), 4).as("min_cos"))
      .orderBy("label")

  /** Reconstruction-quality report for an IVF-PQ index — the
    * [[pqReconstructionStats]] analog over `centroid(cell) +
    * decode(codes)`; residual encoding should reconstruct TIGHTER
    * than plain PQ at the same (m, ksub) budget (spec-asserted). */
  def ivfPqReconstructionStats(embeddings: DataFrame,
                               cellCentroids: DataFrame,
                               codebook: DataFrame,
                               codes: DataFrame): DataFrame =
    reconStats(embeddings, codes.select(col("vec_id"),
      ivfPqReconCol(cellCentroids, codebook).as("rvec")))

  /** Retrain-decision monitor for the MAINTAINED index — the metric
    * that tells an operator WHEN to call [[graft.streaming
    * .StreamingPipeline.reindexMaintained]]: the frozen model was
    * trained on the base distribution, so as the appended stream
    * drifts, the DELTA's reconstruction quality decays while the
    * base's stays put (the standard IVF freshness trade, now
    * measured per segment instead of guessed). One row:
    * (n_base, n_delta, base_ok, delta_ok, needs_reindex) —
    * `*_ok` = segment mean reconstruction cosine ≥ `minCos` (empty
    * delta reads ok), `needs_reindex` = delta not ok OR the delta mean
    * sits more than `maxDrop` below the base mean. `embeddings` must
    * cover both segments' vec_ids (the reindex contract's
    * source-of-truth corpus — reconstruction compares against the TRUE
    * vectors).
    *
    * Scale shape (100 TB): ONE embeddings scan joined against the
    * tagged union of the two codes tables (4 + m bytes a row); the
    * reconstruction is the literal-matrix expression evaluated
    * post-join; the aggregate is one row of conditional sums. */
  def maintainedReconDrift(embeddings: DataFrame, cellCentroids: DataFrame,
                           codebook: DataFrame, baseCodes: DataFrame,
                           deltaCodes: DataFrame, minCos: Double = 0.5,
                           maxDrop: Double = 0.1): DataFrame = {
    val reconCol = ivfPqReconCol(cellCentroids, codebook)
    val tagged = baseCodes
      .select(col("vec_id"), col("cell"), col("codes"), lit(true).as("__base"))
      .unionByName(deltaCodes
        .select(col("vec_id"), col("cell"), col("codes"), lit(false).as("__base")))
      .select(col("vec_id"), col("__base"), reconCol.as("rvec"))
    val scored = graft.util.SparkUtil.widen(embeddings)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), asDouble(col("embedding")).as("vec"))
      .join(tagged, Seq("vec_id"))
      .select(col("__base"), cosine(col("vec"), col("rvec")).as("c"))
    // coalesce: a global agg over an EMPTY join (degenerate corpus)
    // returns null sums — the counts must read 0 so the booleans below
    // take their defined empty-segment values
    scored.agg(
        coalesce(sum(when(col("__base"), 1L).otherwise(0L)), lit(0L)).as("n_base"),
        coalesce(sum(when(!col("__base"), 1L).otherwise(0L)), lit(0L)).as("n_delta"),
        avg(when(col("__base"), col("c"))).as("__mb"),
        avg(when(!col("__base"), col("c"))).as("__md"))
      .select(col("n_base"), col("n_delta"),
        (col("n_base") === 0L || col("__mb") >= minCos).as("base_ok"),
        (col("n_delta") === 0L || col("__md") >= minCos).as("delta_ok"),
        // the gap clause needs BOTH means: with an empty base, __mb is
        // null and three-valued logic would bubble a NULL verdict out
        // of the OR — coalesce pins it to "no gap evidence"
        (col("n_delta") > 0L &&
          (col("__md") < minCos ||
            coalesce(col("__mb") - col("__md") > maxDrop, lit(false))))
          .as("needs_reindex"))
  }

  // ---- dimension truncation: the Matryoshka/prefix scale path ----

  /** Truncate embeddings to their first `dims` dimensions — the
    * Matryoshka-representation serving trick: MRL-trained embeddings
    * concentrate ranking signal in the prefix, so a dims/D-sized
    * corpus scan is the cheap first-stage filter (complementing
    * [[quantizeEmbeddings]]'s 4× precision cut with a dims/D
    * dimension cut; the two compose). NOTE the synthetic test
    * embeddings are unstructured, so prefix recall vs full dim is
    * poor there BY CONSTRUCTION — the oracled contract is the exact
    * ranking over the truncated vectors themselves. Narrow, scan
    * speed. Output: (vec_id, label, tvec: first min(dims, D) dims). */
  def truncateEmbeddings(embeddings: DataFrame, dims: Int): DataFrame = {
    require(dims >= 1, s"dims must be >= 1: $dims")
    graft.util.SparkUtil.widen(embeddings)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("label"),
        slice(asDouble(col("embedding")), 1, dims).as("tvec"))
  }

  /** Persist the truncated corpus (write once at dims/D the size,
    * search many). */
  def writeTruncated(embeddings: DataFrame, dims: Int, path: String): Unit =
    truncateEmbeddings(embeddings, dims).write.mode("overwrite").parquet(path)

  /** Exact brute-force top-k over a TRUNCATED corpus (from
    * [[truncateEmbeddings]] or read back from [[writeTruncated]]) —
    * same broadcast-queries + heap-aggregate shape as
    * [[bruteForceTopK]]; the scan and shuffle move dims/D of the
    * float payload. */
  def truncatedTopK(truncated: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val corpus = truncated
      .select(col("vec_id"), col("label"), col("tvec").as("vec"))
    val queries = corpus.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val scored = corpus.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        cosine(col("qvec"), col("vec")).as("cos"))
    heapTopK(scored, k, Some("label"))
      .select(col("query_id"), col("vec_id"), col("label"), col("cosine"), col("rk"))
  }

  // ---- MMR diversification: the retrieval re-ranking pass ----------

  /** Maximal-Marginal-Relevance re-ranking — pick `k` results from
    * each query's `poolSize`-candidate pool trading relevance against
    * redundancy: step 1 takes the most relevant candidate; step i
    * takes argmax of `lambda·rel − (1−lambda)·max_sim_to_selected`
    * (ties → lower vec_id). The RAG-serving diversification pass: a
    * plain top-k of a deduplicated-but-still-clumpy corpus returns k
    * paraphrases; MMR returns one per clump.
    *
    * Scale shape (100 TB): candidate generation is the distributed
    * part — one scored corpus scan into the `graft_topk` heap (the
    * [[bruteForceTopK]] plan; swap in an IVF/PQ pool for the real
    * first stage), plus one gather scan to re-attach pool vectors.
    * The selection itself is inherently sequential in k but bounded
    * by the POOL (k·poolSize cosines per query, never corpus-sized),
    * so it runs as one deterministic JVM fold per query — grouped,
    * distributed across queries, driver never involved. Output:
    * (query_id, rank, vec_id, mmr_score 4 dp), rank 1..k; step-1
    * score is the pure relevance. */
  def mmrRerank(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
                poolSize: Int = 10, lambda: Double = 0.7): DataFrame = {
    require(k >= 1 && k <= poolSize, s"need 1 <= k <= poolSize: $k, $poolSize")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1]: $lambda")
    val corpus = graft.util.SparkUtil.widen(embeddings)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), asDouble(col("embedding")).as("vec"))
    val queries = corpus.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val scored = corpus.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), cosine(col("qvec"), col("vec")).as("cos"))
    // heapTopK's cosine is rounded for output — keep ids only and
    // recompute the unrounded relevance on the tiny gathered pool
    val poolIds = heapTopK(scored, poolSize, None).select("query_id", "vec_id")
    val pool = corpus.join(broadcast(poolIds), Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("qvec"), col("vec")).as("rel"), col("vec"))
    val grouped = pool.groupBy("query_id")
      .agg(sort_array(collect_list(struct(col("vec_id"), col("rel"), col("vec"))))
        .as("pool"))
      .select(col("query_id"),
        transform(col("pool"), s => s.getField("vec_id")).as("ids"),
        transform(col("pool"), s => s.getField("rel")).as("rels"),
        transform(col("pool"), s => s.getField("vec")).as("vecs"))
    val kk = k; val lam = lambda
    val mmrUdf = udf { (ids: Seq[Long], rels: Seq[Double], vecs: Seq[Seq[Double]]) =>
      def cos(a: Seq[Double], b: Seq[Double]): Double = {
        var dab = 0.0; var da = 0.0; var db = 0.0; var i = 0
        while (i < a.length) {
          dab += a(i) * b(i); da += a(i) * a(i); db += b(i) * b(i); i += 1
        }
        dab / (math.sqrt(da) * math.sqrt(db))
      }
      val n = ids.length
      val taken = Array.fill(n)(false)
      val out = Seq.newBuilder[(Long, Double)]
      var step = 0
      var exhausted = false
      while (step < math.min(kk, n) && !exhausted) {
        var bestI = -1; var bestS = Double.NegativeInfinity
        var i = 0
        while (i < n) { // ids ascend, strict > : ties land on lower vec_id
          if (!taken(i)) {
            var maxSim = Double.NegativeInfinity
            var j = 0
            while (j < n) {
              if (taken(j)) { val s = cos(vecs(i), vecs(j)); if (s > maxSim) maxSim = s }
              j += 1
            }
            val s = if (maxSim == Double.NegativeInfinity) rels(i)
              else lam * rels(i) - (1 - lam) * maxSim
            if (s > bestS) { bestS = s; bestI = i }
          }
          i += 1
        }
        // every remaining score NaN (a zero-magnitude vector makes
        // cosine 0/0): nothing is rankable — stop selecting instead of
        // indexing with -1 (heapTopK tolerates the same input)
        if (bestI < 0) exhausted = true
        else {
          taken(bestI) = true
          out += ((ids(bestI), bestS))
          step += 1
        }
      }
      out.result()
    }
    grouped
      .select(col("query_id"),
        posexplode(mmrUdf(col("ids"), col("rels"), col("vecs"))))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col._1").as("vec_id"), round(col("col._2"), 4).as("mmr_score"))
      .orderBy("query_id", "rank")
  }

  /** k-center (farthest-point) greedy diversity sampling — the
    * coverage-maximizing seed picker (diverse few-shot exemplars,
    * annotation budgets, codebook warm starts): starting from the
    * lowest-id pool vector, each step adds the pool vector FARTHEST
    * from the chosen set (max over candidates of min cosine distance ≡
    * argmin of max-cosine-to-chosen; ties on vec_id). The greedy
    * 2-approximation of the k-center objective [Gonzalez 1985].
    *
    * Pool-bounded like [[mmrRerank]]: the distributed stage selects
    * `poolSize` vectors by ascending u32(md5(salt:vec_id)) — the
    * deterministic-coin discipline, a TakeOrdered, no full sort — and
    * the O(pool²·dim) greedy folds over ONE gathered row. At 100 TB
    * the pool cap is the contract: k-center is a seed picker, not a
    * corpus partitioner (that's [[kmeansCentroids]]).
    *
    * Zero-magnitude vectors are excluded from the POOL (cosine to them
    * is NaN = unrankable; worse, a degenerate seed would stall the
    * whole fold) — so every cosine in the greedy is finite by
    * construction.
    *
    * Output: (rank 1..k, vec_id, max_cos 4 dp — cosine to the nearest
    * already-chosen center, NULL for the seed), ordered by rank. */
  def kcenterSample(embeddings: DataFrame, k: Int, poolSize: Int = 12,
                    salt: String = "kc"): DataFrame = {
    require(k >= 1 && k <= poolSize, s"need 1 <= k <= poolSize: $k, $poolSize")
    val corpus = graft.util.SparkUtil.widen(embeddings)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), asDouble(col("embedding")).as("vec"))
      .filter(aggregate(col("vec"), lit(0.0), (a, x) => a + x * x) > 0)
    val u32 = conv(substring(
      md5(concat(lit(s"$salt:"), col("vec_id").cast("string"))), 1, 8), 16, 10)
      .cast(LongType)
    val pool = corpus.withColumn("__u", u32)
      .orderBy(col("__u"), col("vec_id")).limit(poolSize)
    val gathered = pool.groupBy()
      .agg(sort_array(collect_list(struct(col("vec_id"), col("vec"))))
        .as("pool"))
      .select(transform(col("pool"), s => s.getField("vec_id")).as("ids"),
        transform(col("pool"), s => s.getField("vec")).as("vecs"))
    val kk = k
    val kcUdf = udf { (ids: Seq[Long], vecs: Seq[Seq[Double]]) =>
      def cos(a: Seq[Double], b: Seq[Double]): Double = {
        var dab = 0.0; var da = 0.0; var db = 0.0; var i = 0
        while (i < a.length) {
          dab += a(i) * b(i); da += a(i) * a(i); db += b(i) * b(i); i += 1
        }
        dab / (math.sqrt(da) * math.sqrt(db))
      }
      val n = ids.length
      val taken = Array.fill(n)(false)
      val out = Seq.newBuilder[(Long, Option[Double])]
      if (n > 0) {
        taken(0) = true // ids ascend: seed = lowest vec_id
        out += ((ids(0), None))
        var step = 1
        var exhausted = false
        while (step < math.min(kk, n) && !exhausted) {
          var bestI = -1; var bestM = Double.PositiveInfinity
          var i = 0
          while (i < n) { // strict < : ties land on the lower vec_id
            if (!taken(i)) {
              var maxCos = Double.NegativeInfinity
              var j = 0
              while (j < n) {
                if (taken(j)) {
                  val s = cos(vecs(i), vecs(j)); if (s > maxCos) maxCos = s
                }
                j += 1
              }
              // pool excludes zero vectors, so maxCos is finite here;
              // NaN would never satisfy < (fails closed, not crashes)
              if (maxCos < bestM) { bestM = maxCos; bestI = i }
            }
            i += 1
          }
          if (bestI < 0) exhausted = true
          else {
            taken(bestI) = true
            out += ((ids(bestI), Some(bestM)))
            step += 1
          }
        }
      }
      out.result()
    }
    gathered
      .select(posexplode(kcUdf(col("ids"), col("vecs"))))
      .select((col("pos") + 1).cast("long").as("rank"),
        col("col._1").as("vec_id"), round(col("col._2"), 4).as("max_cos"))
      .orderBy("rank")
  }

  // ---- unlabeled coarse quantizer: distributed Lloyd's k-means ----

  /** Nearest-cell assignment against a small centroid set, as a single
    * codegen'd expression (no join, no shuffle): argmax cosine with
    * ties resolving to the higher cell id, deterministically. The
    * [[graft.functions.NearestCellExpr]] loop keeps generated code
    * O(1) in k × dim — the [[nearestCellComposed]] `greatest`-of-
    * structs form it replaces inlines k cosine blocks and falls off
    * the Janino 64KB/constant-pool cliff at real quantizer sizes
    * (k=256 × dim≥1024); the expression is spec-pinned compiled at
    * exactly that size under CODEGEN_ONLY factory mode. */
  def nearestCell(vec: Column, cents: Seq[(Int, Seq[Double])]): Column = {
    require(cents.size >= 2, s"k-means needs >= 2 centroids, got ${cents.size}")
    graft.functions.NearestCellExpr(vec, cents)
  }

  /** The `greatest`-of-(score, cell)-structs formulation — retained as
    * the executable specification of [[nearestCell]]'s argmax/tie/null
    * semantics (spec-asserted equal for non-null vectors). Do NOT use
    * on the scan path at real k × dim: k inlined cosine blocks blow
    * the generated-method limits and silently fall back interpreted. */
  def nearestCellComposed(vec: Column, cents: Seq[(Int, Seq[Double])]): Column = {
    require(cents.size >= 2, s"k-means needs >= 2 centroids, got ${cents.size}")
    greatest(cents.map { case (id, c) =>
      struct(cosine(vec, typedLit(c)).as("score"), lit(id).as("cell"))
    }: _*).getField("cell")
  }

  /** Nearest-cell assignment as a broadcast join — the no-literal
    * alternative for centroid tables too large to ride inside an
    * expression (every task deserializes the matrix with the plan; at
    * k × dim past ~4M doubles that is tens of MB of plan weight):
    * corpus × broadcast(centroids), then an argmax aggregate on
    * `max(struct(score, cell))` — the same (score, cell) struct order
    * as [[nearestCell]], so ties and NaN resolve identically. Costs
    * one corpus-wide shuffle on `vec_id` (k-reduced by the map-side
    * partial max) that the in-expression path avoids; `vec` rides
    * through `first()`. Input needs (vec_id, vec); all other columns
    * are carried. */
  def assignCellsByJoin(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val carried = corpus.columns.filterNot(_ == "vec_id")
    corpus.crossJoin(broadcast(centroids.select(col("cell"), col("centroid"))))
      .select(col("vec_id") +: carried.map(col) :+
        struct(cosine(col("vec"), col("centroid")).as("s"), col("cell").as("cell"))
          .as("_sc"): _*)
      .groupBy("vec_id")
      .agg(first(col(carried.head)).as(carried.head),
        carried.tail.map(c => first(col(c)).as(c)) :+
          max(col("_sc")).getField("cell").as("cell"): _*)
  }

  /** Distributed Lloyd's k-means over UNLABELED embeddings — the IVF
    * coarse quantizer with no dependence on a label column (SURVEY
    * §7.7's at-scale caveat). Deterministic throughout: seeds are the
    * `k` vectors with smallest md5(vec_id) (a pseudo-random but stable
    * sample — no `rand()`), assignment is the codegen'd
    * [[nearestCell]] argmax, and empty cells keep their previous
    * centroid. Each round costs ONE corpus scan (narrow assignment) +
    * one k-row-per-partition partial aggregate; the driver only ever
    * holds k×dim doubles — at 100 TB that is `rounds` scans total, no
    * iteration-scaled shuffle state. Returns (cell: int,
    * centroid: array<double>). */
  def kmeansCentroids(embeddings: DataFrame, k: Int, rounds: Int = 4,
                      dimOpt: Option[Int] = None): DataFrame = {
    require(k >= 2 && k <= 256, s"k-means cells must be in [2,256]: $k")
    require(rounds >= 1, s"k-means needs >= 1 round: $rounds")
    val spark = embeddings.sparkSession
    val dim = dimOpt.getOrElse(embeddingDim(embeddings))
    val corpus = graft.util.SparkUtil.widen(embeddings)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), asDouble(col("embedding")).as("vec"))
    var cents: Seq[(Int, Seq[Double])] = corpus
      .orderBy(md5(col("vec_id").cast("string"))).limit(k)
      .select(col("vec")).collect()
      .zipWithIndex.map { case (r, i) => i -> r.getSeq[Double](0) }.toSeq
    require(cents.size == k, s"corpus smaller than k=$k cells (${cents.size} rows)")
    for (_ <- 0 until rounds) {
      val sums = corpus
        .select(nearestCell(col("vec"), cents).as("cell"), col("vec"))
        .groupBy("cell").agg(
          count(lit(1)).as("n"),
          array((0 until dim).map(i => sum(element_at(col("vec"), i + 1))): _*).as("sums"))
        .collect() // k rows of k×dim partials — driver state is tiny
      val updated = sums.map { r =>
        val n = r.getLong(1)
        r.getInt(0) -> r.getSeq[Double](2).map(_ / n)
      }.toMap
      cents = cents.map { case (id, c) => id -> updated.getOrElse(id, c) }
    }
    import spark.implicits._
    cents.toDF("cell", "centroid")
  }

  /** Persist trained k-means cells (train once, search many — the
    * [[writeCentroids]] analog for the unlabeled quantizer). */
  def writeKmeansCentroids(embeddings: DataFrame, path: String, k: Int,
                           rounds: Int = 4, dimOpt: Option[Int] = None): Unit =
    kmeansCentroids(embeddings, k, rounds, dimOpt).write.mode("overwrite").parquet(path)

  /** IVF top-k over a k-means cell table (from [[kmeansCentroids]] or
    * read back from [[writeKmeansCentroids]]): corpus cells are
    * assigned in-plan by the same codegen'd nearest-centroid argmax
    * (narrow — no training-time assignment column needed), then the
    * probe/search shape matches the labeled [[ivfTopK]]: rank cells per
    * query with the heap aggregate, broadcast the probe plan, scan the
    * corpus once filtered to probed cells. Past
    * `maxInlineCentroidDoubles` total matrix entries the assignment
    * switches from the in-expression argmax to [[assignCellsByJoin]] —
    * a quantizer too big to ship inside the plan rides a broadcast
    * join instead (spec-asserted equal). */
  def ivfTopKByCells(embeddings: DataFrame, centroids: DataFrame,
                     queryIds: Seq[Long], k: Int, nProbe: Int,
                     maxInlineCentroidDoubles: Long = 4L << 20): DataFrame = {
    // gate BEFORE collecting: a past-gate centroid table must never be
    // driver-collected at all (that is the failure the join path avoids)
    val nCells = centroids.count()
    val dim = centroids.select(size(col("centroid"))).head().getInt(0)
    val corpus0 = graft.util.SparkUtil.widen(embeddings)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), asDouble(col("embedding")).as("vec"))
    val corpus =
      if (nCells * dim <= maxInlineCentroidDoubles) {
        val cents = centroids.select(col("cell"), col("centroid")).collect()
          .map(r => r.getInt(0) -> r.getSeq[Double](1)).toSeq.sortBy(_._1)
        corpus0.withColumn("cell", nearestCell(col("vec"), cents))
      } else assignCellsByJoin(corpus0, centroids)
    val queries = corpus.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    probeCellsTopK(corpus, queries, centroids, k, nProbe)
  }

  /** IVF-style approximate top-k: coarse cells are the `label` column
    * (a precomputed assignment — at corpus scale this comes from
    * k-means over a sample), each query ranks cell centroids by cosine
    * and exact-searches only the `nProbe` nearest cells. Cost per query
    * drops from |corpus| to ~nProbe/|cells| of it; recall is tunable
    * via nProbe. Centroids and the query→cell plan are tiny →
    * broadcast; the corpus is scanned once, filtered by probed cell.
    * Centroids are computed in-plan here; use the other overload with a
    * [[writeCentroids]] table to skip the training pass. */
  def ivfTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
              nProbe: Int, dimOpt: Option[Int] = None): DataFrame =
    ivfTopK(embeddings, ivfCentroids(embeddings, dimOpt), queryIds, k, nProbe)

  /** IVF top-k against an existing centroid table (in-plan or read back
    * from [[writeCentroids]] parquet — train once, search many). */
  def ivfTopK(embeddings: DataFrame, centroids: DataFrame, queryIds: Seq[Long],
              k: Int, nProbe: Int): DataFrame = {
    val corpus = graft.util.SparkUtil.widen(embeddings)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("vec"))
    val queries = corpus.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    // rank cells per query with the same heap aggregate (no window
    // anywhere in the operator); label rides as the heap id — the
    // queries×centroids table is tiny (broadcast both sides), this just
    // keeps the plan window-free and the per-query state k-bounded
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val cellScores = queries.crossJoin(broadcast(centroids))
      .select(col("query_id"), col("label"),
        cosine(col("qvec"), col("centroid")).as("c"))
    val probed = cellScores.groupBy("query_id")
      .agg(expr(s"graft_topk(c, CAST(label AS BIGINT), $nProbe)").as("cells"))
      .select(col("query_id"), explode(col("cells.id")).as("label_l"))
      .select(col("query_id"), col("label_l").cast("int").as("label"))
      .join(queries, Seq("query_id"))
      .select(col("query_id"), col("qvec"), col("label"))
    val scored = corpus.join(broadcast(probed), Seq("label"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        cosine(col("qvec"), col("vec")).as("cos"))
    heapTopK(scored, k, Some("label"))
      .select(col("query_id"), col("vec_id"), col("label"), col("cosine"), col("rk"))
  }

  /** Embedding outlier audit — flag the `permille`/1000 fraction of
    * each label's vectors FARTHEST from the label centroid (lowest
    * cosine): the mislabeled/noisy-embedding filter a training build
    * runs before contrastive sampling or [[semanticDedup]]-style
    * within-cell pruning trusts the labels. The flag is RANK-based
    * over the ROUNDED (4 dp) cosine with a vec_id tiebreak — no
    * ulp-boundary flips cross-engine — and the cutoff is the exact
    * integer test `rank × 1000 <= permille × n_label` (no float
    * threshold at all). Output: (vec_id, label, cos_centroid, outlier),
    * ordered by vec_id.
    *
    * Scale shape (100 TB): centroids are one combinable per-label
    * aggregate (|labels| rows, broadcast back); scoring is one narrow
    * scan; ranking is the skew-safe
    * [[graft.metrics.Metrics.rankByKey]] — a dominant label never
    * funnels through one reducer. */
  def centroidOutliers(embeddings: DataFrame,
                       permille: Long = 50): DataFrame = {
    require(permille >= 0 && permille <= 1000, s"permille in [0,1000]: $permille")
    val scored = graft.util.SparkUtil.widen(embeddings)
      .filter(col("embedding").isNotNull && col("label").isNotNull)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("vec"))
      .join(broadcast(ivfCentroids(embeddings)), Seq("label"))
      .select(col("vec_id"), col("label"),
        round(cosine(col("vec"), col("centroid")), 4).as("cos_centroid"))
    graft.metrics.Metrics.rankByKey(scored, "label",
        Seq("cos_centroid", "vec_id"))
      .select(col("vec_id"), col("label"), col("cos_centroid"),
        (col("_rank") * 1000 <= col("_nk") * permille).as("outlier"))
      .orderBy("vec_id")
  }

  // ---- PCA: linear embedding compression / whitening ---------------

  /** PCA model over the embedding column — mean vector + the top
    * `kComponents` eigenvectors of the covariance matrix, one row per
    * component plus a `component = -1` row carrying the mean
    * (eigenvalue 0 there; single-frame so [[writePca]] persists the
    * whole model as one parquet).
    *
    * Scale shape (100 TB): covariance needs ONE pass — a
    * `mapPartitions` accumulating (n, Σx, Σxxᵀ) per partition (the one
    * place imperative per-partition code beats expressions: the dim²
    * outer-product update is a tight primitive loop, and the
    * alternative — exploding dim² columns per row — multiplies the
    * scanned data ×dim²). The per-partition partials are merged
    * DISTRIBUTEDLY (`treeReduce`, depth 2): at the 100 TB design point
    * (10⁴–10⁵ input partitions × ~8.4 MB per partial at dim=1024) a
    * driver-side collect of the partials would be a multi-GB-to-TB
    * funnel — with the tree merge, exactly ONE (dim²+dim+1)-double
    * matrix ever reaches the driver, which runs a cyclic Jacobi
    * eigensolve on the dim×dim symmetric result — dim ≤ a few thousand
    * is driver-trivial; the corpus never re-scans. Projection
    * ([[pcaProject]]) is a narrow broadcast-literal matrix multiply. */
  def pcaTrain(embeddings: DataFrame, kComponents: Int): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val dim = embeddingDim(embeddings)
    require(kComponents >= 1 && kComponents <= dim,
      s"kComponents must be in [1, $dim]: $kComponents")
    val (nTotal, sumVec, outerSum) = graft.util.SparkUtil.widen(embeddings)
      // null rows dropped, matching embeddingDim's contract — an
      // unguarded null would NPE as an opaque task failure
      .filter(col("embedding").isNotNull)
      .select(asDouble(col("embedding")).as("vec")).as[Seq[Double]]
      .rdd
      .mapPartitions { it =>
        var n = 0L
        val s = new Array[Double](dim)
        val o = new Array[Double](dim * dim)
        it.foreach { v =>
          val a = v.toArray
          n += 1
          var i = 0
          while (i < dim) {
            s(i) += a(i)
            var j = 0
            val base = i * dim
            while (j < dim) { o(base + j) += a(i) * a(j); j += 1 }
            i += 1
          }
        }
        // every partition emits (zero partials included, so an
        // all-empty RDD still reduces instead of throwing the opaque
        // "empty collection" — the n == 0 require below owns that case)
        Iterator((n, s, o))
      }
      // distributed pairwise merge — mutating the left operand is safe
      // here (each partial is produced fresh by this stage, never
      // shared), the standard MLlib treeAggregate economy
      .treeReduce({ case ((n1, s1, o1), (n2, s2, o2)) =>
        var i = 0
        while (i < dim) { s1(i) += s2(i); i += 1 }
        var j = 0
        val d2 = dim * dim
        while (j < d2) { o1(j) += o2(j); j += 1 }
        (n1 + n2, s1, o1)
      }, depth = 2)
    require(nTotal > 0, "pcaTrain: no embedding rows")
    val n = nTotal.toDouble
    val mean = Array.tabulate(dim)(i => sumVec(i) / n)
    val cov = Array.tabulate(dim, dim) { (i, j) =>
      outerSum(i * dim + j) / n - mean(i) * mean(j)
    }
    val (eigVals, eigVecs) = jacobiEig(cov)
    val top = eigVals.zipWithIndex.sortBy(-_._1).take(kComponents)
    val rows = (-1, 0.0, mean.toSeq) +: top.zipWithIndex.map {
      case ((ev, src), rank) => (rank, ev, eigVecs(src).toSeq)
    }
    rows.toSeq.toDF("component", "eigenvalue", "vec")
  }

  /** Persist the PCA model (mean + components — model-sized, tiny). */
  def writePca(embeddings: DataFrame, path: String, kComponents: Int): Unit =
    pcaTrain(embeddings, kComponents).write.mode("overwrite").parquet(path)

  /** Project embeddings onto a [[pcaTrain]] model: out[c] =
    * componentsᵀ(vec − mean), optionally whitened (each coordinate
    * divided by √eigenvalue — unit variance per component, the
    * standard preprocessing before cosine/k-means on anisotropic
    * embedding spaces). One narrow projection against k×dim literal
    * matrices; composes with every search operator downstream at
    * k/dim of the scan IO. */
  def pcaProject(embeddings: DataFrame, model: DataFrame,
                 whiten: Boolean = false): DataFrame = {
    val rows = model.select(col("component"), col("eigenvalue"), col("vec"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getSeq[Double](2)))
    val mean = rows.find(_._1 == -1)
      .getOrElse(sys.error("pca model has no mean row (component = -1)"))._3
    val comps = rows.filter(_._1 >= 0).sortBy(_._1)
    require(comps.nonEmpty, "pca model has no component rows")
    val meanLit = typedLit(mean)
    val compCols = comps.map { case (c, ev, v) =>
      val dot = aggregate(
        zip_with(col("__centered"), typedLit(v), (a, b) => a * b),
        lit(0.0d), (acc, x) => acc + x)
      val scaled = if (whiten) dot / math.sqrt(math.max(ev, 1e-12)) else dot
      scaled.as(s"c$c")
    }
    graft.util.SparkUtil.widen(embeddings)
      // same null contract as pcaTrain: a null embedding would yield a
      // null proj and make downstream per-label stats count the row in
      // n while skipping it in mean/min — filter here so train and
      // project agree on the population
      .filter(col("embedding").isNotNull)
      .withColumn("__centered",
        zip_with(asDouble(col("embedding")), meanLit, (a, b) => a - b))
      .select(col("vec_id") +: col("label") +: compCols: _*)
      .select(col("vec_id"), col("label"),
        array(comps.map { case (c, _, _) => col(s"c$c") }: _*).as("proj"))
  }

  /** Per-label reconstruction quality of a [[pcaTrain]] model — the
    * tolerance surface the oracle pins (same pattern as
    * [[pqReconstructionStats]]): project, reconstruct mean +
    * componentsᵀ·proj in-plan from the model's literal matrices, and
    * aggregate cosine(vec, reconstruction) per label. */
  def pcaReconstructionStats(embeddings: DataFrame, model: DataFrame): DataFrame = {
    val rows = model.select(col("component"), col("vec"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
    val mean = rows.find(_._1 == -1).get._2
    val comps = rows.filter(_._1 >= 0).sortBy(_._1).map(_._2)
    val dim = mean.length
    val meanLit = typedLit(mean)
    val compsLit = typedLit(comps.map(_.toSeq).toSeq)
    val recon = transform(sequence(lit(1), lit(dim)), d =>
      element_at(meanLit, d.cast("int")) +
        aggregate(sequence(lit(1), lit(comps.length)), lit(0.0d),
          (acc, c) => acc + element_at(col("proj"), c.cast("int")) *
            element_at(element_at(compsLit, c.cast("int")), d.cast("int"))))
    pcaProject(embeddings, model)
      .join(embeddings.select(col("vec_id"),
        asDouble(col("embedding")).as("vec")), "vec_id")
      .withColumn("recon", recon)
      .withColumn("cos", cosine(col("vec"), col("recon")))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        avg("cos").as("mean_cos"), min("cos").as("min_cos"))
      .orderBy("label")
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix (public
    * textbook algorithm): returns (eigenvalues, eigenvectors-as-rows).
    * Driver-side, O(dim³) per sweep — dim is embedding width, never
    * corpus-sized. */
  private def jacobiEig(m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val dim = m.length
    val a = Array.tabulate(dim, dim)((i, j) => m(i)(j))
    val v = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    while (sweep < 64) {
      var off = 0.0
      var p = 0
      while (p < dim) {
        var q = p + 1
        while (q < dim) { off += a(p)(q) * a(p)(q); q += 1 }
        p += 1
      }
      if (off < 1e-18) sweep = 64
      else {
        p = 0
        while (p < dim) {
          var q = p + 1
          while (q < dim) {
            if (math.abs(a(p)(q)) > 1e-15) {
              val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
              val t = math.signum(theta) /
                (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
                  case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
                  case x => x
                }
              val c = 1.0 / math.sqrt(t * t + 1.0)
              val s = t * c
              var i = 0
              while (i < dim) {
                val aip = a(i)(p); val aiq = a(i)(q)
                a(i)(p) = c * aip - s * aiq
                a(i)(q) = s * aip + c * aiq
                i += 1
              }
              i = 0
              while (i < dim) {
                val api = a(p)(i); val aqi = a(q)(i)
                a(p)(i) = c * api - s * aqi
                a(q)(i) = s * api + c * aqi
                val vip = v(i)(p); val viq = v(i)(q)
                v(i)(p) = c * vip - s * viq
                v(i)(q) = s * vip + c * viq
                i += 1
              }
            }
            q += 1
          }
          p += 1
        }
        sweep += 1
      }
    }
    val vals = Array.tabulate(dim)(i => a(i)(i))
    val vecs = Array.tabulate(dim)(j => Array.tabulate(dim)(i => v(i)(j)))
    (vals, vecs)
  }

  /** Centroid stats per label — the IVF coarse-quantizer building block
    * (mean vector per cluster; at scale: train k-means on a sample,
    * assign via nearest centroid, search within cells). */
  def labelCentroidNorms(embeddings: DataFrame): DataFrame = {
    val dim = embeddingDim(embeddings)
    val withVec = embeddings
      .filter(col("embedding").isNotNull && col("label").isNotNull)
      .select(col("label"), asDouble(col("embedding")).as("vec"))
    // mean per dimension: aggregate array sums via element-wise reduce
    val summed = withVec.groupBy("label").agg(
      count(lit(1)).as("n"),
      array((0 until dim).map(i => sum(element_at(col("vec"), i + 1))): _*).as("sums"))
    summed.select(col("label"), col("n"),
        round(sqrt(aggregate(transform(col("sums"), s => (s / col("n")) * (s / col("n"))),
          lit(0.0d), (acc, v) => acc + v)), 4).as("centroid_norm"))
      .orderBy("label")
  }

  /** Centroid drift between two ingest halves — the embedding-MODEL
    * change detector [[embeddingHealth]]'s norm panel can miss: if the
    * encoder was silently swapped or re-trained mid-ingest, the two
    * halves' per-label centroids point in measurably different
    * directions even when norms look alike. Vectors split
    * deterministically by vec_id mod 2 (the id-parity proxy for
    * ingest time — swap in a real batch column when one exists);
    * per (label, half) centroids are per-dim means ROUNDED to 6 dp
    * (collapsing the cross-engine sum-order ulps) and compared by
    * cosine. A healthy table scores ≈ 1; anything materially below
    * means the halves are not the same embedding space.
    *
    * Output: (label, n_a, n_b, centroid_cosine 4 dp), labels present
    * in BOTH halves, ordered by label.
    *
    * Scale shape: one combinable (label, half) groupBy of per-dim
    * sums (dim columns in one agg — the [[ivfCentroids]] shape);
    * everything after is |labels|-row panel arithmetic. */
  def centroidDrift(embeddings: DataFrame): DataFrame = {
    // dim = the MAX dimensionality (deterministic, SQL-expressible —
    // "first row" is not), and rows of any OTHER dim are filtered:
    // under ANSI, element_at past a short vector's end would throw,
    // and a mixed-dim ingest is precisely the condition
    // embeddingHealth flags — this op must keep working while it does
    val dimRow = embeddings.filter(col("embedding").isNotNull)
      .agg(max(size(col("embedding")))).head()
    require(!dimRow.isNullAt(0), "centroidDrift: no non-null embeddings")
    val dim = dimRow.getInt(0)
    val e = graft.util.SparkUtil.widen(embeddings)
      .filter(col("embedding").isNotNull && size(col("embedding")) === dim &&
        col("label").isNotNull)
      .select(col("label"), pmod(col("vec_id"), lit(2L)).as("half"),
        asDouble(col("embedding")).as("vec"))
    val cents = e.groupBy("label", "half")
      .agg(count(lit(1)).as("n"),
        array((0 until dim).map(i =>
          sum(element_at(col("vec"), i + 1))): _*).as("sums"))
      .select(col("label"), col("half"), col("n"),
        transform(col("sums"), s => round(s / col("n"), 6)).as("c"))
      .localCheckpoint(true) // two half-filtered consumers, one scan
    val a = cents.filter(col("half") === 0)
      .select(col("label"), col("n").cast("long").as("n_a"), col("c").as("ca"))
    val b = cents.filter(col("half") === 1)
      .select(col("label"), col("n").cast("long").as("n_b"), col("c").as("cb"))
    a.join(b, "label")
      .select(col("label"), col("n_a"), col("n_b"),
        round(cosine(col("ca"), col("cb")), 4).as("centroid_cosine"))
      .orderBy("label")
  }

  /** Embedding-table ingest health panel — the vector-modality
    * counterpart of [[CorpusOps.sourceHealthReport]]: per label, row
    * count, NULL-embedding count (failed encoder calls), DISTINCT
    * dimensionality count (anything ≠ 1 means a mixed-model ingest —
    * the bug every downstream dot product would hit as a runtime zip
    * error or, worse, silent truncation), zero-vector count (norm
    * exactly 0 — un-normalizable rows that NaN a cosine), and
    * norm mean/spread (a drifting norm distribution is the
    * quantization-calibration alarm for the int8/PQ paths).
    *
    * Output: (label BIGINT, n, n_null, n_dims_distinct, n_zero,
    * mean_norm 4 dp, sd_norm 4 dp), ordered by label. Null embeddings
    * count in `n`/`n_null` and are excluded from dim/norm stats; the
    * zero test is exact (a float sum of squares is 0 iff every
    * component is ±0 — deterministic in any engine).
    *
    * Scale shape (100 TB): ONE combinable groupBy over per-row narrow
    * projections — map-side partials, |labels| output rows, zero
    * joins, zero UDFs; the same single-scan shape as the text health
    * report. */
  def embeddingHealth(embeddings: DataFrame): DataFrame = {
    val vec = transform(col("embedding"), x => x.cast("double"))
    val norm = sqrt(aggregate(vec, lit(0.0d), (a, x) => a + x * x))
    graft.util.SparkUtil.widen(embeddings)
      .select(col("label").cast("long").as("label"), col("embedding"),
        when(col("embedding").isNotNull, norm).as("__norm"),
        when(col("embedding").isNotNull, size(col("embedding")).cast("long"))
          .as("__dim"))
      .groupBy("label")
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(col("embedding").isNull, 1L).otherwise(0L)).cast("long")
          .as("n_null"),
        countDistinct(col("__dim")).cast("long").as("n_dims_distinct"),
        sum(when(col("__norm") === 0.0, 1L).otherwise(0L)).cast("long")
          .as("n_zero"),
        round(avg("__norm"), 4).as("mean_norm"),
        round(stddev_pop("__norm"), 4).as("sd_norm"))
      .orderBy("label")
  }
}
