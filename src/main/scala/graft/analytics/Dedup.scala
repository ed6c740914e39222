package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH near-dup, SimHash, and n-gram Jaccard — SURVEY.md §7.7
  * / the north-star LLM-pipeline surface.
  *
  * Scale design:
  *  - exact dedup is a hash groupBy — one shuffle on the fingerprint;
  *  - MinHash signatures are narrow per-doc transforms; LSH banding
  *    turns the O(n²) pair space into a groupBy on band keys, so only
  *    same-bucket candidates join (the classic shingle→minhash→band→
  *    bucket-join pipeline);
  *  - SimHash is a per-doc 64-bit fingerprint; near-dup = Hamming
  *    distance on bucketed prefixes;
  *  - all hashes derive from md5 (stable across engines → DuckDB
  *    oracle-checkable), not Spark's xxhash64.
  */
object Dedup {

  /** Word k-shingles from a BOUND token-array column. Pass an
    * attribute (`.withColumn("__words", split(...))`), never the split
    * expression inline: the per-window lambda references `words` once
    * per window, and lambda-bearing trees get no common-subexpression
    * elimination (SPARK-35410) — inlined, every window re-splits the
    * whole document and the linear shingle pass goes quadratic (the
    * winnowing fingerprint stage measured 38 s → 5 s at sf0.1 from
    * exactly this bind). */
  def shinglesFromWords(words: Column, k: Int): Column =
    when(size(words) >= k,
      transform(sequence(lit(1), size(words) - (k - 1)),
        i => concat_ws(" ", slice(words, i, lit(k)))))
      .otherwise(array().cast(ArrayType(StringType)))

  /** Word k-shingles of a text column (empty array when < k words).
    * Convenience form for one-off/spec use — production operators bind
    * the split first and call [[shinglesFromWords]] (see its scaladoc
    * for the SPARK-35410 hazard this avoids). */
  def shingles(text: Column, k: Int): Column =
    shinglesFromWords(split(trim(text), "[ \\t\\n\\x0B\\f\\r]+"), k)

  /** Normalized-text md5 — the exact-dedup grouping key, shared with
    * [[CorpusOps.corpusSelect]]'s survivor set. */
  private[analytics] def exactFingerprint: Column =
    md5(regexp_replace(lower(col("text")), "[^a-z0-9]", ""))

  /** Exact duplicate groups keyed on normalized-text md5: group size and
    * the surviving (minimum) doc id. */
  def exactDuplicates(documents: DataFrame): DataFrame =
    documents
      .groupBy(exactFingerprint.as("fingerprint"))
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("group_size"),
        array_join(array_sort(collect_set(col("lang"))), ",").as("langs"))
      .orderBy("keep_doc_id")

  /** MinHash signature: `numHashes` hash functions realized as 8-hex-char
    * (32-bit) slices of md5(seedGroup || shingle) — one md5 yields four
    * hash functions, so a doc costs ⌈numHashes/4⌉ md5 calls per shingle
    * instead of `numHashes`. Hash values are hex strings —
    * lexicographic min, identical in any engine.
    *
    * Computed by the codegen'd [[graft.functions.MinHashSigExpr]]: one
    * narrow pass per document (loop over shingles inside the
    * projection) — same hashing work as the composed
    * explode→agg→join-back form (kept below as the executable spec,
    * equality spec-enforced) but zero shuffle machinery, so the
    * signature stage runs at scan speed. Docs with < k words get null
    * signature slots. */
  def minhashSignatures(documents: DataFrame, k: Int, numHashes: Int): DataFrame = {
    val sig = graft.util.SparkUtil.widen(documents)
      .select(col("doc_id"),
        graft.functions.MinHashSigExpr(col("text"), k, numHashes).as("sig"))
    sig.select(col("doc_id") +:
      (0 until numHashes).map(i => element_at(col("sig"), i + 1).as(s"h$i")): _*)
  }

  /** The original composed-operator signature pipeline (explode shingles
    * → codegen'd md5 projection → partial-agg min per slot → left join
    * back for null slots). Retained as the executable specification of
    * [[minhashSignatures]] — AnalyticsSpec asserts equality. */
  def minhashSignaturesComposed(documents: DataFrame, k: Int, numHashes: Int): DataFrame = {
    val exploded = graft.util.SparkUtil.widen(documents)
      .withColumn("__words", split(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+"))
      .select(col("doc_id"),
        explode(shinglesFromWords(col("__words"), k)).as("s"))
    val nGroups = (numHashes + 3) / 4
    val groups = (0 until nGroups).map(g => md5(concat(lit(s"$g:"), col("s"))).as(s"g$g"))
    val hashed = exploded.select(col("doc_id") +: groups: _*)
    val aggs = (0 until numHashes).map { j =>
      min(substring(col(s"g${j / 4}"), 1 + 8 * (j % 4), 8)).as(s"h$j")
    }
    documents.select(col("doc_id"))
      .join(hashed.groupBy("doc_id").agg(aggs.head, aggs.tail: _*), Seq("doc_id"), "left")
  }

  /** Persist the signature table (one narrow pass over the corpus) so
    * it can be reused across band configurations and repeated dedup
    * runs: at 100 TB the shingle-explode+hash stage dominates the
    * pipeline, and banding is cheap relative to it — recomputing
    * signatures per (bands × experiments) run is the real waste.
    * Written as plain parquet (doc_id, h0..h{n-1}); feed the read-back
    * table to [[candidatePairsFromSignatures]]. */
  def writeSignatures(documents: DataFrame, path: String, k: Int,
                      numHashes: Int): Unit =
    minhashSignatures(documents, k, numHashes)
      .write.mode("overwrite").parquet(path)

  /** LSH banding over minhash signatures: hash `rowsPerBand` signature
    * slots per band; docs sharing any band key are near-dup candidates.
    * Returns candidate pairs with their signature agreement ratio —
    * the full pipeline shuffles only on band keys (×bands), never n². */
  def minhashCandidatePairs(documents: DataFrame, k: Int, numHashes: Int,
                            rowsPerBand: Int): DataFrame =
    candidatePairsFromSignatures(
      minhashSignatures(documents, k, numHashes), numHashes, rowsPerBand)

  /** LSH band table of a signature table: one (doc_id, bk=(band, key))
    * row per band, null-key (shingle-less) rows dropped — the shared
    * banding stage of [[candidatePairsFromSignatures]] and
    * [[admitNewDocuments]]. */
  def bandTable(sig: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val bandCols = (0 until numBands).map { b =>
      val slots = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}"))
      // concat (null-propagating), NOT concat_ws: a doc with no shingles
      // has null signature slots and must land in no bucket at all
      val joined = slots.tail.foldLeft(slots.head)((acc, s) => concat(acc, lit("|"), s))
      struct(lit(b).as("band"), md5(joined).as("key")).as(s"band$b")
    }
    sig.select(col("doc_id") +: (0 until numHashes).map(i => col(s"h$i")) :+
      explode(array(bandCols: _*)).as("bk"): _*)
      // drop null band keys: struct equality treats null fields as equal,
      // so shingle-less docs would otherwise all pair with each other
      // (and an m-doc null bucket is an O(m²) join blowup)
      .filter(col("bk.key").isNotNull)
  }

  /** Cross-corpus near-dup pairs — corpus A's MinHash-LSH bands
    * equi-joined against corpus B's (the train-vs-eval near-dup audit:
    * [[CorpusOps.decontaminate]] catches exact k-gram overlap, this
    * catches REWRITTEN eval items whose shingle sets still collide —
    * the MinHash complement at the two-corpus boundary). Output:
    * (doc_a ∈ a, doc_b ∈ b, sig_agreement), distinct, ordered.
    *
    * Scale shape (100 TB): each corpus reduces to its signature table
    * (numHashes × 8 hex per doc) at scan speed; the only join is the
    * band-bucket equi-join — never all-pairs, null-key (shingle-less)
    * docs dropped on both sides before it ([[bandTable]]). Pair the
    * persisted-signature forms ([[writeSignatures]] on each corpus +
    * [[crossCorpusPairsFromSignatures]]) to amortize repeated audits. */
  def crossCorpusPairs(a: DataFrame, b: DataFrame, shingleK: Int = 3,
                       numHashes: Int = 8, rowsPerBand: Int = 4): DataFrame =
    crossCorpusPairsFromSignatures(
      minhashSignatures(a, shingleK, numHashes),
      minhashSignatures(b, shingleK, numHashes), numHashes, rowsPerBand)

  /** Pairing stage of [[crossCorpusPairs]] over existing signature
    * tables (in-plan or read back from [[writeSignatures]]). */
  def crossCorpusPairsFromSignatures(sigA: DataFrame, sigB: DataFrame,
                                     numHashes: Int,
                                     rowsPerBand: Int): DataFrame = {
    def side(sig: DataFrame, idAs: String, suffix: String) =
      bandTable(sig, numHashes, rowsPerBand)
        .select(col("doc_id").as(idAs), col("bk").as(s"bk$suffix"),
          array((0 until numHashes).map(i => col(s"h$i")): _*).as(s"sig$suffix"))
    side(sigA, "doc_a", "_a")
      .join(side(sigB, "doc_b", "_b"), col("bk_a") === col("bk_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          v => v)).cast("double") / numHashes).as("sig_agreement"))
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Near-dup decontamination, REMOVAL form — the enforcement half of
    * the [[crossCorpusPairs]] audit: drop every training document
    * whose MinHash bands collide with the eval corpus at signature
    * agreement ≥ `minAgreement` (catches REWRITTEN eval items the
    * exact k-gram [[CorpusOps.decontaminate]] misses; run both — they
    * remove different leak classes). The agreement threshold compares
    * exact dyadic fractions (matches/numHashes) — deterministic in any
    * engine.
    *
    * Output: surviving (doc_id, lang, source), ordered.
    *
    * Scale shape: both corpora reduce to signature tables at scan
    * speed; the only joins are the band equi-join (never all-pairs)
    * and the pair-sized anti-join back. */
  def decontaminateNearDup(documents: DataFrame, evalDocs: DataFrame,
                           shingleK: Int = 3, numHashes: Int = 8,
                           rowsPerBand: Int = 4,
                           minAgreement: Double = 0.5): DataFrame = {
    require(minAgreement > 0 && minAgreement <= 1,
      s"minAgreement in (0, 1]: $minAgreement")
    val bad = crossCorpusPairs(documents, evalDocs, shingleK, numHashes,
        rowsPerBand)
      .filter(col("sig_agreement") >= minAgreement)
      .select(col("doc_a").as("doc_id")).distinct()
    documents.join(bad, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Cross-source duplicate attribution — which SOURCE PAIRS share
    * exact-duplicate content ([[exactFingerprint]] identity): the
    * mirror-site / syndication detector the per-source
    * [[dedupRateBySource]] rate can't see (a source can be internally
    * clean while wholly duplicating another). Output: one row per
    * unordered source pair that shares ≥ 1 fingerprint (source_a <
    * source_b, n_shared = distinct shared fingerprints), ordered —
    * the SPARSE nonzero matrix (zero rows carry no attribution signal
    * here, unlike [[TextAnalysis.sourceVocabOverlap]]'s panel).
    *
    * Scale shape (100 TB): the corpus reduces to the DISTINCT
    * (fingerprint, source) table in the scan projection — 32-byte
    * hashes cross the shuffle, never text; the only join is the
    * fingerprint equi-join, whose per-key fan-out is bounded by
    * |sources|² (panel-sized), never corpus-sized; null texts (null
    * fingerprint) are dropped before it — the null-bucket O(m²)
    * hazard [[bandTable]] documents. */
  def dupSourceMatrix(documents: DataFrame): DataFrame = {
    val fs = graft.util.SparkUtil.widen(documents)
      .filter(col("text").isNotNull)
      .select(exactFingerprint.as("fp"), col("source"))
      .distinct()
      // eager checkpoint: both self-join sides consume this — without
      // it the corpus text is scanned and md5'd TWICE (plan-audit
      // finding); the table is hash+source rows, far below text size
      .localCheckpoint(true)
    fs.select(col("fp"), col("source").as("source_a"))
      .join(fs.select(col("fp"), col("source").as("source_b")), Seq("fp"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .orderBy("source_a", "source_b")
  }

  /** Per-source exact-duplication rate — the corpus-health panel row
    * a crawl operator reads per ingest round ("which source is
    * re-serving the same pages?"): docs, distinct normalized
    * fingerprints ([[exactFingerprint]] — whitespace/punct-noise
    * robust), and the duplicate fraction. Output: (source, n_docs,
    * n_unique, dup_rate 4 dp), ordered by source.
    *
    * Scale shape: one map-side-combinable groupBy on source over
    * 32-byte fingerprints; output is |sources|-sized. */
  def dedupRateBySource(documents: DataFrame): DataFrame =
    graft.util.SparkUtil.widen(documents)
      .select(col("source"), exactFingerprint.as("fp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), countDistinct("fp").as("n_unique"))
      .select(col("source"),
        col("n_docs").cast(LongType).as("n_docs"),
        col("n_unique").cast(LongType).as("n_unique"),
        round(lit(1.0) - col("n_unique").cast("double") / col("n_docs"), 4)
          .as("dup_rate"))
      .orderBy("source")

  /** Winnowing near-dup pairs — documents sharing at least `minShared`
    * winnowing fingerprints ([[TextAnalysis.winnowSet]]: the MOSS/
    * plagiarism-detection family — position-robust SUBSTRING evidence,
    * complementing MinHash's bag-of-shingles similarity: a copied
    * paragraph inside an otherwise-different document shares winnow
    * fingerprints but little Jaccard). Output: (doc_a, doc_b,
    * n_shared), doc_a < doc_b, ordered.
    *
    * Scale shape (100 TB): the fingerprint explode is narrow; pairs
    * come from an equi-join on the 8-hex fingerprint key — banded like
    * every pair generator here, never all-pairs. The quadratic hazard
    * is a STOP fingerprint (boilerplate substring in thousands of
    * docs): fingerprints whose doc-frequency exceeds `maxFpDf` are
    * dropped before the self-join (the standard winnowing-index
    * stop-list, same shape as [[Cleaning.removeBoilerplate]]'s
    * frequent-line anti-join — a shuffled HAVING on the fp key, no
    * broadcast assumption), bounding any key's fan-out at
    * maxFpDf².
    *
    * Single-pass discipline: the fingerprint table feeds THREE plan
    * branches (the df cap and both self-join sides), and Spark
    * materializes nothing between branches — so
    * [[winnowPairsFromFingerprints]] eagerly localCheckpoints the
    * DEDUP'D table (covering the winnow-set computation — length(text)
    * md5s per document — upstream) and the post-cap `kept` table, so
    * every stage executes exactly ONCE per run; spec-pinned by the
    * absence of any Generate node in the result's physical plan.
    * [[writeWinnowFingerprints]] remains the fingerprint-once-pair-many
    * persist path across runs. */
  def winnowPairs(documents: DataFrame, k: Int = 8, w: Int = 16,
                  minShared: Long = 2, maxFpDf: Long = 64): DataFrame =
    // no checkpoint here: [[winnowPairsFromFingerprints]] checkpoints
    // the DEDUP'D table, so the gram explode upstream already executes
    // exactly once — a second raw-table materialization would only
    // double the storage bill
    winnowPairsFromFingerprints(
      winnowFingerprintTable(documents, k, w), minShared, maxFpDf)

  /** The exploded (doc_id, fp) winnowing table — gram hashes BOUND
    * before the window minima (SPARK-35410: inlined, the fingerprint
    * pass goes quadratic in document length; see
    * [[TextAnalysis.winnowSetFromGrams]]). */
  private def winnowFingerprintTable(documents: DataFrame,
                                     k: Int, w: Int): DataFrame =
    graft.util.SparkUtil.widen(documents)
      .withColumn("__grams", TextAnalysis.gramHashes(k))
      .select(col("doc_id"),
        explode(TextAnalysis.winnowSetFromGrams(col("__grams"), w)).as("fp"))

  /** Persist the exploded winnowing fingerprint table — the
    * [[writeSignatures]] analog: fingerprint ONCE per corpus here and
    * pair many times (across (minShared, maxFpDf) experiments and
    * repeated dedup runs) via [[winnowPairsFromFingerprints]] on the
    * read-back table. Within one run, [[winnowPairs]] already
    * computes the set exactly once (eager localCheckpoint). */
  def writeWinnowFingerprints(documents: DataFrame, path: String,
                              k: Int = 8, w: Int = 16): Unit =
    winnowFingerprintTable(documents, k, w)
      .write.mode("overwrite").parquet(path)

  /** Pairing stage alone, over an existing (doc_id, fp) fingerprint
    * table (in-plan or read back from [[writeWinnowFingerprints]]).
    * The table is deduplicated on (doc_id, fp) first: the df cap
    * counts DISTINCT docs, so a duplicated row in a user-supplied
    * table would otherwise inflate `n_shared` past what the cap
    * vetted (one extra combinable exchange; the in-repo producers
    * already emit distinct sets and reduce it to a no-op). */
  def winnowPairsFromFingerprints(rawFps: DataFrame, minShared: Long = 2,
                                  maxFpDf: Long = 64): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1: $minShared")
    require(maxFpDf >= 2, s"maxFpDf must be >= 2 (pairs need two docs): $maxFpDf")
    // checkpoint at BOTH fan-out points (plan-audit finding, round 8):
    // fps feeds the df cap and (through kept) both self-join sides, and
    // kept itself is consumed twice — un-checkpointed, Spark re-ran the
    // dedup exchange 3× and the df-cap aggregate 2× per query; each
    // table is (doc_id, 8-hex fp) rows, cheap to hold
    val fps = rawFps.dropDuplicates("doc_id", "fp").localCheckpoint(true)
    val rare = fps.groupBy("fp")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") <= maxFpDf)
      .select("fp")
    val kept = fps.join(rare, Seq("fp")).localCheckpoint(true)
    kept.select(col("fp"), col("doc_id").as("doc_a"))
      .join(kept.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("doc_a", "doc_b")
  }

  /** Containment pairs — the ASYMMETRIC near-dup case both Jaccard
    * and [[winnowPairs]]'s raw shared-count undersell: a short document
    * wholly quoted inside a long one has low Jaccard (union is
    * long-doc-sized) but containment ≈ 1 against the SHORT side.
    * Score = shared winnow fingerprints ÷ the smaller doc's full
    * winnow-set size (the Broder containment estimate over the winnow
    * sample); pairs at `containment ≥ minContainment` survive. The
    * denominator is the PRE-cap set size while the numerator counts
    * only post-cap shared fingerprints — containment is therefore
    * conservative (never inflated by dropping stop fingerprints, and
    * bounded ≤ 1 by construction). Output: (doc_a, doc_b, n_shared,
    * containment 4 dp — the filter compares the ROUNDED value, the
    * cross-engine ulp discipline), doc_a < doc_b, ordered.
    *
    * Scale shape (100 TB): identical to [[winnowPairs]] — fingerprint
    * equi-join with the stop-fingerprint df cap bounding per-key
    * fan-out at maxFpDf²; the set-size table is one combinable doc_id
    * groupBy joined back pair-sized (pairs ≪ corpus), never all-pairs
    * anywhere. In-plan entry eagerly checkpoints the fingerprint table
    * once ([[winnowPairs]]'s single-pass discipline — here it feeds
    * FOUR branches: sizes, the df cap, and both join sides). */
  def containmentPairs(documents: DataFrame, k: Int = 8, w: Int = 16,
                       minContainment: Double = 0.5,
                       maxFpDf: Long = 64): DataFrame =
    // no checkpoint here — [[containmentPairsFromFingerprints]]
    // checkpoints the dedup'd table (see [[winnowPairs]])
    containmentPairsFromFingerprints(
      winnowFingerprintTable(documents, k, w), minContainment, maxFpDf)

  /** Scoring stage of [[containmentPairs]] over an existing (doc_id,
    * fp) table (in-plan or read back from
    * [[writeWinnowFingerprints]]). */
  def containmentPairsFromFingerprints(rawFps: DataFrame,
                                       minContainment: Double,
                                       maxFpDf: Long): DataFrame = {
    require(minContainment > 0 && minContainment <= 1,
      s"minContainment must be in (0, 1]: $minContainment")
    require(maxFpDf >= 2, s"maxFpDf must be >= 2 (pairs need two docs): $maxFpDf")
    // same double-checkpoint shape as [[winnowPairsFromFingerprints]]
    // (plan-audit finding): fps has FOUR consumers here (sizes, the df
    // cap, both join sides via kept), kept two
    val fps = rawFps.dropDuplicates("doc_id", "fp").localCheckpoint(true)
    val sizes = fps.groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_fp"))
    val rare = fps.groupBy("fp")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") <= maxFpDf)
      .select("fp")
    val kept = fps.join(rare, Seq("fp")).localCheckpoint(true)
    val shared = kept.select(col("fp"), col("doc_id").as("doc_a"))
      .join(kept.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).cast("long").as("n_shared"))
    shared
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_fp").as("__na")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_fp").as("__nb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          least(col("__na"), col("__nb")), 4).as("containment"))
      .filter(col("containment") >= minContainment)
      .orderBy("doc_a", "doc_b")
  }

  /** Banding stage alone, over an existing signature table — computed
    * in-plan by [[minhashSignatures]] or read back from a
    * [[writeSignatures]] parquet (signatures computed ONCE per corpus,
    * banded many times). The band self-join carries no hint: the
    * planner broadcasts it over a cached, batch-bounded table (the
    * streaming admission unit) and shuffles it at corpus scale. */
  def candidatePairsFromSignatures(sig: DataFrame, numHashes: Int,
                                   rowsPerBand: Int): DataFrame = {
    val banded = bandTable(sig, numHashes, rowsPerBand)
    val left = banded.select(col("doc_id").as("doc_a"), col("bk").as("bk_a"),
      array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig_a"))
    val right = banded.select(col("doc_id").as("doc_b"), col("bk").as("bk_b"),
      array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig_b"))
    left.join(right, col("bk_a") === col("bk_b") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (a, b) => a === b),
          x => x)).cast("double") / numHashes).as("sig_agreement"))
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Incremental corpus admission — the continuous-corpus-update path:
    * an incoming document batch is near-dup-checked against the
    * EXISTING corpus without recomputing anything over it. The corpus
    * side is its signature table ([[writeSignatures]] — computed once,
    * reused every admission round); incoming docs are signed (one
    * narrow codegen'd pass) and banded, a semi-join on (band, key)
    * marks collisions, and an anti-join on doc_id admits the rest.
    * Both joins are equi-joins on bounded keys — never all-pairs, and
    * the existing corpus is never re-scanned. Band-level collision =
    * rejection (the conservative admission policy: a candidate is
    * treated as a duplicate; chain an exact-Jaccard verify off
    * [[jaccardPairs]]'s shape if precision matters more than recall).
    * Shingle-less incoming docs have null band keys, match nothing,
    * and are admitted. */
  def admitNewDocuments(incoming: DataFrame, corpusSignatures: DataFrame,
                        k: Int, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val corpusBands = bandTable(corpusSignatures, numHashes, rowsPerBand)
      .select("bk")
    val incomingBands = bandTable(
      minhashSignatures(incoming, k, numHashes), numHashes, rowsPerBand)
    val dupIds = incomingBands.join(corpusBands, Seq("bk"), "left_semi")
      .select("doc_id")
    incoming.join(dupIds, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** Bloom-filter exact-dedup admission — the zero-shuffle scale path
    * for "is this document's normalized fingerprint already in the
    * corpus?" (the CCNet/Dolma-family membership gate): the corpus
    * fingerprint column folds ONCE into a Bloom sketch
    * (`DataFrameStatFunctions.bloomFilter` — per-partition sketches
    * OR-merged on the driver; the OR makes the bit array independent
    * of item order, so admission is DETERMINISTIC), the sketch
    * broadcasts, and incoming docs filter at scan speed — no join, no
    * shuffle, the incoming side never leaves its partitions.
    *
    * Guarantees: NO false negatives — a true duplicate is never
    * admitted; a novel doc is wrongly rejected with probability ≈
    * `fpp` (the conservative direction for corpus hygiene). Chain
    * [[admitNewDocuments]] (exact anti-join) when the FP loss matters.
    *
    * Scale sizing (100 TB): the sketch is ~1.2 bytes/item at fpp 1 %
    * (≈ 12 GB for 10^10 docs — driver + torrent-broadcast sized,
    * amortized over every subsequent admission batch); `expectedItems`
    * MUST cover the corpus cardinality or the real FP rate degrades
    * silently. The membership probe is a Scala UDF by necessity, and
    * justified: the sketch's Murmur3 probe sequence has no Catalyst
    * expression form, the UDF holds only a broadcast reference, and
    * the alternative — the exact anti-join — shuffles both sides. */
  def bloomAdmit(incoming: DataFrame, corpus: DataFrame,
                 expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    require(expectedItems > 0, s"expectedItems must be positive: $expectedItems")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1): $fpp")
    val bf = corpus.select(exactFingerprint.as("__f"))
      .stat.bloomFilter("__f", expectedItems, fpp)
    val bc = incoming.sparkSession.sparkContext.broadcast(bf)
    val mightContain = udf((s: String) => s != null && bc.value.mightContain(s))
    incoming.withColumn("__f", exactFingerprint)
      .filter(!mightContain(col("__f")))
      .drop("__f")
      .orderBy("doc_id")
  }

  /** SimHash: 64-bit fingerprint — per token, md5-derived 64 bits vote
    * ±1 per bit position weighted by term frequency; fingerprint bit =
    * sign of the vote. Built from two 32-bit md5 halves (engine-stable).
    */
  def simhash(documents: DataFrame): DataFrame =
    simhashFingerprints(documents).orderBy("doc_id")

  /** Unordered fingerprint stage shared by [[simhash]] (which adds the
    * presentation sort) and [[simhashNearDupPairs]] (which must NOT
    * carry a mid-plan global sort into its band join). Computed by the
    * codegen'd [[graft.functions.SimHashExpr]] — one narrow pass per
    * document, zero shuffle (the vote fold happens inside the
    * projection); [[simhashComposed]] is the retained executable spec
    * (equality spec-enforced). Token-less docs yield a null struct and
    * are dropped, matching the composed form's explode semantics. */
  private def simhashFingerprints(documents: DataFrame): DataFrame =
    graft.util.SparkUtil.widen(documents)
      .select(col("doc_id"), graft.functions.SimHashExpr(col("text")).as("fp"))
      .filter(col("fp").isNotNull)
      .select(col("doc_id"), col("fp.simhash_hi").as("simhash_hi"),
        col("fp.simhash_lo").as("simhash_lo"))

  /** The original composed-operator fingerprint pipeline (explode
    * tokens → 64 partial-sum vote columns per doc → sign fold).
    * Retained as the executable specification of
    * [[graft.functions.SimHashExpr]] — AnalyticsSpec asserts equality. */
  def simhashComposed(documents: DataFrame): DataFrame = {
    val toks = TextAnalysis.bpeishTokens(col("text"))
    // 64 bits as two 32-bit md5 halves, kept in separate longs so no
    // shift ever exceeds 31 (lets the DuckDB oracle mirror the math —
    // its BIGINT shifts raise on overflow)
    val exploded = graft.util.SparkUtil.widen(documents)
      .select(col("doc_id"), explode(toks).as("tok"))
    val h = md5(col("tok"))
    val halves = Seq("hi" -> conv(substring(h, 1, 8), 16, 10).cast(LongType),
      "lo" -> conv(substring(h, 9, 8), 16, 10).cast(LongType))
    val bitVotes = halves.flatMap { case (half, word) =>
      (0 until 32).map { b =>
        sum(when(shiftright(word, b).bitwiseAND(1) === 1, 1L).otherwise(-1L))
          .as(s"${half}$b")
      }
    }
    val votes = exploded.groupBy("doc_id").agg(bitVotes.head, bitVotes.tail: _*)
    def fp(half: String): Column = (0 until 32).map { b =>
      when(col(s"$half$b") > 0, shiftleft(lit(1L), b)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))
    votes.select(col("doc_id"), fp("hi").as("simhash_hi"), fp("lo").as("simhash_lo"))
  }

  /** SimHash near-dup pairs — the Hamming-distance verify stage over
    * [[simhash]] fingerprints, completing the third dedup family
    * (MinHash→Jaccard and SRP→cosine both have theirs).
    *
    * Candidate generation: the 64-bit fingerprint splits into four
    * 16-bit bands; by pigeonhole, any pair within Hamming distance ≤ 3
    * agrees EXACTLY on at least one band, so an equi-join on
    * (band, key) is a complete candidate generator for `maxDist ≤ 3` —
    * never all-pairs (the 100 TB shape: pair space ÷ ~2^16 per band).
    * Verify: popcount(xor) over both halves ≤ maxDist. */
  def simhashNearDupPairs(documents: DataFrame, maxDist: Int = 3): DataFrame =
    simhashNearDupPairsFromFingerprints(simhashFingerprints(documents), maxDist)

  /** Persist the fingerprint table — the [[writeSignatures]] analog for
    * the SimHash family: fingerprints are one codegen'd pass over the
    * corpus, but the banded pair join consumes the table TWICE (both
    * join sides), so at 100 TB fingerprint-once-join-from-parquet halves
    * the scan+hash work and amortizes it across repeated dedup runs.
    * Plain parquet (doc_id, simhash_hi, simhash_lo) — the same shape
    * the `dedup_simhash` query emits; feed the read-back table to
    * [[simhashNearDupPairsFromFingerprints]]. */
  def writeSimhashFingerprints(documents: DataFrame, path: String): Unit =
    simhashFingerprints(documents).write.mode("overwrite").parquet(path)

  /** Banded Hamming pair stage alone, over an existing fingerprint
    * table (in-plan or read back from [[writeSimhashFingerprints]]). */
  def simhashNearDupPairsFromFingerprints(fp: DataFrame, maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"4 x 16-bit bands guarantee full recall only for maxDist in [0,3], got $maxDist")
    val bandKeys = Seq(
      shiftright(col("simhash_hi"), 16).bitwiseAND(lit(65535L)),
      col("simhash_hi").bitwiseAND(lit(65535L)),
      shiftright(col("simhash_lo"), 16).bitwiseAND(lit(65535L)),
      col("simhash_lo").bitwiseAND(lit(65535L)))
    val banded = fp.select(col("doc_id"), col("simhash_hi"), col("simhash_lo"),
      explode(array(bandKeys.zipWithIndex.map { case (k, b) =>
        struct(lit(b).as("band"), k.as("key"))
      }: _*)).as("bk"))
    val a = banded.select(col("bk"), col("doc_id").as("doc_a"),
      col("simhash_hi").as("hi_a"), col("simhash_lo").as("lo_a"))
    val b = banded.select(col("bk"), col("doc_id").as("doc_b"),
      col("simhash_hi").as("hi_b"), col("simhash_lo").as("lo_b"))
    a.join(b, Seq("bk")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b")))).cast(LongType).as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Embedding-cosine near-dup pairs, bucketed: candidate pairs are
    * vectors sharing a [[Similarity.srpBucket]] LSH bucket (a narrow
    * per-row bucket assignment + one equi-join on the bucket key), then
    * exact cosine ≥ threshold within the bucket. Never all-pairs: the
    * join touches ~1/2^nBits of the pair space, and each vector carries
    * exactly one bucket key so no pair is produced twice. */
  def embeddingNearDupPairs(embeddings: DataFrame, nBits: Int, threshold: Double,
                            dimOpt: Option[Int] = None): DataFrame = {
    val dim = dimOpt.getOrElse(Similarity.embeddingDim(embeddings))
    val v = graft.util.SparkUtil.widen(embeddings)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("vec"))
      .withColumn("bucket", Similarity.srpBucket(col("vec"), dim, nBits))
    val a = v.select(col("bucket"), col("vec_id").as("id_a"), col("vec").as("vec_a"))
    val b = v.select(col("bucket"), col("vec_id").as("id_b"), col("vec").as("vec_b"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("vec_a"), col("vec_b")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cosine"))
      .orderBy("id_a", "id_b")
  }

  /** SemDeDup-shape semantic dedup (Abbas et al. 2023): prune
    * embedding near-duplicates WITHIN a precomputed cluster — here the
    * `label` cell, standing in for the k-means cell a production run
    * assigns first (compose with [[Similarity.kmeansFit]] /
    * [[Similarity.nearestCell]] for that). Within a cell, every pair is
    * compared exactly (the SemDeDup design point: clustering makes the
    * quadratic step tractable by confining it to cells), and a vector
    * is removed when ANY earlier (smaller-id) cell-mate sits at
    * cosine ≥ tau. The earlier-id keeper is deterministic and
    * engine-stable; note it is the PESSIMISTIC greedy — a vector chained
    * to the keeper only through an already-removed middle vector is
    * still removed (chain a~b, b~c, a≁c drops both b and c), which
    * upper-bounds removal vs connected-component keep-one (compose
    * [[clustersFromPairs]] over the surviving pairs when exact
    * keep-one-per-component semantics are required). Output:
    * (vec_id, label, n_earlier_dups, is_kept), ordered by vec_id.
    *
    * Scale shape (100 TB): one equi-join on the cell key + one
    * vec_id-keyed count + one left join back — no all-pairs term ever;
    * the quadratic factor is (cell size)², controlled by the upstream
    * clustering's k exactly as in the paper (k grows with the corpus so
    * cells stay bounded). Skewed giant cells are the real-world hazard
    * — one hot cell is a single task doing (cell size)² work — so the
    * engine gates them itself: with `maxCellSize > 0`, any cell whose
    * population exceeds the bound has its join key COMPOSED with an
    * SRP bucket ([[Similarity.srpBucket]], `splitBits` hyperplanes),
    * capping per-key fan-out at roughly cellSize/2^splitBits while
    * cells inside the bound keep the exact quadratic compare
    * (spec-asserted identical results there). Inside an oversized
    * cell this is the standard LSH recall trade — near-identical
    * vectors (the SemDeDup target at high tau) project to the same
    * bucket with probability ≥ 1 − d(a,b)·splitBits/π, and EXACT
    * duplicates always do (identical input, identical deterministic
    * hyperplanes). `maxCellSize = 0` (default) keeps the paper's
    * exact within-cell semantics. */
  def semanticDedup(embeddings: DataFrame, tau: Double,
                    maxCellSize: Long = 0L, splitBits: Int = 4): DataFrame = {
    require(splitBits >= 1 && splitBits <= 30,
      s"splitBits must be in [1,30]: $splitBits")
    val v = graft.util.SparkUtil.widen(embeddings)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("vec"))
    val keyed =
      if (maxCellSize <= 0)
        v.withColumn("cellkey", col("label").cast("string"))
      else {
        val dim = Similarity.embeddingDim(embeddings)
        // |labels|-sized side table; a plain equi-join on the cell key
        // (AQE may broadcast it — never forced: labels are unbounded)
        val big = v.groupBy("label").agg(count(lit(1)).as("_n"))
          .filter(col("_n") > maxCellSize)
          .select(col("label"), lit(true).as("_big"))
        v.join(big, Seq("label"), "left")
          .withColumn("cellkey",
            when(col("_big"),
              concat(col("label").cast("string"), lit("#"),
                Similarity.srpBucket(col("vec"), dim, splitBits).cast("string")))
              .otherwise(col("label").cast("string")))
          .drop("_big")
      }
    val a = keyed.select(col("cellkey"), col("vec_id").as("id_a"), col("vec").as("vec_a"))
    val b = keyed.select(col("cellkey"), col("vec_id").as("id_b"), col("vec").as("vec_b"))
    val dupCounts = a.join(b, Seq("cellkey"))
      .filter(col("id_a") < col("id_b"))
      .filter(Similarity.cosine(col("vec_a"), col("vec_b")) >= tau)
      .groupBy(col("id_b").as("vec_id"))
      .agg(count(lit(1)).cast(LongType).as("n_earlier_dups"))
    v.select(col("vec_id"), col("label"))
      .join(dupCounts, Seq("vec_id"), "left")
      .na.fill(0L, Seq("n_earlier_dups"))
      .select(col("vec_id"), col("label").cast(LongType).as("label"),
        col("n_earlier_dups"),
        (col("n_earlier_dups") === 0).as("is_kept"))
      .orderBy("vec_id")
  }

  /** One semantic-admission decision over a persisted SRP-bucket store
    * — the embedding-modality batch core of
    * [[graft.streaming.StreamingPipeline.semanticAdmissionPipeline]]
    * (and a usable batch gate on its own): an incoming vector is
    * admitted iff NO already-admitted store vector in its SRP bucket
    * sits at cosine ≥ `tau`, AND no SMALLER-vec_id batch-mate in its
    * bucket does. The intra-batch rule is [[semanticDedup]]'s
    * deterministic pessimistic greedy (an earlier near-dup rejects you
    * even if it was itself rejected — upper-bounds removal; compose
    * [[clustersFromPairs]] offline when exact keep-one-per-component
    * semantics are required).
    *
    * `store`: (bucket: long, vec: array<double>) — admitted corpus
    * vectors, bucketed at the SAME (nBits, dim) as this call (the
    * store's invariant; drifting params silently mis-bucket, so
    * persist them with the store). `incoming`: (vec_id, …, embedding).
    * Output: EVERY incoming row as (vec_id, bucket, n_store_dups,
    * n_batch_earlier_dups, admitted) — null-embedding rows carry a
    * null bucket, zero counts, admitted = true (the shingle-less
    * convention: an unscoreable row is never silently dropped; it is
    * also never stored).
    *
    * Recall contract (the LSH trade, stated honestly): a pair is only
    * COMPARED when it shares the bucket. Exact duplicates and
    * positive-scaled copies always collide (SRP is sign-of-projection
    * — scale-invariant); a near-dup at angle θ lands same-bucket with
    * probability (1 − θ/π)^nBits. Lower `nBits` for recall, raise it
    * to shrink candidate sets. Scale shape (100 TB): candidates cross
    * only as bucket-equi-join rows (batch × bucket-slice, never
    * store²); callers should slice the store scan to the batch's
    * buckets first (the pipeline collects the ≤batch-sized bucket list
    * and gets an In() pushdown). */
  def semanticAdmit(store: DataFrame, incoming: DataFrame, tau: Double,
                    nBits: Int, dimOpt: Option[Int] = None): DataFrame = {
    require(nBits >= 1 && nBits <= 30, s"nBits must be in [1,30]: $nBits")
    val dim = dimOpt.getOrElse(Similarity.embeddingDim(incoming))
    val inc = graft.util.SparkUtil.widen(incoming)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("vec"))
      .withColumn("bucket",
        when(col("vec").isNotNull, Similarity.srpBucket(col("vec"), dim, nBits)))
    val scored = inc.filter(col("vec").isNotNull)
    val storeDups = scored
      .join(store.select(col("bucket"), col("vec").as("vec_s")), Seq("bucket"))
      .filter(Similarity.cosine(col("vec"), col("vec_s")) >= tau)
      .groupBy("vec_id").agg(count(lit(1)).as("n_store_dups"))
    val a = scored.select(col("bucket"), col("vec_id").as("id_a"), col("vec").as("vec_a"))
    val b = scored.select(col("bucket"), col("vec_id").as("id_b"), col("vec").as("vec_b"))
    val batchDups = a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .filter(Similarity.cosine(col("vec_a"), col("vec_b")) >= tau)
      .groupBy(col("id_b").as("vec_id"))
      .agg(count(lit(1)).as("n_batch_earlier_dups"))
    inc.select(col("vec_id"), col("bucket"))
      .join(storeDups, Seq("vec_id"), "left")
      .join(batchDups, Seq("vec_id"), "left")
      .na.fill(0L, Seq("n_store_dups", "n_batch_earlier_dups"))
      .select(col("vec_id"), col("bucket"),
        col("n_store_dups"), col("n_batch_earlier_dups"),
        (col("n_store_dups") === 0 && col("n_batch_earlier_dups") === 0)
          .as("admitted"))
  }

  /** SEMANTIC decontamination — the embedding-space analog of
    * [[decontaminateNearDup]] for the leakage n-grams cannot see:
    * a REPHRASED benchmark item shares no shingles with its source
    * but lands at cosine ≈ 1, so the modern decontamination gate
    * screens the corpus's embeddings against the eval set's. A corpus
    * vector is flagged when ANY eval vector in its SRP bucket reaches
    * `tau` (the [[semanticAdmit]] bucket discipline: SRP sign-of-
    * projection buckets are scale-invariant, so affine re-renders of
    * an eval item collide with it).
    *
    * Scale shape: the eval side is BENCHMARK-sized by definition —
    * when its estimated bucketed footprint ((8+8·dim) B a row) fits
    * the broadcast budget it broadcasts and the corpus never shuffles
    * (scan-speed screen, the decontaminate gate discipline); larger
    * eval unions fall back to a plain bucket equi-join, identical
    * result. Null-embedding corpus rows are KEPT untouched (nothing
    * to compare — the semanticAdmit convention). Output: (vec_id,
    * label, n_eval_hits, is_kept), ordered by vec_id — the audit
    * form; filter is_kept for the surviving corpus. */
  def semanticDecontaminate(corpus: DataFrame, evalVecs: DataFrame,
                            tau: Double, nBits: Int = 8,
                            dimOpt: Option[Int] = None,
                            broadcastBudgetBytes: Long = 64L * 1024 * 1024)
      : DataFrame = {
    require(tau > 0 && tau <= 1, s"tau must be in (0,1]: $tau")
    require(nBits >= 1 && nBits <= 30, s"nBits must be in [1,30]: $nBits")
    val dim = dimOpt.getOrElse(Similarity.embeddingDim(corpus))
    val c = graft.util.SparkUtil.widen(corpus)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("vec"))
      .withColumn("bucket",
        when(col("vec").isNotNull, Similarity.srpBucket(col("vec"), dim, nBits)))
    val ev = evalVecs.filter(col("embedding").isNotNull)
      .select(transform(col("embedding"), x => x.cast(DoubleType)).as("vec_e"))
      .withColumn("bucket", Similarity.srpBucket(col("vec_e"), dim, nBits))
    // size gate: one benchmark-sized count decides broadcast vs plain
    // join (the decontaminateNearDup estimate discipline); the bucketed
    // eval is eagerly checkpointed FIRST so the gate's count and the
    // join read ONE materialization, not two derivation scans (the
    // round-8 fan-out rule)
    val evC = ev.localCheckpoint(true)
    val evalRows = evC.count()
    val evalBytes = evalRows * (8L + 8L * dim)
    val evSide = if (evalBytes <= broadcastBudgetBytes) broadcast(evC) else evC
    val hits = c.filter(col("vec").isNotNull)
      .join(evSide, Seq("bucket"))
      .filter(Similarity.cosine(col("vec"), col("vec_e")) >= tau)
      .groupBy("vec_id").agg(count(lit(1)).as("n_eval_hits"))
    c.select(col("vec_id"), col("label"))
      .join(hits, Seq("vec_id"), "left")
      .na.fill(0L, Seq("n_eval_hits"))
      .select(col("vec_id"), col("label"), col("n_eval_hits"),
        (col("n_eval_hits") === 0).as("is_kept"))
      .orderBy("vec_id")
  }

  /** Duplicate-cluster formation — the stage AFTER pair generation:
    * near-dup candidate pairs form a graph; its connected components
    * are the duplicate clusters, and `cluster_id = min(doc_id in
    * component)` names each cluster's keeper (keep-one-per-cluster is
    * then a filter `doc_id = cluster_id`). Pairs alone under-dedup:
    * A~B and B~C without A~C still means {A,B,C} is ONE duplicate
    * group — transitivity needs components, not pairs. Components come
    * from [[clustersFromPairs]]. */
  def duplicateClusters(documents: DataFrame, shingleK: Int, numHashes: Int,
                        rowsPerBand: Int): DataFrame = {
    val pairs = minhashCandidatePairs(documents, shingleK, numHashes, rowsPerBand)
      .select("doc_a", "doc_b")
    clustersFromPairs(documents.select("doc_id"), pairs)
  }

  /** Pair count at or under which [[clustersFromPairs]] labels the
    * components on the driver: ≤ 2·100,000 longs (~1.6 MB) ever reach
    * it. */
  private val MaxDriverPairs = 100000L

  /** Component stage alone, over any near-dup pair table (MinHash,
    * SimHash, or embedding pairs — they all emit (doc_a, doc_b)) —
    * ONE operator for batch queries and the streaming admission
    * micro-batch alike, which picks its execution from the measured
    * pair count. The pair plan materializes ONCE (an eager
    * localCheckpoint that then feeds whichever path runs, so the
    * expensive banded pair-generation plan never executes twice):
    *  - at most `MaxDriverPairs` (100,000) pairs: a driver union-find
    *    (union-by-min + full path compression, so the root of every
    *    member is the component MINIMUM — exactly the fixpoint of the
    *    distributed loop; spec-asserted equal) labels the members,
    *    which broadcast-join back; docs in no pair never leave the
    *    executors. The distributed loop pays ≥3 eager jobs of fixed
    *    scheduling/shuffle cost (edges cache, label init, one job per
    *    round) — measured ~1.5 s to cluster 14 pairs inside a
    *    streaming micro-batch;
    *  - above it: the checkpointed pairs flow into
    *    [[clustersByMinLabel]] — the 100 TB path. */
  def clustersFromPairs(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val p = pairs.select(col("doc_a").cast("long").as("doc_a"),
        col("doc_b").cast("long").as("doc_b"))
      .localCheckpoint(true)
    if (p.count() > MaxDriverPairs) clustersByMinLabel(docs, p)
    else {
      val edges = p.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val spark = docs.sparkSession
      import spark.implicits._
      val members = edges.iterator.flatMap { case (a, b) => Iterator(a, b) }
        .toSet.iterator.map((id: Long) => (id, find(id))).toSeq
      docs.join(broadcast(members.toDF("doc_id", "root")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("root"), col("doc_id")).as("cluster_id"))
        .orderBy("doc_id")
    }
  }

  /** The distributed component loop behind [[clustersFromPairs]] above
    * its driver gate: iterative min-label propagation (each node takes
    * the min root among itself and its neighbors' roots;
    * Pregel-style). Converges in O(component diameter) rounds —
    * near-dup clusters are shallow (diameter rarely exceeds a handful),
    * and `maxIters` is a fail-LOUD bound: a non-converged result would
    * silently under-merge, so we throw instead of returning it. Each
    * round is one equi-join + one groupBy on doc ids — all shuffles on
    * high-cardinality keys; the edge list is the LSH candidate set
    * (never O(n²)). The singleton majority never enters the loop: only
    * docs appearing in some pair carry labels; everyone else joins back
    * as their own cluster at the end (at 100 TB the label table is
    * |pairs|-sized, not corpus-sized). */
  private[analytics] def clustersByMinLabel(docs: DataFrame, pairs: DataFrame,
                                            maxIters: Int = 25): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct().cache()
    try {
      // eager localCheckpoint per round: materializes the labels AND
      // truncates their lineage, so round i's plan starts from round
      // i−1's stored blocks. A lazy cache would not survive the loop
      // (each round references `labels` twice, and an unmaterialized
      // cache replays the ENTIRE prior iteration chain — measured as a
      // multiplicative blowup), and checkpointed labels carry no
      // `edges` lineage, so the returned plan is safe to execute after
      // the finally-unpersist below.
      val spark = docs.sparkSession
      import spark.implicits._
      var labels = edges.select(col("src").cast("long").as("doc_id")).distinct()
        .withColumn("root", col("doc_id")).localCheckpoint(true)
      // convergence check rides INSIDE the checkpoint job: a narrow
      // typed map counts label changes into an accumulator while the
      // round's labels materialize — one Spark job per round, not a
      // materialize-job plus a count-job. Task retries can only
      // OVER-count (an extra, harmless round), never report 0 for a
      // changed round, so the loop cannot exit early.
      val changedAcc = spark.sparkContext.longAccumulator("graft_cc_changed")
      var changed = 1L
      var iter = 0
      while (changed > 0) {
        require(iter < maxIters,
          s"clustersFromPairs did not converge in $maxIters rounds " +
            "(pathological chain component?) - refusing to return an " +
            "under-merged clustering")
        val neighborMin = edges
          .join(labels.withColumnRenamed("doc_id", "dst"), Seq("dst"))
          .groupBy(col("src").as("doc_id")).agg(min("root").as("nroot"))
        changedAcc.reset()
        val next = labels.join(neighborMin, Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("root"), coalesce(col("nroot"), col("root"))).as("root"),
            col("root").as("old_root"))
          .as[(Long, Long, Long)]
          .mapPartitions(_.map { case (id, root, old) =>
            if (root != old) changedAcc.add(1L)
            (id, root)
          })
          .toDF("doc_id", "root")
          .localCheckpoint(true)
        changed = changedAcc.value
        labels = next
        iter += 1
      }
      // singletons (docs in no pair) are their own cluster
      docs.join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("root"), col("doc_id")).as("cluster_id"))
        .orderBy("doc_id")
    } finally edges.unpersist()
  }

  /** Leakage-safe train/test split — assign documents to splits BY
    * NEAR-DUP CLUSTER, not individually: hash-splitting docs one at a
    * time puts a test document's near-duplicate in train with
    * probability 2p(1−p), silently inflating eval (the train/test
    * contamination the decontaminate operator exists to stop —
    * prevented here at split time instead of patched after). Clusters
    * come from [[duplicateClusters]] (MinHash LSH pairs → connected
    * components); the whole cluster lands on the side chosen by
    * md5("split:" ++ cluster_id) mod 1000 < `testPermille` —
    * content-derived and engine-stable (the shardId discipline), so
    * membership is identical across reruns and oracle-checkable.
    * Output: (doc_id, cluster_id, split), ordered by doc_id.
    *
    * Scale shape (100 TB): everything above the component loop is the
    * duplicateClusters shape (banded pair generation, pair-sized label
    * table); the split decision itself is one narrow hash projection
    * over the labels — no additional shuffle. */
  def leakageSafeSplit(documents: DataFrame, shingleK: Int, numHashes: Int,
                       rowsPerBand: Int, testPermille: Int = 200): DataFrame = {
    require(testPermille >= 0 && testPermille <= 1000,
      s"testPermille must be in [0, 1000]: $testPermille")
    val clusters = duplicateClusters(documents, shingleK, numHashes, rowsPerBand)
    val bucket = conv(substring(
        md5(concat(lit("split:"), col("cluster_id").cast("string"))), 1, 8),
        16, 10).cast("long") % 1000
    clusters.select(col("doc_id"), col("cluster_id"),
        when(bucket < testPermille, "test").otherwise("train").as("split"))
      .orderBy("doc_id")
  }

  /** N-gram (word-set) Jaccard exact-verify stage, fed by the MinHash
    * LSH candidate generator: [[minhashCandidatePairs]] produces the
    * (band-bucketed, never all-pairs) candidate set, texts join back by
    * doc id (two linear shuffles), and exact set-Jaccard ≥ threshold
    * confirms real near-dups. This is the full LSH-then-verify pipeline
    * in one operator — the shape that holds at 100 TB. */
  def jaccardPairs(documents: DataFrame, shingleK: Int, numHashes: Int,
                   rowsPerBand: Int, threshold: Double): DataFrame = {
    val candidates = minhashCandidatePairs(documents, shingleK, numHashes, rowsPerBand)
      .select("doc_a", "doc_b")
    val toks = documents
      .select(col("doc_id"), array_distinct(split(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+")).as("toks"))
    candidates
      .join(toks.select(col("doc_id").as("doc_a"), col("toks").as("toks_a")), Seq("doc_a"))
      .join(toks.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("toks_a"), col("toks_b"))).cast("double") /
          (size(col("toks_a")) + size(col("toks_b")) -
            size(array_intersect(col("toks_a"), col("toks_b"))))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Cross-document repeated-span detection — the ExactSubstr dedup
    * family (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better"): token spans repeated verbatim across documents.
    * The published recipe builds a corpus-wide suffix array; the
    * engine-distributed equivalent detects every repeated span of ≥ n
    * tokens via its n-gram cover: a span repeated in > maxDocFreq docs
    * consists only of n-grams with doc-frequency > maxDocFreq, so its
    * hits cover it COMPLETELY — no false negatives. The merge is a
    * superset of the suffix-array answer: distinct repeats that
    * overlap, and n-grams frequent by coincidence of context, can
    * chain adjacent spans into one longer reported span — the
    * conservative direction for removal (md5 gram hashes stand in for
    * suffix comparison; collisions are the usual negligible caveat).
    *
    * Emits one row per maximal span: (doc_id, span_start, span_end,
    * n_grams) — token offsets [start, end) plus the number of frequent
    * n-grams merged into the span; a downstream rewrite pass cuts the
    * spans (the removal half is a narrow per-doc transform once the
    * span table exists). Ordered by (doc_id, span_start).
    *
    * Scale shape (100 TB): n-grams explode narrowly, hashed to 32
    * bytes; the doc-frequency table is one map-side-combinable groupBy
    * on the gram hash; frequent grams (df > maxDocFreq) join back as a
    * plain shuffle semi-join on the same key (heavy-hitter set,
    * unbounded adversarially — never a forced broadcast). The
    * gaps-and-islands merge runs one window per doc_id — corpus-
    * cardinality partitions, never a funnel.
    *
    * Single-pass discipline: the gram table feeds BOTH the
    * doc-frequency groupBy and the semi-join probe side, and Spark
    * materializes nothing between plan branches — without a
    * materialization the dominant explode+md5 stage would execute
    * TWICE per run (the in-plan [[winnowPairs]] trade, fixed the same
    * way). Here the grams are eagerly localCheckpoint'ed (one job,
    * lineage truncated, blocks memory-and-disk), so both consumers
    * read stored blocks — spec-pinned by the absence of any Generate
    * node in the result's physical plan. For the persist-to-parquet
    * variant (gram once per corpus, span many times across maxDocFreq
    * experiments), see [[writeSpanGrams]]/[[repeatedSpansFromGrams]]. */
  def repeatedSpans(documents: DataFrame, n: Int = 3,
                    maxDocFreq: Long = 1): DataFrame =
    repeatedSpansFromGrams(spanGrams(documents, n).localCheckpoint(true),
      n, maxDocFreq)

  /** The positioned n-gram hash table (doc_id, pos, gh) of
    * [[repeatedSpans]] — one narrow explode + md5 projection, the
    * dominant stage of the span pipeline. */
  def spanGrams(documents: DataFrame, n: Int = 3): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1: $n")
    // tokens BOUND to a column first: the per-position lambda below
    // references the token array once per n-gram, and lambda-bearing
    // trees get no common-subexpression elimination (SPARK-35410) —
    // inlined, every position re-tokenized the whole document
    val w = col("__toks")
    graft.util.SparkUtil.widen(documents)
      .withColumn("__toks", TextAnalysis.tokens(col("text")))
      .select(col("doc_id"),
        posexplode(when(size(w) >= n,
          transform(sequence(lit(0), size(w) - n),
            i => md5(concat_ws(" ", slice(w, i + lit(1), lit(n))))))
          .otherwise(array().cast("array<string>"))).as(Seq("pos", "gh")))
  }

  /** Persist the gram table — the [[writeSignatures]]/
    * [[writeWinnowFingerprints]] analog: at corpus scale the
    * explode+md5 stage is the whole cost, and a span-threshold sweep
    * (several `maxDocFreq` settings over one corpus) should pay it
    * exactly once. Plain parquet (doc_id, pos, gh); feed the
    * read-back table to [[repeatedSpansFromGrams]]. */
  def writeSpanGrams(documents: DataFrame, path: String, n: Int = 3): Unit =
    spanGrams(documents, n).write.mode("overwrite").parquet(path)

  /** Span detection over an existing (doc_id, pos, gh) gram table
    * (localCheckpoint'ed in-plan by [[repeatedSpans]], or read back
    * from [[writeSpanGrams]]). `n` must match the gram table's
    * n-gram size (it sets each hit's span end = pos + n). */
  def repeatedSpansFromGrams(grams: DataFrame, n: Int = 3,
                             maxDocFreq: Long = 1): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1: $n")
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1: $maxDocFreq")
    import org.apache.spark.sql.expressions.Window
    val frequent = grams.groupBy("gh")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") > maxDocFreq)
      .select("gh")
    val hits = grams.join(frequent, Seq("gh"), "left_semi")
      .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
        (col("pos") + n).cast(LongType).as("end"))
    // gaps-and-islands: a hit starts a new span iff it begins past
    // every earlier hit's end; islands then aggregate to maximal spans
    val order = Window.partitionBy("doc_id").orderBy("pos")
    val prevMaxEnd = max("end").over(
      order.rowsBetween(Window.unboundedPreceding, -1))
    hits
      .withColumn("new_span",
        when(prevMaxEnd.isNull || col("pos") > prevMaxEnd, 1L).otherwise(0L))
      .withColumn("island", sum("new_span").over(
        order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min("pos").as("span_start"), max("end").as("span_end"),
        count(lit(1)).cast(LongType).as("n_grams"))
      .select("doc_id", "span_start", "span_end", "n_grams")
      .orderBy("doc_id", "span_start")
  }

  /** The removal half of [[repeatedSpans]]: rebuild each document's
    * text with the spanned token ranges cut out (the ExactSubstr
    * recipe removes one copy per cluster; cutting EVERY occurrence of
    * a > maxDocFreq-frequent span is the boilerplate-removal variant —
    * by construction the span table only holds runs frequent enough
    * that losing all copies is intended). Documents whose every token
    * is spanned drop to an empty string, not a dropped row (the caller
    * decides doc fate). Text is token-REBUILT: whitespace normalizes
    * to single spaces — one deterministic form both engines reproduce.
    * Output: (doc_id, text_cut, n_tokens_removed), ordered by doc_id.
    *
    * Scale shape: the span table is the small side (maximal spans
    * only); it groups to ≤1 row per doc and joins on doc_id — plain
    * shuffle join, docs without spans stream through the left join
    * with an empty cut set. The rebuild is a narrow higher-order
    * filter over the token array (position ∉ any span) — no explode
    * of the corpus. */
  def cutRepeatedSpans(documents: DataFrame, spans: DataFrame): DataFrame = {
    val spanSets = spans
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start").as("s"), col("span_end").as("e")))
        .as("cuts"))
    val w = TextAnalysis.tokens(col("text"))
    val cuts = coalesce(col("cuts"),
      array().cast("array<struct<s:bigint,e:bigint>>"))
    val kept = filter(w, (_, i) =>
      !exists(cuts, c => i >= c("s") && i < c("e")))
    graft.util.SparkUtil.widen(documents)
      .join(spanSets, Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat_ws(" ", kept).as("text_cut"),
        (size(w) - size(kept)).cast(LongType).as("n_tokens_removed"))
      .orderBy("doc_id")
  }

  /** LSH banding advisor — the S-curve table behind every
    * (numHashes, rowsPerBand) choice in this file: for each way to
    * band `numHashes` signature slots (every divisor r, b = n/r) and
    * each probe Jaccard J, the candidate probability
    * P = 1 − (1 − Jʳ)ᵇ and the band threshold estimate (1/b)^(1/r)
    * (Leskovec/Rajaraman/Ullman, Mining of Massive Datasets — public).
    * Pure model arithmetic — no corpus touched; run it BEFORE a 100 TB
    * dedup to pick the banding whose threshold brackets the target
    * similarity, instead of re-running the pipeline per guess.
    *
    * Output: (rows_per_band, n_bands, threshold_est 4 dp, jaccard,
    * p_candidate 6 dp), ordered. */
  def lshTuningTable(spark: org.apache.spark.sql.SparkSession,
                     numHashes: Int, jaccards: Seq[Double]): DataFrame = {
    require(numHashes >= 1, s"numHashes must be >= 1: $numHashes")
    require(jaccards.nonEmpty && jaccards.forall(j => j > 0 && j < 1),
      s"probe jaccards must lie in (0, 1): $jaccards")
    import spark.implicits._
    val rb = (1 to numHashes).filter(numHashes % _ == 0)
      .map(r => (r.toLong, (numHashes / r).toLong))
      .toDF("rows_per_band", "n_bands")
    rb.crossJoin(jaccards.toDF("jaccard"))
      .select(col("rows_per_band"), col("n_bands"),
        round(pow(lit(1.0) / col("n_bands"), lit(1.0) / col("rows_per_band")), 4)
          .as("threshold_est"),
        col("jaccard"),
        round(lit(1.0) -
          pow(lit(1.0) - pow(col("jaccard"), col("rows_per_band")),
            col("n_bands")), 6).as("p_candidate"))
      .orderBy("rows_per_band", "jaccard")
  }

  /** Quality-aware survivor selection — keep the BEST document of each
    * near-dup cluster instead of the arbitrary min-id: keeper = argmax
    * score, ties to the smaller doc_id (deterministic), null scores
    * rank below everything (−∞ sentinel — the null-ordering pin; the
    * kept row still reports its RAW score). "Keep the longest/highest-
    * classifier-score copy" is the real-world removal policy the
    * min-id default approximates badly on asymmetric duplicates
    * (truncated mirrors, snippet quotes).
    *
    * Inputs: `clusters` = (doc_id, cluster_id) labeling
    * ([[clustersFromPairs]] / [[duplicateClusters]]); `scores` =
    * (doc_id, score). Output: (cluster_id, keep_doc_id, n_docs,
    * keep_score), ordered.
    *
    * Scale shape: one doc_id shuffle join + ONE combinable cluster
    * groupBy — the argmax is a `max(struct(score, −doc_id, …))`
    * lexicographic max with map-side partials, never a per-cluster
    * ranking window. */
  def keepBestPerCluster(clusters: DataFrame, scores: DataFrame): DataFrame =
    clusters.join(scores, Seq("doc_id"), "left")
      .groupBy("cluster_id")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        max(struct(
          coalesce(col("score"), lit(Double.NegativeInfinity)).as("s"),
          (-col("doc_id")).as("nid"),
          col("score").as("raw"),
          col("doc_id").as("id"))).as("m"))
      .select(col("cluster_id"), col("m.id").as("keep_doc_id"),
        col("n_docs"), col("m.raw").as("keep_score"))
      .orderBy("cluster_id")

  /** PageRank centrality over an undirected (doc_a, doc_b) pair graph
    * (Brin & Page 1998, public) — the template-HUB detector: a
    * document near-duplicate-linked to many others (boilerplate
    * masters, mirrored spam nests) earns high rank even when no single
    * cluster is huge; rank-ordered review is the triage pass before a
    * removal policy. Fixed-iteration synchronous recurrence, exactly:
    * r₀ = 1/N;  rᵢ₊₁(v) = (1−d)/N + d·Σ_{u~v} rᵢ(u)/deg(u).
    * Dangling (edgeless) mass is NOT redistributed — ranks are a
    * centrality score, not a distribution (Σr < 1 when singletons
    * exist); this keeps the recurrence oracle-expressible verbatim.
    *
    * Output: (doc_id, rank_norm = r·N rounded 6 dp — ≈1 for an average
    * node), ordered by doc_id. 6 dp absorbs FP-summation order: the
    * per-node contribution sum is ~2·10⁻³-scale with ~10⁻¹⁷ order
    * noise after 10 damped rounds.
    *
    * Scale shape (100 TB): per iteration ONE edge-keyed shuffle join +
    * ONE combinable dst groupBy — the standard distributed PR step;
    * the rank table is eagerly localCheckpoint'ed every round (the
    * [[clustersFromPairs]] lineage discipline — 10 uncheckpointed
    * rounds would replay the whole chain per action). N is one
    * bounded driver count. */
  def pagerankFromPairs(docs: DataFrame, pairs: DataFrame,
                        damping: Double = 0.85,
                        iterations: Int = 10): DataFrame = {
    require(damping > 0 && damping < 1, s"damping in (0,1): $damping")
    require(iterations >= 1 && iterations <= 100,
      s"iterations in [1,100]: $iterations")
    val nodes = docs.select(col("doc_id")).localCheckpoint(true)
    val n = nodes.count()
    require(n > 0, "pagerank needs a non-empty node set")
    val sym = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(true)
    val deg = sym.groupBy("src").agg(count(lit(1)).cast("long").as("__deg"))
    val edges = sym.join(deg, "src").localCheckpoint(true)
    var ranks = nodes.withColumn("__r", lit(1.0 / n))
    for (_ <- 1 to iterations) {
      val contrib = edges
        .join(ranks.withColumnRenamed("doc_id", "src"), "src")
        .groupBy(col("dst").as("doc_id"))
        .agg(sum(col("__r") / col("__deg")).as("__c"))
      ranks = nodes.join(contrib, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (lit((1.0 - damping) / n) +
            lit(damping) * coalesce(col("__c"), lit(0.0))).as("__r"))
        .localCheckpoint(true)
    }
    ranks.select(col("doc_id"), round(col("__r") * n, 6).as("rank_norm"))
      .orderBy("doc_id")
  }

  /** Near-dup cluster size distribution — the dedup-yield report read
    * before committing to a removal pass: how many clusters of each
    * size, how many documents they hold, and how many rows a
    * keep-one-per-cluster policy would delete (`n_removable` =
    * Σ (size−1)). Consumes any (doc_id, cluster_id) labeling
    * ([[clustersFromPairs]] / [[duplicateClusters]] output);
    * singletons appear as cluster_size 1 with n_removable 0.
    *
    * Scale shape: two combinable groupBys (cluster_id — corpus-grain
    * key — then the ≤log-many distinct sizes); output is
    * size-histogram-sized. */
  def clusterSizeReport(clusters: DataFrame): DataFrame =
    clusters.groupBy("cluster_id")
      .agg(count(lit(1)).cast("long").as("__sz"))
      .groupBy(col("__sz").as("cluster_size"))
      .agg(count(lit(1)).cast("long").as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).cast("long").as("n_docs"),
        ((col("cluster_size") - 1) * col("n_clusters")).cast("long")
          .as("n_removable"))
      .orderBy("cluster_size")

  /** EXACT Jaccard threshold self-join via prefix filtering (the
    * AllPairs / PPJoin family — Bayardo et al., "Scaling Up All Pairs
    * Similarity Search", WWW'07; Xiao et al., "Efficient Similarity
    * Joins for Near Duplicate Detection", WWW'08 — public literature):
    * EVERY pair of documents whose distinct word-`shingleK`-shingle
    * sets have Jaccard ≥ `threshold`, with NO false negatives. The
    * deterministic complement of the probabilistic MinHash path
    * ([[jaccardPairs]] verifies only what the LSH bands catch; this
    * finds everything above the threshold, at the cost of an exact
    * candidate join) — use it when recall must be provably 1.0
    * (eval-set leakage screens, legal/compliance dedup).
    *
    * Candidate completeness: order every set by one global total order
    * — ascending corpus document frequency, shingle text as the
    * tie-break. Two sets at Jaccard ≥ t must share ≥ 1 element within
    * their first (n − ⌈t·n⌉ + 1) elements under ANY shared total order
    * (prefix-filter principle), so the equi-join on prefix shingles is
    * a COMPLETE candidate generator; the final exact filter makes the
    * output candidate-independent (the oracle brute-forces all pairs —
    * a hash match proves the no-false-negative guarantee, not just
    * plan agreement). Rarest-first ordering puts only LOW-df shingles
    * in join keys, so per-key fan-out stays small on natural corpora;
    * the AllPairs length filter (t·|a| ≤ |b| ≤ |a|/t) prunes
    * impossible pairs inside the join condition before any
    * verification work.
    *
    * Scale shape (100 TB): the shingle-set table is ONE narrow
    * bound-tokens projection, eagerly checkpointed for its three
    * consumers (df table, ordering join, both verify sides) — the
    * multi-consumer checkpoint rule; df and the per-doc ordering
    * shuffle on the gram key (corpus-vocab cardinality, map-side
    * combinable); the candidate join shuffles only the PREFIX slice
    * (the rarest ≈(1−t) fraction of each doc's shingles); verification
    * joins the pair-sized candidate table back on doc_id in two
    * stages — a hashed-shadow-set prefilter (longs, one-collision
    * slack, no false negatives) that kills the candidate bulk cheaply,
    * then the exact string-set verify on the ~true-pair-sized
    * survivor set. A degenerate
    * corpus (everything a copy of everything) makes the OUTPUT
    * quadratic — that is the answer's size, not a plan artifact; run
    * [[exactDuplicates]] first when the corpus is known-degenerate.
    * Every threshold compare is INTEGER permille math (pm =
    * round(t·1000)): prefix length n − ⌈pm·n/1000⌉ + 1 via
    * (pm·n+999) div 1000, AllPairs length filter a.n·1000 ≥ b.n·pm,
    * and the verify filters shared·1000 ≥ pm·union — never
    * ceil(double) or a float ratio compare, which the repo's
    * documented ceil(0.1·100)=11 trap shows can shorten the prefix by
    * one element and silently break the recall-1.0 guarantee at
    * thresholds that are not exactly representable (t=0.1, 0.3, …).
    * The emitted jaccard COLUMN stays integer-derived IEEE division —
    * identical in any engine.
    *
    * Output: (doc_a, doc_b, n_shared, jaccard 4 dp), doc_a < doc_b,
    * ordered. */
  def prefixJaccardPairs(documents: DataFrame, shingleK: Int = 3,
                         threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1]: $threshold")
    require(shingleK >= 1, s"shingleK must be >= 1: $shingleK")
    // integer permille — all boundary compares below are exact
    val pm = math.round(threshold * 1000).toInt
    require(pm >= 1, s"threshold below 1 permille: $threshold")
    // filter on WORD COUNT, not size(set) (r18 opt round): a predicate
    // over the lambda-built set column pushes below the projection and
    // re-evaluates the whole shingle tree per row (lambda-bearing trees
    // get no CSE — SPARK-35410), so the split+shingle+distinct pass ran
    // up to 4× (filter, set, hset input, n). size(__words) >= k is
    // EXACTLY size(set) > 0: shinglesFromWords emits sequence(1,
    // n-k+1) shingles when n >= k (>= 1 of them, concat_ws never null)
    // and [] otherwise. Measured: sets checkpoint 5.9 → 0.9 s, whole
    // query 9.8 → 3.9 s at sf0.1 (same box, min-of-3); row-identical
    // both directions (exceptAll 0/0); plan signature unchanged.
    val sets = graft.util.SparkUtil.widen(documents)
      .filter(col("text").isNotNull)
      .withColumn("__words", split(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+"))
      .filter(size(col("__words")) >= shingleK)
      .select(col("doc_id"),
        array_distinct(shinglesFromWords(col("__words"), shingleK)).as("set"))
      .select(col("doc_id"), col("set"),
        // 64-bit shadow set for the cheap verify prefilter below —
        // longs intersect at a fraction of the string cost and shuffle
        // ~4× smaller
        array_distinct(transform(col("set"), g => xxhash64(g))).as("hset"),
        size(col("set")).cast("long").as("n"))
      .localCheckpoint(true)
    val grams = sets.select(col("doc_id"), col("n"), explode(col("set")).as("gram"))
    val dfTab = grams.groupBy("gram").agg(count(lit(1)).as("__df"))
    // per-doc global-order sort: collect (df, gram) structs, array_sort
    // orders by fields left-to-right — ascending df, gram tie-break
    val ordered = grams.join(dfTab, Seq("gram"))
      .groupBy("doc_id")
      .agg(max("n").as("n"),
        array_sort(collect_list(struct(col("__df"), col("gram")))).as("__sorted"))
    // ⌈pm·n/1000⌉ in longs — NOT ceil(t*n): double ceil overshoots at
    // non-dyadic thresholds (ceil(0.1*100) = 11) and a one-short prefix
    // permits false negatives
    val prefixLen =
      (col("n") - expr(s"($pm * n + 999) div 1000") + 1).cast("int")
    val pref = ordered.select(col("doc_id"), col("n"),
      explode(slice(transform(col("__sorted"), s => s.getField("gram")),
        lit(1), prefixLen)).as("gram"))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.gram") === col("b.gram") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * 1000L >= col("b.n") * pm.toLong &&
          col("b.n") * 1000L >= col("a.n") * pm.toLong)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // verify PREFILTER on the hashed shadow sets: a templated corpus
    // yields orders of magnitude more candidates than true pairs
    // (measured 310k → 256 at sf0.1), and string-set intersection over
    // every candidate dominated the runtime. Hash collisions can only
    // RAISE the hashed Jaccard except when two SHARED shingles collide
    // pairwise (≈ n²/2⁶⁴ per pair), so the filter grants one collision
    // of slack — (i+1)/(union−1) ≥ t — and the exact string verify
    // below restores exactness on the survivors. A false negative now
    // needs TWO simultaneous 64-bit collisions inside one pair
    // (≈ 2⁻¹²⁸ — below hardware error rates).
    val ha = sets.select(col("doc_id").as("doc_a"), col("hset").as("__ha"),
      size(col("hset")).cast("long").as("__nha"))
    val hb = sets.select(col("doc_id").as("doc_b"), col("hset").as("__hb"),
      size(col("hset")).cast("long").as("__nhb"))
    val hShared = size(array_intersect(col("__ha"), col("__hb"))).cast("long")
    val survivors = cand.join(ha, "doc_a").join(hb, "doc_b")
      .filter((hShared + 1L) * 1000L >=
        (col("__nha") + col("__nhb") - hShared - 1L) * pm.toLong)
      .select(col("doc_a"), col("doc_b"))
    val sa = sets.select(col("doc_id").as("doc_a"),
      col("set").as("__sa"), col("n").as("__na"))
    val sb = sets.select(col("doc_id").as("doc_b"),
      col("set").as("__sb"), col("n").as("__nb"))
    val shared = size(array_intersect(col("__sa"), col("__sb"))).cast("long")
    survivors.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"), shared.as("n_shared"),
        col("__na"), col("__nb"))
      .filter(col("n_shared") * 1000L >=
        (col("__na") + col("__nb") - col("n_shared")) * pm.toLong)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("__na") + col("__nb") - col("n_shared")), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Triangle enumeration over an undirected pair graph (doc_a < doc_b
    * canonical edges — any of this file's pair generators) — the
    * clustering-coefficient / community-density primitive: a near-dup
    * graph whose edges close into triangles is template families, not
    * pairwise noise, and triangle-dense components are the ones worth
    * a keep-best pass instead of naive drop-b.
    *
    * Algorithm: DEGREE-ORDERED wedge join (the MapReduce triangle
    * literature's standard, Suri & Vassilvitskii WWW'11): orient every
    * edge from its lower-(degree, id) endpoint to the higher; enumerate
    * wedges only at each triangle's LOWEST-rank vertex (two oriented
    * edges out of u, ordered between themselves); close with one more
    * equi-join on the oriented edge set. Each triangle is found exactly
    * once, and wedge fan-out at a vertex is bounded by its ORIENTED
    * out-degree ≤ O(√m) — a celebrity node with 10⁷ neighbors
    * contributes no wedge explosion because its edges all point INTO
    * it. A naive a<b-ordered wedge join has no such bound (a low-id hub
    * explodes); at 100 TB graph scale the orientation IS the operator.
    *
    * Output: canonical id-sorted triples (doc_a < doc_b < doc_c),
    * ordered. The oriented edge table is checkpointed once and feeds
    * all three join legs (fan-out discipline). */
  def triangles(pairs: DataFrame): DataFrame = {
    val e = canonicalEdges(pairs)
      .localCheckpoint(true) // feeds degree count + 2 orientation joins
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val da = deg.select(col("v").as("a"), col("d").as("da"))
    val db = deg.select(col("v").as("b"), col("d").as("db"))
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = e.join(da, "a").join(db, "b")
      .select(
        when(aFirst, col("a")).otherwise(col("b")).as("u"),
        when(aFirst, col("b")).otherwise(col("a")).as("w"),
        when(aFirst, col("db")).otherwise(col("da")).as("degw"))
      .localCheckpoint(true) // three consumers: wedge legs + closing
    val x = oriented.select(col("u"), col("w").as("v1"), col("degw").as("d1"))
    val y = oriented.select(col("u"), col("w").as("v2"), col("degw").as("d2"))
    val wedges = x.join(y, Seq("u"))
      .filter(col("d1") < col("d2") ||
        (col("d1") === col("d2") && col("v1") < col("v2")))
    val closing = oriented.select(col("u").as("v1"), col("w").as("v2"))
    wedges.join(closing, Seq("v1", "v2"))
      .select(least(col("u"), col("v1"), col("v2")).as("doc_a"),
        (col("u") + col("v1") + col("v2") -
          least(col("u"), col("v1"), col("v2")) -
          greatest(col("u"), col("v1"), col("v2"))).as("doc_b"),
        greatest(col("u"), col("v1"), col("v2")).as("doc_c"))
      .orderBy("doc_a", "doc_b", "doc_c")
  }

  /** Soft-dedup weights — down-weight duplicates instead of dropping
    * them (the keep-all-with-1/n-weight alternative the hard-removal
    * debate keeps landing on: deletion loses the natural duplication
    * signal, full retention over-trains on boilerplate; 1/cluster_size
    * weights make every duplicate FAMILY contribute exactly one
    * document's worth of gradient). Consumes any (doc_id, cluster_id)
    * labeling ([[clustersFromPairs]]/[[duplicateClusters]]);
    * singletons weigh 1.
    *
    * Output: (doc_id, cluster_id, cluster_size, weight 6 dp — an
    * exact reciprocal of an integer, identical in both engines),
    * ordered by doc_id.
    *
    * Scale shape: one combinable cluster-size groupBy + one equi-join
    * back on cluster_id — the keep-best plan shape without the argmax. */
  def softDedupWeights(clusters: DataFrame): DataFrame = {
    val sizes = clusters.groupBy("cluster_id")
      .agg(count(lit(1)).cast("long").as("cluster_size"))
    clusters.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        round(lit(1.0) / col("cluster_size"), 6).as("weight"))
      .orderBy("doc_id")
  }

  /** Undirected-edge normalization shared by [[triangles]] and
    * [[kCore]]: orientation-insensitive (a reversed (b, a) input edge
    * is the SAME edge — dropping it would silently lose triangles and
    * core members), self-loops removed, duplicates collapsed. */
  private def canonicalEdges(pairs: DataFrame): DataFrame = {
    val a = col("doc_a").cast("long")
    val b = col("doc_b").cast("long")
    pairs
      .select(least(a, b).as("a"), greatest(a, b).as("b"))
      .filter(col("a") < col("b")).distinct()
  }

  /** k-core extraction over an undirected pair graph — iterative peel
    * of nodes with degree < k (cascading: removing a weak node can
    * expose its neighbors), the community-density triage that
    * separates STRUCTURAL duplicate families (cliques/dense cores
    * worth a keep-best pass) from incidental pairwise matches (which
    * peel away). The k-core is unique and peel-order-confluent, so a
    * `rounds` is a CAP, not a cost: peeling is monotone, so the loop
    * exits at the first round that removes no edge (one cheap count
    * per round — VERDICT r9 §6); the spec still asserts the fixpoint
    * (one extra round changes nothing). Cascade length is bounded by
    * the longest peel chain (≈ component diameter), not corpus size.
    *
    * Output: (doc_id, core_degree) for surviving nodes — degree
    * WITHIN the core subgraph (≥ k by definition at fixpoint),
    * ordered.
    *
    * Scale shape (100 TB graph): per round, one combinable degree
    * aggregate + two semi-joins on the shrinking edge set; each
    * round's survivors checkpoint (the iterative-lineage discipline —
    * pagerank precedent). Rounds are sequential jobs over an edge set
    * that only shrinks — the first peel does the corpus-scale work,
    * the tail rounds are cascade-sized. */
  def kCore(pairs: DataFrame, k: Int, rounds: Int = 24): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(rounds >= 1 && rounds <= 100, s"rounds in [1,100]: $rounds")
    // fixpoint early-exit (VERDICT r9 §6): peeling is monotone — once a
    // round removes no edge, no later round can (the degree aggregate
    // is a pure function of the unchanged edge set), so `rounds` is a
    // CAP, not a cost. The count that detects the settled tail is FUSED
    // with the checkpoint (VERDICT r11 §6): the checkpoint is LAZY and
    // count() is the action that materializes it — one job per round,
    // not a checkpoint job plus a count job.
    var e = canonicalEdges(pairs).localCheckpoint(false)
    var nEdges = e.count()
    var settled = false
    for (_ <- 1 to rounds if !settled) {
      val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
      // keep stays EAGER: it feeds two semi-join subtrees of the same
      // downstream job — a lazy checkpoint could compute it twice
      val keep = deg.filter(col("d") >= k).select("v").localCheckpoint(true)
      e = e.join(keep.withColumnRenamed("v", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("v", "b"), Seq("b"), "left_semi")
        .localCheckpoint(false)
      val n = e.count()
      settled = n == nEdges
      nEdges = n
    }
    e.select(col("a").as("doc_id")).unionAll(e.select(col("b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).cast("long").as("core_degree"))
      .orderBy("doc_id")
  }
}
