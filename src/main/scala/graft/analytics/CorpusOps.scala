package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** End-of-pipeline corpus assembly operators — the selection / mixing /
  * budgeting stages a training-data pipeline runs AFTER per-doc scoring
  * and dedup (SURVEY.md §7.7 north star): which documents actually make
  * the training set, at what sampling rate, within what token budget.
  * All three are deterministic (hash-based sampling, no `rand()`), so
  * every stage is DuckDB-oracled and reruns are reproducible — the
  * property a 100 TB corpus build needs for auditability. */
object CorpusOps {

  /** Corpus selection: exact-dedup survivors ∩ quality gate ∩ language
    * allowlist — the composition of [[Dedup.exactDuplicates]] and the
    * [[TextAnalysis.qualityScores]] heuristics into one final keep set.
    *
    * Scale shape: the survivor set is one fingerprint groupBy; the
    * left-semi join shuffles on doc_id (both sides corpus-sized — no
    * broadcast); the quality columns are narrow. Nothing funnels. */
  def corpusSelect(documents: DataFrame, stopwords: Seq[String],
                   langs: Seq[String], minTokens: Int = 10,
                   minStopRatio: Double = 0.05): DataFrame = {
    val keep = documents
      .groupBy(Dedup.exactFingerprint.as("fp"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val toks = TextAnalysis.tokens(col("text"))
    val stopArr = array(stopwords.map(lit): _*)
    val nStop = size(filter(toks, t => array_contains(stopArr, t)))
    graft.util.SparkUtil.widen(documents)
      .select(col("doc_id"), col("lang"), col("source"),
        size(toks).cast(LongType).as("n_tokens"),
        round(nStop.cast("double") / size(toks), 4).as("stopword_ratio"))
      .join(keep, Seq("doc_id"), "left_semi")
      .filter(col("n_tokens") >= minTokens &&
        col("stopword_ratio") >= minStopRatio &&
        col("lang").isInCollection(langs))
      .select("doc_id", "lang", "source", "n_tokens")
      .orderBy("doc_id")
  }

  /** Stratified deterministic sampling — per-language rates for domain
    * mixing (down-weight over-represented languages/sources). A doc is
    * kept iff the first 32 bits of md5(salt || doc_id), read as an
    * unsigned int, fall under rate × 2³². No `rand()`: the sample is a
    * pure function of (doc_id, salt) — reproducible across engines,
    * runs, and partitionings, and a different salt draws an independent
    * sample. Languages absent from `rates` keep everything (rate 1).
    * Fully narrow — a filter at scan speed. */
  /** rate → integer keep-threshold on the u32 hash. Computed ONCE in
    * Scala (floor) and injected as a literal on BOTH the Spark and the
    * oracle side — a float `rate * 2^32` evaluated independently per
    * engine diverges on non-dyadic rates (Spark's double→long cast
    * truncates, DuckDB's CAST rounds to nearest). */
  def sampleThreshold(rate: Double): Long = {
    require(rate >= 0 && rate <= 1, s"rate in [0,1]: $rate")
    math.floor(rate * 4294967296.0).toLong
  }

  def stratifiedSample(documents: DataFrame, rates: Map[String, Double],
                       salt: String): DataFrame = {
    val u32 = conv(substring(
      md5(concat(lit(s"$salt:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast(LongType)
    val threshold = rates.toSeq.sortBy(_._1)
      .foldLeft(when(lit(false), 0L)) { case (acc, (l, r)) =>
        acc.when(col("lang") === l, sampleThreshold(r))
      }.otherwise(sampleThreshold(1.0))
    documents
      .filter(u32 < threshold)
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Exact-k per-source sampling — the fixed-QUOTA counterpart to
    * [[mixtureSample]]'s expected-value rates: every source contributes
    * exactly min(k, n_source) documents. Deterministic: docs rank by
    * u32(md5(salt:doc_id)) ascending (a stable pseudo-random order, no
    * `rand()`), the k smallest win. Ranking runs through the
    * `graft_topk` heap aggregate — map-side combine sends ≤k rows per
    * source per partition across the shuffle, where a ranking window
    * would funnel the whole corpus through ≤|sources| reducers. */
  def exactSamplePerSource(documents: DataFrame, k: Int, salt: String): DataFrame = {
    require(k > 0, s"sample size must be positive: $k")
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val u32 = conv(substring(
      md5(concat(lit(s"$salt:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast(LongType)
    documents
      // negate: the heap keeps top-k by score DESC == smallest hashes
      .select(col("source"), col("doc_id"), (-u32).cast("double").as("neg"))
      .groupBy("source")
      .agg(expr(s"graft_topk(neg, doc_id, $k)").as("top"))
      .select(col("source"), explode(col("top.id")).as("doc_id"))
      .select(col("doc_id"), col("source"))
      .orderBy("doc_id")
  }

  /** Per-source corpus health report — the one-row-per-source panel a
    * crawl/ingest operator reads every round, assembled in ONE pass:
    * volume (docs, tokens, mean chars), exact-duplication rate (the
    * [[graft.analytics.Dedup.dedupRateBySource]] fingerprint), and
    * empty-doc share. Every stat is a combinable aggregate over one
    * `source` groupBy — map-side partials, |sources| output rows, no
    * joins; at 100 TB this is a single scan. */
  def sourceHealthReport(documents: DataFrame): DataFrame =
    graft.util.SparkUtil.widen(documents)
      .withColumn("__toks", graft.analytics.TextAnalysis.tokens(col("text")))
      .groupBy("source")
      .agg(
        count(lit(1)).cast(LongType).as("n_docs"),
        sum(size(col("__toks"))).cast(LongType).as("n_tokens"),
        round(avg(col("n_chars")), 2).as("mean_chars"),
        round(lit(1.0) -
          countDistinct(md5(regexp_replace(lower(col("text")), "[^a-z0-9]", "")))
            .cast("double") / count(lit(1)), 4).as("dup_rate"),
        round(avg(when(length(trim(col("text"))) === 0 || col("text").isNull,
          1.0).otherwise(0.0)), 4).as("empty_share"))
      .orderBy("source")

  /** Corpus data card — the ONE-row release summary (datasheet
    * headline: volume, diversity, hygiene) every dataset publication
    * leads with; the global companion of the per-source
    * [[sourceHealthReport]] panel, sharing its dup-rate and
    * empty-share formulas so the two reports never disagree on
    * definitions.
    *
    * Scale shape (100 TB): ONE scan — a single global aggregate; the
    * three count-distincts plan through Spark's Expand (×3 row
    * amplification pre-combine, map-side partials throughout, one
    * single-partition final reduce of O(distinct) state — fingerprint
    * cardinality dominates, ≈ one 32-byte hash per unique doc). */
  def dataCard(documents: DataFrame): DataFrame =
    graft.util.SparkUtil.widen(documents)
      .withColumn("__toks", graft.analytics.TextAnalysis.tokens(col("text")))
      .agg(
        count(lit(1)).cast(LongType).as("n_docs"),
        countDistinct(col("source")).cast(LongType).as("n_sources"),
        countDistinct(col("lang")).cast(LongType).as("n_langs"),
        coalesce(sum(size(col("__toks"))), lit(0L)).cast(LongType)
          .as("n_tokens"),
        round(avg(col("n_chars")), 2).as("mean_chars"),
        round(lit(1.0) -
          countDistinct(md5(regexp_replace(lower(col("text")), "[^a-z0-9]", "")))
            .cast("double") / count(lit(1)), 4).as("dup_rate"),
        round(avg(when(length(trim(col("text"))) === 0 || col("text").isNull,
          1.0).otherwise(0.0)), 4).as("empty_share"))

  /** The 4-dp stopword-ratio quality score shared by
    * [[stratifiedQualitySample]], [[qualityLengthCorrelation]] and
    * [[quantileNormalize]] — every consumer's oracle mirrors this
    * exact nesting (rounding INSIDE the null handling), so the
    * definition lives in ONE place. `nullScore` pins the null-text
    * sentinel (None propagates null — the corr consumer skips nulls
    * instead of ranking a sentinel). */
  private[analytics] def stopwordQualityScore(
      stopwords: Seq[String],
      nullScore: Option[Double] = Some(-1.0)): org.apache.spark.sql.Column = {
    val toks = graft.analytics.TextAnalysis.tokens(col("text"))
    val stopArr = array(stopwords.map(lit): _*)
    val ratio = round(
      size(filter(toks, t => array_contains(stopArr, t))).cast("double") /
        size(toks), 4)
    nullScore.map(sv => coalesce(ratio, lit(sv))).getOrElse(ratio)
  }

  /** Quality-stratified sampling — `quota` docs from each of
    * `nBuckets` equal-population strata of the quality distribution
    * (stratify-then-sample: a uniform sample of a web corpus is
    * dominated by the low-quality mode; equal-population strata
    * guarantee the eval/inspection set covers every quality band,
    * the standard audit-sample construction). The stratification
    * score is the ROUNDED stopword ratio (the cheapest
    * [[TextAnalysis.qualityScores]] signal; raw-double ordering would
    * be ulp-unstable cross-engine), null-text docs pinned to score −1
    * (Spark sorts nulls first, DuckDB last — an explicit sentinel
    * instead of engine defaults). Stratum = ((rank − 1) × nBuckets)
    * div n over the skew-safe [[graft.metrics.Metrics.rankByKey]]
    * global rank (range partition + per-partition windows — no
    * single-reducer funnel at any corpus size); within a stratum the
    * winners are the `quota` smallest u32(md5(salt:doc_id)) through
    * the `graft_topk` heap (map-side combine, ≤quota rows per stratum
    * per partition cross the shuffle). Output: (doc_id, bucket,
    * score), ordered by doc_id; every stratum yields exactly
    * min(quota, stratum size) rows. */
  def stratifiedQualitySample(documents: DataFrame, stopwords: Seq[String],
                              nBuckets: Int = 10, quota: Int = 10,
                              salt: String = "strat"): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2: $nBuckets")
    require(quota > 0, s"quota must be positive: $quota")
    require(stopwords.nonEmpty, "stratification needs a stopword set")
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val scored = graft.util.SparkUtil.widen(documents)
      .select(col("doc_id"), stopwordQualityScore(stopwords).as("score"))
      .withColumn("_g", lit(1))
    // eager checkpoint: the ranked corpus feeds the heap AND the
    // join-back (2 consumers, one execution — the repo discipline)
    val bucketed = graft.metrics.Metrics.rankByKey(scored, "_g",
        Seq("score", "doc_id"))
      .select(col("doc_id"), col("score"),
        expr(s"((_rank - 1) * $nBuckets) div _nk").cast("long").as("bucket"))
      .localCheckpoint(true)
    val u32 = conv(substring(
      md5(concat(lit(s"$salt:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast(LongType)
    val winners = bucketed
      .select(col("bucket"), col("doc_id"), (-u32).cast("double").as("neg"))
      .groupBy("bucket")
      .agg(expr(s"graft_topk(neg, doc_id, $quota)").as("top"))
      .select(explode(col("top.id")).as("doc_id"))
    bucketed.join(broadcast(winners), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("bucket"), col("score"))
      .orderBy("doc_id")
  }

  /** Length–quality correlation per source — the Pearson corr of
    * document length vs (rounded) stopword ratio, the one-number
    * answer to "are this source's long documents the good ones?"
    * (negative = boilerplate grows with length — trim tails; positive
    * = fragments are junk — raise min length; ≈0 = length-independent
    * gating is safe). Null-text docs count in `n` but contribute no
    * pair to the correlation (both engines' corr skips null pairs).
    *
    * Scale shape: one narrow scoring projection + ONE combinable
    * source groupBy (corr merges its co-moment partials map-side);
    * |sources| output rows, no joins, one scan. */
  def qualityLengthCorrelation(documents: DataFrame,
                               stopwords: Seq[String]): DataFrame = {
    require(stopwords.nonEmpty, "needs a stopword set")
    graft.util.SparkUtil.widen(documents)
      .select(col("source"), col("n_chars").cast("double").as("__len"),
        stopwordQualityScore(stopwords, nullScore = None).as("__q"))
      .groupBy("source")
      .agg(count(lit(1)).cast(LongType).as("n"),
        round(corr(col("__len"), col("__q")), 4).as("len_quality_corr"))
      .orderBy("source")
  }

  /** END-TO-END corpus-build stats — the composed pipeline every other
    * operator here is a stage of, run as ONE plan and summarized in
    * ONE row: held-out eval split off → Gopher quality gate →
    * exact dedup (keep-first) → eval-shingle decontamination → final
    * token volume. This is the library's composition proof (the stages
    * share checkpointed intermediates, not re-scans) AND the headline
    * wall-clock number: docs in, training-ready keep set out.
    *
    * Output (one row): (n_input, n_quality, n_unique, n_clean,
    * n_tokens_final) — all exact BIGINTs, each stage count monotonically
    * ≤ the previous.
    *
    * Scale shape: each stage is its own already-audited operator shape
    * (narrow gate projection; fingerprint groupBy; gated-broadcast
    * shingle semi-join); stage outputs are eagerly checkpointed where
    * the next stage consumes them more than once; the five stage
    * counts are 1-row aggregates crossJoined at the top (broadcast
    * scalar rows — the repo-sanctioned cross join). */
  def buildCorpusStats(documents: DataFrame, stopwords: Seq[String],
                       evalModulo: Long = 97): DataFrame = {
    require(evalModulo >= 2, s"evalModulo must be >= 2: $evalModulo")
    val train = documents.filter(col("doc_id") % evalModulo =!= 0)
    val evalDocs = documents.filter(col("doc_id") % evalModulo === 0)
    val qualityIds = graft.analytics.Cleaning
      .gopherRules(train, minWords = 10, maxWords = 1000,
        stopwords = stopwords)
      .filter(col("keep")).select("doc_id")
    val qualityDocs = train.join(qualityIds, Seq("doc_id"), "left_semi")
      .localCheckpoint(true) // consumers: dedup groupBy + semi-join + count
    val keepIds = qualityDocs
      .groupBy(graft.analytics.Dedup.exactFingerprint.as("__fp"))
      .agg(min("doc_id").as("doc_id")).select("doc_id")
    val uniqueDocs = qualityDocs.join(keepIds, Seq("doc_id"), "left_semi")
      .localCheckpoint(true) // consumers: decontaminate ×2 + count
    val cleanIds = decontaminate(uniqueDocs, evalDocs, 3).select("doc_id")
      .localCheckpoint(true) // consumers: count + token join
    val tokensFinal = uniqueDocs.join(cleanIds, Seq("doc_id"), "left_semi")
      .agg(coalesce(sum(size(graft.analytics.TextAnalysis.tokens(col("text")))
        .cast(LongType)), lit(0L)).as("n_tokens_final"))
    train.agg(count(lit(1)).cast(LongType).as("n_input"))
      .crossJoin(qualityDocs.agg(count(lit(1)).cast(LongType).as("n_quality")))
      .crossJoin(uniqueDocs.agg(count(lit(1)).cast(LongType).as("n_unique")))
      .crossJoin(cleanIds.agg(count(lit(1)).cast(LongType).as("n_clean")))
      .crossJoin(tokensFinal)
  }

  /** JSON string-escape table shared VERBATIM between the Spark render
    * and the oracle's generated replace chain (the zero-drift
    * discipline). Order matters: backslash FIRST — escaping it later
    * would double the backslashes the earlier rules introduced. The
    * five rules cover everything RFC 8259 requires for the printable
    * range plus the three whitespace controls; other control chars
    * (U+0000–U+001F beyond \n \r \t) don't survive [[Cleaning]]'s
    * normalize pass and are out of contract here. */
  val jsonEscapes: Seq[(String, String)] = Seq(
    "\\" -> "\\\\", "\"" -> "\\\"",
    "\n" -> "\\n", "\r" -> "\\r", "\t" -> "\\t")

  private def jsonEscape(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    jsonEscapes.foldLeft(c) { case (acc, (bad, good)) =>
      call_function("replace", acc, lit(bad), lit(good))
    }

  /** Chat-template SFT JSONL export — render each document as one
    * supervised-fine-tuning chat record: a system message carrying the
    * source, a user turn holding the first `promptTokens` tokens, an
    * assistant turn holding the remainder (the continuation task — the
    * standard way to manufacture SFT pairs from raw corpus text). The
    * record is a HAND-BUILT `concat` of literal JSON fragments around
    * the [[jsonEscapes]]-escaped fields — NOT `to_json`, whose struct
    * key ordering and whitespace are engine-private and make byte
    * parity untestable; the literal template is byte-identical in any
    * engine by construction.
    *
    * Output: (doc_id, record, n_prompt_tokens, n_response_tokens),
    * null-text docs excluded, ordered by doc_id. A whole-corpus export
    * writes `record` as a text file per shard — the JSONL the trainer
    * ingests.
    *
    * Scale shape: ONE narrow codegen'd projection (literal replace
    * chain + array slices over the bound token array), no shuffle
    * before the output sort; scan-speed like the other exports. */
  def sftExport(documents: DataFrame, promptTokens: Int = 10): DataFrame = {
    require(promptTokens >= 1, s"promptTokens must be >= 1: $promptTokens")
    graft.util.SparkUtil.widen(documents)
      .filter(col("text").isNotNull)
      .withColumn("__w", graft.analytics.TextAnalysis.tokens(col("text")))
      .withColumn("__p", concat_ws(" ", slice(col("__w"), 1, promptTokens)))
      .withColumn("__r", concat_ws(" ", slice(col("__w"),
        lit(promptTokens + 1),
        greatest(size(col("__w")) - promptTokens, lit(0)))))
      .select(col("doc_id"),
        concat(
          lit("""{"messages":[{"role":"system","content":"source: """),
          jsonEscape(col("source")),
          lit(""""},{"role":"user","content":"Continue: """),
          jsonEscape(col("__p")),
          lit(""""},{"role":"assistant","content":""""),
          jsonEscape(col("__r")),
          lit(""""}]}""")).as("record"),
        least(size(col("__w")), lit(promptTokens)).cast(LongType)
          .as("n_prompt_tokens"),
        greatest(size(col("__w")) - promptTokens, lit(0)).cast(LongType)
          .as("n_response_tokens"))
      .orderBy("doc_id")
  }

  /** SFT JSONL parse-back — the import half of [[sftExport]] and the
    * round-trip proof a training-data EXPORT needs: the rendered
    * record must parse in a FOREIGN JSON reader with the original
    * content intact (escape → unescape is identity). Consumes any
    * (doc_id, record) chat-JSONL table, returns the extracted turn
    * fields; the `corpus_sft_roundtrip` oracle re-parses the SAME
    * records with DuckDB's JSON reader — two independent parsers
    * agreeing on every byte of content IS the round-trip guarantee.
    *
    * Scale shape: `from_json` is CodegenFallback — the parse is
    * projected into its OWN column (the SCALE.md boundary discipline:
    * CollapseProject keeps non-cheap multiply-referenced expressions
    * out of the consumer projection), so each record parses ONCE for
    * its five extracted fields; everything narrow, no shuffle. */
  def sftParse(exported: DataFrame): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "messages ARRAY<STRUCT<role: STRING, content: STRING>>")
    val msgs = col("__j").getField("messages")
    exported
      .withColumn("__j", from_json(col("record"), schema))
      .select(col("doc_id"),
        element_at(msgs, 1).getField("content").as("sys_content"),
        element_at(msgs, 2).getField("role").as("user_role"),
        element_at(msgs, 2).getField("content").as("user_content"),
        element_at(msgs, 3).getField("content").as("asst_content"),
        size(msgs).cast(LongType).as("n_messages"))
      .orderBy("doc_id")
  }

  /** Masked-LM training export (BERT-style token masking, Devlin et
    * al. 2019 — public): each token position flips an independent
    * deterministic coin (u32(md5(salt:doc:pos)) under the integer
    * threshold ⌊permille·2³²/1000⌋ — the [[sampleThreshold]]
    * discipline: computed ONCE in Scala, injected into both engines);
    * masked positions render as `[MASK]` in the input and emit their
    * original token, in order, as the target sequence. Deterministic →
    * reproducible examples, re-maskable under a new salt per epoch —
    * the property a 100 TB masking pass needs for resumable export.
    * The 10%-keep/10%-random refinement of full BERT is a trivial
    * second coin on the same hash; omitted here, documented.
    *
    * Output: (doc_id, input_text, targets, n_masked, n_tokens),
    * null-text docs excluded, ordered by doc_id.
    *
    * Scale shape: ONE narrow codegen'd projection — the per-position
    * coin ARRAY is materialized once in a bound column and consumed by
    * all three outputs (input render, targets filter, mask count): one
    * md5 per token position total. Separate per-consumer coin lambdas
    * would defeat common-subexpression elimination and triple the hash
    * work — the SPARK-35410 bound-column discipline applied to the
    * coin, not just the tokens. No shuffle, no UDF; scan-speed like
    * the other export passes (CollapseProject leaves the coin
    * projection alone: the attribute is referenced three times and the
    * producing expression is non-cheap). */
  def mlmMask(documents: DataFrame, maskPermille: Int = 150,
              salt: String = "mlm"): DataFrame = {
    require(maskPermille >= 1 && maskPermille <= 1000,
      s"maskPermille in [1, 1000]: $maskPermille")
    val thr = maskPermille.toLong * 4294967296L / 1000L
    def coin(i: org.apache.spark.sql.Column) =
      conv(substring(md5(concat(lit(s"$salt:"), col("doc_id").cast("string"),
        lit(":"), i.cast("string"))), 1, 8), 16, 10).cast(LongType) < thr
    graft.util.SparkUtil.widen(documents)
      .filter(col("text").isNotNull)
      .withColumn("__w", graft.analytics.TextAnalysis.tokens(col("text")))
      .withColumn("__coins", transform(col("__w"), (_, i) => coin(i)))
      .withColumn("__zip", arrays_zip(col("__w"), col("__coins")))
      .select(col("doc_id"),
        concat_ws(" ", transform(col("__zip"),
          s => when(s.getField("__coins"), lit("[MASK]"))
            .otherwise(s.getField("__w")))).as("input_text"),
        concat_ws(" ", transform(
          filter(col("__zip"), s => s.getField("__coins")),
          s => s.getField("__w"))).as("targets"),
        size(filter(col("__coins"), c => c)).cast("long").as("n_masked"),
        size(col("__w")).cast("long").as("n_tokens"))
      .orderBy("doc_id")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    * exponential-keys / "A-ES", IPL 2006 — public): the k documents
    * with the largest key = ln(u)/w, where u is the deterministic
    * md5-coin in (0, 1] and w the row's weight — inclusion probability
    * proportional to weight, exactly the reservoir the
    * quality-weighted corpus draw needs ("sample ∝ classifier score"),
    * and reproducible run to run because u is content-derived, never
    * rand() (the repo's no-rand discipline).
    *
    * Rows with null or non-positive weight are EXCLUDED (a zero-weight
    * row has zero inclusion probability; a negative weight is a caller
    * bug surfaced by absence, and ln(u)/w would invert its ordering
    * silently). Keys compare ROUNDED to 9 dp (ln differs in the last
    * ulp across libm implementations — the rank discipline), ties by
    * doc_id.
    *
    * Output: (doc_id, weight, key) for the k winners, ordered by
    * doc_id.
    *
    * Scale shape (100 TB): scoring is one narrow projection; selection
    * is the `graft_topk` heap as a GLOBAL aggregate — map-side
    * combine, k-sized state per partition, never a corpus-wide
    * ranking window; the winner join-back is a broadcast left-semi
    * (k rows). */
  def weightedSample(documents: DataFrame, weight: org.apache.spark.sql.Column, k: Int,
                     salt: String = "ws"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val u32 = conv(substring(
      md5(concat(lit(s"$salt:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast(LongType)
    val scored = graft.util.SparkUtil.widen(documents)
      .select(col("doc_id"), weight.cast("double").as("weight"))
      .filter(col("weight").isNotNull && col("weight") > 0)
      .withColumn("key",
        round(log((u32 + 1).cast("double") / 4294967296.0d) / col("weight"), 9))
      .localCheckpoint(true) // 2 consumers: heap + winner join-back
    val winners = scored
      .agg(expr(s"graft_topk(key, doc_id, $k)").as("top"))
      .select(explode(col("top.id")).as("doc_id"))
    scored.join(broadcast(winners), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("weight"), col("key"))
      .orderBy("doc_id")
  }

  /** Temperature-scaled source mixture weights — the domain-weighting
    * step of every multi-source pretraining recipe (sample source `s`
    * with probability ∝ n_tokens(s)^α; α = 1 is natural proportions, α
    * → 0 flattens toward uniform — the public Llama/GPT-3 data-mixing
    * convention, also the baseline the DoReMi line of work starts
    * from). For a token `budget`, also reports the expected epoch
    * count over each source (budget × weight ÷ n_tokens) — the
    * repetition-rate sanity check (an epochs value ≫ 1 on a small
    * source means the temperature is over-sampling it into
    * memorization territory).
    *
    * Output: (source, n_tokens, weight 6 dp, epochs 4 dp), ordered.
    *
    * Scale shape (100 TB): ONE combinable source groupBy (map-side
    * partials, |sources| output rows) + a single-row broadcast cross
    * join for the normalizer — the [[sourceHealthReport]] panel shape;
    * the corpus is scanned exactly once. */
  def sourceMixWeights(documents: DataFrame, alpha: Double,
                       budgetTokens: Long): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1]: $alpha")
    require(budgetTokens > 0, s"budgetTokens must be positive: $budgetTokens")
    val per = graft.util.SparkUtil.widen(documents)
      .withColumn("__toks", graft.analytics.TextAnalysis.tokens(col("text")))
      .groupBy("source")
      // coalesce: a source whose every text is null must report 0
      // tokens (weight 0), not a null that poisons the normalizer
      .agg(coalesce(sum(size(col("__toks"))), lit(0L)).cast(LongType)
        .as("n_tokens"))
      // eager checkpoint: the panel feeds the normalizer AND the output
      // — without it Spark re-executes the WHOLE corpus scan for the
      // one-row total (plan-audit finding); the panel is |sources| rows
      .localCheckpoint(true)
    val w = pow(col("n_tokens").cast("double"), alpha)
    val tot = per.agg(sum(pow(col("n_tokens").cast("double"), alpha)).as("__tot"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        round(w / col("__tot"), 6).as("weight"),
        // a zero-token source (all-null texts) gets weight 0 and, by
        // convention, 0 epochs rather than a 0/0 null
        when(col("n_tokens") > 0,
          round(lit(budgetTokens.toDouble) * (w / col("__tot")) / col("n_tokens"), 4))
          .otherwise(0.0).as("epochs"))
      .orderBy("source")
  }

  /** Largest-remainder quota plan — the step AFTER [[sourceMixWeights]]
    * a sampler actually executes: apportion an integer `budgetDocs`
    * document budget across sources ∝ token volume, with Hamilton's
    * method run in PURE INTEGER arithmetic (base = ⌊B·nₛ/N⌋ via long
    * division; the B−Σbase leftover units go to the largest remainders
    * (B·nₛ) mod N, ties by source name). Quotas sum to EXACTLY the
    * budget — no float apportionment drift, no engine divergence
    * surface at all.
    *
    * Output: (source, n_tokens, quota, got_extra), ordered by source.
    *
    * Scale shape: one combinable source groupBy (the corpus scan),
    * then all arithmetic on the |sources|-row panel — the remainder
    * ranking window is panel-sized, never corpus-sized. Overflow
    * guard: B·nₛ must fit a long — require B ≤ 2⁶² / N (checked
    * against the actual total, fail loud). */
  def quotaPlan(documents: DataFrame, budgetDocs: Long): DataFrame = {
    require(budgetDocs > 0, s"budgetDocs must be positive: $budgetDocs")
    val per = graft.util.SparkUtil.widen(documents)
      .withColumn("__toks", graft.analytics.TextAnalysis.tokens(col("text")))
      .groupBy("source")
      .agg(coalesce(sum(size(col("__toks"))), lit(0L)).cast(LongType)
        .as("n_tokens"))
      // feeds the total AND the plan rows (the sourceMixWeights
      // plan-audit discipline)
      .localCheckpoint(true)
    val totRow = per.agg(coalesce(sum("n_tokens"), lit(0L))).head()
    val total = totRow.getLong(0)
    require(total > 0, "quotaPlan needs a corpus with at least one token")
    require(budgetDocs <= Long.MaxValue / 2 / total,
      s"budgetDocs * total tokens overflows a long: $budgetDocs * $total")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__rem").desc, col("source"))
    val planned = per
      .withColumn("__base", expr(s"(${budgetDocs}L * n_tokens) div ${total}L"))
      .withColumn("__rem", expr(s"(${budgetDocs}L * n_tokens) % ${total}L"))
    val baseSum = planned.agg(coalesce(sum("__base"), lit(0L))).head().getLong(0)
    val extras = budgetDocs - baseSum
    planned
      // the remainder-rank window runs over the |sources|-row panel —
      // a single-reducer window is FINE at panel grain
      .withColumn("__rk", row_number().over(w))
      .select(col("source"), col("n_tokens"),
        (col("__base") + when(col("__rk") <= extras, 1L).otherwise(0L))
          .cast(LongType).as("quota"),
        (col("__rk") <= extras).as("got_extra"))
      .orderBy("source")
  }

  /** Quantile normalization of a per-doc quality score ACROSS sources —
    * the batch-effect correction a multi-classifier curation run needs:
    * when each source's score distribution has its own scale (different
    * scorer versions, different genres), a single global threshold
    * keeps the wrong docs. Each doc's score is replaced by the CORPUS
    * distribution's value at the doc's within-source quantile —
    * distributions align exactly, per-source orderings are preserved.
    * All rank arithmetic is EXACT integers (permille = ⌈1000·r/n⌉,
    * global pick at rank ⌈pm·N/1000⌉ — the quantilesByKey ceiling
    * discipline); the normalized score is an actual data value. Null
    * text scores the −1 sentinel (the corpus_quality_strata
    * convention).
    *
    * Output: (doc_id, source, score, norm_score), ordered by doc_id.
    *
    * Scale shape (100 TB): two skew-safe [[graft.metrics.Metrics
    * .rankByKey]] passes (per-source and constant-key global), then
    * ONE equi-join of docs to the global rank table on the computed
    * target rank — rank keys spread, nothing funnels. */
  def quantileNormalize(documents: DataFrame,
                        stopwords: Seq[String]): DataFrame = {
    require(stopwords.nonEmpty, "need a stopword set for the score")
    val scored = graft.util.SparkUtil.widen(documents)
      .select(col("doc_id"), col("source"),
        stopwordQualityScore(stopwords).as("score"))
      .localCheckpoint(true) // feeds the per-source AND global ranks
    val perSource = graft.metrics.Metrics.rankByKey(scored, "source",
        Seq("score", "doc_id"))
    val global = graft.metrics.Metrics.rankByKey(
        scored.withColumn("__g", lit(0)), "__g", Seq("score", "doc_id"))
      .select(col("_rank").as("__gr"), col("score").as("norm_score"),
        col("_nk").as("__N"))
    // N as a driver literal off the checkpointed rank table (bounded:
    // one row) — a 1-row crossJoin would plan as a conditioned BNLJ
    // once the rank join's null filter pushes into it (PlanLintSpec
    // caught exactly that)
    val g = global.localCheckpoint(true)
    val nHead = g.select(col("__N")).head(1)
    require(nHead.nonEmpty,
      "quantileNormalize: empty documents input — nothing to normalize")
    val nTotal = nHead(0).getLong(0)
    perSource
      .withColumn("__target",
        expr(s"((1000 * _rank + _nk - 1) div _nk * ${nTotal}L + 999) div 1000"))
      .join(g.select(col("__gr"), col("norm_score")),
        col("__target") === col("__gr"))
      .select(col("doc_id"), col("source"), col("score"), col("norm_score"))
      .orderBy("doc_id")
  }

  /** Source-concentration Gini coefficient — the one-number answer to
    * "is this corpus a few crawls wearing twenty source labels?":
    * Gini over per-source token volumes (0 = perfectly balanced mix,
    * →1 = one source dominates), computed from the sorted-rank form
    * G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) with Σ i·xᵢ an EXACT BIGINT
    * (ranks ascending by (volume, source)) — one double expression at
    * the end, no accumulation-order surface. The datasheet companion
    * to [[sourceMixWeights]] (which fixes the imbalance this
    * measures).
    *
    * Scale shape: one combinable source groupBy; the rank window and
    * final fold run over the |sources|-row panel. */
  def sourceGini(documents: DataFrame): DataFrame = {
    val per = graft.util.SparkUtil.widen(documents)
      .withColumn("__toks", graft.analytics.TextAnalysis.tokens(col("text")))
      .groupBy("source")
      .agg(coalesce(sum(size(col("__toks"))), lit(0L)).cast(LongType)
        .as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_tokens"), col("source"))
    per.withColumn("__i", row_number().over(w).cast(LongType))
      .agg(count(lit(1)).cast(LongType).as("n_sources"),
        sum("n_tokens").as("total_tokens"),
        sum(col("__i") * col("n_tokens")).as("__s"))
      .select(col("n_sources"), col("total_tokens").cast(LongType)
          .as("total_tokens"),
        when(col("total_tokens") > 0,
          round((lit(2.0) * col("__s") -
            (col("n_sources") + 1).cast("double") * col("total_tokens")) /
            (col("n_sources").cast("double") * col("total_tokens")), 6))
          .otherwise(0.0).as("gini"))
  }

  /** Cluster-balanced diversity sampling — up to `quota` vectors per
    * unsupervised k-means cell, the cluster-then-sample curation pass
    * (prototype selection; the coverage complement of
    * [[graft.analytics.Dedup.semanticDedup]]): uniform sampling
    * oversamples dense regions of embedding space, per-cell quotas
    * cover it. Within a cell the winners are the `quota` smallest
    * u32(md5(salt:vec_id)) — the repo's deterministic-coin sampling
    * discipline (no `rand()`), through the same `graft_topk` heap as
    * [[exactSamplePerSource]] (map-side combine sends ≤quota rows per
    * cell per partition; a ranking window would funnel the corpus
    * through ≤k reducers). Cell assignment is the broadcast-join
    * argmax ([[graft.analytics.Similarity.assignCellsByJoin]]) — no
    * driver-side centroid matrix at any k.
    * Output: (vec_id, cell, n_cell), ordered by vec_id. */
  def clusterBalancedSample(embeddings: DataFrame, k: Int, quota: Int,
                            rounds: Int = 3, salt: String = "cbs"): DataFrame =
    clusterBalancedSampleFromCentroids(embeddings,
      graft.analytics.Similarity.kmeansCentroids(embeddings, k, rounds),
      quota, salt)

  /** [[clusterBalancedSample]] over an EXISTING centroid table (from
    * [[graft.analytics.Similarity.writeCentroids]] read-back, or any
    * clustering): the train-once-sample-many path — re-sampling with a
    * new quota or salt (fresh audit sets every release) re-pays only
    * the assignment scan, never the k-means rounds. */
  def clusterBalancedSampleFromCentroids(embeddings: DataFrame,
                                         cents: DataFrame, quota: Int,
                                         salt: String = "cbs"): DataFrame = {
    require(quota > 0, s"quota must be positive: $quota")
    import graft.analytics.Similarity
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val corpus = graft.util.SparkUtil.widen(embeddings)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("vec"))
    // eager checkpoint: the centroid broadcast-join argmax feeds BOTH
    // cellSizes and the graft_topk aggregate — the winnowPairs
    // single-pass discipline (2 consumers, one execution)
    val assigned = Similarity.assignCellsByJoin(corpus, cents)
      .select(col("vec_id"), col("cell"))
      .localCheckpoint(true)
    val cellSizes = assigned.groupBy("cell")
      .agg(count(lit(1)).cast(LongType).as("n_cell"))
    val u32 = conv(substring(
      md5(concat(lit(s"$salt:"), col("vec_id").cast("string"))), 1, 8), 16, 10)
      .cast(LongType)
    assigned
      .select(col("cell"), col("vec_id"), (-u32).cast("double").as("neg"))
      .groupBy("cell")
      .agg(expr(s"graft_topk(neg, vec_id, $quota)").as("top"))
      .select(col("cell"), explode(col("top.id")).as("vec_id"))
      .join(cellSizes, Seq("cell"))
      .select(col("vec_id"), col("cell"), col("n_cell"))
      .orderBy("vec_id")
  }

  /** Packing-efficiency report — the training-export audit over
    * [[packSequences]]'s chunked-concatenation layout: per source, the
    * sequence count at `seqLen`, the fill rate (1 − tail-padding
    * waste: chunked concatenation only pads the LAST sequence per
    * source), and the document fragmentation rate (docs split across a
    * sequence boundary — fragments lose cross-boundary attention, the
    * packing-quality trade every data team monitors). Output: (source,
    * n_docs, n_tokens, n_seqs, fill_rate 4 dp, n_split_docs,
    * split_rate 4 dp), ordered.
    *
    * Scale shape: [[packSequences]]'s one running-sum pass + ONE
    * combinable source groupBy — |sources| output rows. */
  def packingStats(documents: DataFrame, seqLen: Long,
                   skewSafe: Option[Boolean] = None): DataFrame =
    packSequences(documents, seqLen, skewSafe)
      .groupBy("source")
      .agg(
        count(lit(1)).cast(LongType).as("n_docs"),
        sum("n_tokens").cast(LongType).as("n_tokens"),
        (max(col("last_seq")) + 1).cast(LongType).as("n_seqs"),
        sum(when(col("first_seq") =!= col("last_seq"), 1L).otherwise(0L))
          .cast(LongType).as("n_split_docs"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_seqs"),
        round(col("n_tokens").cast("double") / (col("n_seqs") * seqLen), 4)
          .as("fill_rate"),
        col("n_split_docs"),
        round(col("n_split_docs").cast("double") / col("n_docs"), 4)
          .as("split_rate"))
      .orderBy("source")

  /** Benchmark decontamination — drop training documents sharing any
    * word k-shingle with an evaluation set (the n-gram-overlap
    * decontamination every serious pretraining corpus runs; k=3 here
    * matches the dedup shingle scheme, real recipes use 8–13-gram).
    *
    * Scale shape: the eval side is benchmark-sized (≤ millions of
    * grams) — distinct once, then the semi-join on `gram` broadcasts
    * it; the training side is one narrow explode, never materialized
    * beyond the join. A doc with no shingles (< k words) cannot overlap
    * and passes through the anti-join untouched.
    *
    * NOTE: the broadcast gate runs one EAGER Spark job over `evalDocs`
    * at DataFrame-construction time (a narrow length/count aggregate —
    * eval-set-sized, not corpus-sized). Callers with an expensive
    * eval-side plan should cache `evalDocs` or pass a pre-computed
    * decision via `broadcastBytesThreshold` (0 forces the shuffle
    * join; `Long.MaxValue` forces the broadcast). */
  /** The distinct eval-side k-shingle set, size-gate-broadcast —
    * shared by [[decontaminate]] and [[contaminationScore]] so the
    * estimate's padding constants and the gate live in ONE place. The
    * gate is one EAGER narrow eval-side agg (see the caller docs):
    * gram payload ≤ k × eval text bytes (each word lands in ≤ k
    * shingles; distinct only shrinks it), padded ×2 for chars→UTF-8
    * bytes plus a per-doc constant for per-gram broadcast overhead
    * (UnsafeRow headers dominate when grams are many and short). A
    * forced hint above the threshold would OOM the driver — past it
    * the join runs as a plain shuffle instead. */
  private def gatedEvalGrams(evalDocs: DataFrame, k: Int,
                             broadcastBytesThreshold: Long): DataFrame = {
    val evalGrams = evalDocs
      .withColumn("__words", split(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+"))
      .select(explode(Dedup.shinglesFromWords(col("__words"), k)).as("gram"))
      .distinct()
    val estBytes = evalDocs.agg(sum(length(col("text"))), count(lit(1))).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0) * k * 2 + r.getLong(1) * 64
    }
    if (estBytes <= broadcastBytesThreshold) broadcast(evalGrams) else evalGrams
  }

  def decontaminate(documents: DataFrame, evalDocs: DataFrame,
                    k: Int = 3,
                    broadcastBytesThreshold: Long = 64L << 20): DataFrame = {
    val gated = gatedEvalGrams(evalDocs, k, broadcastBytesThreshold)
    val contaminated = graft.util.SparkUtil.widen(documents)
      .withColumn("__words", split(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+"))
      .select(col("doc_id"),
        explode(Dedup.shinglesFromWords(col("__words"), k)).as("gram"))
      .join(gated, Seq("gram"), "left_semi")
      .select("doc_id").distinct()
    documents.join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** k-anonymity release audit — quasi-identifier combinations whose
    * group size falls below `k` (the re-identification screen a
    * dataset RELEASE runs after [[graft.analytics.Cleaning.redactPii]]
    * scrubs direct identifiers: a (lang, source)-unique document is
    * linkable even with every email removed). Reports EVERY
    * combination with its size and an `at_risk` flag — the release
    * decision (drop / generalize / suppress) belongs to the caller.
    * Output: (quasiCols..., n, at_risk), ordered by the quasi columns.
    *
    * Scale shape: one map-side-combinable groupBy on the quasi
    * columns; output is combination-count-sized, not corpus-sized. */
  def kAnonymityAudit(df: DataFrame, quasiCols: Seq[String],
                      k: Long = 10): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 1, s"k must be >= 1: $k")
    graft.util.SparkUtil.widen(df)
      .groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("at_risk", col("n") < k)
      .orderBy(quasiCols.map(col): _*)
  }

  /** Laplace noisy-count release — the differential-privacy-mechanics
    * capstone of the release screens ([[kAnonymityAudit]] /
    * [[lDiversityAudit]] / [[tClosenessAudit]] AUDIT a release; this
    * one PRODUCES the release): per group, count + Laplace(1/ε) noise
    * (count queries have sensitivity 1), clamped at 0 and floored to
    * an integer — the noisy histogram a data card publishes instead of
    * exact counts.
    *
    * Noise is DETERMINISTIC by design: u ∈ (0,1) from the md5 coin
    * over (seed, group key) — components are individually md5'd before
    * joining so no value can inject the delimiter and alias another
    * group's coin — 48 bits, the (k+0.5)/2⁴⁸ offset keeps u
    * off 0/½/1 so the inverse CDF never hits ln(0) — then the Laplace
    * inverse CDF −b·sign(u−½)·ln(1−2|u−½|), identical expression
    * order in both engines. TRUE ε-DP requires fresh randomness per
    * release; the seeded coin is the REPRODUCIBLE-release variant
    * (one fixed release per seed is auditable and re-derivable — and
    * re-releasing under many seeds spends ε each time, exactly as the
    * real mechanism would; the scaladoc states this honestly rather
    * than claiming DP). Floor, not round, for the integer release —
    * half-up vs half-even rounding diverges across engines on exact
    * .5 noise.
    *
    * Output: (groupCols..., n_noisy BIGINT ≥ 0), ordered by the group
    * columns — the TRUE count never appears in the output.
    *
    * Scale shape: one combinable groupBy + a narrow md5 projection at
    * group grain; output is group-count-sized. */
  def dpNoisyCountRelease(df: DataFrame, groupCols: Seq[String],
                          epsilon: Double = 1.0,
                          seed: String = "dp"): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(epsilon > 0, s"epsilon must be positive: $epsilon")
    noisyCountTail(graft.util.SparkUtil.widen(df), groupCols,
      b = 1.0 / epsilon, seed = seed)
  }

  /** The shared release tail of [[dpNoisyCountRelease]] and
    * [[dpNoisyCountReleaseUser]]: seeded md5-coin Laplace(b) noise on
    * per-group counts, floored and clamped at 0. The coin/injection
    * subtleties live ONCE here:
    *  - each key component is md5'd BEFORE joining — fixed-width hex
    *    can't contain the delimiter, so ("a", "1:b") and ("a:1", "b")
    *    can never serialize to one key (delimiter injection — the
    *    collision a raw concat_ws invites); null rides as an explicit
    *    presence flag (any sentinel STRING could collide with a real
    *    value);
    *  - u ∈ (0,1) as (k+0.5)/2⁴⁸ — off 0/½/1 so the inverse CDF never
    *    hits ln(0);
    *  - FLOOR, never round (half-up vs half-even diverges across
    *    engines on exact .5 noise). */
  private def noisyCountTail(rows: DataFrame, groupCols: Seq[String],
                             b: Double, seed: String): DataFrame = {
    val keyStr = concat_ws(":", lit(seed) +: groupCols.flatMap(c => Seq(
      when(col(c).isNull, lit("0")).otherwise(lit("1")),
      md5(coalesce(col(c).cast("string"), lit(""))))): _*)
    val u = (conv(substring(md5(keyStr), 1, 12), 16, 10).cast("long")
      .cast("double") + lit(0.5)) / lit(281474976710656.0) // 2^48
    val noise = lit(-b) * signum(u - lit(0.5)) *
      log(lit(1.0) - lit(2.0) * abs(u - lit(0.5)))
    rows
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).cast("long").as("__n"))
      .withColumn("n_noisy",
        greatest(lit(0L), col("__n") + floor(noise).cast("long")))
      .select(groupCols.map(col) :+ col("n_noisy"): _*)
      .orderBy(groupCols.map(col): _*)
  }

  /** USER-level Laplace noisy-count release — [[dpNoisyCountRelease]]
    * protects ROWS; real releases protect PEOPLE, and one user can
    * contribute many rows (removing them shifts a cell by their whole
    * row count, so row-level noise under-protects them exactly that
    * much). This variant first CLAMPS each user's contribution to the
    * `maxPerUser` deterministically-first rows (row_number over
    * (`userCol` order by `orderCol`) — a stable unique order makes the
    * clamp reproducible), then releases per-group noisy counts at
    * scale b = maxPerUser/ε: after clamping, adding or removing one
    * user changes the histogram's L1 by at most `maxPerUser`, so that
    * is the (ε, user-level) sensitivity contract. Rows with a NULL
    * user identify nobody — the privacy unit is undefined — and are
    * EXCLUDED from the release (never smuggled in noise-free).
    *
    * Same reproducible-seed caveat as the row-level release: the md5
    * coin makes ONE auditable release per seed; fresh randomness per
    * release is what true ε-DP spends. Same floor/clamp/injection
    * discipline (components md5'd before joining; floor, never round).
    *
    * Output: (groupCols..., n_noisy BIGINT ≥ 0), ordered by the group
    * columns — neither the true nor the clamped count appears.
    *
    * Scale shape: the clamp is one window over the HIGH-cardinality
    * user key (partitions ∝ users — never a low-card funnel), then the
    * row-level release's combinable groupBy + narrow md5 projection. */
  def dpNoisyCountReleaseUser(df: DataFrame, groupCols: Seq[String],
                              userCol: String, orderCol: String,
                              maxPerUser: Int = 3, epsilon: Double = 1.0,
                              seed: String = "dpu"): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    require(!groupCols.contains(userCol) && !groupCols.contains(orderCol),
      s"user/order columns cannot be group columns: $userCol, $orderCol")
    require(maxPerUser >= 1, s"maxPerUser must be >= 1: $maxPerUser")
    require(epsilon > 0, s"epsilon must be positive: $epsilon")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(orderCol))
    val capped = graft.util.SparkUtil.widen(df)
      .filter(col(userCol).isNotNull)
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") <= maxPerUser)
    noisyCountTail(capped, groupCols, b = maxPerUser / epsilon, seed = seed)
  }

  /** l-diversity audit — [[kAnonymityAudit]]'s stronger sibling: a
    * quasi-identifier group can be k-large yet still leak when every
    * member shares ONE sensitive value (the homogeneity attack
    * k-anonymity misses). Per quasi group: size, DISTINCT sensitive
    * values, and `at_risk` when diversity < l.
    *
    * Scale shape: one combinable groupBy on the quasi key; the
    * distinct-count state is bounded by the sensitive domain per
    * group (for a skewed quasi key, salt the distinct as in
    * [[graft.metrics.Metrics.saltedDistinctUsers]]). */
  def lDiversityAudit(df: DataFrame, quasiCols: Seq[String],
                      sensitiveCol: String, l: Long = 5): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(!quasiCols.contains(sensitiveCol),
      s"sensitive column $sensitiveCol cannot be a quasi-identifier")
    require(l >= 1, s"l must be >= 1: $l")
    graft.util.SparkUtil.widen(df)
      .groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(col(sensitiveCol)).as("n_sensitive"))
      .withColumn("at_risk", col("n_sensitive") < l)
      .orderBy(quasiCols.map(col): _*)
  }

  /** t-closeness audit — the distribution-skew screen completing the
    * k-anonymity / l-diversity trio: a quasi group can be k-large AND
    * l-diverse yet still leak when its sensitive-value DISTRIBUTION
    * diverges from the corpus (the skewness attack — "90% of this
    * group's docs are in the one rare language"). Per quasi group:
    * total-variation distance between the group's sensitive
    * distribution and the global one,
    * TV = ½ Σ_v |p_group(v) − p_global(v)|, computed SPARSELY — values
    * absent from a group enter in closed form as the uncovered global
    * mass (Σ_{v∉group} p_global = 1 − covered), the
    * [[graft.analytics.TextAnalysis]] JS-divergence trick — so no
    * dense group × domain grid at any domain size.
    *
    * All mass arithmetic runs on EXACT integers over the common
    * denominator n_group·N: TV = (Σ_v |c_v·N − g_v·n_group|
    * + (N − covered)·n_group) / (2·n_group·N) — ONE float division at
    * the end, IEEE-identical on both engines. The products run in
    * DECIMAL(38,0): each c_v·N fits for ANY BIGINT counts (≤ 8.5·10³⁷
    * where a BIGINT product overflows near ~3·10⁹ rows per side;
    * DuckDB's hugeint-backed arithmetic is exact the same way). The
    * per-group SUM of |c·N − g·ng| is bounded by 2·ng·N, which itself
    * clears 10³⁸ only when BOTH factors approach long-max (~5·10¹⁸
    * rows per side — beyond any corpus); if ever reached, ANSI mode
    * fails loud on the decimal sum, never silently wraps.
    *
    * Output: (quasiCols..., n [rows with non-null sensitive], tv 4 dp,
    * at_risk = ROUNDED tv > t), ordered by the quasi columns. Rows
    * with a null sensitive value are excluded from both distributions
    * (null identifies no sensitive category); a group with only null
    * sensitive rows is absent. Null quasi keys are real groups.
    *
    * Scale shape: one combinable groupBy at (quasi × sensitive) cell
    * grain, a broadcast join against the sensitive-domain-sized global
    * table, and panel-grain window/group sums — event grain is left
    * behind at the first aggregate. */
  def tClosenessAudit(df: DataFrame, quasiCols: Seq[String],
                      sensitiveCol: String, t: Double = 0.2): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(!quasiCols.contains(sensitiveCol),
      s"sensitive column $sensitiveCol cannot be a quasi-identifier")
    require(t > 0 && t < 1, s"t must be in (0,1): $t")
    val base = graft.util.SparkUtil.widen(df)
      .filter(col(sensitiveCol).isNotNull)
      .select((quasiCols :+ sensitiveCol).map(col): _*)
    val cells = base
      .groupBy((quasiCols.map(col) :+ col(sensitiveCol)): _*)
      .agg(count(lit(1)).cast("long").as("__c"))
    tClosenessFromCells(cells, quasiCols, sensitiveCol, t)
  }

  /** TV arithmetic over pre-counted (quasi × sensitive, __c BIGINT)
    * cells — split from [[tClosenessAudit]] so the near-BIGINT-overflow
    * products can be exercised with forged counts (a spec can't forge
    * 3·10⁹ input rows, but it can forge a cell with __c = 4·10¹⁸).
    * The global marginals derive FROM the cells (one fewer base scan
    * than counting them independently — same values by construction). */
  private[graft] def tClosenessFromCells(cells: DataFrame,
                                         quasiCols: Seq[String],
                                         sensitiveCol: String,
                                         t: Double): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val glob = cells.groupBy(col(sensitiveCol).as("__v"))
      .agg(sum("__c").cast("long").as("__g"))
      .withColumn("__N", sum("__g")
        .over(org.apache.spark.sql.expressions.Window.partitionBy()))
    val withTotals = cells
      .withColumn("__ng",
        sum("__c").over(org.apache.spark.sql.expressions.Window
          .partitionBy(quasiCols.map(col): _*)))
      .join(broadcast(glob), col(sensitiveCol) === col("__v"))
    withTotals.groupBy(quasiCols.map(col): _*)
      .agg(max("__ng").as("__ngF"), max("__N").as("__NF"),
        // c·N and g·ng overflow BIGINT near ~3·10⁹ rows per side;
        // DECIMAL(38,0) holds each long×long product exactly (≤ 8.5·10³⁷;
        // the group SUM could only clear 10³⁸ at ~5·10¹⁸ rows per side,
        // where ANSI fails loud — see the scaladoc bound)
        sum(abs(dec(col("__c")) * dec(col("__N"))
          - dec(col("__g")) * dec(col("__ng"))))
          .cast("decimal(38,0)").as("__num"),
        sum("__g").cast("long").as("__cov"))
      .withColumn("tv", round(
        (col("__num") + dec(col("__NF") - col("__cov")) * dec(col("__ngF")))
          .cast("double")
          / (lit(2.0) * col("__ngF").cast("double")
            * col("__NF").cast("double")), 4))
      .select(quasiCols.map(col) ++ Seq(
        col("__ngF").cast("long").as("n"), col("tv"),
        (col("tv") > t).as("at_risk")): _*)
      .orderBy(quasiCols.map(col): _*)
  }

  /** Corpus snapshot diff — the data-versioning report between two
    * corpus snapshots: per doc_id, `added` (new only), `removed` (old
    * only) or `changed` (both, different text md5); unchanged docs are
    * FILTERED (the delta is the deliverable — at corpus scale the
    * unchanged set is the corpus). The audit a pipeline runs between
    * ingest rounds before re-running expensive downstream stages on an
    * "unchanged" corpus that actually drifted. Output: (doc_id,
    * status, old_md5, new_md5), ordered by doc_id.
    *
    * Scale shape (100 TB): both sides reduce to (doc_id, 32-byte md5)
    * at scan time — the full-outer join shuffles hashes, never text;
    * one doc_id-keyed exchange per side, nothing funnels. */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    // presence rides as an explicit flag, NOT md5 nullability: a doc
    // whose text is NULL is still PRESENT (md5(NULL) is NULL — status
    // inferred from the hash would call an x→NULL edit "removed");
    // the null-safe <=> compare then treats NULL→NULL as unchanged
    val o = graft.util.SparkUtil.widen(oldDocs)
      .select(col("doc_id"), md5(col("text")).as("old_md5"),
        lit(true).as("in_old"))
    val n = graft.util.SparkUtil.widen(newDocs)
      .select(col("doc_id"), md5(col("text")).as("new_md5"),
        lit(true).as("in_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("in_old").isNull, "added")
          .when(col("in_new").isNull, "removed")
          .when(!(col("old_md5") <=> col("new_md5")), "changed")
          .otherwise("unchanged"))
      .filter(col("status") =!= "unchanged")
      .select("doc_id", "status", "old_md5", "new_md5")
      .orderBy("doc_id")
  }

  /** Contamination SCORING — per-document fraction of distinct word
    * k-shingles that appear in the evaluation set. [[decontaminate]]
    * makes the binary drop decision; this one produces the overlap
    * report a corpus build reads BEFORE choosing a threshold (most
    * real recipes drop at partial-overlap cutoffs, not any-overlap,
    * and audit the distribution first). Output: (doc_id, n_grams,
    * n_hit, contamination) over ALL training docs — a doc with < k
    * words has zero shingles and scores 0.0 (it cannot be
    * contaminated), rounded 4 dp, ordered by doc_id.
    *
    * Scale shape: same as [[decontaminate]] — eval grams distinct once
    * and size-gate-broadcast (same eager-estimate caveat); the
    * training side is one narrow explode of per-doc DISTINCT grams, a
    * hit-indicator left join, and one map-side-combinable groupBy on
    * doc_id. Nothing funnels; the join degrades to a plain shuffle
    * above the broadcast threshold. */
  def contaminationScore(documents: DataFrame, evalDocs: DataFrame,
                         k: Int = 3,
                         broadcastBytesThreshold: Long = 64L << 20): DataFrame = {
    val gated = gatedEvalGrams(evalDocs, k, broadcastBytesThreshold)
      .withColumn("hit", lit(1L))
    val perDoc = graft.util.SparkUtil.widen(documents)
      .withColumn("__words", split(trim(col("text")), "[ \\t\\n\\x0B\\f\\r]+"))
      .select(col("doc_id"),
        explode(array_distinct(Dedup.shinglesFromWords(col("__words"), k))).as("gram"))
      .join(gated, Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
    documents.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(when(coalesce(col("n_grams"), lit(0L)) === 0, 0.0)
          .otherwise(col("n_hit").cast("double") / col("n_grams")), 4)
          .as("contamination"))
      .orderBy("doc_id")
  }

  /** Domain-mixture sampling — hit target per-source proportions of an
    * `outTotal`-document training mix. For each targeted source the
    * keep-threshold is `want_s × 2³² ÷ n_s` (capped at 2³²) where
    * `want_s = permille_s × outTotal ÷ 1000`; the same deterministic
    * u32(md5) coin as [[stratifiedSample]] decides membership, so the
    * realized counts are expected-value-correct (hash sampling, not
    * exact-k). ALL arithmetic is floor-division over integers — the
    * one form both engines (and any rerun) reproduce bit-exactly;
    * a float `rate` here would make the oracle flap on ulp boundaries.
    * Sources not in `targetsPermille` are dropped (weight 0). The
    * source-count aggregate is tiny (|sources| rows, broadcast back);
    * everything else is a narrow filter. */
  def mixtureSample(documents: DataFrame, targetsPermille: Map[String, Long],
                    outTotal: Long, salt: String): DataFrame = {
    require(targetsPermille.values.forall(v => v >= 0 && v <= 1000),
      s"permille weights in [0,1000]: $targetsPermille")
    // the radix-split threshold below is exact for want < 2^47 and
    // n_src < 2^47 (~1.4e14 docs) — far past any plausible corpus, but
    // fail at the door rather than mid-job under ANSI overflow
    require(outTotal < (1L << 47),
      s"outTotal must be < 2^47 (radix-split threshold bound): $outTotal")
    val spark = documents.sparkSession
    import spark.implicits._
    val targets = targetsPermille.toSeq.sortBy(_._1).toDF("source", "permille")
    // thr = floor(want × 2³² / n_src) capped at 2³², computed WITHOUT
    // the want×2³² product (which overflows Long once want ≥ 2³¹ —
    // billion-doc targets are in-scope at 100 TB). want ≥ n_src caps to
    // 2³² outright; otherwise split the ×2³² into two ×2¹⁶ steps:
    // want×2¹⁶ = q₁·n + r₁  ⇒  floor(want·2³²/n) = q₁·2¹⁶ +
    // floor(r₁·2¹⁶/n), every intermediate < 2⁶³ for the bound above.
    val thresholds = documents.groupBy("source").agg(count(lit(1)).as("n_src"))
      .join(targets, Seq("source"))
      .select(col("source"),
        expr(s"(permille * $outTotal) div 1000").as("want"), col("n_src"))
      .select(col("source"),
        when(col("want") >= col("n_src"), lit(4294967296L))
          .otherwise(expr("((want * 65536) div n_src) * 65536" +
            " + (((want * 65536) % n_src) * 65536) div n_src"))
          .as("thr"))
    val u32 = conv(substring(
      md5(concat(lit(s"$salt:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast(LongType)
    documents.join(broadcast(thresholds), Seq("source"))
      .filter(u32 < col("thr"))
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  /** Per-source running token totals in doc_id order — the shared core
    * of [[packSequences]] and [[tokenBudget]] — with every stage P-way
    * parallel: the [[graft.metrics.Metrics.percentRankByKey]]
    * range-partition + offset machinery applied to a cumulative sum.
    * A plain `Window.partitionBy(source)` walks each source through ONE
    * reducer — correct while sources are many and balanced, but a
    * single-dominant-source corpus (the documented pathology) funnels
    * ~everything through one task. Here:
    *
    *  1. range-partition + implicit local sort on (source, doc_id) —
    *     each of P partitions holds a contiguous slice;
    *  2. per-(partition, source) token sums — tiny aggregate;
    *  3. per-source running offsets over that tiny table;
    *  4. local cumulative sum within (partition, source) + broadcast
    *     offset = the global running total.
    *
    * `skewSafe = Some(false)` keeps the one-window-per-source plan —
    * retained as the executable specification (spec-asserted equal in
    * AnalyticsSpec "cumulativeTokens skew-safe plan equals the window
    * plan") and the right choice when no source dominates. The
    * skew-safe plan evaluates the tokenize projection twice (the range
    * boundary sample pass reads the child too) — bounded 2× scan CPU
    * traded for never serializing a dominant source through one
    * reducer.
    *
    * `skewSafe = None` (the default) AUTO-SELECTS via
    * [[dominanceProbe]] — one EAGER narrow job (no shuffle beyond the
    * house widen round-robin on few-file inputs) with O(k)
    * state at DataFrame-construction time (no shuffle; a per-source
    * count aggregate would be corpus-cardinality-sized): the skew-safe
    * plan is chosen only when one source holds ≥ half the corpus (the
    * documented single-dominant-source pathology; the probe has no
    * false negatives there and errs toward skew-safe on borderline
    * corpora); balanced many-source corpora keep the cheaper
    * single-scan window plan and pay ONLY the probe.
    *
    * The per-source offsets table the skew-safe plan joins back is
    * ≤ (P + |sources|) rows — and SOURCE CARDINALITY GROWS WITH THE
    * CORPUS (a web corpus has per-domain sources), so the broadcast is
    * size-gated on that bound: past `OffsetsBroadcastMaxRows` (2^20) it
    * becomes a plain shuffle join, which is nearly free here — the
    * downstream per-(partition, source) window needs a hash exchange
    * on the same keys anyway, so only the tiny offsets side pays. */
  /** Bounded-state source-dominance probe — ONE narrow shuffle-free
    * job, O(k) memory per task and on the driver (source cardinality
    * grows with the corpus, so a per-source count aggregate or hash
    * map would not fly at 100 TB). Each partition keeps a
    * Misra-Gries(k) heavy-hitter sketch of the `source` column;
    * partials merge by counter addition + the same trim (the sketch is
    * mergeable). Guarantee: a source with true count f retains a
    * counter ≥ f − total/(k+1), so a ≥½-dominant source ALWAYS
    * satisfies (counter + total/(k+1))·2 ≥ total — no false
    * negatives; corpora whose max share sits within 2/(k+1) of ½ may
    * probe as dominant, erring toward the skew-safe plan. Both
    * candidate plans are correct — the probe only picks the faster
    * one. Returns (maxCounter, slack = total/(k+1), total). */
  /** Misra-Gries counter merge + trim, shared by [[dominanceProbe]]
    * and [[TextAnalysis.frequentTokens]]. LOOP the min-decrement: one
    * pass removes as few as 1 entry, and merged partials arrive up to
    * 2k wide — a single trim would let the root sketch grow O(P·k).
    * Each round decrements ≥ k+1 counters by δ, so total decrement
    * mass stays ≤ total/(k+1) and the heavy-hitter bound (a counter
    * survives ≥ f − total/(k+1)) is preserved — the sketch is
    * MERGEABLE (Agarwal et al., "Mergeable Summaries", public). */
  private[graft] def mgAddAll(k: Int)(
      a: scala.collection.mutable.HashMap[String, Long],
      b: IterableOnce[(String, Long)])
      : scala.collection.mutable.HashMap[String, Long] = {
    b.iterator.foreach { case (s, c) => a.update(s, a.getOrElse(s, 0L) + c) }
    while (a.size > k) {
      val dec = a.values.min
      val kept = a.toSeq.collect { case (s, c) if c > dec => (s, c - dec) }
      a.clear(); a ++= kept
    }
    a
  }

  /** One narrow shuffle-free Misra-Gries(k) pass over a single string
    * column: per-partition sketches merged by [[mgAddAll]] via
    * treeAggregate. Returns (sketch, total rows). EAGER — runs a job
    * at call time. */
  private[analytics] def mgSketch(values: DataFrame, k: Int)
      : (scala.collection.mutable.HashMap[String, Long], Long) = {
    import org.apache.spark.sql.Encoders
    import scala.collection.mutable
    val add = mgAddAll(k) _
    graft.util.SparkUtil.widen(values)
      .as(Encoders.STRING).rdd
      .mapPartitions { it =>
        val m = mutable.HashMap.empty[String, Long]
        var t = 0L
        it.foreach { s => t += 1; add(m, Iterator.single(s -> 1L)) }
        Iterator.single((m, t))
      }
      .treeAggregate((mutable.HashMap.empty[String, Long], 0L))(
        { case ((a, ta), (b, tb)) => (add(a, b), ta + tb) },
        { case ((a, ta), (b, tb)) => (add(a, b), ta + tb) })
  }

  private[analytics] def dominanceProbe(documents: DataFrame,
                                        k: Int = 8): (Long, Long, Long) = {
    val (sketch, total) =
      mgSketch(documents.select(col("source").cast("string")), k)
    (if (sketch.isEmpty) 0L else sketch.values.max, total / (k + 1), total)
  }

  /** Dominance decisions memoized by the input's analyzed-plan
    * semantic hash — [[tokenBudget]] and [[packSequences]] over the
    * SAME corpus probe once, not once per operator (and re-planning
    * the same frame, e.g. a benchmark's repeat runs, is free). Bounded
    * (cleared past 256 entries); a stale entry — same plan, data
    * changed underneath — can only mis-pick between two CORRECT plans,
    * the probe's existing borderline behavior. */
  private[analytics] val probeMemo =
    new java.util.concurrent.ConcurrentHashMap[Integer, java.lang.Boolean]()

  private val OffsetsBroadcastMaxRows = 1L << 20

  def cumulativeTokens(documents: DataFrame,
                       skewSafe: Option[Boolean] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = graft.util.SparkUtil.widen(documents)
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast(LongType).as("n_tokens"))
    // |sources| for the offsets broadcast row gate — forced ONLY when
    // the skew-safe plan is actually taken (it is a shuffle aggregate;
    // the common balanced-corpus path must never pay it)
    lazy val sourceCount: Long = {
      val r = documents.agg(countDistinct(col("source"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val useSkewSafe = skewSafe.getOrElse {
      val key = Integer.valueOf(documents.queryExecution.analyzed.semanticHash())
      Option(probeMemo.get(key)).map(_.booleanValue()).getOrElse {
        val (mgMax, slack, total) = dominanceProbe(documents)
        val dec = total > 0 && (mgMax + slack) * 2 >= total
        if (probeMemo.size > 256) probeMemo.clear()
        probeMemo.put(key, dec)
        dec
      }
    }
    if (!useSkewSafe) {
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      toks.withColumn("cum_tokens", sum("n_tokens").over(w))
    } else {
      // same contract as percentRankByKey: offsets and rows must see
      // the SAME sampled range boundaries — refuse at plan time if the
      // exchange cannot be reused
      require(documents.sparkSession.sessionState.conf.exchangeReuseEnabled,
        "cumulativeTokens requires spark.sql.exchange.reuse=true: the row and " +
          "offset stages must observe the same sampled range boundaries")
      val p = documents.sparkSession.sessionState.conf.numShufflePartitions
      // EAGER MATERIALIZATION — same load-bearing fix as
      // Metrics.rankByKey (round-9 AQE incident): ReuseExchange shares
      // the exchange WRITE but the coalesced-READ spec is decided per
      // consumer stage — the offsets aggregate and the join side can
      // legally observe DIFFERENT merged partition maps of the same
      // shuffle, so _pid diverges and cum_tokens goes silently wrong
      // (Verify/drive write through coalesce(1), which is exactly the
      // plan shape that triggered it). Checkpointing the pid-stamped
      // table pins ONE partition map for every consumer.
      val withPid = toks.repartitionByRange(p, col("source"), col("doc_id"))
        .withColumn("_pid", spark_partition_id())
        .localCheckpoint(true)
      val wOff = Window.partitionBy("source").orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = withPid.groupBy(col("_pid"), col("source"))
        .agg(sum("n_tokens").as("_ptoks"))
        .withColumn("_offset", coalesce(sum("_ptoks").over(wOff), lit(0L)))
        .drop("_ptoks")
        // null-safe key join below: PARTITION BY groups null sources
        .withColumnRenamed("source", "_k").withColumnRenamed("_pid", "_opid")
      val wLocal = Window.partitionBy(col("_pid"), col("source")).orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val gatedOffsets =
        if (sourceCount + p <= OffsetsBroadcastMaxRows) broadcast(offsets)
        else offsets
      withPid.join(gatedOffsets,
          col("_pid") === col("_opid") && col("source") <=> col("_k"))
        .withColumn("cum_tokens", sum("n_tokens").over(wLocal) + col("_offset"))
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    }
  }

  /** Sequence packing — chunked concatenation: per source, documents
    * concatenate in doc_id order and the token stream splits into
    * fixed-`seqLen` training sequences, documents spanning boundaries
    * (the GPT-style pretraining packing; no padding waste, no bin-
    * packing search). Emits each doc's span: first/last sequence index
    * and its token offset within the first sequence — exactly what a
    * downstream tokenize-and-emit stage needs to materialize sequence
    * shards in parallel. Running totals via [[cumulativeTokens]]
    * (plan auto-selected from source-dominance stats by default). */
  def packSequences(documents: DataFrame, seqLen: Long,
                    skewSafe: Option[Boolean] = None): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive: $seqLen")
    cumulativeTokens(documents, skewSafe)
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr(s"(cum_tokens - n_tokens) div $seqLen").as("first_seq"),
        expr(s"(cum_tokens - 1) div $seqLen").as("last_seq"),
        expr(s"(cum_tokens - n_tokens) % $seqLen").as("seq_offset"))
      .orderBy("doc_id")
  }

  /** Per-source token budgeting: walk each source's docs in doc_id
    * order, keep documents while the running token total stays within
    * `budget` — the "N tokens per domain" cap of a data-mixing recipe.
    * Running totals via [[cumulativeTokens]] — when a single source
    * dominates, the auto-selected skew-safe plan keeps it from
    * funnelling through one reducer. */
  def tokenBudget(documents: DataFrame, budget: Long,
                  skewSafe: Option[Boolean] = None): DataFrame =
    cumulativeTokens(documents, skewSafe)
      .filter(col("cum_tokens") <= budget)
      .orderBy("doc_id")

  /** Curriculum staging: bucket the corpus into `nStages` equal slices
    * of the GLOBAL `score` order — the "train on easy documents first"
    * export (score = length, quality, perplexity…; stage 0 holds the
    * lowest-scored 1/nStages). stage = floor((rank−1)·nStages / N)
    * over the total order (score, doc_id) — deterministic, and exact:
    * every intermediate fits a double (< 2⁵³) and exact-integer
    * boundaries divide exactly, so the floor cannot straddle an ulp.
    *
    * Scale shape (100 TB): a GLOBAL rank is the classic funnel trap
    * (`row_number() OVER (ORDER BY score)` = the whole corpus through
    * ONE reducer). This delegates to [[graft.metrics.Metrics.rankByKey]]
    * with a constant key: the range partition spreads by (score,
    * doc_id) across P tasks, the offsets table is P rows, and no stage
    * sees more than 1/P of the data. Output: (doc_id, score, stage),
    * ordered by doc_id. */
  def curriculumStages(documents: DataFrame, score: org.apache.spark.sql.Column,
                       nStages: Int): DataFrame =
    graft.metrics.Metrics.rankByKey(
        graft.util.SparkUtil.widen(documents)
          .select(col("doc_id"), score.as("score"))
          .withColumn("_const", lit(0)),
        "_const", Seq("score", "doc_id"))
      .select(col("doc_id"), col("score"),
        floor((col("_rank") - 1) * nStages / col("_nk")).cast(LongType).as("stage"))
      .orderBy("doc_id")

  /** Deterministic training-order interleaving: round-robin the
    * sources — the curriculum a trainer streams when the mix must not
    * present one source as a contiguous block (loss spikes at domain
    * boundaries; mixing recipes interleave). Each document gets its
    * `turn` = rank within its source (ordered by doc_id), and the
    * training order is (turn, source, doc_id): turn 1 of every source,
    * then turn 2, … Sources exhaust gracefully — shorter sources simply
    * stop appearing in later turns. Deterministic given the corpus; no
    * rand(). Output: (doc_id, source, turn) in training order.
    *
    * Scale shape (100 TB): the turn is
    * [[graft.metrics.Metrics.rankByKey]] — range-partition + per-
    * (partition, source) offsets, every stage P-way parallel even when
    * one source dominates the corpus (a `Window.partitionBy(source)`
    * row_number would funnel the dominant source through one reducer —
    * the cumulativeTokens lesson applied to ranking). The final
    * presentation sort is a plain range exchange. */
  def interleave(documents: DataFrame): DataFrame =
    graft.metrics.Metrics.rankByKey(
        graft.util.SparkUtil.widen(documents).select(col("doc_id"), col("source")),
        "source", Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("_rank").cast(LongType).as("turn"))
      .orderBy("turn", "source", "doc_id")

  /** Deterministic shard id of a document: md5 of the decimal doc_id,
    * first 8 hex chars as an unsigned 32-bit value, mod `nShards`.
    * Content-derived (NOT Spark's task-dependent `spark_partition_id`),
    * so the doc→shard mapping is identical across reruns, cluster
    * sizes, and engines — the reproducibility a training-data export
    * needs (and what makes it DuckDB-oracle-able). */
  def shardId(docId: org.apache.spark.sql.Column, nShards: Int): org.apache.spark.sql.Column =
    conv(substring(md5(docId.cast("string")), 1, 8), 16, 10).cast(LongType) % nShards

  /** Shard-assignment audit: per shard, document count, byte volume and
    * doc_id range — the balance check a pipeline runs before committing
    * a training export (md5 sharding keeps shards within ~1/√(n/N) of
    * each other, and THIS query is how you verify that on real data).
    * Output: (shard, n_docs, n_bytes, min_doc, max_doc) by shard.
    *
    * Scale shape (100 TB): narrow shard projection + one
    * map-side-combinable groupBy on an `nShards`-cardinality key —
    * result is nShards rows. */
  def shardStats(documents: DataFrame, nShards: Int): DataFrame =
    graft.util.SparkUtil.widen(documents)
      .select(shardId(col("doc_id"), nShards).as("shard"),
        col("doc_id"), col("n_chars"))
      .groupBy("shard")
      .agg(count(lit(1)).cast(LongType).as("n_docs"),
        sum("n_chars").cast(LongType).as("n_bytes"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("shard")

  /** Sliding-window chunking — cut every document's token stream into
    * fixed-size windows with overlap, the context-window prep step for
    * RAG indexing and long-document training (chunk size = what fits
    * the model, stride < size = overlap so no boundary-straddling
    * passage is lost). Windows start at token offsets 0, stride,
    * 2·stride, … while the offset is inside the document; the last
    * window truncates at the document end. Output: (doc_id, chunk_id,
    * chunk_start, chunk_tokens, chunk_md5), ordered by (doc_id,
    * chunk_id) — the md5 stands in for the chunk text so the oracle
    * compares content without hauling full passages through the
    * compare.
    *
    * Scale shape (100 TB): entirely narrow — tokens, window starts
    * (`sequence`), window slices and hashes all fold inside ONE
    * codegen'd projection per document; the explode multiplies rows by
    * ~n_tokens/stride but introduces no shuffle. Chunk count scales
    * with corpus tokens — exactly the output a chunking pass must
    * produce — and downstream indexing shuffles on its own keys. */
  def chunkWindows(documents: DataFrame, chunkSize: Int = 32,
                   stride: Int = 24): DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be >= 1: $chunkSize")
    require(stride >= 1 && stride <= chunkSize,
      s"stride must be in [1, chunkSize]: $stride")
    val w = graft.analytics.TextAnalysis.tokens(col("text"))
    graft.util.SparkUtil.widen(documents)
      .select(col("doc_id"), w.as("w"))
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), size(col("w")) - 1, lit(stride)),
          st => struct(st.as("st"),
            slice(col("w"), st + 1, lit(chunkSize)).as("chunk")))))
      .select(col("doc_id"),
        col("pos").cast(LongType).as("chunk_id"),
        col("col.st").cast(LongType).as("chunk_start"),
        size(col("col.chunk")).cast(LongType).as("chunk_tokens"),
        md5(concat_ws(" ", col("col.chunk"))).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Sentence-ALIGNED chunking — the RAG/embedding-prep variant of
    * [[chunkWindows]] that never cuts mid-sentence: split each
    * document into sentences on terminator+whitespace (`[.!?]\s+` —
    * the RE2∩Java dialect intersection; a trailing terminator run is
    * stripped so sentences are plain word runs), then pack consecutive
    * sentences greedily into chunks of at most `maxTokens` whitespace
    * tokens. A sentence longer than `maxTokens` becomes its own
    * oversized chunk (never split — feed those through [[chunkWindows]]
    * downstream when a hard cap matters). Greedy packing is
    * SEQUENTIAL per document; it folds in one codegen'd
    * `aggregate` HOF over the bound sentence array — and the oracle
    * replays the identical walk as a per-doc recursive CTE (the
    * `leakageSafeSplit` pattern), so the boundary rule is pinned
    * cross-engine.
    *
    * Output: (doc_id, chunk_id 1-based, n_sentences, n_tokens,
    * chunk_text = sentences space-joined), docs with no non-empty
    * sentence absent, ordered by (doc_id, chunk_id).
    *
    * Scale shape (100 TB): entirely narrow — sentence split, token
    * counts, and the pack fold all sit in ONE projection per document;
    * the explode multiplies rows by chunks/doc but introduces no
    * shuffle before the output sort. */
  def chunkBySentences(documents: DataFrame, maxTokens: Int = 48): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1: $maxTokens")
    val sents = filter(
      transform(split(trim(col("text")), "[.!?][ \\t\\n\\x0B\\f\\r]+"),
        s => regexp_replace(trim(s), "[.!?]+$", "")),
      s => length(s) > 0)
    def ntok(s: org.apache.spark.sql.Column) = size(split(s, "[ \\t\\n\\x0B\\f\\r]+"))
    val emptyChunks = array().cast("array<array<string>>")
    val emptyCur = array().cast("array<string>")
    val zero = struct(emptyChunks.as("chunks"), emptyCur.as("cur"),
      lit(0).as("ntok"))
    val packed = aggregate(col("__sents"), zero,
      (acc, s) => {
        val t = ntok(s)
        when(size(acc.getField("cur")) === 0,
          struct(acc.getField("chunks").as("chunks"),
            array(s).as("cur"), t.as("ntok")))
          .when(acc.getField("ntok") + t <= maxTokens,
            struct(acc.getField("chunks").as("chunks"),
              concat(acc.getField("cur"), array(s)).as("cur"),
              (acc.getField("ntok") + t).as("ntok")))
          .otherwise(
            struct(concat(acc.getField("chunks"),
              array(acc.getField("cur"))).as("chunks"),
              array(s).as("cur"), t.as("ntok")))
      },
      acc => when(size(acc.getField("cur")) > 0,
        concat(acc.getField("chunks"), array(acc.getField("cur"))))
        .otherwise(acc.getField("chunks")))
    graft.util.SparkUtil.widen(documents)
      .filter(col("text").isNotNull)
      .withColumn("__sents", sents)
      .select(col("doc_id"), posexplode(packed))
      .select(col("doc_id"),
        (col("pos") + 1).cast(LongType).as("chunk_id"),
        size(col("col")).cast(LongType).as("n_sentences"),
        size(split(concat_ws(" ", col("col")), "[ \\t\\n\\x0B\\f\\r]+")).cast(LongType)
          .as("n_tokens"),
        concat_ws(" ", col("col")).as("chunk_text"))
      .orderBy("doc_id", "chunk_id")
  }

  /** Training-export writer: materialize the corpus as exactly
    * `nShards` deterministic shards (`shard=K/` directories, one file
    * each). `repartition(nShards, shard)` routes each shard's rows to
    * one task BEFORE `partitionBy`, so a shard is one parquet file, not
    * one-per-upstream-task — the export layout trainers expect
    * (shard count and membership stable across reruns; at 100 TB pick
    * nShards so each shard is ~0.5–2 GB, and note rows within a shard
    * keep no global order, which training shuffles anyway). */
  def writeShards(documents: DataFrame, path: String, nShards: Int): Unit =
    documents
      .withColumn("shard", shardId(col("doc_id"), nShards))
      .repartition(nShards, col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
}
